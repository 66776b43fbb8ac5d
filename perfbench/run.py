"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload view_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root or anywhere else: the repository is found
as this file's parent directory and put on the path of this process
and of Spark's Python workers. The run generates its inputs from the seed,
sets up the workload's structures, drives them in a closed loop for
``--seconds``, checks every result against a brute-force model, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's entry points with spans and reports the per-layer metrics
instead (see ``layers.py``). A detail line with the config stamp and
further figures goes to stderr, and the full result is saved under
``.perfbench/results/`` for ``compare.py``. Every store, Spark scratch
file and temp file lives under ``.perfbench/tmp/`` and is removed on
exit, failures and SIGTERM included.

Numbers are comparable only between runs with the same config stamp.
The engine's session uses ``max(cores, 8)`` shuffle partitions, and its
maintenance scopes only shrink plans above 8 partitions; on 8 cores or
fewer they are inert, so results from such a box do not predict runs
at ``SPARK_GRAFT_CPUS=32``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "updatable_persistent_map_reduce_spark"
STATE = os.path.join(ROOT, ".perfbench")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["view_trickle", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--ticks", type=int, default=None,
                    help="run exactly this many ticks instead of --seconds (smoke test)")
    return ap.parse_args(argv)


def prepare_env(tmp: str) -> None:
    """Keep every scratch file inside ``tmp`` and make the package
    importable by Spark's Python workers."""
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a small heap keeps the JVM's peak RSS from following its
    # timing-dependent heap growth, and the machine's memory free
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # every JVM Spark starts (its launcher too): temp files in ``tmp``,
    # and no perf-data file, which HotSpot would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={jtmp}") if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def source_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    return None


def stamp(spark, args) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "src_sha": source_sha(),
        "git_sha": git_sha(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "workload": args.workload,
        "size": args.size,
        "seconds": args.seconds,
        "ticks": args.ticks,
        "seed": args.seed,
        "trace": args.trace,
    }


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests so far (Linux): the
    share of run-to-run noise that comes from outside the guest."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_proc(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = jvm_proc(spark)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    proc = jvm_proc(spark)
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM is ended below either way
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def warm_session(spark, tmp: str) -> None:
    """One-time session set-up every workload pays: the parquet writer
    and reader stack."""
    p = os.path.join(tmp, "warm")
    spark.range(10_000).selectExpr("id", "id % 7 AS k").write.parquet(p)
    spark.read.parquet(p).groupBy("k").count().collect()


def main(argv=None) -> int:
    args = parse(argv)
    # SIGTERM unwinds like an error, so the clean-up below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                           dir=os.path.join(STATE, "tmp"))
    spark = None
    try:
        prepare_env(tmp)
        try:
            from updatable_persistent_map_reduce_spark.session import get_spark
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        import layers
        import workloads

        steal0 = cpu_steal_s()
        t_setup = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("count(1)").collect()
        session = {"start_s": time.perf_counter() - t_setup}
        t = time.perf_counter()
        warm_session(spark, tmp)
        session["warm_s"] = time.perf_counter() - t

        tracer = layers.install(spark) if args.trace else None
        run = workloads.Run(spark, tmp, args.seconds, args.ticks, tracer)
        res = workloads.WORKLOADS[args.workload](run, args.size, args.seed)
        e2e = {"setup_s": (res["setup_end"] - t_setup, "s", 1), **res["e2e"],
               "peak_rss_mb": (peak_rss_mb(spark), "MB", 1)}
        if tracer is not None:
            tracer.collect_jobs()
            res["udf_s"] = layers.udf_seconds(spark) - run.udf_base
            tracer.unwrap_all()
            metrics = layers.per_layer(tracer, res, session, e2e, spark.sparkContext.defaultParallelism)
        else:
            metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        detail = {
            "stamp": stamp(spark, args),
            "samples": {k: n for k, (_, _, n) in e2e.items()},
            "session": session,
            "setup_steps": run.setup_steps,
            "spark_jobs": jobs,
            "cpu_steal_s": None if steal0 is None else cpu_steal_s() - steal0,
            "problems": run.problems[:20],
            **({"moves": layers.MOVES} if tracer is not None else {}),
            **res["detail"],
        }
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    size = "" if args.size == "full" else f"-{args.size}"
    out = os.path.join(STATE, "results", f"{args.workload}{size}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump({**result, "detail": detail}, f, indent=1, default=str)
    print("# detail: " + json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
