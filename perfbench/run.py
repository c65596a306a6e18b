"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Runs one workload of ``workloads.py`` in this
process on local[nproc - 1], checks its outputs, and prints one JSON object as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and the
metrics named in BENCHMARK.json (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``). The traced run also writes its spans to
``.perfbench_traces/<workload>-seed<n>.jsonl``. Everything else goes to
stderr, and every file the run makes lives under ``.perfbench_work/``
until it ends.
"""

import time

_T_IMPORT = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc when it exists, so
    interpreter start-up counts too)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return (time.clock_gettime(time.CLOCK_BOOTTIME)
                - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError, AttributeError):
        return time.monotonic() - _T_IMPORT


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks (user, nice, system, idle, iowait, irq,
    softirq, steal), or [] where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    ticks0 = cpu_ticks()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "loongcollector_spark", "__init__.py")):
        print("perfbench: run from the repository root "
              "(loongcollector_spark/ not found here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package too; all scratch space
    # (Spark local dirs, JVM and Python temp files) stays in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too): temp files in the checkout,
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:+PerfDisableSharedMem",
        f"-Djava.io.tmpdir={work}/tmp"]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # One core is left to the JVM's JIT compiler and GC threads and to this
    # process: with a task thread on every core they compete with the tasks,
    # and the per-call times then depend on when the JIT happens to run.
    cores = max(len(os.sched_getaffinity(0)) - 1, 1)

    from tracing import Tracer, jvm_gauges

    tracer = Tracer(bool(args.trace))

    def start_session(n_cores):
        from loongcollector_spark.session import get_spark

        with tracer.span("session.start"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}", master=f"local[{n_cores}]",
                shuffle_partitions=max(n_cores, 8),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                })
            spark.sparkContext.setLogLevel("ERROR")
        return spark

    ctx = None
    try:
        spark = start_session(cores)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                            cores=cores, work=work, tracer=tracer,
                            since_start=process_age_s)
        if args.trace:
            ctx.layers["session.start_s"] = tracer.durations("session.start")[0]
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            res.layers["datagen.generate_s"] = sum(
                tracer.durations("datagen.generate"))
            res.layers.update(jvm_gauges(ctx.spark))
            if args.workload == "batch_skewed":
                res.layers["scaling.turns_per_s_1core"] = workloads.scaling_1core(
                    ctx, start_session)
    finally:
        if ctx is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    for e in res.errors:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        # steal = time this VM's vCPUs waited for the host: a run-level
        # noise source the benchmark cannot remove, logged to explain spread
        print(f"[perfbench] cpu during run: busy {1 - d[3] / sum(d):.1%}, "
              f"steal {d[7] / sum(d):.1%}", file=sys.stderr)
    if args.trace:
        tdir = os.path.join(root, ".perfbench_traces")
        os.makedirs(tdir, exist_ok=True)
        tracer.write(os.path.join(tdir, f"{args.workload}-seed{args.seed}.jsonl"))
        chosen, values = spec["per_layer"], res.layers
    else:
        chosen, values = spec["end_to_end"], res.end_to_end
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
