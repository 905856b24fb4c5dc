"""Repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload bfs_crawl --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` (cached under ``perfbench/.cache``), measures for about
``--seconds``, checks the outputs, and prints one JSON object as the last
line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` enables the Spark event log and the
outside-in tracer and reports the per-layer metrics instead. Spark's own
output goes to ``perfbench/.out/<run>.log``; the full record of a run
(samples, host evidence, per-span table, failures) to
``perfbench/.out/<run>.json``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
CORES = 4
WORKLOADS = ("bfs_crawl", "corpus_queries")


def driver_memory() -> str:
    """2 GiB, or 1 GiB below 8 GiB of machine memory: the workloads are
    small, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return "2g" if total_kb >= 8 * 2**20 else "1g"


def percentile_with_support(samples: list[float]) -> tuple[int, float] | None:
    """Highest of p50/p90/p99 that has at least ten samples beyond it, with
    its value; None when even the median lacks that support."""
    best = None
    for p in (50, 90, 99):
        if len(samples) * (100 - p) / 100 >= 10:
            best = (p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1])
    return best


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: the benchmark's own tests")
    return ap.parse_args(argv)


class Console:
    """Sends this process's and the JVM's stdout/stderr to a log file, so
    the result line stays the last line of the real stdout."""

    def __init__(self, path: str):
        self.path = path
        sys.stdout.flush()
        sys.stderr.flush()
        self.out = os.fdopen(os.dup(1), "w")
        self.err = os.fdopen(os.dup(2), "w")
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)

    def log(self, msg: str) -> None:
        print(msg, file=self.err, flush=True)

    def error_lines(self) -> int:
        with open(self.path, errors="replace") as f:
            return sum(1 for line in f if " ERROR " in line)


def start_session(extra_conf: dict[str, str]):
    from crawler_service_spark.session import get_spark

    return get_spark("perfbench", cpus=CORES, shuffle_partitions=CORES, extra_conf=extra_conf)


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (the Python workers
    of a JVM that has exited), so ``reap_children`` can wait for them."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(grace_s: float = 5.0) -> None:
    """Wait until this process has no child left; after ``grace_s`` send the
    remaining ones SIGTERM, and after as long again SIGKILL."""
    from host import children

    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in children(os.getpid()):
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + grace_s, signal.SIGKILL
        time.sleep(0.02)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return run(args)
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_jvm()
        finally:
            reap_children()


def run(args) -> int:
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}"
    os.makedirs(OUT, exist_ok=True)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")]
    # Spark's Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join([HERE, ROOT, os.environ.get("PYTHONPATH", "")])
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()

    import crawler_service_spark  # noqa: F401  fails fast outside a checkout

    import host
    import workloads

    probe = host.host_probe(1, CORES, per_proc=300_000)
    if args.workload == "bfs_crawl":
        inputs = workloads.bfs_prepare(args.seed, args.size)
    else:
        inputs = workloads.queries_prepare(args.seed, args.size)

    eventlog_dir = os.path.join(OUT, f"eventlog-{run_id}")
    shutil.rmtree(eventlog_dir, ignore_errors=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    console = Console(os.path.join(OUT, f"{run_id}.log"))
    try:
        result = measure(args, run_id, conf, inputs, eventlog_dir, probe, console)
    except Exception:
        console.log(traceback.format_exc())
        return 1
    print(json.dumps(result), file=console.out, flush=True)
    return 0


def measure(args, run_id, conf, inputs, eventlog_dir, probe, console) -> dict:
    import host
    import workloads
    from metrics import END_TO_END, PER_LAYER, UNITS, fold_layers
    from tracer import Tracer

    steal0 = host.steal_s()
    tracer = None
    try:
        with host.MemorySampler() as mem:
            if args.workload == "bfs_crawl":
                spark = start_session(conf)
                if args.trace:
                    tracer = Tracer(spark.sparkContext)
                    tracer.install(spark)
                res = workloads.bfs_run(spark, inputs, args.seconds, args.size, tracer, console.log)
            else:
                def new_session():
                    from pyspark import SparkContext

                    if SparkContext._active_spark_context is not None:
                        SparkContext._active_spark_context.stop()
                    return start_session(conf)

                def tracer_for(spark):
                    nonlocal tracer
                    if args.trace:
                        tracer = Tracer(spark.sparkContext)
                    return tracer

                res = workloads.queries_run(new_session, inputs, args.seconds, tracer_for, console.log)
            stop_jvm()
    finally:
        if tracer:
            tracer.uninstall()
    logged_errors = console.error_lines()
    steal = host.steal_s() - steal0

    e2e = {
        "setup_s": statistics.median(res.setup_s),
        "cpu_per_op_s": statistics.mean(res.op_cpu_s) if res.op_cpu_s else 0.0,
        "cpu_geomean_s": workloads.geomean(res.op_cpu_s) if res.op_cpu_s else 0.0,
    }
    wall = {
        "throughput_per_s": res.work / res.work_s if res.work_s else 0.0,
        "op_p50_s": statistics.median(res.op_s) if res.op_s else 0.0,
        "op_geomean_s": workloads.geomean(res.op_s) if res.op_s else 0.0,
        "peak_pss_mb": mem.peak_bytes / 2**20,
    }
    record = {
        "run": run_id,
        "end_to_end": e2e,
        "wall": wall,
        "setup_samples_s": res.setup_s,
        "op_samples_s": res.op_s,
        "op_cpu_samples_s": res.op_cpu_s,
        "op_count": len(res.op_s),
        "op_percentile_supported": percentile_with_support(res.op_s),
        "host": {"probe": probe, "steal_s": steal, "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]},
        "spark_logged_errors": logged_errors,
        "failures": res.failures,
        "detail": res.detail,
    }
    if args.trace:
        from eventlog import read_event_logs

        layers, table = fold_layers(tracer, read_event_logs(eventlog_dir), res.root, res.setup, CORES)
        layers.update(res.facts)
        layers.update({
            "host.steal_s": steal,
            "host.probe_ratio": probe["ratio"],
            "host.peak_pss_mb": wall["peak_pss_mb"],
            "spark.logged_errors": logged_errors,
        })
        record["per_layer"] = layers
        record["spans"] = table
        record["trace"] = {"wall_s": res.root.duration, "self_sum_s": sum(r["self_s"] for r in table)}
        untraced = os.path.join(OUT, f"{args.workload}-s{args.seed}-t0-{args.size}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f).get("wall", {}).get("throughput_per_s")
            if base:
                record["trace"]["overhead_share"] = base / layers["trace.throughput_per_s"] - 1
        names = [n for n, *_ in PER_LAYER]
    else:
        layers = e2e
        names = [n for n, *_ in END_TO_END]
    with open(os.path.join(OUT, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for fail in res.failures:
        console.log(f"FAILED {fail}")
    console.log(
        f"{run_id}: {json.dumps({k: round(v, 4) for k, v in {**e2e, **wall}.items()})} "
        f"steal {steal:.2f}s, probe ratio {probe['ratio']:.2f}, logged errors {logged_errors}"
    )
    if args.trace:
        for row in record["spans"][:25]:
            console.log(f"  {row['span']:<44} n={row['n']:<4} total={row['total_s']:8.3f}s "
                        f"self={row['self_s']:8.3f}s jobs={row['jobs']}")
        if "overhead_share" in record["trace"]:
            console.log(f"  tracing overhead vs untraced run: {record['trace']['overhead_share']:+.1%}")
    result = {
        "correct": not res.failures,
        "attempted": max(1, res.attempted),
        "failed": len(res.failures),
        "metrics": {n: {"value": float(layers.get(n, 0.0)), "unit": UNITS[n]} for n in names},
    }
    return result


if __name__ == "__main__":
    sys.exit(main())
