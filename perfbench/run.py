"""CDC-ingest benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cdc_tail_mor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
at set-up; whole rounds of the workload then run in a closed loop (one
driver, ``local[4]``) until ``--seconds`` of measured time have passed,
and the last round's table is checked against an oracle. Every metric is
printed by name and unit; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, alternates plain and traced rounds (at least three:
plain, traced, plain), and reports the per-layer metrics of the traced
rounds (see ``layers.py``). Its overhead compares the traced rounds with
the plain rounds after the first; both run with the event log on.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory; the run's own directory is removed when it ends.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: local[k] cores, GC threads and a fixed, pre-touched driver heap: the
#: JVM does not borrow idle cores, and its resident size does not depend
#: on when the collector chose to grow the heap
CORES = 4
DRIVER_HEAP = "1536m"

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_s": "s",
    "write_bytes_per_event": "B",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def build_spark(work: str, event_log: "str | None"):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1 "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", tmp)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(8 << 20))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> dict:
    import summary
    from procstats import RssSampler, cpu_jiffies, steal_pct
    from workloads import WORKLOADS

    # the run writes only under ``work``: Python and JVM temp files, the
    # Spark launcher JVM's options, and no hsperfdata files under /tmp
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    rss = RssSampler().start()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        spark = build_spark(work, event_log)
        t_ready = time.time()
        wl = WORKLOADS[args.workload](spark, args.seed)
        digest = wl.setup(os.path.join(work, "setup"))
        t_inputs = time.time()
        wl.warm_up()
        t_warm = time.time()
        # process start to the first timed operation
        setup_s = t_warm - T_START

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        lat, reads, layout = [], [], []
        rounds, counts = [], []
        units = attempted = failed = 0
        timed = 0.0
        error = None
        cpu0 = cpu_jiffies()
        load0 = os.getloadavg()
        i = 0
        while True:
            rnd = wl.new_round(i)
            traced = tracer is not None and i % 2 == 1
            if tracer is not None:
                tracer.enabled = traced
            r_units, r_ops = 0, 0
            w0, t_round = time.time(), time.perf_counter()
            try:
                while True:
                    t0 = time.perf_counter()
                    attempted += 1
                    n = rnd.step()
                    t1 = time.perf_counter()
                    if n is None:
                        attempted -= 1
                        break
                    lat.append(t1 - t0)
                    if wl.read_each_step:
                        with tracer.span("icebox.read") if tracer else nullcontext():
                            rnd.read()
                        reads.append(time.perf_counter() - t1)
                    if traced:
                        layout.append(rnd.layout())
                    r_units += n
                    r_ops += 1
            except Exception as e:  # an operation failed: count it, stop
                failed += 1
                error = f"{type(e).__name__}: {e}"
            elapsed = time.perf_counter() - t_round
            if tracer is not None:
                tracer.enabled = False
            timed += elapsed
            units += r_units
            rounds.append({"traced": traced, "seconds": elapsed, "units": r_units,
                           "ops": r_ops, "wall": (w0, w0 + elapsed),
                           "lineages": list(getattr(rnd, "lineages", []))})
            if error:
                break
            counts.append(rnd.counts())
            i += 1
            # a traced run needs a plain round after the first (slower,
            # still warming) one to compare the traced rounds against
            if timed >= args.seconds and (tracer is None or i >= 3):
                break
        steal = steal_pct(cpu0, cpu_jiffies())
        peak_rss_mb = rss.stop()

        ok, detail = (False, error) if error else wl.check(rnd)
        # every count must repeat exactly across rounds (and across runs of
        # one seed: compare counts_per_round); file bytes are reported per
        # round beside them, since parquet bytes follow row order in a file
        exact = [{k: v for k, v in c.items() if k != "bytes_written"} for c in counts]
        mismatch = next((f"round {k} counts {c} differ from round 0 {exact[0]}"
                         for k, c in enumerate(exact) if c != exact[0]), None)
        if mismatch:
            ok, detail = False, f"{detail}; {mismatch}"
        if not ok:
            failed = attempted
        tail = summary.tail_percentile(lat) if len(lat) > summary.TAIL_BEYOND else None
        diagnostics = {
            "workload": args.workload, "seed": args.seed, "input_digest": digest,
            "inputs": wl.inputs(), "throughput_counts": wl.unit,
            "oracle": detail, "rounds": len(rounds),
            "operations": len(lat), "timed_s": round(timed, 3),
            "jvm_start_s": round(t_ready - T_START, 3),
            "inputs_s": round(t_inputs - t_ready, 3),
            "warm_up_s": round(t_warm - t_inputs, 3),
            "latency_s_all": [round(x, 3) for x in lat],
            # the reader's scans (cdc_tail_mor) are inside the timed loop:
            # their cost shows in throughput_per_s and icebox.read
            "read_latency_s": summary.median(reads) if reads else None,
            "read_latency_s_all": [round(x, 3) for x in reads],
            "latency_tail": tail,
            "counts_per_round": exact[0] if exact else None,
            "bytes_written_per_round": [c["bytes_written"] for c in counts],
            "peak_rss_mb_by_role": {k: round(v / 2**20, 1) for k, v in rss.at_peak.items()},
            "host_steal_pct": round(steal, 2),
            "loadavg": [round(x, 2) for x in (load0 + os.getloadavg())],
        }
        metrics = {}
        if not args.trace and lat:
            metrics = {
                "throughput_per_s": units / timed,
                "latency_s": summary.median(lat),
                "write_bytes_per_event": sum(c["bytes_written"] for c in counts) / units,
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
    if args.trace:
        import layers

        logs = [os.path.join(event_log, f) for f in os.listdir(event_log)]
        metrics, table = layers.per_layer(tracer.spans, logs, rounds, layout, CORES)
        diagnostics["per_layer_table"] = table
    return {"correct": ok and not error, "attempted": attempted, "failed": failed,
            "metrics": metrics, "diagnostics": diagnostics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [REPO, HERE]
    try:
        import kafka_connect_gcs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    res = run(args)
    diag = res.pop("diagnostics")
    table = diag.pop("per_layer_table", None)
    print(f"# {args.workload} seed={args.seed} correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"oracle: {diag['oracle']}")
    for line in table or []:
        print(line)
    for name, m in res["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
