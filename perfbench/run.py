"""Benchmark entry point.

    python3 perfbench/run.py --workload ssl-grid-small --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One client drives one Spark
application in a closed loop: each unit starts after the previous one
finished. The run generates its inputs from ``--seed`` under
``.perfbench/`` in the checkout, starts the session, runs one untimed
warm-up pass (counted in ``setup_s``), then measures whole passes over
the workload's units until at least ``--seconds`` of unit time has
accumulated. Every unit's output is checked outside its timer.

With ``--trace 1`` every measured unit runs twice, once untraced and
once traced, and the run reports per-layer metrics from the traced
runs. The last line of stdout is the result object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Workers must import the package; temp files stay in the checkout."""
    sys.path[:0] = [ROOT, HERE]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.makedirs(f"{work}/tmp", exist_ok=True)


def machine() -> tuple[int, int]:
    """(local cores to use, driver memory in GiB) for this box."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    mem_gib = max(1, min(4, total_kib // 2**20 // 4))
    return min(nproc, 4), mem_gib


def start_session(work: str, traced: bool):
    from tfm_semisup_spark.session import get_spark

    cores, mem_gib = machine()
    conf = {
        "spark.driver.memory": f"{mem_gib}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if traced:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants():
        os.kill(pid, 9)


def isolate(spark) -> None:
    """Drop caches between units so one unit's leftovers cannot slow
    the next (the same isolation the repo's bench.py applies)."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


class Window:
    """Unit timings and process-tree CPU of one measured stretch."""

    def __init__(self):
        self.unit_s: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.passes = 0
        self.cpu = {}
        self.peak_rss_mb = 0.0
        self.kind_peak_rss_mb: dict[str, float] = {}

    def add_cpu(self, before: dict, after: dict) -> None:
        for k in after:
            self.cpu[k] = self.cpu.get(k, 0.0) + after[k] - before[k]

    @property
    def busy_s(self) -> float:
        return sum(self.unit_s)

    @property
    def items_per_s(self) -> float:
        return self.items / self.busy_s


def run_unit(spark, wl, unit, window: Window, tracer) -> None:
    """Run one unit in ``window``'s accounting; check it outside its timer."""
    import procstat

    isolate(spark)
    window.attempted += 1
    cpu0 = procstat.cpu_seconds()
    t0 = time.perf_counter()
    try:
        with tracer.span("unit", label=unit.label):
            out = wl.run_unit(spark, unit, tracer)
        ok = True
    except Exception:
        traceback.print_exc()
        ok = False
    dt = time.perf_counter() - t0
    window.add_cpu(cpu0, procstat.cpu_seconds())
    if ok:
        try:
            wl.check(unit, out)
        except Exception:
            traceback.print_exc()
            ok = False
    if ok:
        window.unit_s.append(dt)
        window.items += unit.items
    else:
        window.failed += 1
        print(f"unit {unit.label} failed", file=sys.stderr)


def run_pass(spark, wl, units, window: Window, tracer) -> None:
    for unit in units:
        run_unit(spark, wl, unit, window, tracer)
    window.passes += 1


def measure(spark, wl, units, seconds: float, tracer) -> Window:
    import procstat

    window = Window()
    with procstat.PeakRss() as rss:
        while window.passes == 0 or window.busy_s < seconds:
            run_pass(spark, wl, units, window, tracer)
            if window.failed == window.attempted:
                break
    window.peak_rss_mb = rss.peak_mb
    window.kind_peak_rss_mb = {k: round(v / 2**20, 1) for k, v in rss.kind_peak_bytes.items()}
    return window


def measure_paired(spark, wl, units, seconds: float, tracer) -> tuple[Window, Window]:
    """(untraced, traced) windows over the same passes: every unit runs
    twice back to back, untraced and traced, the first of the two
    alternating from unit to unit so that warm-up still going on in the
    JVM favours neither side of the tracing overhead."""
    import tracing

    null = tracing.NullTracer()
    plain, traced = Window(), Window()
    while plain.passes == 0 or plain.busy_s < seconds:
        for k, unit in enumerate(units):
            sides = [(plain, None), (traced, tracer)]
            for window, t in sides[::-1] if k % 2 else sides:
                if t is None:
                    run_unit(spark, wl, unit, window, null)
                    continue
                t.install()
                try:
                    run_unit(spark, wl, unit, window, t)
                finally:
                    t.unpatch()
        plain.passes += 1
        traced.passes += 1
        if plain.failed == plain.attempted:
            break
    return plain, traced


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    units beyond it; the slowest unit when there are ten or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        prepare_env(work)
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import procstat
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    null = tracing.NullTracer()
    t_setup = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()
    t_session = time.perf_counter()
    spark = start_session(work, traced)
    try:
        session_s = time.perf_counter() - t_session
        sc = spark.sparkContext
        warmup, units = wl.plan()
        warm = Window()
        run_pass(spark, wl, warmup, warm, null)
        wl.ready()
        setup_s = time.perf_counter() - t_setup

        if traced:
            tracer = tracing.Tracer(sc)
            plain, traced_w = measure_paired(spark, wl, units, args.seconds, tracer)
            windows = [warm, plain, traced_w]
            time.sleep(2.0)  # let the status listener catch up
            counts = tracer.status_counts()
        else:
            plain = measure(spark, wl, units, args.seconds, null)
            windows = [warm, plain]
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "pyspark_version": __import__("pyspark").__version__,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "items": wl.item_name,
        }
    finally:
        stop_session(spark)

    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not plain.unit_s or (traced and not traced_w.unit_s):
        print(json.dumps({"info": info}))
        print(json.dumps({**result, "metrics": {}}))
        return 0
    p = plain.passes
    tail_s, tail_pct = tail(plain.unit_s)
    info.update({
        "units": len(plain.unit_s),
        "passes": p,
        "unit_tail_percentile": tail_pct,
        "warmup_unit_s": [round(t, 3) for t in warm.unit_s],
        "unit_s": [round(t, 3) for t in plain.unit_s],
        "failed_ratio": failed / attempted,
    })
    if not traced:
        info["peak_rss_mb_by_kind"] = plain.kind_peak_rss_mb
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "items_per_s": metric(plain.items_per_s, "1/s"),
            "unit_p50_s": metric(statistics.median(plain.unit_s), "s"),
            "unit_tail_s": metric(tail_s, "s"),
            "cpu_s": metric(sum(plain.cpu.values()) / p, "s"),
            "peak_rss_mb": metric(plain.peak_rss_mb, "MB"),
        }
    else:
        groups = tracing.read_event_log(f"{work}/eventlog")
        layers = tracing.layer_metrics(tracer, traced_w.passes, counts, groups)
        layers["session.start_s"] = session_s
        for kind in procstat.KINDS:
            layers[f"driver.{kind}_cpu_s"] = plain.cpu.get(kind, 0.0) / p
        layers["tracing.overhead_ratio"] = 1.0 - traced_w.items_per_s / plain.items_per_s
        layers["failed_ratio"] = failed / attempted
        metrics = {k: metric(v, _unit(k)) for k, v in layers.items()}
        info["unit_jobs"] = tracing.unit_jobs(tracer, counts)
        info["self_s_per_pass"] = {
            k: round(v / traced_w.passes, 4)
            for k, v in sorted(tracing.self_times(tracer.spans).items())
        }
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(f"{traces}/{args.workload}-s{args.seed}.json", "w") as f:
            json.dump({"info": info, "spans": tracer.spans, "counts": counts}, f)
    print(json.dumps({"info": info}))
    print(json.dumps({**result, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
