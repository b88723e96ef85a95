"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ingest|kg_build|sparql_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (see perfbench/README.md). Full
results, spans and the Spark event log go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
sys.path[:0] = [str(ROOT), str(BENCH)]

import mentor_rdf_parsers_spark  # noqa: E402,F401  (fails fast outside a checkout)
from pyspark.sql import SparkSession  # noqa: E402

import workloads  # noqa: E402

SETUP_REPEATS = 3
RSS_INTERVAL_S = 0.5
PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of physical RAM, between 1 and 3 GiB: the box is shared
    and the inputs are small."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(3072, total_kb // 1024 // 8))


def start_spark(event_log: Path | None) -> SparkSession:
    """local[nproc] session. Only the heap's ceiling is set: the JVM grows
    its heap as the program needs it, so heap use is part of peak_rss_mb."""
    n = cores()
    tmp = OUT / "tmp"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(OUT / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_rss() -> dict:
    """{pid: resident bytes} of this process and every live one below it."""
    parent, rss = {}, {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry.name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        if fields[0] != "Z":
            pid = int(entry.name)
            parent[pid], rss[pid] = int(fields[1]), pages * PAGE
    me, out = os.getpid(), {}
    for pid in parent:
        p = pid
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            out[pid] = rss[pid]
    return out


def shutdown(spark) -> None:
    """Stop Spark, close the JVM's stdin (its signal to exit), and wait
    until the JVM and its Python workers have ended, so that the next
    run starts on an idle machine."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_rss()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree_rss():
        if pid != os.getpid():
            os.kill(pid, signal.SIGKILL)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), summed per sample. A scan of /proc takes
    ~4 ms of the driver's interpreter lock, so it runs every
    RSS_INTERVAL_S."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(tree_rss().values()))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sum(tree_rss().values()))


def run_round(ops, tracer=None) -> list:
    """Run one round's operations back to back: [(name, seconds, ok)]."""
    results = []
    for name, op in ops:
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=name) if tracer else contextlib.nullcontext():
                ok, secs = op(tracer)
        except Exception as exc:  # a failed operation counts, the run goes on
            print(f"operation {name} failed: {exc!r}", file=sys.stderr)
            ok, secs = False, time.perf_counter() - t0
        results.append((name, secs, bool(ok)))
    return results


def measure(wl, seconds: float) -> list:
    """Closed loop, one client: run the workload's rounds back to back
    until ``seconds`` have passed and the current round is whole."""
    results = []
    start = time.perf_counter()
    rnd = 0
    while rnd == 0 or time.perf_counter() - start < seconds:
        results += run_round(wl.round(rnd))
        rnd += 1
    return results


def measure_paired(wl, seconds: float, tracer) -> tuple:
    """``measure`` with every round run twice, once untraced and once
    traced, in alternating order; the traced passes follow measure's stop
    rule. Returns (untraced results, traced results)."""
    import spans as tr

    plain, traced = [], []
    traced_s = 0.0
    rnd = 0
    while rnd == 0 or traced_s < seconds:
        ops = wl.round(rnd)
        passes = [(plain, None), (traced, tracer)]
        for out, t in passes[::-1] if rnd % 2 else passes:
            t0 = time.perf_counter()
            with tr.instrumented(t) if t else contextlib.nullcontext():
                out += run_round(ops, t)
            if t:
                traced_s += time.perf_counter() - t0
        rnd += 1
    return plain, traced


def p50_ms(results: list) -> float:
    return 1000 * statistics.median(secs for (_n, secs, _ok) in results)


def end_to_end(results: list, setup_s: float, peak_rss: int) -> dict:
    total = sum(s for (_n, s, _ok) in results)
    ok = sum(1 for r in results if r[2])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        "ok_ratio": {"value": ok / len(results), "unit": "ratio"},
        "op_p50_ms": {"value": p50_ms(results), "unit": "ms"},
        "ops_per_s": {"value": len(results) / total, "unit": "1/s"},
    }


def run_untraced(args) -> dict:
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(None)
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, args.seed)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        results = measure(wl, args.seconds)
        shutdown(spark)
    setup_s = session_s + statistics.median(prep) + warm_s
    metrics = end_to_end(results, setup_s, rss.peak)
    detail = {
        "session_s": session_s, "prepare_s": prep, "warm_up_s": warm_s,
        "ops": results, "sizes": wl.sizes(),
    }
    return report(args, results, metrics, detail)


def run_traced(args) -> dict:
    """The workload with spans, job groups and the event log on. Each
    round runs untraced and traced in the same process; the difference
    in median operation time is the tracing overhead."""
    import spans as tr

    log_dir = OUT / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = start_spark(log_dir)
    tracer = tr.Tracer(spark)
    wl = workloads.WORKLOADS[args.workload](spark, args.seed)
    with tracer.untimed("setup"):
        wl.prepare()
        wl.warm_up()
    plain, traced = measure_paired(wl, args.seconds, tracer)
    parsing = wl.parsing_sample()
    shutdown(spark)
    layers = tr.per_layer(tracer, log_dir, traced, parsing)
    layers["trace.overhead_pct"] = 100.0 * (p50_ms(traced) / p50_ms(plain) - 1.0)
    metrics = {k: {"value": v, "unit": tr.unit_of(k)} for k, v in sorted(layers.items())}
    detail = {"ops_untraced": plain, "ops_traced": traced}
    tr.write_spans(tracer, OUT / f"spans-{args.workload}-{args.seed}.json")
    return report(args, plain + traced, metrics, detail)


def report(args, results: list, metrics: dict, detail: dict) -> dict:
    failed = sum(1 for r in results if not r[2])
    out = {
        "correct": failed == 0 and len(results) > 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": metrics,
    }
    path = OUT / f"result-{args.workload}-{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps({**out, "detail": detail}, indent=1, default=str))
    return out


def isolate() -> None:
    """Point every file Spark, the JVM and the Python workers write at
    OUT, and let the workers import the package from this checkout."""
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(OUT / "tmp")
    # spark-submit's helper JVM would otherwise leave /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={OUT / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    isolate()
    out = run_traced(args) if args.trace else run_untraced(args)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
