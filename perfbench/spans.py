"""Traced mode: spans around public calls, job groups, event-log analysis.

The tracer wraps the package's public functions from the outside (it
replaces the module attributes their callers look up) and opens a span
around each call. A span's id is set as the Spark job group while it is
the innermost open span, so every job, stage and task in the event log
can be joined back to the call that started it.

Every wall-clock instant of a timed operation is given to one layer:

* while Spark stages run, to the layers of the running stages (shared
  equally). Inside ``materialize.write_stage`` the result-task stages
  that write files belong to ``materialize``, and the shuffle-map stages
  before them, and any stage running the parse UDF, to the layer that
  produced the rows being written; any other stage belongs to the layer
  of the span that started its job;
* while no stage runs, to the innermost open span (driver-side work:
  parsing SPARQL, planning, eager probes waiting to be scheduled).

That per-layer time is the layer's self time; ``share.<layer>`` divides
it by the total time of the timed operations.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

LAYERS = (
    "extract", "linking", "canonicalize", "materialize", "pipeline",
    "sparql.parser", "sparql.executor", "sparql.updates", "bench",
)
# span name prefix -> layer (first match wins)
SPAN_LAYER = (
    ("sparql.parser", "sparql.parser"), ("sparql.updates", "sparql.updates"),
    ("sparql.executor", "sparql.executor"), ("paths", "sparql.executor"),
    ("extract", "extract"), ("linking", "linking"), ("canonicalize", "canonicalize"),
    ("materialize", "materialize"), ("pipeline", "pipeline"),
)
WRITE_PRODUCER = {"triples": "extract", "linked": "linking", "canonical": "canonicalize"}
SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
TEMPLATES = (
    "bgp", "optional", "exists", "minus", "graph", "seq_path", "path_plus",
    "group_count", "ask", "construct",
)


def span_layer(name: str) -> str:
    for prefix, layer in SPAN_LAYER:
        if name.startswith(prefix):
            return layer
    return "bench"


class Tracer:
    """Spans kept in memory: (id, name, parent, start, end) plus the
    keyword attributes given at open; times are epoch seconds, the clock
    Spark's event log uses."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []

    def _tag(self, rec):
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"] if rec else None)
        self.sc.setLocalProperty("spark.job.description", rec["name"] if rec else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": f"span{len(self.spans)}", "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def untimed(self, name: str):
        return self.span(name, untimed=True)

    def wrap(self, fn, name: str, attr=None):
        def traced(*args, **kwargs):
            extra = {"stage": attr(args, kwargs)} if attr else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Replace the public functions callers look up with traced wrappers,
    and put them back afterwards."""
    import workloads
    from mentor_rdf_parsers_spark import pipeline
    from mentor_rdf_parsers_spark.operators import canonicalize, materialize
    from mentor_rdf_parsers_spark.sparql import executor, updates

    def write_stage_name(args, kwargs):
        return kwargs.get("stage", args[2] if len(args) > 2 else "triples")

    patches = [
        (workloads, "extract_triples", "extract", None),
        (workloads, "split_extract", "extract.split", None),
        (workloads, "run_pipeline", "pipeline", None),
        (workloads, "execute", "sparql.executor", None),
        (workloads, "execute_update", "sparql.updates", None),
        (pipeline, "extract_triples", "extract", None),
        (pipeline, "split_extract", "extract.split", None),
        (pipeline, "link_exact", "linking", None),
        (pipeline, "canonicalize_triples", "canonicalize", None),
        (pipeline, "write_stage", "materialize.write_stage", write_stage_name),
        (pipeline, "read_stage", "materialize.read_stage", None),
        (canonicalize, "connected_components", "canonicalize.cc", None),
        (materialize, "partition_metrics", "materialize.metrics", None),
        (executor, "parse_sparql", "sparql.parser", None),
        (executor, "transitive_closure", "paths", None),
        (updates, "parse_sparql", "sparql.parser", None),
    ]
    saved = []
    for module, attr, name, stage in patches:
        fn = getattr(module, attr)
        saved.append((module, attr, fn))
        setattr(module, attr, tracer.wrap(fn, name, stage))
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


# ------------------------------------------------------------------ event log
class EventLog:
    """The parts of one application's event log the metrics need."""

    def __init__(self, log_dir: Path):
        files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        self.jobs: dict = {}        # job id -> {group, start, end, stages, exec}
        self.stages: dict = {}      # stage id -> timings, task totals, accumulators
        self.plans: dict = defaultdict(list)         # execution id -> [plan text]
        self.node_metrics: dict = {}                 # accumulator id -> (node, metric)
        self.driver_accums: dict = defaultdict(int)  # (execution id, accumulator id) -> value
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))
        for jid, job in self.jobs.items():
            for sid in job["stages"]:
                if sid in self.stages:
                    self.stages[sid].setdefault("job", jid)

    def _event(self, ev):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000, "end": None,
                "stages": list(ev["Stage IDs"]),
                "exec": int(execution) if execution is not None else None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            st["result"] = st["result"] or ev["Task Type"] == "ResultTask"
            st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables") or []:
                if acc.get("Metadata") == "sql":
                    st["sql"][acc["Name"]] += int(acc.get("Update") or 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            if "Submission Time" in info and "Completion Time" in info:
                st["start"] = info["Submission Time"] / 1000
                st["end"] = info["Completion Time"] / 1000
        elif kind in (SQL_EXEC_START, SQL_AQE_UPDATE):
            self.plans[ev["executionId"]].append(ev.get("physicalPlanDescription", ""))
            self._walk(ev["sparkPlanInfo"])
        elif kind == SQL_DRIVER_ACCUM:
            for acc_id, value in ev.get("accumUpdates", []):
                self.driver_accums[(ev["executionId"], acc_id)] += value

    def _stage(self, sid):
        if sid not in self.stages:
            self.stages[sid] = {
                "start": None, "end": None, "result": False, "task_ms": [], "run_ms": 0,
                "cpu_ms": 0.0, "gc_ms": 0, "spill": 0, "shuffle_write": 0,
                "sql": defaultdict(int),   # SQL metric name -> sum of task updates
            }
        return self.stages[sid]

    def _walk(self, node):
        for m in node.get("metrics", []):
            self.node_metrics[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for child in node.get("children", []):
            self._walk(child)

    def driver_metric(self, executions, node_prefix: str, metric: str) -> int:
        """Sum of a driver-side SQL metric (broadcast sizes, file-write
        command counters) over these SQL executions."""
        return sum(
            v for (ex, aid), v in self.driver_accums.items()
            if ex in executions and aid in self.node_metrics
            and self.node_metrics[aid][0].startswith(node_prefix)
            and self.node_metrics[aid][1] == metric
        )


PY_WORKER_METRIC = "time to run Python workers"


# ------------------------------------------------------------------ analysis
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _ms(span) -> float:
    return 1000 * (span["end"] - span["start"])


class Analysis:
    """Joins the tracer's spans with the event log for the timed window."""

    def __init__(self, tracer: Tracer, log: EventLog):
        self.log = log
        self.spans = {s["id"]: s for s in tracer.spans}
        self.ops = [s for s in tracer.spans if s["name"] == "op"]
        self.op_of = {}
        for s in tracer.spans:
            p = s
            while p is not None and p["name"] != "op":
                p = self.spans.get(p["parent"])
            if p is not None:
                self.op_of[s["id"]] = p["id"]
        self.jobs = {j: job for j, job in log.jobs.items() if job["group"] in self.op_of}
        self.stages = {
            sid: st for sid, st in log.stages.items()
            if st.get("job") in self.jobs and st["start"] is not None
        }
        for st in self.stages.values():
            st["layer"], st["span"] = self._stage_owner(st)
        self.time = self._sweep()

    def _stage_owner(self, st):
        span = self.spans[self.jobs[st["job"]]["group"]]
        if span["name"] == "materialize.write_stage":
            producer = WRITE_PRODUCER.get(span.get("stage"), "materialize")
            if st["result"] and PY_WORKER_METRIC not in st["sql"]:
                return "materialize", span["id"]
            return producer, span["id"]
        return span_layer(span["name"]), span["id"]

    def _sweep(self) -> dict:
        """(layer, span id) -> seconds, over every instant of every op."""
        out: dict = defaultdict(float)
        inner = [s for s in self.spans.values() if s["id"] in self.op_of]
        stages = list(self.stages.values())
        for op in self.ops:
            lo, hi = op["start"], op["end"]
            cuts = {lo, hi}
            for x in inner + stages:
                for t in (x["start"], x["end"]):
                    if lo < t < hi:
                        cuts.add(t)
            cuts = sorted(cuts)
            for a, b in zip(cuts, cuts[1:]):
                m = (a + b) / 2
                running = [st for st in stages if st["start"] <= m < st["end"]]
                if running:
                    for st in running:
                        out[(st["layer"], st["span"])] += (b - a) / len(running)
                    continue
                open_ = [s for s in inner if s["start"] <= m < s["end"] and self.op_of[s["id"]] == op["id"]]
                sp = max(open_, key=lambda s: s["start"])
                out[(span_layer(sp["name"]), sp["id"])] += b - a
        return out

    def named(self, name: str, **attrs):
        return [
            s for s in self.spans.values()
            if s["name"] == name and s["id"] in self.op_of
            and all(s.get(k) == v for k, v in attrs.items())
        ]

    def under(self, span_ids) -> list:
        """Jobs started inside these spans or their descendants."""
        ids = set(span_ids)
        changed = True
        while changed:
            more = {s["id"] for s in self.spans.values() if s["parent"] in ids} - ids
            changed = bool(more)
            ids |= more
        return [j for j, job in self.jobs.items() if job["group"] in ids]

    def job_stages(self, jobs) -> list:
        return [st for st in self.stages.values() if st["job"] in set(jobs)]

    def layer_s(self, layer: str, span_ids=None) -> float:
        return sum(v for (lay, sid), v in self.time.items()
                   if lay == layer and (span_ids is None or sid in span_ids))

    def driver_only_s(self) -> float:
        busy = 0.0
        for op in self.ops:
            ivs = sorted(
                (max(j["start"], op["start"]), min(j["end"], op["end"]))
                for j in self.jobs.values() if j["end"] and j["start"] < op["end"] and j["end"] > op["start"]
            )
            cur_a = cur_b = None
            for a, b in ivs:
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        busy += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                busy += cur_b - cur_a
        return sum(op["end"] - op["start"] for op in self.ops) - busy


def per_layer(tracer: Tracer, log_dir: Path, results: list, parsing: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, for any workload: a layer
    the workload does not exercise reports 0. Totals are per timed
    operation unless the name says otherwise."""
    an = Analysis(tracer, EventLog(log_dir))
    log = an.log
    n_ops = max(len(an.ops), 1)
    total_s = sum(op["end"] - op["start"] for op in an.ops) or 1.0
    m: dict = {}

    for syntax in ("turtle", "ntriples", "nquads", "trig", "n3"):
        m[f"parsing.{syntax}_us_per_triple"] = parsing.get(syntax, 0.0)
    m["parsing.quad_to_row_us_per_triple"] = parsing.get("quad_to_row", 0.0)

    # the parse UDF's stages: Python-worker stages owned by the extract layer
    ext = [st for st in an.stages.values() if st["layer"] == "extract" and PY_WORKER_METRIC in st["sql"]]

    def py(metric):
        return sum(st["sql"].get(metric, 0) for st in ext)

    rows = py("number of output rows")
    for key, metric in (("start", "time to start Python workers"),
                        ("init", "time to initialize Python workers"),
                        ("run", PY_WORKER_METRIC)):
        m[f"extract.python_{key}_ms"] = py(metric) / n_ops
    m["extract.bytes_to_python_per_triple"] = py("data sent to Python workers") / rows if rows else 0.0
    m["extract.bytes_from_python_per_triple"] = py("data returned from Python workers") / rows if rows else 0.0
    task_ms = [t for st in ext for t in st["task_ms"]]
    m["extract.task_skew"] = max(task_ms) / _median(task_ms) if task_ms and _median(task_ms) else 0.0
    m["extract.gc_ms"] = sum(st["gc_ms"] for st in ext) / n_ops
    run_ms = sum(st["run_ms"] for st in ext)
    m["extract.cpu_share"] = sum(st["cpu_ms"] for st in ext) / run_ms if run_ms else 0.0

    # SPARQL: queries and updates are the ops named after their template
    q_ops = [op for op in an.ops if op["op"] in TEMPLATES]
    u_ops = [op for op in an.ops if op["op"] == "update"]
    parse_ms = [_ms(s) for s in an.named("sparql.parser")]
    m["sparql.parser.parse_ms"] = _median(parse_ms)

    def self_ms(span):
        kids = [c for c in an.spans.values() if c["parent"] == span["id"]]
        return _ms(span) - sum(_ms(c) for c in kids if c["name"] == "sparql.parser")

    for layer, ops in (("sparql.executor", q_ops), ("sparql.updates", u_ops)):
        ids = {op["id"] for op in ops}
        calls = [s for s in an.named(layer) if an.op_of[s["id"]] in ids]
        actions = [s for s in an.named(layer + ".action") if an.op_of[s["id"]] in ids]
        n = max(len(ops), 1)
        jobs = an.under(op["id"] for op in ops)
        m[f"{layer}.plan_ms"] = _median([self_ms(s) for s in calls])
        m[f"{layer}.action_ms"] = _median([_ms(s) for s in actions])
        eager = len(an.under(s["id"] for s in calls)) / n
        shuffle = sum(st["shuffle_write"] for st in an.job_stages(jobs)) / n
        if layer == "sparql.executor":
            m[f"{layer}.eager_jobs_per_query"] = eager
            m[f"{layer}.shuffle_bytes_per_query"] = shuffle
        else:
            m[f"{layer}.eager_jobs"] = eager
            m[f"{layer}.shuffle_bytes"] = shuffle
    crossing = set()
    for op in q_ops:
        execs = {an.jobs[j]["exec"] for j in an.under([op["id"]])}
        if any(("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p)
               for ex in execs for p in log.plans.get(ex, [])):
            crossing.add(op["op"])
    m["sparql.executor.cartesian_templates"] = len(crossing)
    lat = defaultdict(list)
    for (name, secs, _ok) in results:
        lat[name].append(1000 * secs)
    for t in TEMPLATES:
        m[f"sparql.executor.{t}_ms"] = _median(lat.get(t, []))
    q_lat = sorted(x for t in TEMPLATES for x in lat.get(t, []))
    m["sparql.executor.query_p90_ms"] = statistics.quantiles(q_lat, n=10)[-1] if len(q_lat) >= 2 else 0.0
    m["sparql.updates.p50_ms"] = _median(lat.get("update", []))

    # KG pipeline layers
    linked_w = {s["id"] for s in an.named("materialize.write_stage", stage="linked")}
    link_jobs = an.under(linked_w | {s["id"] for s in an.named("linking")})
    link_execs = {an.jobs[j]["exec"] for j in link_jobs}
    m["linking.s"] = an.layer_s("linking") / n_ops
    m["linking.broadcast_bytes"] = log.driver_metric(link_execs, "BroadcastExchange", "data size") / n_ops
    m["linking.rows_out"] = log.driver_metric(link_execs, "Execute InsertInto", "number of output rows") / n_ops

    cc = an.named("canonicalize.cc")
    cc_jobs = an.under(s["id"] for s in cc)
    canon_w = {s["id"] for s in an.named("materialize.write_stage", stage="canonical")}
    rewrite_stages = [st for st in an.stages.values() if st["span"] in canon_w and not st["result"]]
    cc_stages = an.job_stages(cc_jobs)
    m["canonicalize.cc_s"] = sum(s["end"] - s["start"] for s in cc) / n_ops
    m["canonicalize.cc_jobs"] = len(cc_jobs) / n_ops
    m["canonicalize.cc_ms_per_job"] = 1000 * m["canonicalize.cc_s"] / m["canonicalize.cc_jobs"] if cc_jobs else 0.0
    m["canonicalize.rewrite_s"] = an.layer_s("canonicalize", canon_w) / n_ops
    m["canonicalize.shuffle_bytes"] = sum(st["shuffle_write"] for st in cc_stages + rewrite_stages) / n_ops
    m["canonicalize.spill_bytes"] = sum(st["spill"] for st in cc_stages + rewrite_stages) / n_ops

    writes = {s["id"] for s in an.named("materialize.write_stage")}
    write_execs = {an.jobs[j]["exec"] for j in an.under(writes)}
    m["materialize.write_s"] = an.layer_s("materialize") / n_ops
    m["materialize.bytes_written"] = log.driver_metric(write_execs, "Execute InsertInto", "written output") / n_ops
    m["materialize.files_written"] = log.driver_metric(write_execs, "Execute InsertInto", "number of written files") / n_ops

    stages = list(an.stages.values())
    m["spark.jobs"] = len(an.jobs) / n_ops
    m["spark.stages"] = len(stages) / n_ops
    m["spark.tasks"] = sum(len(st["task_ms"]) for st in stages) / n_ops
    m["spark.gc_ms"] = sum(st["gc_ms"] for st in stages) / n_ops
    m["spark.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages) / n_ops
    m["spark.spill_bytes"] = sum(st["spill"] for st in stages) / n_ops
    m["spark.driver_only_s"] = an.driver_only_s() / n_ops

    for layer in LAYERS:
        m[f"share.{layer}"] = an.layer_s(layer) / total_s
    return m


def write_spans(tracer: Tracer, path: Path) -> None:
    path.write_text(json.dumps(tracer.spans, indent=0))


def unit_of(name: str) -> str:
    if name.endswith("_us_per_triple"):
        return "us"
    if name.endswith(("_ms", "_ms_per_job")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name:
        return "B"
    if name.startswith("share.") or name.endswith(("cpu_share", "task_skew")):
        return "ratio"
    return "count"
