"""The traced run and its per-layer ledger, built from Spark's event log.

The timed runs keep tracing off. A traced run first makes the usual calls
with tracing off (their median wall time is the baseline for the tracing
overhead), then restarts the session with the event log on and repeats
the calls, each under a job group of its own. After the session stops, the
event log is parsed. A call owns the stages submitted during its span (the
streaming query's jobs run under the query's own job group), and each
stage is attributed to one layer by the operator names in its RDD scopes
and the table its SQL execution reads or writes.

Time is never a sum of job wall times: AQE runs several jobs at once over
the persisted extraction. Layer times are core-seconds (executor run time)
or wall time from the union of stage intervals; wall time no stage covers
is ``unattributed_s`` (driver-side planning, listing, commit protocol).
"""

from __future__ import annotations

import json
import re
import shutil
import statistics
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

import harness
from probes import kernel_route_us, stream_listener

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_RE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n"
                       r"(?:[^\n]*\n)*?Arguments: \S*?([^/\s,]+),")
_READ_RE = re.compile(r"Location: \w+ \[\S*?([^/\s,\]]+)[,\]]")


def load_events(event_dir: Path, app_id: str) -> list[dict]:
    events = []
    for path in sorted((event_dir / f"eventlog_v2_{app_id}").glob("events_*"),
                       key=lambda p: int(p.name.split("_")[1])):
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    return events


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            name = json.loads(scope)["name"].strip()
            names.add(re.sub(r" \(\d+\)$", "", name))
    return names


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.execs: dict[int, dict] = defaultdict(
            lambda: {"writes": None, "reads": set(), "nodes": {}})
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e.get("Submission Time"),
                    "exec": int(exec_id) if exec_id else None,
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                }
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = self.stages.setdefault(si["Stage ID"], {"tasks": []})
                st.update(scopes=_scope_names(si),
                          submit=si.get("Submission Time"),
                          done=si.get("Completion Time"),
                          n_tasks=si["Number of Tasks"])
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
                m = e.get("Task Metrics") or {}
                ti = e["Task Info"]
                st["tasks"].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "accum": {a["ID"]: a.get("Update")
                              for a in ti.get("Accumulables", [])},
                })
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                ex = self.execs[e["executionId"]]
                ex["start"] = e["time"]
                plan = e.get("physicalPlanDescription", "")
                match = _WRITE_RE.search(plan)
                ex["writes"] = match.group(1) if match else None
                ex["reads"] = set(_READ_RE.findall(plan))
                self._add_plan(ex, e.get("sparkPlanInfo"))
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                self._add_plan(self.execs[e["executionId"]],
                               e.get("sparkPlanInfo"))
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                self.execs[e["executionId"]]["end"] = e["time"]
        for job in self.jobs.values():
            for sid in job["stages"]:
                if sid in self.stages:
                    self.stages[sid].setdefault("exec", job["exec"])
                    self.stages[sid].setdefault("group", job["group"])

    @staticmethod
    def _add_plan(ex: dict, info) -> None:
        if not info:
            return
        for node in _plan_nodes(info):
            for metric in node.get("metrics", []):
                ex["nodes"][metric["accumulatorId"]] = (
                    node["nodeName"], node.get("simpleString", ""),
                    metric["name"])


# ---- attribution --------------------------------------------------------

LAYERS = ("plans.pipeline", "operators.extract", "operators.dedup",
          "streaming.extract_stream", "plans.curation")
_ENTRY_LAYER = {"pipeline": "plans.pipeline",
                "stream": "streaming.extract_stream",
                "curation": "plans.curation"}


def _node_rows(log: EventLog, stage: dict, node: str,
                 text: str = "") -> int | None:
    """Output rows the stage's tasks report for plan node ``node`` (whose
    simpleString contains ``text``); None if no task reports that node."""
    nodes = log.execs[stage["exec"]]["nodes"] if stage.get("exec") \
        is not None else {}
    total = None
    for task in stage["tasks"]:
        for acc, upd in task["accum"].items():
            info = nodes.get(acc)
            if (info and info[0] == node and text in info[1]
                    and info[2] == "number of output rows"):
                total = (total or 0) + int(upd)
    return total


def classify(log: EventLog, stage: dict, entry: str, call_group) -> str:
    """``layer:part`` of one stage of a call."""
    scopes = stage["scopes"]
    ex = log.execs[stage["exec"]] if stage.get("exec") is not None else None
    writes = ex["writes"] if ex else None
    reads = ex["reads"] if ex else set()
    streamed = entry == "stream" and stage.get("group") != call_group
    home = _ENTRY_LAYER[entry]
    if _node_rows(log, stage, "MapInPandas"):
        return "operators.extract:compute"
    if "MapInPandas" in scopes and not scopes & {"InMemoryTableScan",
                                                "WriteFiles"}:
        return "operators.extract:wait"      # blocked on the cached block
    if ex is None:
        return f"{home}:listing"
    if entry == "curation":
        if "ArrowEvalPython" in scopes:
            verify = _node_rows(log, stage, "ArrowEvalPython", "jaccard")
            return "plans.curation:" + ("minhash" if verify is None
                                        else "verify")
        if "WriteFiles" in scopes:
            return "plans.curation:write"
        if "Scan parquet" in scopes and "InMemoryTableScan" not in scopes:
            return "plans.curation:gate"
        return "plans.curation:other"
    if streamed:
        return "streaming.extract_stream:batch"
    if writes == "dedup_index":
        return "operators.dedup:mark"
    if writes == "curated":
        return ("streaming.extract_stream:write" if "WriteFiles" in scopes
                else "operators.dedup:mark")
    if entry == "pipeline":
        if writes == "lineage" or "extracted" in reads:
            return "plans.pipeline:lineage"
        if writes == "extracted":
            if "WriteFiles" in scopes:
                return "plans.pipeline:write"
            if "Scan parquet" in scopes and "InMemoryTableScan" not in scopes:
                return "plans.pipeline:scan"
            return "operators.dedup:mark"
        return "plans.pipeline:scan"
    return f"{home}:other"


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def wall_shares(spans: list[tuple[float, float, str]], t0: float,
                t1: float) -> tuple[dict[str, float], float]:
    """Splits [t0, t1] among layers: each instant goes in equal parts to
    the layers with a stage running then; instants with none are
    unattributed. The shares and the unattributed time sum to t1 - t0."""
    cuts = sorted({t0, t1} | {min(max(x, t0), t1)
                              for a, b, _ in spans for x in (a, b)})
    shares = dict.fromkeys(LAYERS, 0.0)
    idle = 0.0
    for a, b in zip(cuts, cuts[1:]):
        active = {layer for s, e, layer in spans if s <= a and e >= b}
        if not active:
            idle += b - a
        for layer in active:
            shares[layer] += (b - a) / len(active)
    return shares, idle


def call_ledger(log: EventLog, row: dict, wl) -> dict:
    """Per-layer metrics of one traced call."""
    t0, t1 = row["t0"] * 1000, row["t1"] * 1000
    stages = [st for st in log.stages.values()
              if st.get("done") and st.get("submit")
              and t0 <= st["submit"] <= t1]
    parts: dict[str, list[dict]] = defaultdict(list)
    for st in stages:
        parts[classify(log, st, wl.entry, row["group"])].append(st)

    def core_s(*names):
        return sum(t["run_ms"] for n in names for st in parts[n]
                   for t in st["tasks"]) / 1000

    def union_s(*names):
        return _union_ms((st["submit"], st["done"]) for n in names
                         for st in parts[n]) / 1000

    spans = [(st["submit"], st["done"], name.split(":")[0])
             for name, sts in parts.items() for st in sts]
    shares, idle = wall_shares(spans, t0, t1)
    m = {f"{layer}.wall_s": v / 1000 for layer, v in shares.items()}
    m["unattributed_s"] = idle / 1000

    # plans.pipeline
    pipe = [st for n, sts in parts.items() if n.startswith("plans.pipeline")
            for st in sts]
    m["plans.pipeline.jobs"] = row.get("jobs", 0)
    m["plans.pipeline.scan_shuffle_core_s"] = core_s("plans.pipeline:scan")
    m["plans.pipeline.shuffle_bytes"] = sum(
        t["shuffle_write"] for st in pipe for t in st["tasks"])
    m["plans.pipeline.write_tasks"] = sum(
        st["n_tasks"] for st in parts["plans.pipeline:write"])
    m["plans.pipeline.write_s"] = union_s("plans.pipeline:write")
    lineage_execs = {st["exec"] for st in parts["plans.pipeline:lineage"]}
    m["plans.pipeline.lineage_s"] = _union_ms(
        (log.execs[e]["start"], log.execs[e]["end"])
        for e in lineage_execs if "end" in log.execs[e]) / 1000

    # operators.extract
    computed = parts["operators.extract:compute"]
    mip_rows = sum(_node_rows(log, st, "MapInPandas") for st in computed)
    ext = wl.last_extracted
    kernel = float(ext["cpu_seconds"].sum()) if ext is not None else 0.0
    stage_core = core_s("operators.extract:compute")
    m["operators.extract.stage_core_s"] = stage_core
    m["operators.extract.kernel_core_s"] = kernel
    m["operators.extract.handoff_core_s"] = stage_core - kernel
    m["operators.extract.passes"] = (mip_rows / wl.input_rows
                                     if computed else 0.0)
    skews = []
    for st in computed:
        runs = [t["run_ms"] for t in st["tasks"]]
        if runs and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    m["operators.extract.task_skew"] = max(skews, default=0.0)

    # operators.dedup
    res = row["res"]
    m["operators.dedup.mark_core_s"] = core_s("operators.dedup:mark")
    m["operators.dedup.index_rows"] = wl.index_rows
    if wl.entry == "pipeline":
        dup = float(ext["is_duplicate"].mean())
    elif wl.entry == "stream":
        dup = res["dups_dropped"] / wl.input_rows
    else:
        dup = res["exact_and_neardup_dropped"] / wl.input_rows
    m["operators.dedup.dup_frac"] = dup

    # streaming.extract_stream
    batches = [b for b in row.get("batches", []) if b["rows"] > 0]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m["streaming.extract_stream.batches"] = len(batches)
    m["streaming.extract_stream.microbatch_s"] = med(
        [b.get("triggerExecution", 0) / 1000 for b in batches])
    m["streaming.extract_stream.add_batch_s"] = med(
        [b.get("addBatch", 0) / 1000 for b in batches])
    m["streaming.extract_stream.offsets_s"] = med(
        [sum(b.get(k, 0) for k in ("walCommit", "commitOffsets",
                                   "latestOffset", "getBatch",
                                   "queryPlanning")) / 1000
         for b in batches])
    stream_jobs = [j for j in log.jobs.values()
                   if j["submit"] and t0 <= j["submit"] <= t1
                   and j["group"] != row["group"]]
    m["streaming.extract_stream.jobs_per_batch"] = (
        len(stream_jobs) / len(batches) if batches else 0.0)
    m["streaming.extract_stream.curate_s"] = (
        row["wall_s"] - res["wall_s"] if wl.entry == "stream" else 0.0)

    # plans.curation
    m["plans.curation.gate_core_s"] = core_s("plans.curation:gate")
    m["plans.curation.minhash_core_s"] = core_s("plans.curation:minhash")
    m["plans.curation.verify_core_s"] = core_s("plans.curation:verify")
    m["plans.curation.write_s"] = union_s("plans.curation:write")
    cands = sum(_node_rows(log, st, "ArrowEvalPython", "jaccard") or 0
                for st in parts["plans.curation:verify"])
    verified = sum(_node_rows(log, st, "Filter", "jaccard") or 0
                   for st in parts["plans.curation:verify"])
    m["plans.curation.verify_yield"] = verified / cands if cands else 0.0
    m["_stages"] = {n: len(s) for n, s in sorted(parts.items())}
    return m


# ---- the traced run -----------------------------------------------------

UNITS = {"_s": "s", "_us": "us", "_bytes": "B", "_frac": "ratio",
         "_yield": "ratio", "_skew": "ratio", "passes": "ratio",
         "_rows": "rows", "_tasks": "tasks", "jobs": "jobs",
         "jobs_per_batch": "jobs/batch", "batches": "batches"}

SOURCES = {
    "session.": "benchmark spans around get_spark and the worker warm-up",
    "kernels.": "sequential extract_one in the driver, no Spark job running",
    "operators.extract.kernel_core_s": "sum of the output's cpu_seconds",
    "plans.pipeline.jobs": "statusTracker, benchmark-set job group",
    "streaming.extract_stream.microbatch_s":
        "StreamingQueryListener durationMs.triggerExecution",
    "streaming.extract_stream.add_batch_s": "StreamingQueryListener",
    "streaming.extract_stream.offsets_s": "StreamingQueryListener",
    "streaming.extract_stream.batches": "StreamingQueryListener",
    "streaming.extract_stream.curate_s":
        "call span minus run_incremental's query wall time",
    "operators.dedup.index_rows": "parquet rows of the committed index",
    "operators.dedup.dup_frac": "the call's output",
    "trace_overhead_s": "traced wall_s minus the untraced median",
}
NOT_RUN = {
    "pipeline": ("streaming.extract_stream.", "plans.curation."),
    "stream": ("plans.pipeline.", "plans.curation."),
    "curation": ("plans.pipeline.", "streaming.extract_stream.",
                 "operators.extract."),
}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def traced_run(spark, wl, calls, setup: dict, seconds: float,
               t_start: float):
    """Restarts the session with the event log on, repeats the calls
    under job groups and returns ({metric: (value, unit)}, traced Calls).
    Stops every session it starts."""
    untraced = calls.median("wall_s")
    spark.stop()
    event_dir = harness.WORK / "eventlog"
    shutil.rmtree(event_dir, ignore_errors=True)
    event_dir.mkdir(parents=True)
    spark, _, _ = harness.start_session(harness.session_conf(event_dir))
    try:
        streaming = wl.entry == "stream"
        listener = stream_listener(spark) if streaming else None
        tracker = spark.sparkContext.statusTracker()

        def after(row):
            if streaming:
                row["batches"] = listener.take()
            if wl.entry == "pipeline" and row["group"]:
                row["jobs"] = len(tracker.getJobIdsForGroup(row["group"]))

        traced = harness.Calls(spark, wl, t_start, after=after)
        # the new context has new Python workers: warm them up first
        traced.one(timed=False)
        traced.loop(seconds, group_prefix="perfbench-call")
        app_id = spark.sparkContext.applicationId
        if streaming:
            spark.streams.removeListener(listener)
    finally:
        spark.stop()
    # the kernel probe runs with no Spark job in flight
    htmls = [h for p in wl.corpus.shard_paths()
             for h in pq.read_table(p, columns=["html"])["html"].to_pylist()]
    kernels = kernel_route_us(htmls)

    log = EventLog(load_events(event_dir, app_id))
    per_call = [call_ledger(log, row, wl) for row in traced.rows]
    metrics = {"session.start_s": setup["session.start_s"],
               "session.warmup_s": setup["session.warmup_s"]}
    for route in ("html", "xml", "pdf", "rtf"):
        metrics[f"kernels.{route}_us"] = kernels.get(route, 0.0)
    for key in per_call[0] if per_call else []:
        if not key.startswith("_"):
            metrics[key] = statistics.median(c[key] for c in per_call)
    traced_wall = traced.median("wall_s") if traced.rows else 0.0
    metrics["trace_overhead_s"] = traced_wall - untraced
    print_ledger(wl, per_call, traced, untraced, metrics)
    return {k: (v, unit(k)) for k, v in metrics.items()}, traced


def print_ledger(wl, per_call, traced, untraced, metrics) -> None:
    out = [f"# per-layer ledger: {wl.name}, {len(per_call)} traced "
           f"call(s), untraced median wall {untraced:.3f} s"]
    for row, led in zip(traced.rows, per_call):
        shares = "  ".join(f"{layer} {led[layer + '.wall_s']:.3f}"
                           for layer in LAYERS)
        total = sum(led[layer + ".wall_s"] for layer in LAYERS)
        out.append(f"call wall {row['wall_s']:.3f} s = {shares}  "
                   f"unattributed {led['unattributed_s']:.3f} "
                   f"(sum {total + led['unattributed_s']:.3f})")
        out.append(f"  stages by layer:part {led['_stages']}")
    for name, value in metrics.items():
        src = next((v for k, v in SOURCES.items() if name.startswith(k)),
                   "Spark event log")
        skip = next((p for p in NOT_RUN[wl.entry] if name.startswith(p)),
                    None)
        note = f"  [0: {skip[:-1]} does not run on {wl.name}]" if skip \
            else ""
        out.append(f"{name} = {value:.6g} {unit(name)}  ({src}){note}")
    print("\n".join(out), flush=True)
