"""Per-layer metrics of a traced run, read from Spark's own event log.

The traced run writes an uncompressed event log (``spark.eventLog.*``, set
by ``run.py``) and labels every Spark job with the job group of the
benchmark call that caused it (``harness.Run.call``). This module reads
that log — no live UI — and turns it into the per-layer record:

- wall time per layer from the benchmark's own spans (median per call);
- engine counters summed over the labelled jobs: jobs, stages, tasks, task
  CPU, shuffle write, spill, GC, input bytes;
- ``spark.dup_stage_share``: completed stages whose (name, task count,
  shuffle-write bytes) repeats within one call, over all stages;
- ``driver.idle_s``: wall time of the measured calls during which no Spark
  job was running (planning, py4j, Python);
- ``scd.scd2_merge_s``: the write executions inside ``scd2_commit``, which
  run the merge plan;
- the star build broken down by table, from the SQL executions inside
  ``run_star_build``: a write names its table in the plan
  (InsertIntoHadoopFsRelationCommand <path>), and the ``count()`` executions
  that follow the writes are matched to the tables in build order; a count
  whose plan has any leaf other than InMemoryTableScan recomputed its
  table instead of reading it back.

Metrics of a layer the workload does not call read 0.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import Counter, defaultdict

SQL = "org.apache.spark.sql.execution.ui."
WRITE = "Execute InsertIntoHadoopFsRelationCommand"
WRITE_PATH = re.compile(r"Arguments: (?:file:)?([^,\s]+)")

# layer metric -> (span layer, unit); the median over that layer's calls
SPAN_METRICS = {
    "pipeline.run_star_build_s": "pipeline.run_star_build",
    "validation.dq_s": "validation.dq",
    "txlog.base_load_s": "txlog.base_load",
    "facts.ventas_increment_s": "facts.ventas_increment",
    "txlog.append_s": "txlog.append",
    "txlog.delete_s": "txlog.delete",
    "txlog.scd2_commit_s": "txlog.scd2_commit",
    "txlog.read_changes_s": "txlog.read_changes",
    "txlog.read_s": "txlog.read",
    "incremental.change_feed_s": "incremental.change_feed",
    "readers.analyst_query_s": "readers.analyst_query",
    "retrieval.bm25_build_s": "retrieval.bm25_build",
    "retrieval.bm25_append_s": "retrieval.bm25_append",
    "retrieval.bm25_compact_s": "retrieval.bm25_compact",
    "retrieval.bm25_search_s": "retrieval.bm25_search",
    "retrieval.positional_build_s": "retrieval.positional_build",
    "retrieval.positional_append_s": "retrieval.positional_append",
    "retrieval.positional_compact_s": "retrieval.positional_compact",
    "retrieval.phrase_search_s": "retrieval.phrase_search",
    "freshness.check_s": "freshness.check",
}
# counts a workload records itself (harness.Run.counts), with their units
WORKLOAD_COUNTS = {
    "validation.rows_checked": "count",
    "writers.files": "count",
    "writers.bytes": "bytes",
    "txlog.files": "count",
    "txlog.versions": "count",
    "incremental.rows_folded": "count",
    "retrieval.postings_files": "count",
    "retrieval.positions_files": "count",
}
TABLE_METRICS = {
    "fact_ventas": "facts.ventas_s",
    "fact_inventario": "facts.inventario_s",
    "fact_transacciones": "facts.transacciones_s",
    "fact_balance": "facts.balance_s",
    "fact_estado_resultados": "facts.estado_resultados_s",
}


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        paths = [os.path.join(path, f) for f in sorted(os.listdir(path))] if os.path.isdir(path) else [path]
        # a v2 log directory also holds an empty appstatus marker and .crc files
        for p in (p for p in paths if os.path.basename(p).startswith("events_") or not os.path.isdir(path)):
            with open(p) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def _acc(info: dict) -> dict:
    out = {}
    for a in info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def _leaves(info: dict):
    """Leaf operators; a cached relation (InMemoryTableScan) is a leaf."""
    if not info.get("children") or info.get("nodeName", "").startswith("InMemoryTableScan"):
        yield info
        return
    for c in info["children"]:
        yield from _leaves(c)


def layers(log_dir: str, run, workload) -> dict[str, tuple[float, str]]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[dict] = []
    execs: dict[int, dict] = {}
    files_read_ids: set[int] = set()
    files_read = Counter()

    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "label": props.get("spark.jobGroup.id"),
                "exec": int(props["spark.sql.execution.id"]) if props.get("spark.sql.execution.id") else None,
                "start": e.get("Submission Time"),
                "end": None,
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages.append(
                {
                    "id": info["Stage ID"],
                    "name": info.get("Stage Name"),
                    "tasks": info.get("Number of Tasks", 0),
                    "acc": _acc(info),
                }
            )
        elif kind in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = execs.setdefault(e["executionId"], {"id": e["executionId"]})
            if kind.endswith("Start"):
                ex["start"] = e.get("time")
                ex["root"] = e.get("rootExecutionId", e["executionId"])
                # the job description, which a traced call sets to its layer
                ex["layer"] = e.get("description")
            ex["plan_text"] = e.get("physicalPlanDescription", "")
            ex["plan"] = e.get("sparkPlanInfo", {})
            for node in _plan_nodes(ex["plan"]):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        files_read_ids.add(m["accumulatorId"])
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            execs.setdefault(e["executionId"], {"id": e["executionId"]})["end"] = e.get("time")
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in files_read_ids:
                    files_read[e["executionId"]] += value

    labelled = {jid: j for jid, j in jobs.items() if j["label"]}

    out: dict[str, tuple[float, str]] = {}
    for metric, layer in SPAN_METRICS.items():
        out[metric] = (run.median(layer), "s")
    for metric, unit in WORKLOAD_COUNTS.items():
        out[metric] = (float(run.counts.get(metric, 0.0)), unit)

    # engine counters over every labelled job
    mine = [s for s in stages if stage_job.get(s["id"]) in labelled]
    total = lambda key: sum(s["acc"].get(key, 0.0) for s in mine)  # noqa: E731
    out["spark.jobs"] = (float(len(labelled)), "count")
    out["spark.stages"] = (float(len(mine)), "count")
    out["spark.tasks"] = (float(sum(s["tasks"] for s in mine)), "count")
    out["spark.task_cpu_s"] = (total("internal.metrics.executorCpuTime") / 1e9, "s")
    out["spark.shuffle_write_bytes"] = (total("internal.metrics.shuffle.write.bytesWritten"), "bytes")
    out["spark.spill_bytes"] = (
        total("internal.metrics.memoryBytesSpilled") + total("internal.metrics.diskBytesSpilled"), "bytes")
    out["spark.gc_s"] = (total("internal.metrics.jvmGCTime") / 1e3, "s")
    out["readers.input_bytes"] = (total("internal.metrics.input.bytesRead"), "bytes")
    out["readers.scan_s"] = (
        sum(s["acc"].get("internal.metrics.executorRunTime", 0.0) for s in mine
            if s["acc"].get("internal.metrics.input.bytesRead", 0.0) > 0) / 1e3, "s")

    # duplicate work inside one call: map stages (they write shuffle
    # output) that repeat with the same name, width and bytes
    per_call = defaultdict(Counter)
    for s in mine:
        if not s["acc"].get("internal.metrics.shuffle.write.bytesWritten"):
            continue
        key = (s["name"], s["tasks"], s["acc"].get("internal.metrics.shuffle.write.bytesWritten", 0.0))
        per_call[labelled[stage_job[s["id"]]]["label"]][key] += 1
    dups = sum(n - 1 for c in per_call.values() for n in c.values())
    out["spark.dup_stage_share"] = (dups / len(mine) if mine else 0.0, "ratio")

    # wall time of the measured calls with no job running
    top = [sp for sp in run.spans if sp["layer"] in ("load", "append", "query")]
    busy = sorted((j["start"], j["end"]) for j in labelled.values() if j["start"] and j["end"])
    idle = 0.0
    for sp in top:
        lo, hi = sp["start_ms"], sp["end_ms"]
        covered, cur = 0.0, lo
        for a, b in busy:
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        idle += (hi - lo) - covered
    out["driver.idle_s"] = (idle / 1e3, "s")

    # files read per search call: executions of that layer started inside the call
    for metric, layer in (("retrieval.bm25_search_files_read", "retrieval.bm25_search"),
                          ("retrieval.phrase_search_files_read", "retrieval.phrase_search")):
        per = [
            sum(files_read.get(ex["id"], 0.0) for ex in execs.values()
                if ex.get("layer") == layer and ex.get("start") and sp["start_ms"] <= ex["start"] <= sp["end_ms"])
            for sp in run.spans if sp["layer"] == layer
        ]
        out[metric] = (statistics.median(per) if per else 0.0, "count")

    # the SCD2 merge plan runs in the write that scd2_commit makes of it;
    # the rest of the call is reading the log and committing
    per = [
        sum((ex["end"] - ex["start"]) / 1e3 for ex in execs.values()
            if ex.get("layer") == "txlog.scd2_commit" and ex.get("root", ex["id"]) == ex["id"]
            and ex.get("start") and ex.get("end")
            and WRITE in ex.get("plan_text", "") and sp["start_ms"] <= ex["start"] <= sp["end_ms"])
        for sp in run.spans if sp["layer"] == "txlog.scd2_commit"
    ]
    out["scd.scd2_merge_s"] = (statistics.median(per) if per else 0.0, "s")

    out.update(_star_build(execs, jobs, getattr(workload, "TABLE_ORDER", [])))
    return out


def _star_build(execs, jobs, tables) -> dict[str, tuple[float, str]]:
    """Per-table write and count executions inside run_star_build."""
    mine = sorted(
        (ex for ex_id, ex in execs.items()
         if ex.get("layer") == "pipeline.run_star_build"
         and ex.get("root", ex_id) == ex_id and ex.get("start") and ex.get("end")),
        key=lambda ex: ex["start"],
    )
    jobs_of = Counter(j["exec"] for j in jobs.values())
    writes, counts = {}, []
    for ex in mine:
        text = ex.get("plan_text", "")
        at = text.rfind(WRITE)
        m = WRITE_PATH.search(text, at) if at >= 0 else None
        if m:
            writes[os.path.basename(m.group(1).rstrip("/"))] = ex
        elif writes:
            counts.append(ex)
    dur = lambda ex: (ex["end"] - ex["start"]) / 1e3  # noqa: E731
    out = {metric: (dur(writes[t]) if t in writes else 0.0, "s") for t, metric in TABLE_METRICS.items()}
    dims = [ex for t, ex in writes.items() if t.startswith("dim_")]
    out["dims.build_s"] = (sum(dur(ex) for ex in dims), "s")
    out["dims.jobs"] = (float(sum(jobs_of[ex["id"]] for ex in dims)), "count")
    out["pipeline.write_s"] = (sum(dur(ex) for ex in writes.values()), "s")
    out["pipeline.count_s"] = (sum(dur(ex) for ex in counts), "s")
    recomputed = 0
    for ex in counts[-len(tables):] if tables else counts:
        leaves = [n.get("nodeName", "") for n in _leaves(ex.get("plan", {}))]
        recomputed += any(not leaf.startswith("InMemoryTableScan") for leaf in leaves)
    out["pipeline.recomputed_tables"] = (float(recomputed), "count")
    ventas = writes.get("fact_ventas")
    bhj = sum(1 for n in _plan_nodes(ventas.get("plan", {})) if n.get("nodeName") == "BroadcastHashJoin") if ventas else 0
    out["facts.ventas_broadcast_joins"] = (float(bhj), "count")
    return out
