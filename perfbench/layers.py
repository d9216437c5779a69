"""Per-layer metrics of a traced run.

Layers are the engine modules the pipelines call. Times come from the
benchmark's spans around each public call and the action that
materializes it; counters come from Spark's event log, attributed to a
span through the job description the span sets. Every metric is the
median over the warm passes.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import inputs

# per-layer metrics written into the result line: the ones every workload
# measures, and the layer counts an optimization is most likely to move
# (zero on a workload that does not call the layer)
REPORTED = (
    "session.start_s", "session.py_warm_s", "process.peak_rss_mb",
    "sources.bytes_read", "sinks.bytes_written", "sinks.files_written",
    "tiles.shuffle_bytes",
    "joins.pip_candidates", "joins.pip_candidates_per_match",
    "joins.pip_shuffle_bytes", "joins.pip_task_skew",
    "textops.cc_jobs", "textops.shuffle_bytes", "textops.spill_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.py_worker_s", "spark.cpu_busy_share",
    "spark.driver_gap_s",
)

_SHUFFLE_W = "internal.metrics.shuffle.write.bytesWritten"
_SPILL = "internal.metrics.diskBytesSpilled"
_READ = "internal.metrics.input.bytesRead"
_CPU_NS = "internal.metrics.executorCpuTime"
_GC_MS = "internal.metrics.jvmGCTime"
# PIP candidates: rows the refine ships through the Python ray cast, the
# row count of the Python plan nodes in the PIP jobs
_PY_NODES = ("ArrowEvalPython", "MapInArrow", "MapInPandas", "PythonMapInArrow")


def _busy_union(intervals: list[tuple[float, float]]) -> float:
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def _op(desc: str) -> str:
    """'<pass>:<op>.<build|act>' -> '<op>'."""
    return desc.split(":", 1)[1].rsplit(".", 1)[0]


def _pass_metrics(pass_no: int, ps: dict, spans: list[dict], jobs: list[dict],
                  stages: list[dict], nodes: dict, nproc: int) -> dict[str, float]:
    m: dict[str, float] = defaultdict(float)
    layer_jobs: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        layer_jobs[_op(j["desc"])].append(j)
    layer_stages: dict[str, list[dict]] = defaultdict(list)
    for st in stages:
        layer_stages[_op(st["desc"])].append(st)

    def stage_sum(sts, key):
        return sum(st["metrics"].get(key, 0.0) for st in sts)

    def node_sum(prefix, node_names, metric):
        return sum(v for desc, vals in nodes.items()
                   if desc.startswith(f"{pass_no}:{prefix}")
                   for (node, name), v in vals.items()
                   if name == metric and node.startswith(node_names))

    def gap(js, start, end):
        iv = [(max(j["start"] / 1e3, start), min(j["end"] / 1e3, end))
              for j in js if j["end"] is not None]
        return max(0.0, (end - start) - _busy_union([i for i in iv if i[1] > i[0]]))

    op_spans: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        op_spans[s["name"].rsplit(".", 1)[0]].append(s)

    def dur(op):
        return sum(s["end"] - s["start"] for s in op_spans.get(op, []))

    def py(op):
        return sum(s["py_s"] for s in op_spans.get(op, []))

    d = ps["digests"]
    rows = {op: (v[0] if v else 0) for op, v in d.items()}
    # sources / checkpoint / pipeline / sinks
    m["sources.scan_s"] = dur("sources.scan")
    m["sources.bytes_read"] = stage_sum(stages, _READ) if "sources.scan" in op_spans else 0.0
    m["checkpoint.pending_s"] = dur("checkpoint.pending")
    m["pipeline.harvest_s"] = dur("pipeline.harvest")
    m["pipeline.py_worker_s"] = py("pipeline.harvest")
    m["pipeline.rows_out"] = rows.get("pipeline.harvest", 0)
    if d.get("sinks.run_stats"):
        processed, (ok, _) = d["sinks.run_stats"][0], d["sinks.run_stats"][1].split("/")
        m["pipeline.ok_share"] = int(ok) / max(1, processed)
    sink_ops = [op for op in op_spans if op.startswith("sinks.")]
    m["sinks.write_s"] = sum(dur(op) for op in sink_ops)
    m["sinks.bytes_written"] = ps["bytes_written"]
    m["sinks.files_written"] = ps["files_written"]
    # tiles
    m["tiles.assign_s"] = dur("tiles.assign")
    m["tiles.rollup_s"] = dur("tiles.rollup")
    tile_stages = layer_stages.get("tiles.assign", []) + layer_stages.get("tiles.rollup", [])
    m["tiles.shuffle_bytes"] = stage_sum(tile_stages, _SHUFFLE_W)
    m["tiles.cells_out"] = rows.get("tiles.rollup", 0)
    # joins
    pip_stages = layer_stages.get("joins.pip", [])
    m["joins.pip_s"] = dur("joins.pip")
    m["joins.pip_py_s"] = py("joins.pip")
    m["joins.pip_candidates"] = node_sum("joins.pip.", _PY_NODES, "number of output rows")
    m["joins.pip_matches"] = rows.get("joins.pip", 0)
    if m["joins.pip_matches"]:
        m["joins.pip_candidates_per_match"] = m["joins.pip_candidates"] / m["joins.pip_matches"]
    m["joins.pip_shuffle_bytes"] = stage_sum(pip_stages, _SHUFFLE_W)
    stage_times = [st["task_times"] for st in pip_stages if st["task_times"]]
    if stage_times:
        worst = max(stage_times, key=sum)
        m["joins.pip_task_skew"] = max(worst) / max(statistics.median(worst), 1e-3)
    # raster
    m["raster.zonal_s"] = dur("raster.zonal")
    m["raster.py_s"] = py("raster.zonal")
    if "raster.zonal" in op_spans:
        m["raster.pixels"] = inputs.N_RASTERS * inputs.RASTER_SIDE ** 2
    # textops
    for op, key in (("textops.minhash", "minhash_s"), ("textops.substring", "substring_s"),
                    ("textops.cc", "cc_s")):
        m[f"textops.{key}"] = dur(op)
    m["textops.minhash_py_s"] = py("textops.minhash")
    m["textops.cc_jobs"] = len(layer_jobs.get("textops.cc", []))
    m["textops.cc_driver_gap_s"] = sum(
        gap(layer_jobs.get("textops.cc", []), s["start"], s["end"])
        for s in op_spans.get("textops.cc", []))
    text_stages = [st for op, sts in layer_stages.items() if op.startswith("textops.") for st in sts]
    m["textops.shuffle_bytes"] = stage_sum(text_stages, _SHUFFLE_W)
    m["textops.spill_bytes"] = stage_sum(text_stages, _SPILL)
    # engine, whole pass
    wall = ps["end"] - ps["start"]
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(len(st["task_times"]) for st in stages)
    m["spark.shuffle_write_bytes"] = stage_sum(stages, _SHUFFLE_W)
    m["spark.spill_bytes"] = stage_sum(stages, _SPILL)
    m["spark.gc_s"] = stage_sum(stages, _GC_MS) / 1e3
    m["spark.py_worker_s"] = sum(s["py_s"] for s in spans)
    m["spark.cpu_busy_share"] = stage_sum(stages, _CPU_NS) / 1e9 / (wall * nproc)
    m["spark.driver_gap_s"] = gap(jobs, ps["start"], ps["end"])
    return m


_UNITS = {"_s": "s", "_bytes": "bytes", "_share": "ratio", "_per_match": "ratio",
          "_skew": "ratio", "bytes_read": "bytes", "bytes_written": "bytes"}


def _unit(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(spans, event_log, passes, nproc, session_start_s, py_warm_s, peak_rss_mb):
    """{metric: (median over warm passes, unit)}."""
    by_pass: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        by_pass[s["pass"]].append(s)
    def by_pass_no(records):
        out: dict[int, list[dict]] = defaultdict(list)
        for rec in records:
            head = rec["desc"].split(":", 1)[0]
            if head.isdigit():
                out[int(head)].append(rec)
        return out

    jobs_by_pass = by_pass_no(event_log["jobs"])
    stages_by_pass = by_pass_no(event_log["stages"])
    per_pass = [
        _pass_metrics(i, passes[i], by_pass[i], jobs_by_pass[i], stages_by_pass[i],
                      event_log["sql_node_metrics"], nproc)
        for i in range(1, len(passes))
    ]
    names = sorted({k for pm in per_pass for k in pm} | set(REPORTED))
    out = {"session.start_s": (session_start_s, "s"), "session.py_warm_s": (py_warm_s, "s"),
           "process.peak_rss_mb": (peak_rss_mb, "MB")}
    for name in names:
        if name not in out:
            out[name] = (float(statistics.median(pm.get(name, 0.0) for pm in per_pass)), _unit(name))
    return out
