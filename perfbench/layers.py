"""Per-layer metrics of a traced run.

Inputs: the benchmark's spans (one `perfbench` span per operation, spans
named after the engine module around each call into it, and the
layer-isolation probes run after the timed loop), the parsed event log,
and direct timings of the numpy kernels.

Three kinds of attribution:
  * span time -- a span's wall time, e.g. `pipeline.flagship_s`;
  * job counters -- each Spark job belongs to the innermost span open when
    its SQL execution (or, without one, the job) started; stage and task
    counters of its stages follow it;
  * plan-node counters -- SQL metrics of the plan nodes an engine layer
    owns, found by their node name and the UDF they run (`cell16_udf` and
    the covering `_udf` belong to operators.cover, the `refine` mapInPandas
    to operators.spatial_join), summed per timed operation.

A metric whose layer the workload never calls reads 0.
"""

from __future__ import annotations

import time

import numpy as np

from spans import EventLog, Span, innermost, mean, median

SPAN_LAYERS = ("operators.cover", "operators.spatial_join", "operators.knn", "pipeline", "shell", "checkpoint")

PER_LAYER = {
    "session.start_s": "s",
    "kernels.cellmath.encode_ns_per_point": "ns",
    "kernels.geom.pip_ns_per_pair": "ns",
    "operators.cover.point_cells_s": "s",
    "operators.cover.cover_index_s": "s",
    "operators.cover.cells_per_feature": "count",
    "operators.cover.python_bytes_sent": "bytes",
    "operators.spatial_join.join_s": "s",
    "operators.spatial_join.candidates": "count",
    "operators.spatial_join.refine_yield": "ratio",
    "operators.spatial_join.shuffle_write_bytes": "bytes",
    "operators.spatial_join.task_skew": "ratio",
    "operators.spatial_join.python_bytes_sent": "bytes",
    "operators.spatial_join.python_exec_s": "s",
    "operators.knn.grid_s": "s",
    "operators.knn.grid_candidates_per_probe": "count",
    "operators.knn.nearest_s": "s",
    "pipeline.flagship_s": "s",
    "pipeline.tiles_s": "s",
    "pipeline.jobs_per_op": "count",
    "pipeline.tasks_per_op": "count",
    "pipeline.driver_s": "s",
    "shell.run_s": "s",
    "shell.driver_s": "s",
    "checkpoint.append_s": "s",
    "checkpoint.scan_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.compactions": "count",
    "checkpoint.write_amp": "ratio",
    "checkpoint.files_read_ratio": "ratio",
    **{f"{layer}.{name}": unit for layer in SPAN_LAYERS for name, unit in (
        ("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_fetch_wait_s", "s"), ("spill_bytes", "bytes"))},
    "perfbench.traced_items_per_s": "1/s",
    "perfbench.traced_p50_ms": "ms",
}


def _best_of(fn, repeats: int = 5) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_timings(lat: np.ndarray, lng: np.ndarray, polygons: list[dict]) -> dict:
    """Direct calls of the numpy kernels on the workload's own arrays:
    cell encoding per point, and point-in-polygon per (point, polygon)
    pair over each polygon's bounding-box candidates."""
    from diagonal_b6_spark.kernels import cellmath as cm
    from diagonal_b6_spark.kernels import geom

    out = {"encode_ns_per_point": 1e9 * _best_of(lambda: cm.cell_id_from_latlng(lat, lng, 16)) / len(lat)}
    work = []
    for f in polygons:
        xs, ys = np.asarray(f["xs"]), np.asarray(f["ys"])
        sel = (lng >= xs.min()) & (lng <= xs.max()) & (lat >= ys.min()) & (lat <= ys.max())
        work.append((lng[sel], lat[sel], xs, ys, np.asarray(f["ring_offsets"])))
    pairs = sum(len(w[0]) for w in work)

    def pip():
        for w in work:
            geom.points_in_polygon(*w)

    out["pip_ns_per_pair"] = 1e9 * _best_of(pip) / pairs if pairs else 0.0
    return out


class _Attribution:
    def __init__(self, spans: list[Span], log: EventLog):
        self.log = log
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.own_jobs: dict[int, list] = {}
        for job in log.jobs.values():
            t = log.executions.get(job.execution, job.submit_ms)
            s = innermost(spans, t)
            if s is not None:
                self.own_jobs.setdefault(s.sid, []).append(job)

    def jobs(self, span: Span) -> list:
        out = list(self.own_jobs.get(span.sid, []))
        for c in self.children.get(span.sid, []):
            out += self.jobs(c)
        return out

    def stages(self, span: Span) -> list:
        return [self.log.stages[s] for j in self.jobs(span) for s in j.stages if s in self.log.stages]

    def driver_s(self, span: Span) -> float:
        """Span time during which no Spark job of the span was running."""
        lo, hi = span.start * 1000.0, span.end * 1000.0
        iv = sorted((max(j.submit_ms, lo), min(j.end_ms or hi, hi)) for j in self.jobs(span))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(hi - lo - covered, 0.0) / 1000.0


def _nodes(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _nodes(c)


def _metric_ids(node: dict, name: str) -> set:
    return {m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == name}


def _first_rows_below(node: dict, accept=lambda n: True) -> set:
    """Output-row accumulator of the first node under `node` (depth first)
    that reports rows and passes `accept`."""
    for c in node.get("children", []):
        for n in _nodes(c):
            ids = _metric_ids(n, "number of output rows")
            if ids and accept(n):
                return ids
    return set()


def _plan_accumulators(log: EventLog) -> dict[str, set]:
    """Accumulator ids of the plan-node counters, by role."""
    acc: dict[str, set] = {k: set() for k in (
        "cover_sent", "refine_sent", "refine_exec", "refine_rows", "refine_candidates", "grid_candidates")}
    for plan in log.plans:
        for n in _nodes(plan):
            name, desc = n.get("nodeName", ""), n.get("simpleString", "")
            if name == "ArrowEvalPython" and "_udf(" in desc:  # cell16_udf and the covering _udf
                acc["cover_sent"] |= _metric_ids(n, "data sent to Python workers")
            elif name == "MapInPandas" and "refine(" in desc:
                acc["refine_sent"] |= _metric_ids(n, "data sent to Python workers")
                acc["refine_exec"] |= _metric_ids(n, "time to run Python workers")
                acc["refine_rows"] |= _metric_ids(n, "number of output rows")
                acc["refine_candidates"] |= _first_rows_below(n)
            elif name == "Window":
                acc["grid_candidates"] |= _first_rows_below(
                    n, lambda m: m.get("nodeName", "").endswith(("HashJoin", "SortMergeJoin"))
                )
    return acc


def _seconds(log: EventLog, aid: int, value: float) -> float:
    kind = log.metric_types.get(aid, "timing")
    return value / 1e9 if kind == "nsTiming" else value / 1e3


def per_layer(spans: list[Span], log: EventLog, start_s: float, kernels: dict, e2e: dict) -> dict:
    at = _Attribution(spans, log)
    acc = _plan_accumulators(log)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ops = by_name.get("op", [])

    def dur(*names):
        return median(s.end - s.start for n in names for s in by_name.get(n, []))

    def accum_sum(span, role, as_seconds=False):
        total = 0.0
        for st in at.stages(span):
            for aid, v in st.accums.items():
                if aid in acc[role]:
                    total += _seconds(log, aid, v) if as_seconds else v
        return total

    def per_op(role, as_seconds=False):
        return mean(accum_sum(s, role, as_seconds) for s in ops)

    def in_op(s):
        while s.parent is not None:
            s = spans[s.parent]
            if s.name == "op":
                return True
        return False

    def layer_spans(layer):
        """The layer's spans inside timed ops; the probe and set-up spans
        when the timed ops never call the layer."""
        all_ = [s for s in spans if s.layer == layer]
        timed = [s for s in all_ if in_op(s)]
        return timed or all_

    out = {
        "session.start_s": start_s,
        "kernels.cellmath.encode_ns_per_point": kernels["encode_ns_per_point"],
        "kernels.geom.pip_ns_per_pair": kernels["pip_ns_per_pair"],
        "operators.cover.point_cells_s": dur("operators.cover.with_point_cells"),
        "operators.cover.cover_index_s": dur("operators.cover.feature_cover_index"),
        "operators.cover.python_bytes_sent": per_op("cover_sent"),
    }
    cov = by_name.get("operators.cover.feature_cover_index", [])
    feats = sum(s.counts.get("features", 0) for s in cov)
    out["operators.cover.cells_per_feature"] = sum(s.counts.get("cells", 0) for s in cov) / feats if feats else 0.0

    sj = layer_spans("operators.spatial_join")
    cand = sum(accum_sum(s, "refine_candidates") for s in ops)
    skews = []
    for s in sj:
        stages = [st for st in at.stages(s) if st.tasks >= 2]
        if stages:
            big = max(stages, key=lambda st: sum(st.task_times_ms))
            skews.append(max(big.task_times_ms) / max(median(big.task_times_ms), 1.0))
    out.update({
        "operators.spatial_join.join_s": median(s.end - s.start for s in sj),
        "operators.spatial_join.candidates": cand / len(ops) if ops else 0.0,
        "operators.spatial_join.refine_yield": sum(accum_sum(s, "refine_rows") for s in ops) / cand if cand else 0.0,
        "operators.spatial_join.shuffle_write_bytes": mean(
            sum(st.shuffle_write_bytes for st in at.stages(s)) for s in sj),
        "operators.spatial_join.task_skew": median(skews),
        "operators.spatial_join.python_bytes_sent": per_op("refine_sent"),
        "operators.spatial_join.python_exec_s": per_op("refine_exec", as_seconds=True),
    })

    grid = by_name.get("operators.knn.knn_grid", [])
    probes = sum(s.counts.get("probes", 0) for s in grid)
    out.update({
        "operators.knn.grid_s": dur("operators.knn.knn_grid"),
        "operators.knn.grid_candidates_per_probe":
            sum(accum_sum(s, "grid_candidates") for s in grid) / probes if probes else 0.0,
        "operators.knn.nearest_s": dur("operators.knn.nearest_expr", "operators.knn.nearest_dist_expr"),
    })

    pipe = layer_spans("pipeline")
    out.update({
        "pipeline.flagship_s": dur("pipeline.run_flagship"),
        "pipeline.tiles_s": dur("pipeline.tile_assignments"),
        "pipeline.jobs_per_op": mean(len(at.jobs(s)) for s in pipe),
        "pipeline.tasks_per_op": mean(sum(st.tasks for st in at.stages(s)) for s in pipe),
        "pipeline.driver_s": median(at.driver_s(s) for s in pipe),
        "shell.run_s": dur("shell.run"),
        "shell.driver_s": median(at.driver_s(s) for s in layer_spans("shell")),
    })

    appends = by_name.get("checkpoint.append_clustered_snapshot", [])
    compacts = by_name.get("checkpoint.maybe_compact", [])
    scans = by_name.get("checkpoint.files_for_cell_range", [])
    user = sum(s.counts.get("user_bytes", 0) for s in appends)
    written = sum(s.counts.get("written_bytes", 0) for s in appends + compacts)
    files = sum(s.counts.get("files", 0) for s in scans)
    out.update({
        "checkpoint.append_s": dur("checkpoint.append_clustered_snapshot"),
        "checkpoint.scan_s": dur("checkpoint.files_for_cell_range"),
        "checkpoint.compact_s": dur("checkpoint.maybe_compact"),
        "checkpoint.compactions": mean(s.counts.get("compactions", 0) for s in compacts),
        "checkpoint.write_amp": written / user if user else 0.0,
        "checkpoint.files_read_ratio": sum(s.counts.get("files_read", 0) for s in scans) / files if files else 0.0,
    })

    for layer in SPAN_LAYERS:
        stage_sets = [at.stages(s) for s in layer_spans(layer)]

        def per_call(counter):
            return mean(sum(counter(st) for st in sts) for sts in stage_sets)

        out[f"{layer}.executor_cpu_s"] = per_call(lambda st: st.cpu_ns / 1e9)
        out[f"{layer}.gc_s"] = per_call(lambda st: st.gc_ms / 1e3)
        out[f"{layer}.shuffle_fetch_wait_s"] = per_call(lambda st: st.fetch_wait_ms / 1e3)
        out[f"{layer}.spill_bytes"] = per_call(lambda st: st.spill_bytes)

    out["perfbench.traced_items_per_s"] = e2e["items_per_s"][0]
    out["perfbench.traced_p50_ms"] = e2e["p50_ms"][0]
    return {k: (float(out.get(k, 0.0)), unit) for k, unit in PER_LAYER.items()}
