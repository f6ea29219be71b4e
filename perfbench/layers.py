"""Per-layer metrics of a traced run, read from its spans.

Times are medians over repetitions of a span; Spark counters are per
repetition. Each metric's layer, and the end-to-end metric it should move,
is listed in README.md and BENCHMARK.json.
"""

from __future__ import annotations

import statistics

from engine import CURATION_QUERIES


def _med(spans: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in spans) if spans else 0.0


def _one(tr, name: str) -> dict:
    spans = tr.by_name(name)
    return spans[0] if spans else {}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(run, tr, rss) -> dict:
    c = run.counts
    m: dict[str, tuple[float, str]] = {}

    rec = _one(tr, "pipeline.records")
    m["pipeline.records_s"] = (rec.get("dur", 0.0), "s")
    m["pipeline.records_rows"] = (c.get("records_rows", 0), "rows")
    m["pipeline.spark_jobs"] = (rec.get("jobs", 0), "count")
    m["pipeline.pinned_rdds"] = (c.get("pinned_rdds", 0), "count")

    ov = _one(tr, "overlay.kernel")
    m["overlay.kernel_s"] = (ov.get("dur", 0.0), "s")
    m["overlay.cells"] = (c.get("overlay_cells", 0), "count")
    m["overlay.record_fanout"] = (_ratio(ov.get("shuffle_write_records", 0), c.get("records_rows", 0)), "ratio")
    m["overlay.python_s"] = (ov.get("python_s", 0.0), "s")
    m["overlay.task_max_over_median"] = (ov.get("task_max_over_median", 1.0), "ratio")
    m["overlay.layer_rows"] = (c.get("layer_rows", 0), "rows")

    ti = _one(tr, "tiling.rasterize")
    m["tiling.rasterize_s"] = (ti.get("dur", 0.0), "s")
    m["tiling.tiles"] = (c.get("tiles", 0), "count")
    m["tiling.mask_bytes"] = (c.get("mask_bytes", 0), "B")

    sub = _one(tr, "joins.subdivide")
    m["joins.subdivide_s"] = (sub.get("dur", 0.0), "s")
    m["joins.subdivide_slices"] = (c.get("subdivide_slices", 0), "count")
    ras = tr.by_name("joins.pip_raster")
    m["joins.pip_raster_s"] = (_med(ras, "dur"), "s")
    m["joins.pip_raster_groups"] = (c.get("pip_raster_groups", 0), "count")
    # mask slices after the salt explode (the plan's Generate node) per slice
    salted = _med([{"r": s["node_rows"].get("Generate", 0)} for s in ras], "r")
    m["joins.pip_raster_salt_replication"] = (_ratio(salted, c.get("subdivide_slices", 0)), "ratio")
    m["joins.pip_raster_shuffle_bytes"] = (_med(ras, "shuffle_write_bytes"), "B")
    m["joins.pip_raster_python_bytes"] = (_med(ras, "python_bytes"), "B")
    m["joins.pip_raster_task_max_over_median"] = (_med(ras, "task_max_over_median"), "ratio")

    expr = tr.by_name("geofence.pip_expr")
    m["geofence.mask_words_s"] = (_med(expr, "python_s"), "s")
    m["geofence.pip_expr_s"] = (_med(expr, "dur"), "s")
    m["geofence.plan_exchanges"] = (_med(expr, "exchanges"), "count")

    for q in CURATION_QUERIES:
        spans = tr.by_name(f"curation.{q}")
        m[f"curation.{q}_s"] = (_med(spans, "dur"), "s")
        m[f"curation.{q}_rows"] = (c.get(f"{q}_rows", 0), "rows")
        m[f"curation.{q}_shuffle_bytes"] = (_med(spans, "shuffle_write_bytes"), "B")
        m[f"curation.{q}_python_s"] = (_med(spans, "python_s"), "s")

    m["mem.peak_rss_mb"] = (rss.stop(), "MB")
    # tracing cost inside the timed run (span enter/exit plus the counting
    # queries only the traced run makes) over the run's untraced remainder
    cost = tr.inline_s + sum(s["dur"] for s in tr.by_name("trace.bookkeeping"))
    m["trace.overhead_frac"] = (_ratio(cost, _one(tr, "run").get("dur", 0.0) - cost), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
