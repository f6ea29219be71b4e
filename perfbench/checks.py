"""Output checks. Each check counts as one attempted operation; a failed
check counts as a failed one. Checks run outside the timed regions."""

from __future__ import annotations

import hashlib
import math

import numpy as np


def reference_pairs() -> set:
    """(space_category, access) pairs the pipeline can emit. Categories are
    the classifier's categories, the ones the overlay kernel derives, and any
    known space type: like the reference, `set_space_category` passes an
    uncategorised space type through as its category (dropping the rows
    that cover such an element exposes it). Access values include the
    kernel's "undefined" for buildings."""
    from osm_public_space_mapper_spark.functions import classify as C

    cats = set(C.SPACE_CATEGORIES) | {"traffic area", "undefined space", "public transport stop"}
    cats |= {t for types in C.SPACE_CATEGORIES.values() for t in types}
    cats |= set(C.SPACE_TYPES_WITH_ACCESS + C.SPACE_TYPES_RESTRICTED + C.SPACE_TYPES_NO_ACCESS)
    return {(c, a) for c in cats for a in ("yes", "no", "restricted", "unknown", "undefined")}


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))) / 2.0


def check_layer(run, layer, tiles, ring) -> None:
    rows = layer.select("space_category", "access", "area", "completeness_gap").collect()
    tile_area = tiles.selectExpr("sum(area)").first()[0] or 0.0
    area = sum(r["area"] for r in rows)
    bbox_area = _ring_area(np.asarray(ring))
    run.check("layer labels not null", all(r["space_category"] and r["access"] for r in rows))
    gap = max((abs(r["completeness_gap"]) for r in rows), default=1.0)
    run.check("layer completeness_gap", gap < 0.01, gap)
    rel = abs(area - bbox_area) / bbox_area
    run.check("layer area = bbox area", rel < 0.002, (area, bbox_area))
    pairs = {(r["space_category"], r["access"]) for r in rows}
    allowed = reference_pairs()
    run.check("layer inventory", bool(pairs) and pairs <= allowed, sorted(pairs - allowed))
    run.check("tile area = layer area", abs(tile_area - area) <= 1e-6 * max(area, 1.0), (tile_area, area))
    run.detail["layer_inventory"] = sorted(pairs)


def check_pip(run, ids, layer, sample, raster, expr) -> None:
    """raster = expr on the full set (digests); expr = vector pip_join on a
    hashed sample. `ids` is the input's (row count, sum of image-id hashes);
    a lane digest is (rows, id-hash sum, assignment-hash sum, sample rows,
    sample assignment-hash sum)."""
    from pyspark.sql import functions as F

    from inputs import id_hash
    from osm_public_space_mapper_spark.operators import joins

    run.check("raster assigns every image once", raster[:2] == ids, (raster, ids))
    run.check("raster = expr assignment digest", raster == expr, (raster, expr))
    vec = tuple(joins.pip_join(sample, layer).agg(
        F.count(F.lit(1)), id_hash("image_id", "space_category", "access")).first())
    run.check("expr = vector pip_join on sample", vec[0] > 0 and vec == expr[3:], (vec, expr))


def _cell(v) -> str:
    """Type-tagged value normalisation (integers and floats never compare
    equal; floats to 6 significant digits)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v):.6g}"
    return f"s:{v}"


def _canon(pdf) -> list[str]:
    """Order-insensitive rows of a pandas frame, columns sorted by name."""
    cols = sorted(pdf.columns, key=str.lower)
    return sorted("|".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))


def _frame(rows):
    import pandas as pd

    if not rows:
        return pd.DataFrame()
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=list(rows[0].asDict()))


def rows_digest(rows) -> str:
    return hashlib.sha1("\n".join(_canon(_frame(rows))).encode()).hexdigest()


def check_curation(run, corpus_dir: str, results: dict) -> None:
    import duckdb

    import __spark_entry__ as E

    oracle = E.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus_dir}/documents.parquet'")
    for name, rows in results.items():
        want_df = con.sql(oracle[name]).fetchdf()
        got_df = _frame(rows)
        want, got = _canon(want_df), _canon(got_df)
        cols_ok = not rows or sorted(c.lower() for c in got_df.columns) == sorted(c.lower() for c in want_df.columns)
        diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
        run.check(f"{name} = oracle", cols_ok and len(got) == len(want) and not diff,
                  (len(got), len(want), diff))
    con.close()
