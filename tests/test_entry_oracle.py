"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and compare row count + sorted-column value multiset
against oracle_sql() through DuckDB (SURVEY.md §5.2 layer 4)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(pdf):
    """Mirror the driver's canonicalizer: pandas sort_values over every
    column (which, like the driver, raises TypeError on list-typed cells —
    such a crash must reproduce locally, not be papered over by str())."""
    cols = sorted(pdf.columns.str.lower())
    pdf = pdf.copy()
    pdf.columns = pdf.columns.str.lower()
    pdf = pdf[cols]
    return pdf.sort_values(cols).reset_index(drop=True)


def _cell(v):
    """Type-tagged normalization (r06, VERDICT r05 #3): integer-typed and
    float-typed values must NOT coerce to one representation — the driver
    hashes `32` and `32.0` differently (the concat_chunk_offsets red row),
    so the local harness must too."""
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    try:
        import pandas as pd

        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, )) or type(v).__name__ == "bool_":
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v):.6g}"
    return f"s:{v}"


# name → reason for a reproduced driver failure whose fix would change the
# declared query output: it stays a strict xfail with the driver-matching
# semantics instead of being silently normalized away. None is open.
_KNOWN_DRIVER_DEFECTS: dict[str, str] = {}

_ORACLED = [
    pytest.param(
        n, marks=pytest.mark.xfail(reason=_KNOWN_DRIVER_DEFECTS[n], strict=True)
    )
    if n in _KNOWN_DRIVER_DEFECTS
    else n
    for n in sorted(entrymod.oracle_sql().keys())
]


@pytest.mark.parametrize("name", _ORACLED)
def test_query_matches_duckdb(spark, name):
    q = entrymod.queries()[name]
    sdf = _canon(q(spark, SF_DIR).toPandas())
    con = _duck()
    ddf = _canon(con.sql(entrymod.oracle_sql()[name]).fetchdf())

    assert list(sdf.columns) == list(ddf.columns), (
        f"{name}: columns {list(sdf.columns)} vs {list(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: {len(sdf)} vs {len(ddf)} rows"
    ms = ["|".join(_cell(v) for v in row) for row in sdf.itertuples(index=False)]
    md = ["|".join(_cell(v) for v in row) for row in ddf.itertuples(index=False)]
    mismatches = [(a, b) for a, b in zip(sorted(ms), sorted(md)) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_rows_only_queries_run(spark):
    for name, q in entrymod.queries().items():
        if name in _ORACLED or name in ("pip_assign_counts", "knn_walkable", "tile_masks"):
            continue  # oracled ones covered above; heavy spatial ones in test_image_joins
        df = q(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"space_category", "access", "n_images"}
    assert sum(r.n_images for r in rows) > 0
