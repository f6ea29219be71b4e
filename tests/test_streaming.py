"""Structured Streaming ingest → Icelite append (engine-side extra surface;
the reference itself is batch-only, SURVEY.md §2.7)."""

import os

from pyspark.sql import types as T

from osm_public_space_mapper_spark.fixtures.images import generate_images
from osm_public_space_mapper_spark.streaming.ingest import stream_to_icelite
from osm_public_space_mapper_spark.tables.icelite import IceliteTable

_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def test_stream_ingest_to_icelite(spark, tmp_path):
    # stage parquet files as the stream source (two "arrivals")
    src = tmp_path / "incoming"
    os.makedirs(src)
    pdf = generate_images(600, seed=13, with_pixels=False).drop(columns=["bytes"])
    spark.createDataFrame(pdf.iloc[:300], _SCHEMA).write.parquet(str(src / "a"))
    spark.createDataFrame(pdf.iloc[300:], _SCHEMA).write.parquet(str(src / "b"))

    stream = spark.readStream.schema(_SCHEMA).option("recursiveFileLookup", "true").parquet(str(src))
    q = stream_to_icelite(stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    table = IceliteTable(str(tmp_path / "tbl"))
    back = table.read(spark)
    assert back.count() == 600
    assert set(back.columns) >= {"image_id", "lon", "lat", "cell7"}
    # lineage recorded per cell7 partition, rows conserved
    lineage = table.lineage()
    assert sum(m["row_count"] for m in lineage) == 600
    assert all(m["stage"].startswith("stream-batch-") for m in lineage)
    # restart with same checkpoint: no new data → no new rows (exactly-once)
    stream2 = spark.readStream.schema(_SCHEMA).option("recursiveFileLookup", "true").parquet(str(src))
    q2 = stream_to_icelite(stream2, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert table.read(spark).count() == 600


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    """Watermark + tumbling window agg over the events table (availableNow):
    the finished stream equals the equivalent batch aggregation."""
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.streaming.windows import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)  # file stream sources need a directory
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    expected = {
        (r.ws, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in events.groupBy(
            F.window("ts", "10 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("ws"), "event_type", "n_events", "total_value")
        .collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match batch exactly, and almost all windows must have closed
    assert got
    for k, v in got.items():
        assert expected[k] == v, (k, v, expected[k])
    # only stream-tail windows inside the 30 min watermark may still be open:
    # ≤ 3 windows × event types (5) = 15, plus margin
    assert len(got) >= len(expected) - 25


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization (availableNow) equals the batch
    events_sessionization query — the custom-stateful-operator check."""
    import __spark_entry__ as E

    from osm_public_space_mapper_spark.streaming.windows import sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)  # file stream sources need a directory
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = sessionize_stream(stream)
    q = (
        out.writeStream.format("memory").queryName("sess_stream")
        .outputMode("update").option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    # update mode: take the LAST row per user (cumulative totals)
    rows = spark.sql("SELECT * FROM sess_stream").collect()
    got = {}
    for r in rows:
        got[r.user_id] = (r.n_sessions, r.n_events)
    batch = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in E.queries()["events_sessionization"](spark, "/root/testdata/sf0.01").collect()
    }
    assert got == batch


def test_stream_dedup_drops_duplicates(spark, tmp_path):
    """Watermarked streaming dedup: duplicate uploads (same content key)
    within the horizon collapse to one row; distinct rows all survive."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.streaming.dedup import (
        exact_stream_dedup,
        windowed_unique_counts,
    )

    n = 200
    pdf = generate_images(n, seed=21, with_pixels=False).drop(columns=["bytes"])
    # duplicate the first half (fresh image_ids, same content) and stamp
    # event times inside one watermark horizon
    dup = pdf.iloc[: n // 2].copy()
    dup["image_id"] = dup["image_id"] + "-dup"
    both = pd.concat([pdf, dup], ignore_index=True)
    both["ts"] = pd.to_datetime("2026-01-01 10:00:00") + pd.to_timedelta(
        (both.index % 300), unit="s"
    )
    # note: StructType.add mutates in place — build a fresh schema
    schema = T.StructType(
        [f for f in _SCHEMA.fields if f.name != "ts"]
        + [T.StructField("ts", T.TimestampType())]
    )
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(both, schema).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = exact_stream_dedup(stream, watermark="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM dedup_stream").collect()
    assert len(rows) == n  # n + n/2 in, duplicates collapsed
    keys = [r.content_key for r in rows]
    assert len(set(keys)) == n

    # duplicate-rate monitoring agg matches batch distinct counts per window
    stream2 = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    mon = windowed_unique_counts(stream2, window="5 minutes", watermark="30 minutes")
    q2 = (
        mon.writeStream.format("memory").queryName("dedup_mon")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckm"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(180)
    got = {r.window_start: r.n_rows for r in spark.sql("SELECT * FROM dedup_mon").collect()}
    batch = {
        r.ws: r.n
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    for k, v in got.items():
        assert batch[k] == v


def test_simhash_stream_tombstones_match_batch_pairs(spark, tmp_path):
    """Streaming hamming-tolerant near-dup detection (r04): an availableNow
    run over a doc fixture must tombstone exactly the docs that the BATCH
    simhash_hamming_pairs query pairs with an earlier doc — same
    fingerprints, same band keys, state-verified hamming (band-collision
    false positives must NOT be emitted)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.operators import dedup as DD
    from osm_public_space_mapper_spark.streaming.dedup import simhash_stream_tombstones

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    texts = {
        1: base,
        2: base,                                   # exact dup of 1
        3: base.replace("lazy", "sleepy"),         # near dup
        4: "completely different text about spark shuffles and partitions and skew",
        5: base,                                   # later dup again
        6: "another unrelated document mentioning raster tiles and cell indexes",
        7: base.replace("river", "canal").replace("today", "tomorrow"),
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "ts": pd.to_datetime("2026-01-01 10:00:00")
            + pd.to_timedelta([10 * i for i in texts], unit="s"),
        }
    )
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(pdf).write.parquet(src)
    docs = spark.read.parquet(src)

    # batch oracle: a doc is tombstoned iff it pairs with an EARLIER doc
    pairs = DD.simhash_hamming_pairs(docs.select("doc_id", "text")).collect()
    assert pairs, "fixture must contain near-dup pairs"
    expected = {max(r.doc_a, r.doc_b) for r in pairs}  # doc_id order == ts order

    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = simhash_stream_tombstones(stream, watermark="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("simhash_tomb")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM simhash_tomb").collect()
    got = {r.doc_id for r in rows}
    assert got == expected, (sorted(got), sorted(expected))
    # verified hamming on every tombstone (no unverified band collisions)
    batch_h = {tuple(sorted((r.doc_a, r.doc_b))): r.hamming for r in pairs}
    for r in rows:
        key = tuple(sorted((r.doc_id, r.dup_of)))
        assert key in batch_h and r.hamming == batch_h[key], r


def test_simhash_tombstone_state_cap_bounds_state(spark, tmp_path):
    """The hard per-bucket state cap: with max_bucket_state=2 on a corpus of
    identical docs, the operator still runs, tombstones every doc after the
    first (the twin it verifies against is always in state — newest entries
    are kept), and never errors from unbounded state growth."""
    import pandas as pd

    from osm_public_space_mapper_spark.streaming.dedup import simhash_stream_tombstones

    base = "same text repeated for every single document in this stream today"
    n = 30
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [base] * n,
            "ts": pd.to_datetime("2026-01-01 10:00:00")
            + pd.to_timedelta([10 * i for i in range(n)], unit="s"),
        }
    )
    src = str(tmp_path / "capped_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = simhash_stream_tombstones(stream, watermark="30 minutes", max_bucket_state=2)
    q = (
        out.writeStream.format("memory").queryName("capped_tomb")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckc"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.sql("SELECT * FROM capped_tomb").collect()}
    assert got == set(range(1, n))  # every doc after the first is tombstoned


def test_phash_stream_tombstones_match_batch_pairs(spark, tmp_path):
    """Image front of the streaming near-dup operator: an availableNow run
    over an image fixture (with exact re-uploads and perturbed copies) must
    tombstone exactly the images the BATCH image_phash_dups pairs with an
    earlier upload — decode → DCT pHash in-stream, hamming verified in
    state."""
    import numpy as np
    import pandas as pd

    from osm_public_space_mapper_spark.images.codec import encode_png, synth_pixels
    from osm_public_space_mapper_spark.operators.imageops import image_phash_dups
    from osm_public_space_mapper_spark.streaming.dedup import phash_stream_tombstones

    rng = np.random.RandomState(11)
    rows = []
    for i in range(25):
        px = synth_pixels(3000 + i, 40, 32)
        rows.append((f"im{i:03d}", encode_png(px), 40, 32, "png"))
    for i in range(5):  # exact re-uploads, later event times
        px = synth_pixels(3000 + i, 40, 32)
        rows.append((f"re{i:03d}", encode_png(px), 40, 32, "png"))
    for i in range(5, 8):  # perturbed re-uploads
        px = synth_pixels(3000 + i, 40, 32).astype(np.int16)
        px = np.clip(px + rng.randint(-2, 3, size=px.shape), 0, 255).astype(np.uint8)
        rows.append((f"pt{i:03d}", encode_png(px), 40, 32, "png"))
    pdf = pd.DataFrame(
        {
            "image_id": [r[0] for r in rows],
            "bytes": [r[1] for r in rows],
            "w": [r[2] for r in rows],
            "h": [r[3] for r in rows],
            "fmt": [r[4] for r in rows],
            # id order == event-time order: "im..." < "pt..." < "re..." is NOT
            # lexicographic for pt/re, so derive ts from the row index
            "ts": pd.to_datetime("2026-01-01 09:00:00")
            + pd.to_timedelta([7 * i for i in range(len(rows))], unit="s"),
        }
    )
    src = str(tmp_path / "img_src")
    spark.createDataFrame(pdf).write.parquet(src)
    batch = spark.read.parquet(src)

    # batch oracle: tombstoned = later-uploaded end of every phash pair
    order = {r[0]: i for i, r in enumerate(rows)}
    pairs = image_phash_dups(batch.select("image_id", "bytes", "w", "h", "fmt")).collect()
    assert pairs, "fixture must contain near-dup pairs"
    expected = {max(r.img_a, r.img_b, key=lambda x: order[x]) for r in pairs}

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = phash_stream_tombstones(stream, watermark="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("phash_tomb")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r.image_id for r in spark.sql("SELECT * FROM phash_tomb").collect()}
    assert got == expected, (sorted(got), sorted(expected))


def test_duration_parser_accepts_spark_forms():
    """_duration_to_seconds must accept the interval strings Spark itself
    accepts for watermarks (short units, compound values, 'interval'
    prefix) and fail fast with a clear message otherwise."""
    import pytest

    from osm_public_space_mapper_spark.streaming.dedup import _duration_to_seconds

    assert _duration_to_seconds("10 minutes") == 600
    assert _duration_to_seconds("1 min") == 60
    assert _duration_to_seconds("10 mins") == 600
    assert _duration_to_seconds("30 secs") == 30
    assert _duration_to_seconds("2 hrs") == 7200
    assert _duration_to_seconds("1 hour 30 minutes") == 5400
    assert _duration_to_seconds("interval 1 day") == 86400
    assert _duration_to_seconds("1.5 hours") == 5400
    with pytest.raises(ValueError, match="unit"):
        _duration_to_seconds("10 fortnights")
    with pytest.raises(ValueError):
        _duration_to_seconds("soon")


def test_exact_stream_dedup_fallback_windowed(spark, tmp_path, monkeypatch):
    """The Spark<3.5 fallback path: with dropDuplicatesWithinWatermark
    removed, exact_stream_dedup must dedup on (content_key, tumbling
    event-time window) — duplicates inside one window collapse, and the
    dedup key carries the event-time window so state is watermark-evictable
    (the ADVICE r04 medium: content_key alone grows state forever)."""
    import warnings

    import pandas as pd
    from pyspark.sql import DataFrame

    from osm_public_space_mapper_spark.streaming.dedup import exact_stream_dedup

    n = 60
    pdf = generate_images(n, seed=31, with_pixels=False).drop(columns=["bytes"])
    dup = pdf.iloc[: n // 2].copy()
    dup["image_id"] = dup["image_id"] + "-dup"
    both = pd.concat([pdf, dup], ignore_index=True)
    # all event times inside ONE 30-minute tumbling window
    both["ts"] = pd.to_datetime("2026-01-01 10:00:00") + pd.to_timedelta(
        (both.index % 240), unit="s"
    )
    # note: StructType.add mutates in place — build a fresh schema
    schema = T.StructType(
        [f for f in _SCHEMA.fields if f.name != "ts"]
        + [T.StructField("ts", T.TimestampType())]
    )
    src = str(tmp_path / "fb_src")
    spark.createDataFrame(both, schema).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    # remove the method from EVERY class in the MRO that defines it (Spark 4
    # splits the abstract pyspark.sql.DataFrame, whose stub dispatches to the
    # classic impl, from the classic subclass — leaving either one makes
    # hasattr still True)
    for c in type(stream).__mro__:
        if "dropDuplicatesWithinWatermark" in c.__dict__:
            monkeypatch.delattr(c, "dropDuplicatesWithinWatermark")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = exact_stream_dedup(stream, watermark="30 minutes")
    assert any("within-window" in str(w.message) for w in caught)
    assert "dedup_win" not in out.columns  # helper column dropped
    q = (
        out.writeStream.format("memory").queryName("fb_dedup")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckf"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM fb_dedup").collect()
    assert len(rows) == n
    assert len({r.content_key for r in rows}) == n


def test_stream_survivors_matches_dedup_survivors_contract(spark):
    """stream_survivors encapsulates the documented consumer recipe
    (dedup tombstones per id, anti-join the ingest): fed the exact-dedup
    keeps and the minhash near-dup tombstones — WITH the multi-band
    duplicate tombstone rows a streaming run emits — it must reproduce the
    composed batch dedup_survivors query row-for-row."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.operators import dedup as DD
    from osm_public_space_mapper_spark.streaming.dedup import stream_survivors

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    keeps = DD.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    tomb = DD.minhash_lsh_pairs(docs, 3, 0.5).select(F.col("doc_b").alias("doc_id"))
    # simulate multi-band duplicate emissions: the helper must be immune
    tomb = tomb.unionAll(tomb)
    got = sorted(r.doc_id for r in stream_survivors(keeps, tomb, "doc_id").collect())
    expected = sorted(
        r.doc_id for r in E.queries()["dedup_survivors"](spark, sf).collect()
    )
    assert got == expected and expected


def _geofence_points(spark, n=900, seed=23):
    from osm_public_space_mapper_spark.fixtures.images import generate_images, images_to_spark
    from osm_public_space_mapper_spark.operators import joins

    pdf = generate_images(n, seed=seed, with_pixels=False)
    df = images_to_spark(spark, pdf)
    df = joins.with_geotag(df)
    df = joins.project_points(df)
    from osm_public_space_mapper_spark.functions.geometry import cell_expr
    from pyspark.sql import functions as F

    return df.withColumn("tile_cell", cell_expr(13)(F.col("x"), F.col("y"))).select(
        "image_id", "x", "y", "tile_cell"
    )


def test_geofence_expr_matches_raster_batch(spark, fixture_layer, tmp_path):
    """pip_join_expr (the broadcast mask join) must reproduce the
    shuffle-hash pip_join_raster lane's assignments exactly — same lattice,
    same MSB-first packbits indexing — and, fed pre-projected points and
    subdivided masks from storage, its plan must contain no Python node at
    all (the mask words are a Catalyst projection too)."""
    from osm_public_space_mapper_spark.operators import joins, tiling
    from osm_public_space_mapper_spark.streaming.geofence import pip_join_expr

    _geofence_points(spark).write.parquet(str(tmp_path / "pts"))
    pts = spark.read.parquet(str(tmp_path / "pts"))
    tiles = tiling.rasterize_tiles(fixture_layer, tile_res=10, px=0.25)
    joins.subdivide_tiles(tiles, 13).write.parquet(str(tmp_path / "sub"))
    sub = spark.read.parquet(str(tmp_path / "sub"))
    raster = {
        (r.image_id, r.space_category, r.access, r.tile_cell)
        for r in joins.pip_join_raster(pts, tiles).collect()
    }
    expr_df = pip_join_expr(pts, sub)
    got = {
        (r.image_id, r.space_category, r.access, r.tile_cell)
        for r in expr_df.collect()
    }
    assert got == raster and raster
    plan = expr_df._jdf.queryExecution().executedPlan().toString()
    python_nodes = ("EvalPython", "MapInPandas", "MapInArrow", "FlatMapCoGroupsIn")
    assert not [n for n in python_nodes if n in plan], plan[:2000]


def test_mask_words_match_numpy_big_endian(spark):
    """with_mask_words (one Catalyst projection) equals the numpy reference:
    the packed bytes right-padded to whole 8-byte words and read as
    big-endian u64, reinterpreted as int64. Covers partial and whole words,
    an MSB-set word (negative long), all-ones, and a zero-length mask, which
    must give [] rather than the [0, -1] that sequence(0, -1) returns."""
    import numpy as np

    from osm_public_space_mapper_spark.streaming.geofence import with_mask_words

    rng = np.random.default_rng(5)
    masks = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in (1, 7, 8, 9, 17)]
    masks += [b"\x80" + bytes(7), b"\xff" * 16, b""]

    def numpy_words(m):
        b = np.frombuffer(m + bytes(-len(m) % 8), dtype=np.uint8)
        return b.view(">u8").astype("u8").view("i8").tolist()

    df = spark.createDataFrame(list(enumerate(masks)), "i int, mask binary")
    got = {r.i: r.mask_words for r in with_mask_words(df).collect()}
    for i, m in enumerate(masks):
        assert got[i] == numpy_words(m), (len(m), got[i])
    assert got[5] == [-(1 << 63)] and got[6] == [-1, -1] and got[7] == []


def test_geofence_stream_matches_batch(spark, fixture_layer, tmp_path):
    """The SAME expression plan under Structured Streaming (stream-static
    join, availableNow) emits the identical assignment set."""
    from pyspark.sql import types as T

    from osm_public_space_mapper_spark.operators import joins, tiling
    from osm_public_space_mapper_spark.streaming.geofence import geofence_stream, pip_join_expr

    pts = _geofence_points(spark, n=700, seed=29)
    src = tmp_path / "pts"
    pts.limit(350).write.parquet(str(src / "a"))
    pts.exceptAll(pts.limit(350)).write.parquet(str(src / "b"))
    tiles = tiling.rasterize_tiles(fixture_layer, tile_res=10, px=0.25)
    sub_path = str(tmp_path / "tiles_sub")
    joins.subdivide_tiles(tiles, 13).write.parquet(sub_path)
    sub = spark.read.parquet(sub_path)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("tile_cell", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = geofence_stream(stream, sub, passthrough=())
    q = (
        out.writeStream.format("memory")
        .queryName("geofence")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.image_id, r.space_category, r.access, r.tile_cell)
        for r in spark.sql("SELECT * FROM geofence").collect()
    }
    expected = {
        (r.image_id, r.space_category, r.access, r.tile_cell)
        for r in pip_join_expr(spark.read.parquet(str(src / "a"), str(src / "b")), sub).collect()
    }
    assert got == expected and expected


def test_pii_scrub_streams_unchanged(spark, tmp_path):
    """pii_scrub is a stateless whole-stage-codegen projection, so the SAME
    operator runs under Structured Streaming with no state store and no
    watermark — an availableNow replay must equal the batch output exactly
    (the deployment shape for scrub-on-ingest)."""
    import pandas as pd

    from osm_public_space_mapper_spark.functions.pii import pii_scrub

    rows = [
        (1, "mail me at a@b.io or 10.1.2.3"),
        (2, "call 415-555-1234; ssn 123-45-6789"),
        (3, "clean row"),
        (4, ""),
    ]
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    os.makedirs(src)
    spark.createDataFrame(rows[:2], schema).write.parquet(str(src / "a"))
    spark.createDataFrame(rows[2:], schema).write.parquet(str(src / "b"))

    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = pii_scrub(stream)
    q = (
        out.writeStream.format("memory").queryName("pii_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM pii_stream").collect())
    want = sorted(
        tuple(r) for r in pii_scrub(spark.createDataFrame(rows, schema)).collect()
    )
    assert got == want and len(got) == 4


def test_trending_topk_stream_matches_batch(spark, tmp_path):
    """Streaming trending top-k: availableNow windowed key counts + batch
    rank equals the pure-batch twin on the closed windows."""
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.streaming.windows import (
        topk_per_window,
        windowed_key_counts,
    )

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src = str(tmp_path / "events_src_topk")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        windowed_key_counts(stream, window="10 minutes", watermark="30 minutes")
        .writeStream.format("memory").queryName("trend_counts")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ck_topk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    stream_counts = spark.sql("SELECT * FROM trend_counts")
    got = {
        (r.window_start, r.rank): (r.key, r.cnt)
        for r in topk_per_window(stream_counts, k=3).collect()
    }
    batch = topk_per_window(windowed_key_counts(events), k=3)
    expected = {(r.window_start, r.rank): (r.key, r.cnt) for r in batch.collect()}
    assert got
    closed_windows = {w for w, _ in got}
    # every closed window's top-k must match the batch twin exactly
    for (w, rank), v in expected.items():
        if w in closed_windows:
            assert got[(w, rank)] == v, (w, rank, v, got.get((w, rank)))
    # almost all windows closed under availableNow (tail may stay open)
    all_windows = {w for w, _ in expected}
    assert len(closed_windows) >= len(all_windows) - 4
