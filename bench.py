"""Bench harness (driver contract + BASELINE.md protocol).

Default: runs the headline suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "images_per_sec": ..., "n_images": ...}

--pip-only : spatial-join throughput phase only (used by --scaling)
--scaling  : runs --pip-only at 2, 8 and 32 cores in separate processes
             (fresh JVMs) and writes BENCH/BASELINE.md with throughput at
             each level + N→4N scaling efficiencies (north rule proxy for
             two cluster sizes; 2→8 is the non-saturated pair on one box).

Per-row invariants (decoded-pixel PSNR + caption equality) are checked on a
sample before timing, per BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_IMAGES = int(os.environ.get("BENCH_IMAGES", "200000"))
# scaling runs need long-enough jobs to amortize per-job fixed costs (~2 s of
# stage scheduling + python-worker spin-up): at 32M images the 8-core job ran
# ~13 s and fixed costs capped 2→8 efficiency at ~0.74; at 96M it is 0.94
N_IMAGES_SCALING = int(os.environ.get("BENCH_IMAGES_SCALING", "96000000"))


def _sf_from_dir(d: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else 0.0


def _session(cores: int):
    from osm_public_space_mapper_spark.session import get_spark

    spark = get_spark(app=f"bench-{cores}", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    E._ensure_pyfiles(spark)
    return spark


def _build_layer(spark):
    import __spark_entry__ as E

    t0 = time.time()
    layer = E._polygon_layer(spark)
    return layer, time.time() - t0


def _images(spark, n: int):
    """Bench image table: distributed JVM synthesis for large n (no pixel
    payloads; geotag invariant + hotspot skew preserved)."""
    from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
    from osm_public_space_mapper_spark.operators import joins

    df = synth_images_spark(spark, n)
    df = joins.with_geotag(df)
    df = joins.project_points(df)
    return joins.with_cells(df).cache()


PIP_SALT = int(os.environ.get("BENCH_SALT", "8"))
# r05: the sandbox killed two ~25-min 2-core scaling runs mid-flight (JVM
# shutdown hook fired externally); BENCH_TRIALS=1 cuts the level to
# warm-up + 1 timed pass + hash (3 joins instead of 4) to stay under it
PIP_TRIALS = int(os.environ.get("BENCH_TRIALS", "2"))


def pip_phase(spark, tiles, images, n: int, trials: int = PIP_TRIALS) -> tuple[float, int]:
    """Timed J12: cell-bucketed raster PIP (tile-mask lookup), hotspot cells
    salted into PIP_SALT uniform sub-groups. One warm-up run (python-worker
    spawn, cache first touch), then best of `trials`."""
    from osm_public_space_mapper_spark.operators import joins

    assigned = joins.pip_join_raster(images, tiles, salt=PIP_SALT)
    total = assigned.count()  # warm-up, untimed
    best = float("inf")
    for _ in range(trials):
        t0 = time.time()
        joins.pip_join_raster(images, tiles, salt=PIP_SALT).count()
        best = min(best, time.time() - t0)
    return best, total


def _build_tiles(spark):
    import __spark_entry__ as E

    t0 = time.time()
    tiles = E._tiles(spark)
    return tiles, time.time() - t0


def run_pip_only(cores: int) -> dict:
    from pyspark.sql import functions as F
    from osm_public_space_mapper_spark.operators import joins

    spark = _session(cores)
    layer, t_layer = _build_layer(spark)
    tiles, t_tiles = _build_tiles(spark)
    images = _images(spark, N_IMAGES)
    images.count()  # materialize outside the timed window
    sec, n_assigned = pip_phase(spark, tiles, images, N_IMAGES)
    # determinism across parallelism levels (SURVEY §5.2 layer 7): one
    # order-insensitive hash of the full assignment set
    out_hash = (
        joins.pip_join_raster(images, tiles, salt=PIP_SALT)
        .agg(F.expr("bit_xor(xxhash64(image_id, space_category, access))").alias("h"))
        .collect()[0]["h"]
    )
    spark.stop()
    return {
        "cores": cores,
        "layer_build_sec": round(t_layer, 2),
        "tiles_build_sec": round(t_tiles, 2),
        "pip_sec": round(sec, 3),
        "n_images": N_IMAGES,
        "n_assigned": n_assigned,
        "images_per_sec": round(N_IMAGES / sec, 1),
        "output_hash": int(out_hash),
    }


def run_full() -> dict:
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from osm_public_space_mapper_spark.operators import joins, tiling
    from osm_public_space_mapper_spark.operators.imageops import verify_invariants

    spark = _session(CPUS)
    queries: dict[str, float] = {}

    # per-row invariants on a pixel-bearing sample (BASELINE.md protocol)
    inv = verify_invariants(
        E._images(spark, 300, with_pixels=True),
        source=E._images(spark, 300, with_pixels=True),  # independent regeneration
    ).collect()
    assert all(r.pixels_ok and r.caption_ok for r in inv), "image invariants violated"

    t0 = time.time()
    layer, t_layer = _build_layer(spark)
    queries["layer_build"] = round(t_layer, 3)

    t = time.time()
    tiles, t_tiles = _build_tiles(spark)
    queries["tiles"] = round(t_tiles, 3)

    images = _images(spark, N_IMAGES)
    images.count()

    t = time.time()
    assigned = joins.pip_join_raster(images, tiles)
    n_assigned = assigned.count()
    pip_sec = time.time() - t
    queries["pip_join"] = round(pip_sec, 3)

    # vector-refine variant on a 10k sample (complexity-sensitive path)
    sample = _images(spark, 10000)
    t = time.time()
    joins.pip_join(sample, layer).count()
    queries["pip_join_vector_10k"] = round(time.time() - t, 3)

    # pure-Catalyst expression lane (streaming geofence twin): mask bit test
    # in whole-stage codegen, subdivided masks pre-materialized as a static
    # side (the streaming deployment shape)
    from osm_public_space_mapper_spark.streaming.geofence import pip_join_expr

    sub13 = joins.subdivide_tiles(tiles, 13).cache()
    sub13.count()
    t = time.time()
    pip_join_expr(images, sub13).count()
    queries["pip_join_expr"] = round(time.time() - t, 3)
    sub13.unpersist(blocking=True)  # don't let async eviction bleed into the next row

    t = time.time()
    cents = joins.walkable_centroids(layer)
    joins.knn_join(images, cents, k=3, res=9, ring=2).count()
    queries["knn_join"] = round(time.time() - t, 3)

    # column-level vector buffer over the fixture element records (road +
    # pedestrian lines and building rings — the op's real workload shape);
    # guards st_buffer_udf against silent per-row regressions
    from osm_public_space_mapper_spark.fixtures.elements import elements_to_spark
    from osm_public_space_mapper_spark.functions.geometry import st_buffer_udf
    from osm_public_space_mapper_spark.plans.pipeline import build_overlay_records, classify_stage
    from osm_public_space_mapper_spark.session import release

    recs = build_overlay_records(classify_stage(elements_to_spark(spark)))
    # 25 large fixture geometries: spread one per task (the op is per-row
    # parallel; without this they cluster into a few scheduling waves)
    sub = recs.filter(F.col("role").isin("road", "pedestrian", "building")).repartition(CPUS)
    t = time.time()
    buf = st_buffer_udf(1.8, cap_style="flat", join_style="mitre")
    sub.select(
        F.size(buf(F.col("geom"), F.col("geom_kind"))).alias("n_rings")
    ).agg(F.sum("n_rings")).collect()
    queries["st_buffer"] = round(time.time() - t, 3)
    release(recs)

    # image-payload near-dup: decode → DCT pHash → banded hamming join over
    # 1k PNG/raw images + 100 guaranteed duplicates (r04 operator guard)
    from osm_public_space_mapper_spark.operators.imageops import image_phash_dups

    pix = E._images(spark, 1000, with_pixels=True).select("image_id", "bytes", "w", "h", "fmt")
    dups = pix.orderBy("image_id").limit(100).select(
        F.concat(F.lit("dup-"), F.col("image_id")).alias("image_id"), "bytes", "w", "h", "fmt"
    )
    corpus = pix.unionByName(dups).repartition(CPUS).cache()
    corpus.count()
    t = time.time()
    n_pairs = image_phash_dups(corpus, max_hamming=3).count()
    queries["image_phash_dups"] = round(time.time() - t, 3)

    # corpus normalization: decode 1.1k mixed png/raw payloads and re-encode
    # to baseline JPEG with the from-scratch T.81 codec (r05)
    from osm_public_space_mapper_spark.operators.imageops import transcode_images

    t = time.time()
    n_jpeg = (
        transcode_images(corpus, to_fmt="jpeg", quality=90)
        .filter(F.col("fmt") == "jpeg").count()
    )
    queries["transcode_jpeg"] = round(time.time() - t, 3)
    corpus.unpersist()
    assert n_pairs >= 100, f"expected ≥100 duplicate pairs, got {n_pairs}"
    assert n_jpeg == 1100, f"expected 1100 jpeg rows, got {n_jpeg}"

    qmap = E.queries()
    for name in (
        "q1_pricing_summary",
        "q5_region_nation_revenue",
        "top3_orders_per_segment",
        "events_sessionization",
        "events_grid_agg",
        "exact_dedup",
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "simhash",
        "simhash_hamming_pairs",
        "embedding_dups",
        "embedding_topk",
        "ann_lsh_topk",
        "doc_quality",
        "doc_repetition_stats",
        "dup_clusters",
        "pii_scrub",
        "dup_span_stats",
        "asof_join_events",
        "range_join_events",
        "pq_topk",
        "doc_surprisal",
    ):
        t = time.time()
        qmap[name](spark, SF_DIR).count()
        queries[name] = round(time.time() - t, 3)

    total = time.time() - t0
    spark.stop()
    return {
        "metric": "headline suite wall clock (spatial join + tiling + relational + dedup)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": _sf_from_dir(SF_DIR),
        "n_images": N_IMAGES,
        "n_assigned": n_assigned,
        "images_per_sec": round(N_IMAGES / pip_sec, 1),
        "cores": CPUS,
    }


def run_scaling() -> dict:
    """N vs 4N protocol at two pairs: (2, 8) — the clean proxy where the
    single box is not resource-saturated — and (8, 32) — full-machine, where
    all 32 cores share one memory subsystem and one shuffle disk."""
    results = {}
    for cores in (2, 8, 32):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), BENCH_IMAGES=str(N_IMAGES_SCALING))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--pip-only"],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"pip-only at {cores} cores produced no JSON:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
        results[cores] = json.loads(lines[-1])
    t = {c: results[c]["images_per_sec"] for c in results}
    eff_2_8 = (t[8] / t[2]) / 4.0
    eff_8_32 = (t[32] / t[8]) / 4.0
    hashes = {results[c].get("output_hash") for c in results}
    same_output = len(hashes) == 1
    report = {
        "throughput_2": t[2],
        "throughput_8": t[8],
        "throughput_32": t[32],
        "scaling_efficiency_2_to_8": round(eff_2_8, 3),
        "scaling_efficiency_8_to_32": round(eff_8_32, 3),
        "identical_output_across_parallelism": same_output,
        "n_images": N_IMAGES_SCALING,
        "detail": results,
    }
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "BASELINE.md")
    with open(md, "w") as f:
        f.write(
            "# BENCH/BASELINE — measured numbers\n\n"
            "Spatial-join + tile-assignment throughput (J12 raster PIP join of\n"
            "the synthetic image+caption table against the classified\n"
            "Vienna-shaped polygon layer, explicit salt=8 on dense cells), the\n"
            "same spark-submit-able job at three parallelism levels — the\n"
            "sandbox proxy for two cluster sizes (N and 4N executors) per the\n"
            "driver instruction.\n\n"
            f"| parallelism | images | PIP join sec | images/sec |\n|---|---|---|---|\n"
            f"| local[2]  | {N_IMAGES_SCALING} | {results[2]['pip_sec']} | {t[2]} |\n"
            f"| local[8]  | {N_IMAGES_SCALING} | {results[8]['pip_sec']} | {t[8]} |\n"
            f"| local[32] | {N_IMAGES_SCALING} | {results[32]['pip_sec']} | {t[32]} |\n\n"
            f"**Scaling efficiency N=2 → 4N=8: {eff_2_8:.3f}** (target ≥ 0.8)\n\n"
            f"Scaling efficiency N=8 → 4N=32: {eff_8_32:.3f} — all 32 threads\n"
            "share one socket's memory bandwidth and one local shuffle disk, so\n"
            "the single-box proxy saturates above ~8 cores (the 2→8 pair is the\n"
            "cleaner stand-in for independent executors; on a real multi-node\n"
            "cluster each 4N executor brings its own memory/disk).\n\n"
            f"Identical assignment output hash at all parallelism levels: "
            f"**{same_output}** (determinism check, SURVEY §5.2 layer 7).\n\n"
            f"Layer build (classify→overlay): {results[32]['layer_build_sec']} s "
            f"at local[32].\n\n"
            "Per-row invariants (decoded-pixel PSNR ≥ 40 dB / lossless exact,\n"
            "caption equality) are asserted on a sample before every full bench\n"
            "run (bench.py run_full).\n"
        )
    return report


if __name__ == "__main__":
    if "--pip-only" in sys.argv:
        print(json.dumps(run_pip_only(CPUS)))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_full()))
