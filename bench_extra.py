"""Extra measurement harness for optimization rounds (guide §1.4).

NOT part of the driver contract — bench.py is the frozen timed entry.
This file isolates single queries with the noop sink, captures
explain("formatted") plans, and times best-of-N so plan changes can be
attributed without sink/JIT noise.

Usage:
  python bench_extra.py q <query_name> [trials] [plan_out]
      time a declared query (queries()[name]) with the noop sink
  python bench_extra.py phase <phase_name> [trials] [plan_out]
      phase in {pip_join, pip_join_vector, pip_join_expr, knn_join,
                st_buffer, image_phash_dups, transcode_jpeg, layer_build,
                tiles}  — reproduces the bench.py phase shape
  python bench_extra.py all_q <q1,q2,...> [trials]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_IMAGES = int(os.environ.get("BENCH_IMAGES", "200000"))


def _session():
    from osm_public_space_mapper_spark.session import get_spark

    spark = get_spark(app="bench-extra", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    E._ensure_pyfiles(spark)
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time_df(spark, build, trials: int, plan_out: str | None, label: str):
    spark.sparkContext.setJobDescription(f"{label}: warmup")
    t0 = time.time()
    df = build()
    t_build = round(time.time() - t0, 3)
    if plan_out:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(plan_out, "w") as f:
            f.write(buf.getvalue())
    t0 = time.time()
    _noop(df)  # warmup (python worker spawn, code cache)
    t_first = round(time.time() - t0, 3)
    times = []
    for i in range(trials):
        spark.sparkContext.setJobDescription(f"{label}: trial {i}")
        t0 = time.time()
        _noop(build())
        times.append(round(time.time() - t0, 3))
    print(f"{label}: build={t_build} first={t_first} best={min(times)} times={times}")
    return min(times)


def _phase_builder(spark, name):
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from osm_public_space_mapper_spark.operators import joins

    if name == "layer_build":
        return lambda: E._polygon_layer(spark)
    if name == "tiles":
        from osm_public_space_mapper_spark.operators import tiling

        layer = E._polygon_layer(spark)
        return lambda: tiling.rasterize_tiles(layer, tile_res=10, px=0.25)
    if name in ("pip_join", "pip_join_expr", "knn_join"):
        from bench import _images

        images = _images(spark, N_IMAGES)
        images.count()
        if name == "pip_join":
            tiles = E._tiles(spark)
            return lambda: joins.pip_join_raster(images, tiles)
        if name == "pip_join_expr":
            from osm_public_space_mapper_spark.streaming.geofence import pip_join_expr

            sub13 = joins.subdivide_tiles(E._tiles(spark), 13).cache()
            sub13.count()
            return lambda: pip_join_expr(images, sub13)
        layer = E._polygon_layer(spark)
        cents = joins.walkable_centroids(layer)
        return lambda: joins.knn_join(images, cents, k=3, res=9, ring=2)
    if name == "pip_join_vector":
        from bench import _images

        layer = E._polygon_layer(spark)
        sample = _images(spark, 10000)
        return lambda: joins.pip_join(sample, layer)
    if name == "st_buffer":
        from osm_public_space_mapper_spark.fixtures.elements import elements_to_spark
        from osm_public_space_mapper_spark.functions.geometry import st_buffer_udf
        from osm_public_space_mapper_spark.plans.pipeline import build_overlay_records, classify_stage

        recs = build_overlay_records(classify_stage(elements_to_spark(spark)))
        sub = recs.filter(F.col("role").isin("road", "pedestrian", "building")).repartition(CPUS)

        def b():
            buf = st_buffer_udf(1.8, cap_style="flat", join_style="mitre")
            return sub.select(F.size(buf(F.col("geom"), F.col("geom_kind"))).alias("n_rings")).agg(F.sum("n_rings"))

        b._pinned = recs._pinned  # main releases the records after timing
        return b
    if name in ("image_phash_dups", "transcode_jpeg"):
        from osm_public_space_mapper_spark.operators.imageops import image_phash_dups, transcode_images

        pix = E._images(spark, 1000, with_pixels=True).select("image_id", "bytes", "w", "h", "fmt")
        dups = pix.orderBy("image_id").limit(100).select(
            F.concat(F.lit("dup-"), F.col("image_id")).alias("image_id"), "bytes", "w", "h", "fmt"
        )
        corpus = pix.unionByName(dups).repartition(CPUS).cache()
        corpus.count()
        if name == "image_phash_dups":
            return lambda: image_phash_dups(corpus, max_hamming=3)
        return lambda: transcode_images(corpus, to_fmt="jpeg", quality=90).filter(F.col("fmt") == "jpeg")
    raise SystemExit(f"unknown phase {name}")


def main():
    mode = sys.argv[1]
    spark = _session()
    import __spark_entry__ as E

    if mode == "q":
        name = sys.argv[2]
        trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        plan_out = sys.argv[4] if len(sys.argv) > 4 else None
        qf = E.queries()[name]
        _time_df(spark, lambda: qf(spark, SF_DIR), trials, plan_out, name)
    elif mode == "all_q":
        names = sys.argv[2].split(",")
        trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        qmap = E.queries()
        for name in names:
            _time_df(spark, lambda n=name: qmap[n](spark, SF_DIR), trials, None, name)
    elif mode == "phase":
        name = sys.argv[2]
        trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        plan_out = sys.argv[4] if len(sys.argv) > 4 else None
        from osm_public_space_mapper_spark.session import release

        build = _phase_builder(spark, name)
        _time_df(spark, build, trials, plan_out, name)
        release(build)
    spark.stop()


if __name__ == "__main__":
    main()
