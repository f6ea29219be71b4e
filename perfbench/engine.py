"""One benchmark run of one workload, in a fresh JVM.

Started by run.py with the checkout root as working directory. It builds the
inputs from the seed, then walks the paper's pipeline through the public
package API only:

  layer build   elements → classify_stage → build_overlay_records →
                overlay_stage (run_pipeline's steps) → rasterize_tiles
                (cold, no cache)
  PIP lanes     pip_join_raster(salt=8) | subdivide_tiles + pip_join_expr,
                each timed on the built layer
  curation      a declared query of __spark_entry__.queries(), one cold
                pass, then timed warm passes

checks every output, and prints one JSON result line. The end-to-end metrics
are CPU seconds of this process tree; wall times go to the detail line. With
--trace 1 every call into a layer runs in its own span and the result holds
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import Tracer  # noqa: E402

# the slowest leaf of the curation queries ROADMAP lists as perf follow-ups:
# it runs operators/dedup (n-gram Jaccard) and functions/text (shingles,
# hashes). A run's time budget has no room for more (see README.md, Budget)
CURATION_QUERIES = ("ngram_jaccard_pairs",)

# workload → the phases it runs (see README.md for why each was chosen).
# `all` runs them in this order, the shorter one first
WORKLOADS = {
    "curation": ("curation",),
    "spatial": ("layer", "pip"),
}
# *_passes: (at least, at most) timed passes; passes beyond the least start
# only while the run's --seconds last
FULL = dict(
    px=0.5, overlay_res=8, tile_res=10, group_res=13, salt=8,
    n_images=12_000, check_sample_mod=20,
    n_docs=2_000, setup_reps=3, pip_passes=(1, 3), curation_passes=(2, 4),
)
SMOKE = dict(FULL, n_images=6_000, n_docs=200, setup_reps=1, check_sample_mod=17,
             pip_passes=(1, 1), curation_passes=(1, 1))


class Run:
    def __init__(self, args):
        self.args = args
        self.p = SMOKE if args.smoke else FULL
        self.phases = WORKLOADS[args.workload]
        self.seed = args.seed
        self.work = args.workdir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        # the per-phase headline numbers (layer_build_s, pip_*_img_per_s, ...)
        self.named: dict[str, dict] = {}
        self.detail: dict = {}
        self.counts: dict = {}

    # -- bookkeeping ---------------------------------------------------------
    def op(self, name: str, fn, *a, **kw):
        """Run one operation; a raised call counts as failed and re-raises."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.problems.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    def check(self, name: str, ok: bool, info="") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check {name} failed {info}")

    def name_metric(self, name: str, value: float, unit: str, samples: int = 1, **extra) -> None:
        self.named[name] = dict(value=value, unit=unit, samples=samples, **extra)

    # -- set-up --------------------------------------------------------------
    def session(self):
        from osm_public_space_mapper_spark.session import get_spark

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        spark = get_spark(app=f"perfbench-{self.args.workload}", cores=cores, shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as E

        E._ensure_pyfiles(spark)
        return spark

    def make_inputs(self, spark, rep: int) -> dict:
        from pyspark.sql import functions as F

        from osm_public_space_mapper_spark.fixtures.elements import elements_to_spark

        p = self.p
        base = os.path.join(self.work, f"inputs{rep}")
        inp = dict(base=base)
        if "layer" in self.phases:
            inp["elements"] = elements_to_spark(spark, inputs.elements(self.seed))
        if "pip" in self.phases:
            inp["images"] = inputs.images(spark, p["n_images"], self.seed).cache()
            # (row count, sum of image-id hashes), what every lane must keep
            inp["ids"] = tuple(inp["images"].agg(F.count(F.lit(1)), inputs.id_hash("image_id")).first())
            inp["n_images"] = inp["ids"][0]
        if "curation" in self.phases:
            inp["corpus_dir"] = os.path.join(base, "corpus")
            inputs.write_corpus(inp["corpus_dir"], p["n_docs"], self.seed)
        return inp

    # -- layer build -----------------------------------------------------------
    def overlay_cfg(self):
        from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326 as b
        from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
        from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring

        ring = projected_bbox_ring(b["left"], b["bottom"], b["right"], b["top"])
        env = (float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max()))
        return OverlayConfig(px=self.p["px"], margin=64.0, bbox=env, bbox_ring=ring), ring

    def layer_build(self, spark, tr, inp):
        """Cold build, materialized: run_pipeline's three steps
        (classify_stage → build_overlay_records, overlay_stage), each in its
        own span, then rasterize_tiles."""
        from osm_public_space_mapper_spark.operators import tiling
        from osm_public_space_mapper_spark.plans import pipeline

        p = self.p
        cfg, ring = self.overlay_cfg()
        jsc = spark.sparkContext._jsc.sc()
        pinned0 = jsc.getPersistentRDDs().size()
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with tr.span("layer_build"):
            with tr.span("pipeline.records"):
                records = self.op("build_overlay_records", lambda: pipeline.build_overlay_records(
                    pipeline.classify_stage(inp["elements"])))
            with tr.span("overlay.kernel"):
                layer = pipeline.overlay_stage(records, cfg, p["overlay_res"]).cache()
                n_layer = self.op("overlay_stage", layer.count)
            with tr.span("tiling.rasterize"):
                tiles = tiling.rasterize_tiles(layer, tile_res=p["tile_res"], px=p["px"]).cache()
                n_tiles = self.op("rasterize_tiles", tiles.count)
        build_s = time.perf_counter() - t0
        self.e2e["cold_pass_cpu_s"] = (tree_cpu_s() - c0, "s")
        self.name_metric("layer_build_s", build_s, "s")
        # the benchmark itself cached layer and tiles
        self.counts.update(layer_rows=n_layer, tiles=n_tiles,
                           pinned_rdds=jsc.getPersistentRDDs().size() - pinned0 - 2)
        if tr.enabled:
            with tr.span("trace.bookkeeping"):
                self.counts["records_rows"] = records.count()
                self.counts["overlay_cells"] = layer.select("overlay_cell").distinct().count()
                self.counts["mask_bytes"] = tiles.selectExpr("sum(length(mask))").first()[0]
        with tr.span("check.layer"):
            checks.check_layer(self, layer, tiles, ring)
        return layer, tiles

    # -- PIP lanes ---------------------------------------------------------------
    def timed_passes(self, tr, calls: dict, passes: tuple[int, int], key=lambda out: out) -> tuple[dict, dict, dict]:
        """Runs every call of `calls` (name → fn) once per pass, each timed in
        its own span, for at least passes[0] passes and then, up to
        passes[1], while the run's --seconds last. Every pass must give the
        same `key(output)`.
        Returns name → per-pass wall seconds, name → per-pass CPU seconds,
        and name → key of the first output."""
        times = {name: [] for name in calls}
        cpu = {name: [] for name in calls}
        outs = {}
        t_end = time.perf_counter() + self.args.seconds
        least, most = passes
        passes = 0
        while passes < least or (time.perf_counter() < t_end and passes < most):
            for name, fn in calls.items():
                with tr.span(name):
                    t, c = time.perf_counter(), tree_cpu_s()
                    out = self.op(name, fn)
                    times[name].append(time.perf_counter() - t)
                    cpu[name].append(tree_cpu_s() - c)
                out = key(out)
                if name in outs:
                    self.check(f"{name} repeatable", out == outs[name])
                else:
                    outs[name] = out
            passes += 1
        self.detail.update(passes=passes, pass_wall_s=times, pass_cpu_s=cpu)
        return times, cpu, outs

    def pip_lanes(self, spark, tr, inp, layer, tiles):
        from pyspark.sql import functions as F

        from osm_public_space_mapper_spark.operators import joins
        from osm_public_space_mapper_spark.streaming import geofence

        p = self.p
        imgs, n = inp["images"], inp["n_images"]
        in_sample = F.pmod(F.xxhash64("image_id"), F.lit(p["check_sample_mod"])) == 0
        sample = imgs.filter(in_sample)

        # order-insensitive digests in one aggregation: row count, sum of
        # image-id hashes (equal to the input's when every image occurs
        # once), sum of assignment hashes, and the same two for the hashed
        # sample the checks compare with the vector join
        def digest(df):
            assign = F.pmod(F.xxhash64("image_id", "space_category", "access"), F.lit(1 << 31))
            r = df.agg(F.count(F.lit(1)), inputs.id_hash("image_id"), F.sum(assign),
                       F.count(F.when(in_sample, 1)), F.sum(F.when(in_sample, assign))).first()
            return tuple(r)

        with tr.span("joins.subdivide"):
            sub = joins.subdivide_tiles(tiles, p["group_res"]).cache()
            self.counts["subdivide_slices"] = self.op("subdivide_tiles", sub.count)
        # one pass = both lanes on every image. A pass costs more than a
        # run's --seconds, so a run usually makes one: each lane's first call
        # on the built layer, with the Python workers warm
        lanes = {
            "joins.pip_raster": lambda: digest(joins.pip_join_raster(imgs, tiles, salt=p["salt"])),
            "geofence.pip_expr": lambda: digest(geofence.pip_join_expr(imgs, sub)),
        }
        times, cpu, out = self.timed_passes(tr, lanes, p["pip_passes"])
        for span_name, metric in (("joins.pip_raster", "pip_raster_img_per_s"),
                                  ("geofence.pip_expr", "pip_expr_img_per_s")):
            self.name_metric(metric, n / statistics.median(times[span_name]), "img/s", samples=len(times[span_name]))
        self.name_metric("pip_pass_s", sum(statistics.median(v) for v in times.values()), "s",
                         samples=self.detail["passes"])
        self.e2e["warm_pass_cpu_s"] = (sum(statistics.median(v) for v in cpu.values()), "s")

        if tr.enabled:
            from osm_public_space_mapper_spark.functions.geometry import cell_expr

            with tr.span("trace.bookkeeping"):
                self.counts["pip_raster_groups"] = imgs.select(
                    cell_expr(p["group_res"])(F.col("x"), F.col("y")),
                    F.pmod(F.xxhash64("image_id"), F.lit(p["salt"])),
                ).distinct().count()
        with tr.span("check.pip"):
            checks.check_pip(self, inp["ids"], layer, sample, out["joins.pip_raster"], out["geofence.pip_expr"])

    # -- curation queries --------------------------------------------------------
    def curation(self, spark, tr, inp):
        import __spark_entry__ as E

        qmap = E.queries()
        order = CURATION_QUERIES
        run_q = lambda name: qmap[name](spark, inp["corpus_dir"]).collect()  # noqa: E731
        results = {}
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with tr.span("curation.cold_pass"):
            for name in order:
                with tr.span(f"curation.cold.{name}"):
                    results[name] = self.op(name, run_q, name)
        self.e2e["cold_pass_cpu_s"] = (tree_cpu_s() - c0, "s")
        self.name_metric("curation_cold_s", time.perf_counter() - t0, "s")
        times, cpu, warm = self.timed_passes(
            tr, {f"curation.{name}": (lambda name=name: run_q(name)) for name in order},
            self.p["curation_passes"], key=checks.rows_digest)
        for name in order:
            self.check(f"{name} warm = cold", warm[f"curation.{name}"] == checks.rows_digest(results[name]))
        self.counts.update({f"{k}_rows": len(v) for k, v in results.items()})
        passes = self.detail["passes"]
        wall = [statistics.median(v) for v in times.values()]
        self.name_metric("curation_s", sum(wall), "s", samples=passes)
        self.e2e["warm_pass_cpu_s"] = (sum(statistics.median(v) for v in cpu.values()), "s")
        with tr.span("check.curation"):
            checks.check_curation(self, inp["corpus_dir"], results)

    # -- the run -----------------------------------------------------------------
    def main(self) -> dict:
        rss = RssSampler() if self.args.trace else None
        t0 = time.perf_counter()
        spark = self.session()
        session_s = time.perf_counter() - t0
        session_cpu_s = tree_cpu_s()
        run_id = hashlib.sha1(f"{self.args.workload}:{self.seed}:{time.time()}".encode()).hexdigest()[:10]
        tr = Tracer(spark, bool(self.args.trace), run_id)
        gens, gen_cpu = [], []
        inp = {}
        for rep in range(self.p["setup_reps"]):
            if "images" in inp:
                inp["images"].unpersist(blocking=True)
            with tr.span("setup.inputs"):
                t, c = time.perf_counter(), tree_cpu_s()
                inp = self.make_inputs(spark, rep)
                gens.append(time.perf_counter() - t)
                gen_cpu.append(tree_cpu_s() - c)
        # set-up cost in CPU seconds, like the other metrics: process and
        # session start once, input generation the median of setup_reps
        self.e2e["setup_s"] = (session_cpu_s + statistics.median(gen_cpu), "s")
        self.detail.update(session_start_s=session_s, input_gen_s=gens, input_gen_cpu_s=gen_cpu,
                           setup_wall_s=session_s + statistics.median(gens))
        self.counts.update(n_images=inp.get("n_images", 0))
        t_main = time.perf_counter()
        with tr.span("run"):
            if "layer" in self.phases:
                layer, tiles = self.layer_build(spark, tr, inp)
            if "pip" in self.phases:
                self.pip_lanes(spark, tr, inp, layer, tiles)
            if "curation" in self.phases:
                self.curation(spark, tr, inp)
        self.detail["run_s"] = time.perf_counter() - t_main
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in self.e2e.items()}
        if self.args.trace:
            import layers

            tr.finish()
            metrics = layers.per_layer(self, tr, rss)
            if self.args.trace_out:
                tr.dump(self.args.trace_out)
        spark.stop()
        return metrics


def process_tree() -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of this process and
    all its descendants: the Spark JVM, the PySpark daemon and its workers."""
    me = os.getpid()
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stats[int(pid)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    out = []
    for pid, fields in stats.items():
        p = pid
        while p and p != me:
            p = int(stats[p][1]) if p in stats else 0
        if p == me:
            out.append(fields)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, reaped children
    included (utime + stime + cutime + cstime)."""
    return sum(sum(int(v) for v in f[11:15]) for f in process_tree()) / _TICK


class RssSampler:
    """Peak resident memory of this process tree, sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)
        self._thread.start()

    @staticmethod
    def _tree_rss_mb() -> float:
        return sum(int(f[21]) for f in process_tree()) * _PAGE / 2**20

    def _loop(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak_mb, self._tree_rss_mb())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()
    run = Run(args)
    metrics = {}
    try:
        metrics = run.main()
    except Exception:
        run.problems.append(traceback.format_exc(limit=6))
        run.failed = max(run.failed, 1)
        run.attempted = max(run.attempted, 1)
    named = dict(run.named, ops_failed_frac=dict(
        value=run.failed / max(run.attempted, 1), unit="ratio", attempted=run.attempted))
    detail = dict(run.detail, named_metrics=named, problems=run.problems, counts=run.counts)
    print("DETAIL " + json.dumps(detail, default=str), flush=True)
    ok = run.failed == 0 and not run.problems
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
