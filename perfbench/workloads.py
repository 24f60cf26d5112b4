"""The benchmark workloads: staging, timed passes, traced pass, checks.

A workload object is created once per run. ``stage`` builds the seeded
inputs (cached per seed under the checkout's work dir), ``load``
attaches them to a fresh session, ``run_pass`` makes one call into the
program that ends with a complete output, and ``check`` verifies that
output against the expectation computed from the generated inputs.
Checks run after a pass's clock has stopped.
"""

from __future__ import annotations

import json
import os
import shutil

from osm_render_spark.plans.checkpoint import CheckpointStore, stage_key
from perfbench import inputs

# per-size knobs: "full" is what the benchmark measures, "tiny" is the
# smoke-test size
PBF_SIZES = {"full": dict(city_deg=0.08, density=60, bulk=15_000, block=8000),
             "tiny": dict(city_deg=0.03, density=8, bulk=300, block=200)}
CORPUS_SIZES = {"full": 600, "tiny": 60}


class Check:
    """Operations attempted and failed, with the reasons for failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str, weight: int = 1) -> None:
        self.attempted += weight
        if not ok:
            self.failed += weight
            self.problems.append(what)


# ---------------------------------------------------------------------------
# pbf_tiles
# ---------------------------------------------------------------------------


class PbfTiles:
    """One-city ``.osm.pbf`` extract → z14 PNG tile tree, through
    ``tools/render_pbf.render_cities``. Operations are tiles."""

    name = "pbf_tiles"

    def __init__(self, seed: int, size: str, cache: str, work: str, digests: dict):
        self.seed, self.knobs = seed, PBF_SIZES[size]
        k = self.knobs
        self.cache = os.path.join(
            cache, f"pbf_tiles-{k['city_deg']}x{k['density']}x{k['bulk']}x{k['block']}-{seed}"
        )
        self.out = os.path.join(work, "tiles")
        self.recorded = digests.get(size, {}).get(str(seed))
        self.reference: dict | None = None  # the tree digest of the first pass
        self.ratios: dict[str, float] = {}

    def stage(self) -> None:
        pbf = os.path.join(self.cache, "extract.osm.pbf")
        if os.path.exists(os.path.join(self.cache, "expected.json")):
            return
        k = self.knobs
        ex, city, expected = inputs.make_extract(self.seed, k["city_deg"], k["density"], k["bulk"])
        os.makedirs(self.cache, exist_ok=True)
        inputs.write_extract(pbf, ex, k["block"])
        doc = {
            "city": city,
            "n_ways": expected["n_ways"],
            "n_tiles": len(expected["tiles"]),
        }
        tmp = os.path.join(self.cache, "expected.json.tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, os.path.join(self.cache, "expected.json"))

    def load(self, spark) -> None:
        with open(os.path.join(self.cache, "expected.json")) as f:
            self.expected = json.load(f)
        self.pbf = os.path.join(self.cache, "extract.osm.pbf")
        self.city = self.expected["city"]

    def run_pass(self, spark, tracer):
        """One render of the city into the output tree. Every pass but
        the first re-renders over the complete tree the previous one
        left: the engine has no tile cache, so a rerun recomputes and
        rewrites every tile."""
        from tools.render_pbf import render_cities

        if not tracer.enabled:
            (summary,) = render_cities(spark, self.pbf, [self.city], self.out,
                                       zoom=inputs.ZOOM, tile_px=inputs.TILE_PX)
            return summary
        with tracer.span("tools.render_pbf.render_cities"):
            return self._traced_pass(spark, tracer)

    def _traced_pass(self, spark, tracer) -> dict:
        """render_cities' work, one layer call at a time, each layer's
        output materialized inside its span (mirrors _render_scene)."""
        from pyspark.sql import functions as F

        from osm_render_spark.functions.predicates import classify_kinds
        from osm_render_spark.operators.ways_in_rect import ways_in_rect
        from osm_render_spark.raster.ops import render_slippy_tiles
        from osm_render_spark.raster.sink import write_tile_tree
        from osm_render_spark.sources.pbf import read_pbf

        with tracer.span("sources.pbf.read_pbf") as s:
            nodes, ways, rels = read_pbf(spark, self.pbf)
            nodes, ways, rels = nodes.persist(), ways.persist(), rels.persist()
            nodes.count(), rels.count()
            n_ways_in = ways.count()
        self.ratios["sources.pbf.read_pbf.mb_per_s"] = os.path.getsize(self.pbf) / 1e6 / s.duration
        try:
            with tracer.span("operators.ways_in_rect"):
                matched = ways_in_rect(nodes, ways, rels, tuple(self.city["bbox"])).persist()
                n_ways = matched.count()
            with tracer.span("raster.ops.render_slippy_tiles"):
                scene_ways = matched.select(
                    "way_id", F.explode(classify_kinds(F.col("tags"))).alias("kind"), "geometry"
                )
                tiles = render_slippy_tiles(scene_ways, zoom=inputs.ZOOM, tile_px=inputs.TILE_PX).persist()
                tiles.count()
            with tracer.span("raster.sink.write_tile_tree"):
                n_tiles = write_tile_tree(tiles, os.path.join(self.out, self.city["name"]), inputs.ZOOM).count()
            tiles.unpersist()
            matched.unpersist()
        finally:
            nodes.unpersist(), ways.unpersist(), rels.unpersist()
        self.ratios["operators.ways_in_rect.match_frac"] = n_ways / max(n_ways_in, 1)
        return {"name": self.city["name"], "n_ways": n_ways, "n_tiles": n_tiles}

    def check(self, spark, summary, chk: Check) -> dict:
        """Way and tile counts and files on disk against the generator's
        expectation; the tree digest against the recorded one."""
        name, want = self.city["name"], self.expected
        digest, n_files = inputs.tree_digest(os.path.join(self.out, name))
        ref = (self.recorded or self.reference or {}).get(name, digest)
        ok = (summary.get("n_ways") == want["n_ways"] and summary.get("n_tiles") == want["n_tiles"]
              and n_files == want["n_tiles"] and digest == ref)
        chk.op(ok, f"{name}: ways {summary.get('n_ways')}/{want['n_ways']} tiles "
                   f"{summary.get('n_tiles')}/{want['n_tiles']} files {n_files} digest {digest} vs {ref}",
               weight=want["n_tiles"])
        if self.reference is None:
            self.reference = {name: digest}
        return {name: digest}

    def failed_pass(self, chk: Check, err: str) -> None:
        chk.op(False, err, weight=self.expected["n_tiles"])


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

# checkpoint stage -> the layer whose work the stage runs
STAGE_LAYER = {
    "decode_verify": "raster.ops.decode_features",
    "dedup": "operators.dedup.dedup_images",
    "curate": "operators.text.langid_sql",
    "split": "operators.sampling.split_tag",
    "pack": "operators.packing.pack_sequences",
}
PACK_BUDGET = 64


class TracedStore(CheckpointStore):
    """A CheckpointStore whose stage calls are spans named after the
    layer they run; the lineage re-read is a child span. ``counts``
    tallies stage attempts and checkpoint hits."""

    def __init__(self, root, tracer, counts):
        super().__init__(root)
        self.tracer, self.counts = tracer, counts

    def run_stage(self, spark, stage, params, compute, partition_col=None, input_token=""):
        hit = self._done(self._path(stage, stage_key(stage, params, input_token)))
        self.counts["attempts"] += 1
        self.counts["hits"] += hit
        name = "plans.checkpoint.hit" if hit else STAGE_LAYER[stage]
        with self.tracer.span(name):
            return super().run_stage(spark, stage, params, compute, partition_col, input_token)

    def _write_lineage(self, spark, stage, key, params, partition_col):
        with self.tracer.span(f"plans.checkpoint.lineage.{stage}"):
            return super()._write_lineage(spark, stage, key, params, partition_col)


class Curation:
    """Image+caption corpus → ``pipeline.training_data_pipeline`` into a
    fresh CheckpointStore (cold); ``resume`` reruns it on the last store,
    where every stage is a checkpoint hit. Operations are stages."""

    name = "curation"

    def __init__(self, seed: int, size: str, cache: str, work: str, digests: dict):
        self.seed, self.n = seed, CORPUS_SIZES[size]
        self.cache = os.path.join(cache, f"curation-{self.n}-{seed}")
        self.store_root = os.path.join(work, "stores")
        self.store = None
        self.n_pass = 0
        self.counts = {"attempts": 0, "hits": 0}
        self.ratios: dict[str, float] = {}
        self.cold_packed = None

    def stage(self) -> None:
        done = os.path.join(self.cache, "expected.json")
        if os.path.exists(done):
            return
        os.makedirs(self.cache, exist_ok=True)
        corpus = os.path.join(self.cache, "corpus.parquet")
        shutil.rmtree(corpus, ignore_errors=True)
        meta = inputs.write_corpus(corpus, self.n, self.seed, n_files=8, n_procs=len(os.sched_getaffinity(0)))
        doc = {
            "kept": sorted(inputs.expected_kept(meta)),
            "corrupt": sorted(meta.loc[meta["w"] != 48, "image_id"]),
        }
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, done)

    def load(self, spark) -> None:
        with open(os.path.join(self.cache, "expected.json")) as f:
            doc = json.load(f)
        self.kept, self.corrupt = set(doc["kept"]), set(doc["corrupt"])
        self.images = spark.read.schema(inputs.CORPUS_DDL).parquet(os.path.join(self.cache, "corpus.parquet"))

    def run_pass(self, spark, tracer, resume: bool = False):
        from osm_render_spark.pipeline import training_data_pipeline

        if not resume:
            if self.store is not None:
                shutil.rmtree(self.store.root, ignore_errors=True)
            self.n_pass += 1
            root = os.path.join(self.store_root, f"pass{self.n_pass}")
            self.store = TracedStore(root, tracer, self.counts) if tracer.enabled else CheckpointStore(root)
        with tracer.span("pipeline.training_data_pipeline" + (".resume" if resume else "")):
            out = training_data_pipeline(
                spark, self.images, self.store, params={"corpus": f"perfbench-{self.seed}", "n": self.n},
                pack_budget=PACK_BUDGET,
            )
            # the caller's next step reads the packed output: a stage
            # that is lazily read back is not complete until it is read
            out["packed"].write.format("noop").mode("overwrite").save()
        return out

    def snapshot(self) -> dict[str, float]:
        """mtimes of every file in the current store."""
        snap = {}
        for dirpath, _dirs, names in os.walk(self.store.root):
            for fn in names:
                p = os.path.join(dirpath, fn)
                snap[p] = os.path.getmtime(p)
        return snap

    def check(self, spark, out, chk: Check) -> None:
        """Per-stage checks of a cold pass against the expectation."""
        feats = out["features"].select("image_id", "dims_ok").toPandas()
        chk.op(len(feats) == self.n and set(feats.loc[~feats["dims_ok"], "image_id"]) == self.corrupt,
               f"decode_verify: {len(feats)} rows, dims-corrupt set differs")
        kept = {r[0] for r in out["kept_ids"].collect()}
        chk.op(kept == self.kept, f"dedup: {len(kept)} kept vs {len(self.kept)} expected")
        curated = {r[0] for r in out["curated"].select("image_id").collect()}
        chk.op(curated == self.kept, f"curate: {len(curated)} kept vs {len(self.kept)} expected")
        splits = out["splits"].select("image_id", "split").toPandas()
        chk.op(set(splits["image_id"]) == self.kept and set(splits["split"]) <= {"train", "val", "test"},
               "split: ids or tags differ")
        packed = sorted(map(tuple, out["packed"].collect()))
        rows = out["packed"].select("image_id", "bucket", "seq_idx", "pos_in_seq", "seq_fill").toPandas()
        seqs_ok = bool((rows["seq_fill"] <= PACK_BUDGET).all()) and all(
            sorted(g) == list(range(len(g))) for g in rows.groupby(["bucket", "seq_idx"])["pos_in_seq"]
            .apply(list)
        )
        # every cold pass must reproduce the first one's output
        same = self.cold_packed is None or packed == self.cold_packed
        chk.op(set(rows["image_id"]) == self.kept and len(rows) == len(self.kept) and seqs_ok and same,
               f"pack: {len(rows)} packed vs {len(self.kept)} expected, sequences ok {seqs_ok}, "
               f"same as first pass {same}")
        if self.cold_packed is None:
            self.cold_packed = packed
        self.ratios["operators.dedup.dedup_images.kept_frac"] = len(kept) / self.n

    def check_resume(self, spark, out, chk: Check, unchanged: bool, rows: bool) -> None:
        """A resume must leave the store untouched; with ``rows``, its
        packed output must also equal the cold passes'."""
        same = not rows or sorted(map(tuple, out["packed"].collect())) == self.cold_packed
        chk.op(unchanged and same, f"resume: store unchanged {unchanged}, packed equal {same}",
               weight=len(STAGE_LAYER))

    def failed_pass(self, chk: Check, err: str) -> None:
        chk.op(False, err, weight=len(STAGE_LAYER))


WORKLOADS = {w.name: w for w in (PbfTiles, Curation)}
