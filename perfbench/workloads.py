"""The benchmark's workloads: inputs made from a seed, the warm-up, the
timed pass and the traced pass of each.

A pass calls the engine's public layer functions, from outside the engine,
on DataFrames the benchmark generated; every result is collected to the
driver (the complete result) and checked afterwards against DuckDB.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.functions import cells as C
from geotrellis_contrib_spark.functions import geometry as G
from geotrellis_contrib_spark.operators import knn, skew, tiling
from geotrellis_contrib_spark.operators import spatial_join as sj
from geotrellis_contrib_spark.plans import checkpoint

from checks import same

# corpus_pip_tile
DOCS = 600_000
DOC_PARTS = 16
DOC_SLACK = 16_384          # the seed moves the id window inside this range
WARM_PASSES = 2             # the JIT takes about two passes to settle
ZOOMS = [8, 10, 12, 14]
SCALE_DOCS = 300_000        # input of the local[1] / local[N] pair
# skew_knn_fixpoint
HOT_POINTS = 1_000_000
HOT_PARTS = 16
KNN_POINTS = 20_000
KNN_K, KNN_ZOOM, KNN_MAX_RING = 3, 8, 64
# (layer, registry query): the first two run in every pass; the last two,
# the slowest, only in the traced pass, to keep a run inside its time budget
FIXPOINT = (("focal", "watershed_dist"), ("costdistance", "cost_distance"))
FIXPOINT_TRACED = (("cluster", "strahler_dist"), ("viewshed", "viewshed_dist"))


@dataclass(frozen=True)
class Inputs:
    """Everything the seed decides."""
    doc_off: int      # first doc id of the corpus window
    hot_off: int      # first id of the planted points
    hot_cx: float     # south-west corner of the planted 0.4-degree cluster
    hot_cy: float
    knn_off: int      # first doc id of the kNN point table

    @classmethod
    def from_seed(cls, seed: int) -> "Inputs":
        r = random.Random(seed)
        # multiples of 10 and 50 keep the id % 10 / id % 50 classes of
        # the closed-form generators in place; the planted centre moves by
        # whole 1/64 degrees (exact in binary, so both engines see the same
        # doubles) and stays inside one zoom-6 cell
        return cls(doc_off=r.randrange(DOC_SLACK),
                   hot_off=10 * r.randrange(1 << 20),
                   hot_cx=-74.25 + r.randrange(8) / 64,
                   hot_cy=40.5 - r.randrange(8) / 64,
                   knn_off=50 * r.randrange(1 << 16))


def write_base_tables(sf_dir: str, inp: Inputs) -> None:
    """The ten parquet tables ``derive.register_views`` loads. ``documents``
    holds the kNN points and ``nation`` / ``region`` the polygons; the
    other tables hold one row, so that every derived view resolves."""
    os.makedirs(sf_dir)
    n = KNN_POINTS
    tables = {
        "documents": {"doc_id": np.arange(inp.knn_off, inp.knn_off + n),
                      "text": ["doc"] * n, "lang": ["en"] * n},
        "nation": {"n_nationkey": np.arange(25)},
        "region": {"r_regionkey": np.arange(5)},
        "supplier": {"s_suppkey": [1]},
        "part": {"p_partkey": [1], "p_size": [1]},
        "lineitem": {"l_orderkey": [1], "l_partkey": [1], "l_suppkey": [1],
                     "l_linenumber": [1], "l_quantity": [1.0]},
        "customer": {"c_custkey": [1]},
        "orders": {"o_orderkey": [1], "o_custkey": [1]},
        "events": {"event_id": [1], "user_id": [1]},
        "embeddings": {"doc_id": [1]},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


@dataclass
class Tally:
    """Operations attempted and failed (raised, or returned a wrong result)."""
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def check(self, what: str, diff: str | None) -> None:
        self.attempted += 1
        if diff is not None:
            self.failed += 1
            self.notes.append(f"{what}: {diff}")


class Tracer:
    """Spans around layer calls. When tracing, each call also runs under
    the job group ``<workload>:<layer>:<call>``; work outside any span
    runs under ``aux:<workload>``."""

    def __init__(self, spark, workload: str, on: bool):
        self.spark, self.workload, self.on = spark, workload, on
        self.spans: list[tuple[str, str, float, float]] = []

    def _group(self, gid: str, desc: str) -> None:
        if self.on:
            self.spark.sparkContext.setJobGroup(gid, desc)

    @contextmanager
    def span(self, layer: str, call: str):
        self._group(f"{self.workload}:{layer}:{call}", f"{layer}.{call}")
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, call, t0 * 1000.0, time.time() * 1000.0))
            self._group(f"aux:{self.workload}", "benchmark bookkeeping")

    def log(self) -> None:
        for layer, call, a, b in self.spans:
            print(f"perfbench: {layer}.{call} {(b - a) / 1000.0:.3f} s", file=sys.stderr)

    def layer_s(self, layer: str) -> float:
        return sum(b - a for lay, _, a, b in self.spans if lay == layer) / 1000.0


@dataclass
class Ctx:
    """One run: the live session, its inputs, and the expected results."""
    spark: object
    sf_dir: str
    work: str
    inp: Inputs
    tally: Tally
    oracle: object = None
    want: dict = field(default_factory=dict)

    def expect(self, key: str, compute):
        """The oracle's result for ``key``, computed once per run."""
        if key not in self.want:
            self.want[key] = compute()
        return self.want[key]


def timed_passes(seconds: float, one_pass) -> dict:
    """Closed loop: whole passes, each started when the previous one has
    returned its complete result, until ``seconds`` have passed (at least
    one pass)."""
    times, outs = [], []
    end = time.perf_counter() + seconds
    while not times or time.perf_counter() < end:
        t0 = time.perf_counter()
        outs.append(one_pass())
        times.append(time.perf_counter() - t0)
        print(f"perfbench: pass {len(times)} {times[-1]:.3f} s", file=sys.stderr)
    return {"times": times, "outs": outs}


# --- corpus_pip_tile ----------------------------------------------------------

def _doc_key(i: int) -> str:
    return f"doc-{i:012d}"


def corpus_docs(spark, n: int, off: int):
    """Docs [off, off + n) of the synthetic corpus. The generator always
    makes n + DOC_SLACK docs, so the work does not depend on the seed."""
    docs = corpus.synth_docs(spark, n + DOC_SLACK, partitions=DOC_PARTS)
    return docs.where((F.col("doc_id") >= _doc_key(off))
                      & (F.col("doc_id") < _doc_key(off + n)))


def tile_rows(spark, anchors):
    hits = sj.pip_join_boxes(anchors, spark.table("polygon_boxes"), zoom=6)
    return tiling.assign_tiles(hits, ZOOMS)


def tile_counts(tiles):
    return tiles.groupBy("poly_id", "zoom", "col", "row") \
        .agg(F.count("*").alias("n_docs"))


def corpus_counts(spark, n: int, off: int):
    """The whole read path, lazily: docs -> anchors -> PIP join -> tiles ->
    per-(poly, tile) doc counts."""
    return tile_counts(tile_rows(spark, corpus.extract_anchors(corpus_docs(spark, n, off))))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(base, f))
               for base, _, files in os.walk(path)
               for f in files if not f.startswith(("_", ".")))


class CorpusPipTile:
    name = "corpus_pip_tile"

    @staticmethod
    def _want(ctx: Ctx):
        return ctx.expect("corpus", lambda: ctx.oracle.corpus_counts(
            ctx.inp.doc_off, DOCS, ZOOMS))

    def warm(self, ctx: Ctx) -> None:
        for _ in range(WARM_PASSES):
            corpus_counts(ctx.spark, DOCS, ctx.inp.doc_off).toPandas()

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        m = timed_passes(seconds, lambda: corpus_counts(
            ctx.spark, DOCS, ctx.inp.doc_off).toPandas())
        m["docs"] = DOCS
        return m

    def check(self, ctx: Ctx, measured: dict) -> None:
        for i, got in enumerate(measured["outs"]):
            ctx.tally.check(f"{self.name} pass {i}", same(got, self._want(ctx)))

    def scaling_pass(self, spark, off: int) -> float:
        t0 = time.perf_counter()
        corpus_counts(spark, SCALE_DOCS, off).toPandas()
        return time.perf_counter() - t0

    def traced(self, ctx: Ctx, tr: Tracer) -> dict:
        """The pass with each layer's output materialized at its boundary
        (``localCheckpoint``), then the pass written through the checkpoint
        layer: killed after two batches, resumed, and read back."""
        spark, off = ctx.spark, ctx.inp.doc_off
        boxes = spark.table("polygon_boxes")
        t_pass = time.perf_counter()
        with tr.span("corpus", "extract_anchors"):
            anchors = corpus.extract_anchors(corpus_docs(spark, DOCS, off)) \
                .localCheckpoint(eager=True)
        with tr.span("spatial_join", "pip_join_boxes"):
            hits = sj.pip_join_boxes(anchors, boxes, zoom=6) \
                .localCheckpoint(eager=True)
        with tr.span("tiling", "assign_tiles"):
            tiles = tiling.assign_tiles(hits, ZOOMS).localCheckpoint(eager=True)
        with tr.span("sink", "tile_counts"):
            got = tile_counts(tiles).toPandas()
        pass_s = time.perf_counter() - t_pass
        ctx.tally.check(f"{self.name} traced pass", same(got, self._want(ctx)))

        # coarse-join candidates: the cell equi-join pip_join_boxes refines
        cov = sj.with_cover_cells(boxes, 6).drop("cell_col", "cell_row")
        cells = anchors.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()) \
            .withColumn("cell", C.encode_point(F.col("lon"), F.col("lat"), 6))
        out = {"pass_s": pass_s,
               "corpus.anchor_rows": anchors.count(),
               "spatial_join.candidate_rows": cells.join(F.broadcast(cov), "cell").count(),
               "spatial_join.hit_rows": hits.count(),
               "tiling.tile_rows": tiles.count()}
        out["spatial_join.hit_ratio"] = \
            out["spatial_join.hit_rows"] / max(out["spatial_join.candidate_rows"], 1)
        out.update(self._checkpoint_leg(ctx, tr))
        return out

    def _checkpoint_leg(self, ctx: Ctx, tr: Tracer) -> dict:
        spark, root = ctx.spark, os.path.join(ctx.work, "checkpoint")
        args = dict(output_root=root, job_id="perfbench", stage="tiles",
                    key_col="col", n_buckets=16, batch_size=4)
        killed = False
        with tr.span("checkpoint", "run_stage_killed"):
            try:
                checkpoint.run_stage(spark, corpus_counts(spark, DOCS, ctx.inp.doc_off),
                                     fail_after_batches=2, **args)
            except RuntimeError as e:
                killed = "simulated failure" in str(e)
                if not killed:
                    raise
        ctx.tally.check("checkpoint kill", None if killed else "stage was not killed")
        spark.catalog.clearCache()      # the killed leg's persisted input
        t0 = time.perf_counter()
        with tr.span("checkpoint", "run_stage_resume"):
            checkpoint.run_stage(spark, corpus_counts(spark, DOCS, ctx.inp.doc_off), **args)
        resume_s = time.perf_counter() - t0
        got = checkpoint.read_stage(spark, root, "tiles").toPandas()
        ctx.tally.check("checkpoint resumed output", same(got, self._want(ctx)))
        marks = checkpoint.MetadataStore(spark, root).metrics() \
            .select("bucket", "ms").toPandas()
        ctx.tally.check("checkpoint watermarks",
                        None if sorted(marks["bucket"]) == list(range(16))
                        else f"buckets {sorted(marks['bucket'])}")
        return {"checkpoint.resume_s": resume_s,
                "checkpoint.batch_s": float(marks["ms"].median()) / 1000.0,
                "checkpoint.watermark_rows": len(marks),
                "final_bytes": _dir_bytes(os.path.join(root, "tiles"))}


# --- skew_knn_fixpoint ----------------------------------------------------------

def hot_points(spark, inp: Inputs, n: int):
    """Planted points: 90% in one 0.4-degree cluster (the ``_hot_anchors``
    formula of the registry, with the seed's id window and centre)."""
    i = F.col("id")
    hot = F.pmod(i, F.lit(10)) < 9
    u1 = F.pmod(i * 9973 + 12345, F.lit(100000)).cast("double") / 100000.0
    u2 = F.pmod(i * 7919 + 54321, F.lit(100000)).cast("double") / 100000.0
    return spark.range(inp.hot_off, inp.hot_off + n, 1, HOT_PARTS).select(
        i.alias("doc_id"),
        F.when(hot, F.lit(inp.hot_cx) + u1 * 0.4).otherwise(-180.0 + u1 * 360.0).alias("lon"),
        F.when(hot, F.lit(inp.hot_cy) + u2 * 0.4).otherwise(-60.0 + u2 * 120.0).alias("lat"))


def knn_exact(spark):
    """Exact kNN over the ``anchors`` view of the generated documents, with
    every 199th point as a query, as the ``knn_exact`` registry query does."""
    a = spark.table("anchors").select("doc_id", "lon", "lat")
    q = (a.filter(F.col("lon").isNotNull() & (F.col("doc_id") % 199 == 3))
         .select(F.col("doc_id").alias("query_id"),
                 F.col("lon").alias("qlon"), F.col("lat").alias("qlat")))
    return knn.knn_join_exact(q, a, k=KNN_K, zoom=KNN_ZOOM, max_ring=KNN_MAX_RING) \
        .select("query_id", "point_id", F.col("rank").cast("int").alias("rank"), "dist")


class SkewKnnFixpoint:
    name = "skew_knn_fixpoint"

    def _pass(self, ctx: Ctx, tr: Tracer, fixpoint=FIXPOINT) -> dict:
        spark, out = ctx.spark, {}
        with tr.span("skew", "plan_salts"):
            a = hot_points(spark, ctx.inp, HOT_POINTS) \
                .withColumn("cell", C.encode_point(F.col("lon"), F.col("lat"), 6))
            hist = skew.cell_histogram(a, sample_frac=0.05, seed=7)
            out["salts"] = skew.plan_salts(hist, rows_per_task=HOT_POINTS // 100)
        with tr.span("skew", "salted_join"):
            cov = sj.with_cover_cells(spark.table("polygon_boxes"), 6) \
                .drop("cell_col", "cell_row")
            joined = skew.salted_join(a, cov, out["salts"], row_key="doc_id",
                                      broadcast_dim=False)
            refined = joined.filter(G.point_in_box(
                F.col("lon"), F.col("lat"),
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")))
            out["skew"] = refined.groupBy("poly_id").agg(
                F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum")).toPandas()
        with tr.span("knn", "knn_join_exact"):
            out["knn"] = knn_exact(spark).toPandas()
        queries = entry.queries()
        for layer, q in fixpoint:
            with tr.span(layer, q):
                out[q] = queries[q](spark, ctx.sf_dir).toPandas()
        return out

    def warm(self, ctx: Ctx) -> None:
        """Only the Python worker pool: each operator's first call in the
        session is what the pass measures, as for a one-shot query."""
        def ident(it):
            yield from it
        ctx.spark.range(0, 1024, 1, 4).mapInPandas(ident, "id long") \
            .write.format("noop").mode("overwrite").save()

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        def one_pass():
            tr = Tracer(ctx.spark, self.name, False)
            out = self._pass(ctx, tr)
            tr.log()
            return out
        m = timed_passes(seconds, one_pass)
        m["docs"] = HOT_POINTS + KNN_POINTS
        return m

    def check(self, ctx: Ctx, measured: dict) -> None:
        for i, out in enumerate(measured["outs"]):
            self._check(ctx, out, f"pass {i}")

    @staticmethod
    def _check(ctx: Ctx, out: dict, tag: str) -> None:
        inp, oracle = ctx.inp, ctx.oracle
        compute = {
            "skew": lambda: oracle.hot_counts(inp.hot_off, HOT_POINTS,
                                              inp.hot_cx, inp.hot_cy),
            "knn": lambda: oracle.registry("knn_exact"),
        }
        for k, got in out.items():
            if k != "salts":
                want = ctx.expect(k, compute.get(k, lambda: oracle.fixture_registry(k)))
                ctx.tally.check(f"skew_knn_fixpoint {tag} {k}", same(got, want))

    def traced(self, ctx: Ctx, tr: Tracer) -> dict:
        """The pass plus the two traced-only fixpoint queries; ``pass_s``
        covers the calls the untraced pass also makes."""
        out = self._pass(ctx, tr, FIXPOINT + FIXPOINT_TRACED)
        pass_s = sum(b - a for lay, _, a, b in tr.spans
                     if lay not in dict(FIXPOINT_TRACED)) / 1000.0
        self._check(ctx, out, "traced pass")
        return {"pass_s": pass_s,
                "skew.hot_cells": sum(1 for s in out["salts"].values() if s > 1),
                "knn.output_rows": len(out["knn"])}


WORKLOADS = {w.name: w for w in (CorpusPipTile(), SkewKnnFixpoint())}
