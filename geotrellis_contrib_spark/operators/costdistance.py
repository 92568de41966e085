"""Cost distance (accumulated-cost surface) over the distributed tile
table — the GeoTrellis ``CostDistance`` / iterative cost-distance op
family re-expressed for Spark: from a set of seed cells, the minimum
accumulated cost to every reachable cell of a FRICTION raster, moving
8-connected, where stepping between adjacent cells a->b costs
``dist(a,b) * (friction(a) + friction(b)) / 2`` (``dist`` = ``straight``
for orthogonal moves, ``diag`` for diagonal — GeoTrellis uses the
physical cell distances; the gate fixture uses dyadic 1.0/1.5 so sums
are exact). NoData friction cells are impassable.

Spark-first plan — synchronous tile rounds with halo exchange (the
iterative sibling of the focal stencil in ``operators/focal.py``):
  round 0: per tile, seed cells get cost 0 and an in-tile vectorized
    8-way min-relaxation runs to its LOCAL fixpoint (``mapInPandas``,
    zero shuffle);
  round k: every tile cuts the 1-px edge strips of (cost, friction) its
    8 neighbors need, plus its own full state, into ONE
    ``groupBy(source,band,col,row).applyInPandas`` shuffle; each tile
    re-relaxes against the neighbor costs and reports whether anything
    improved. Rounds repeat until a global fixpoint (no tile improved),
    fail-loud at ``max_iter``.
Per-round shuffle volume is ~2.1x tile bytes (cost+friction center +
strips); the number of rounds is bounded by the tile-grid diameter of
the longest optimal path (4x4 fixture: <= ~8). At cluster scale rounds
are co-partitioned shuffles on the same key — AQE coalesces the tail.

Monotone convergence: costs only decrease, every relaxation is a min
over path sums of positive weights, so the fixpoint is the exact
shortest-path metric regardless of relaxation order; with dyadic step
costs the float arithmetic is exact and order-independent, which is what
lets the ``cost_distance`` SQL oracle recompute the metric in closed
form (octile distance on the uniform-friction fixture).

Determinism contract (mirrored by the SQL oracle — change one only with
the other): cost values are min-over-paths of left-to-right accumulated
sums; the per-tile checksum quantizes FIRST (floor(cost*2 + 0.5) as
int64 — exact on dyadic costs) then sums integers."""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import DTYPES, pack
from geotrellis_contrib_spark.util import (
    compute_grouped, compute_spread, fixpoint, pointer_double)

_OFFS = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
         if not (dr == 0 and dc == 0)]

_STATE_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                 "friction binary, cost binary, improved int")
_PIECE_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                 "dr int, dc int, h int, w int, friction binary, "
                 "cost binary")


def _relax(cost: np.ndarray, fric: np.ndarray, straight: float,
           diag: float, max_cost: float | None) -> np.ndarray:
    """Vectorized 8-way min-relaxation to the in-frame fixpoint. ``fric``
    is NaN on impassable/absent cells; ``cost`` is +inf where unreached.
    Monotone (costs only decrease), so sweep count is bounded by the
    longest in-frame optimal hop chain; guarded anyway."""
    valid = ~np.isnan(fric)
    cost = np.where(valid, cost, np.inf)
    h, w = cost.shape
    for _ in range(h * w + 1):
        nxt = cost.copy()
        for dr, dc in _OFFS:
            dist = diag if (dr != 0 and dc != 0) else straight
            src_r = slice(max(dr, 0), h + min(dr, 0))
            src_c = slice(max(dc, 0), w + min(dc, 0))
            dst_r = slice(max(-dr, 0), h + min(-dr, 0))
            dst_c = slice(max(-dc, 0), w + min(-dc, 0))
            step = dist * (fric[dst_r, dst_c] + fric[src_r, src_c]) / 2.0
            cand = cost[src_r, src_c] + step
            sub = nxt[dst_r, dst_c]
            np.copyto(sub, np.minimum(sub, cand), where=~np.isnan(step))
            nxt[dst_r, dst_c] = sub
        if max_cost is not None:
            nxt = np.where(nxt > max_cost, np.inf, nxt)
        if np.array_equal(nxt, cost):
            break
        cost = nxt
    else:  # pragma: no cover - monotonicity makes this unreachable
        raise RuntimeError("in-tile relaxation did not converge")
    return np.where(valid, cost, np.inf)


def _solve(tiles: DataFrame,
           seed_predicate: Callable[[np.ndarray, np.ndarray,
                                     np.ndarray], np.ndarray],
           tile_size: int, straight: float, diag: float,
           max_cost: float | None, max_iter: int) -> DataFrame:
    """Run the synchronous tile rounds to the global fixpoint; returns
    the converged state DataFrame (cost tiles as float64 binary)."""
    t = int(tile_size)
    if straight <= 0 or diag <= 0:
        raise ValueError("step distances must be positive")

    def init(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                        .reshape(t, t).astype(np.float64)
                fric = np.where(
                    np.isnan(arr) | (arr == row_t.nodata), np.nan, arr)
                if not np.all(np.isnan(fric)) \
                        and float(np.nanmin(fric)) <= 0.0:
                    raise ValueError("friction must be positive")
                gr = (int(row_t.row) * t
                      + np.arange(t).reshape(-1, 1)) + np.zeros(
                          (1, t), dtype=np.int64)
                gc = np.zeros((t, 1), dtype=np.int64) \
                    + (int(row_t.col) * t + np.arange(t).reshape(1, -1))
                seed = seed_predicate(fric, gr, gc) & ~np.isnan(fric)
                cost = np.where(seed, 0.0, np.inf)
                cost = _relax(cost, fric, straight, diag, max_cost)
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "friction": pack(fric), "cost": pack(cost),
                            "improved": 1})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "friction", "cost",
                "improved"])

    state = compute_spread(tiles).mapInPandas(init, _STATE_SCHEMA) \
                                 .localCheckpoint(eager=True)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "dr": 0, "dc": 0, "h": t, "w": t,
                            "friction": row_t.friction,
                            "cost": row_t.cost})
                # delta propagation (r7, guide §2.3): a tile that did
                # NOT improve last round would re-offer the exact strips
                # it already offered — min-relaxation is idempotent in
                # its offers, so skipping them is EXACT (the receiving
                # tile integrated the same values in an earlier round;
                # a missing strip leaves inf ring cells, which offer
                # nothing). Shuffle volume and relax work shrink to the
                # active wavefront instead of the whole mosaic.
                if not int(row_t.improved):
                    continue
                fric = np.frombuffer(row_t.friction,
                                     dtype=np.float64).reshape(t, t)
                cost = np.frombuffer(row_t.cost,
                                     dtype=np.float64).reshape(t, t)
                for dr, dc in _OFFS:
                    rows = slice(None) if dr == 0 else (
                        slice(-1, None) if dr == 1 else slice(0, 1))
                    cols = slice(None) if dc == 0 else (
                        slice(-1, None) if dc == 1 else slice(0, 1))
                    fp = np.ascontiguousarray(fric[rows, cols])
                    cp = np.ascontiguousarray(cost[rows, cols])
                    if not np.isfinite(cp).any():
                        continue  # nothing reachable to offer
                    out.append({"source_id": row_t.source_id,
                                "band": int(row_t.band),
                                "col": int(row_t.col) + dc,
                                "row": int(row_t.row) + dr,
                                "dr": dr, "dc": dc,
                                "h": fp.shape[0], "w": fp.shape[1],
                                "friction": pack(fp), "cost": pack(cp)})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "dr", "dc", "h", "w",
                "friction", "cost"])

    def relax_group(pdf: pd.DataFrame) -> pd.DataFrame:
        p = t + 2
        # pass-through fast path (r7): no incoming strips means no new
        # offers — the tile's min-cost state cannot change, so skip the
        # frame assembly and the relaxation sweeps entirely (exact: see
        # the delta-propagation note in `cut`)
        if len(pdf) == 1 and int(pdf["dr"].iat[0]) == 0 \
                and int(pdf["dc"].iat[0]) == 0:
            out = pdf.iloc[[0]][["source_id", "band", "col", "row",
                                 "friction", "cost"]].copy()
            out["improved"] = 0
            return out
        fric = np.full((p, p), np.nan)
        cost = np.full((p, p), np.inf)
        center = None
        for row_t in pdf.itertuples(index=False):
            fa = np.frombuffer(row_t.friction, dtype=np.float64) \
                   .reshape(int(row_t.h), int(row_t.w))
            ca = np.frombuffer(row_t.cost, dtype=np.float64) \
                   .reshape(int(row_t.h), int(row_t.w))
            dr, dc = int(row_t.dr), int(row_t.dc)
            if dr == 0 and dc == 0:
                center = row_t
                fric[1:1 + t, 1:1 + t] = fa
                cost[1:1 + t, 1:1 + t] = ca
            else:
                rows = slice(1, 1 + t) if dr == 0 else (
                    slice(0, 1) if dr == 1 else slice(p - 1, p))
                cols = slice(1, 1 + t) if dc == 0 else (
                    slice(0, 1) if dc == 1 else slice(p - 1, p))
                fric[rows, cols] = fa
                cost[rows, cols] = ca
        if center is None:
            return pd.DataFrame(columns=[
                "source_id", "band", "col", "row", "friction", "cost",
                "improved"])
        old = cost[1:1 + t, 1:1 + t].copy()
        new = _relax(cost, fric, straight, diag, max_cost)[1:1 + t,
                                                           1:1 + t]
        improved = int(bool(np.any(new < old)))
        return pd.DataFrame([{
            "source_id": center.source_id, "band": int(center.band),
            "col": int(center.col), "row": int(center.row),
            "friction": center.friction, "cost": pack(new),
            "improved": improved}])

    def step(state: DataFrame) -> DataFrame:
        return compute_grouped(state.mapInPandas(cut, _PIECE_SCHEMA),
                               "source_id", "band", "col", "row") \
            .applyInPandas(relax_group, _STATE_SCHEMA)

    # ONE round per sync: batching 2 cut+relax rounds was measured
    # SLOWER (21s vs 17s at the gate — the relax stages dominate, not
    # the sync job; NOTES_r5)
    return fixpoint(state, step, F.max("improved"), max_rounds=max_iter,
                    what="cost_distance")


def _solve_scene(tiles: DataFrame, seed_predicate, tile_size: int,
                 straight: float, diag: float,
                 max_cost: float | None) -> DataFrame:
    """Small-scene fast path (the viewshed pattern): each (source_id,
    band) is ONE applyInPandas task that assembles the scene mosaic and
    relaxes to the global fixpoint directly — the fixpoint is the same
    min-over-paths value set as the synchronous rounds, so the result is
    bit-identical, at ONE shuffle instead of 4+ sync rounds."""
    t = int(tile_size)

    def solve_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        fric = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            arr = np.where(np.isnan(arr) | (arr == row_t.nodata),
                           np.nan, arr)
            fric[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
                 (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = arr
        if not np.all(np.isnan(fric)) and float(np.nanmin(fric)) <= 0.0:
            raise ValueError("friction must be positive")
        gr = (r0 * t + np.arange(nr * t).reshape(-1, 1)) \
            + np.zeros((1, nc * t), dtype=np.int64)
        gc = np.zeros((nr * t, 1), dtype=np.int64) \
            + (c0 * t + np.arange(nc * t).reshape(1, -1))
        seed = seed_predicate(fric, gr, gc) & ~np.isnan(fric)
        cost = np.where(seed, 0.0, np.inf)
        cost = _relax(cost, fric, straight, diag, max_cost)
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            out.append({"source_id": source_id, "band": band,
                        "col": int(row_t.col), "row": int(row_t.row),
                        "friction": b"", "cost": pack(
                            np.ascontiguousarray(
                                cost[ty:ty + t, tx:tx + t])),
                        "improved": 0})
        return pd.DataFrame(out, columns=[
            "source_id", "band", "col", "row", "friction", "cost",
            "improved"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        solve_group, _STATE_SCHEMA)


def _adaptive_state(tiles: DataFrame, seed_predicate, t: int,
                    straight: float, diag: float,
                    max_cost: float | None, max_iter: int,
                    scene_max_px: int) -> DataFrame:
    """Pick scene-solve vs synchronous rounds: one cheap agg job reads
    the largest scene footprint; ``scene_max_px=0`` forces rounds."""
    small = False
    if scene_max_px:
        ext = tiles.groupBy("source_id", "band").agg(
            ((F.max("col") - F.min("col") + 1) * t).alias("w"),
            ((F.max("row") - F.min("row") + 1) * t).alias("h")) \
            .agg(F.max(F.greatest("w", "h")).alias("m")).collect()
        small = bool(ext) and ext[0]["m"] is not None \
            and int(ext[0]["m"]) <= int(scene_max_px)
    if small:
        return _solve_scene(tiles, seed_predicate, t, straight, diag,
                            max_cost)
    return _solve(tiles, seed_predicate, t, straight, diag, max_cost,
                  max_iter)


def cost_distance(tiles: DataFrame,
                  seed_predicate: Callable[[np.ndarray, np.ndarray,
                                            np.ndarray], np.ndarray],
                  tile_size: int = 64, straight: float = 1.0,
                  diag: float = 1.5, max_cost: float | None = None,
                  max_iter: int = 64,
                  scene_max_px: int = 1 << 11) -> DataFrame:
    """Accumulated cost from ``seed_predicate(friction, gr, gc)`` cells
    over each (source_id, band)'s friction tiles. Returns the per-tile
    quantized rollup ``(source_id, band, col, row, cost_qsum,
    n_reached)`` — zero-shuffle from the converged state.

    Adaptive strategy: when every scene's tile footprint fits
    ``scene_max_px`` on a side (one cheap agg job to check), each scene
    is solved in ONE task at the global fixpoint (bit-identical values);
    otherwise the synchronous halo rounds run. ``scene_max_px=0``
    forces the rounds path."""
    t = int(tile_size)
    state = _adaptive_state(tiles, seed_predicate, t, straight, diag,
                            max_cost, max_iter, scene_max_px)

    def rollup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                cost = np.frombuffer(row_t.cost,
                                     dtype=np.float64).reshape(t, t)
                fin = np.isfinite(cost)
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "cost_qsum": int(np.floor(
                                cost[fin] * 2.0 + 0.5).astype(
                                    np.int64).sum()),
                            "n_reached": int(fin.sum())})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "cost_qsum",
                "n_reached"])

    return state.mapInPandas(
        rollup, "source_id string, band int, col bigint, row bigint, "
                "cost_qsum bigint, n_reached bigint")


def cost_surface(tiles: DataFrame, seed_predicate,
                 tile_size: int = 64, straight: float = 1.0,
                 diag: float = 1.5, max_cost: float | None = None,
                 max_iter: int = 64,
                 scene_max_px: int = 1 << 11) -> DataFrame:
    """Full per-cell cost surface (the pytest/brute-force surface): the
    converged (source_id, band, col, row, cost binary float64) tiles.
    Same adaptive strategy as ``cost_distance``."""
    state = _adaptive_state(tiles, seed_predicate, int(tile_size),
                            straight, diag, max_cost, max_iter,
                            scene_max_px)
    return state.select("source_id", "band", "col", "row", "cost")


# fixed backtrack order (row-major, the SQL twin's CASE cascade order)
_LCP_DIRS = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
             (1, -1), (1, 0), (1, 1)]


def _lcp_scene(tiles: DataFrame, seed_predicate, targets,
               tile_size: int, straight: float, diag: float,
               max_px: int) -> DataFrame:
    """Scene path of :func:`least_cost_path`: one task per (source_id,
    band) solves the surface and walks the backtrack cell-by-cell."""
    t = int(tile_size)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        if nc * t > max_px or nr * t > max_px:
            raise ValueError(f"scene {source_id} exceeds max_px={max_px}")
        fric = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            fric[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
                 (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(np.isnan(arr) | (arr == row_t.nodata),
                           np.nan, arr)
        # same guard as _solve/_solve_scene: with zero friction the exact
        # optimality equation holds in both directions and the backtrack
        # can ping-pong between equal-cost cells (r5 ADVICE)
        if not np.all(np.isnan(fric)) and float(np.nanmin(fric)) <= 0.0:
            raise ValueError("friction must be positive")
        H, W = fric.shape
        gr = (r0 * t + np.arange(H).reshape(-1, 1)) \
            + np.zeros((1, W), dtype=np.int64)
        gc = np.zeros((H, 1), dtype=np.int64) \
            + (c0 * t + np.arange(W).reshape(1, -1))
        seed = seed_predicate(fric, gr, gc) & ~np.isnan(fric)
        cost = _relax(np.where(seed, 0.0, np.inf), fric, straight, diag,
                      None)
        out = []
        for tgr, tgc in targets(source_id, band):
            i, j = int(tgr) - r0 * t, int(tgc) - c0 * t
            if not (0 <= i < H and 0 <= j < W) \
                    or not np.isfinite(cost[i, j]):
                raise ValueError(
                    f"target ({tgr},{tgc}) unreachable in "
                    f"{source_id}/{band}")
            cq2 = int(np.floor(cost[i, j] * 2.0 + 0.5))
            steps = 0
            while cost[i, j] != 0.0:
                for dr, dc in _LCP_DIRS:
                    x, y = i + dr, j + dc
                    if 0 <= x < H and 0 <= y < W \
                            and np.isfinite(cost[x, y]):
                        dist = (diag if (dr != 0 and dc != 0)
                                else straight)
                        step = dist * (fric[i, j] + fric[x, y]) / 2.0
                        if cost[i, j] == cost[x, y] + step:
                            i, j = x, y
                            break
                else:  # pragma: no cover - optimality guarantees a pred
                    raise RuntimeError("no optimal predecessor found")
                steps += 1
                if steps > H * W:  # pragma: no cover
                    raise RuntimeError("path did not terminate")
            out.append({"source_id": source_id, "band": band,
                        "tgr": int(tgr), "tgc": int(tgc),
                        "path_len": steps, "cost_q2": cq2})
        return pd.DataFrame(out, columns=["source_id", "band", "tgr",
                                          "tgc", "path_len", "cost_q2"])

    return tiles.groupBy("source_id", "band").applyInPandas(
        run, "source_id string, band int, tgr bigint, tgc bigint, "
             "path_len bigint, cost_q2 bigint")


_LCP_PART = ("source_id string, band int, col bigint, row bigint, "
             "kind int, gid bigint, rep bigint, steps bigint, "
             "final int, q2 bigint")


def _lcp_dist(tiles: DataFrame, seed_predicate, targets,
              tile_size: int, straight: float, diag: float,
              max_iter: int, max_rounds: int) -> DataFrame:
    """Distributed least-cost-path (NO scene-size bound — the watershed
    contraction pattern applied to the backtrack):

    1. The converged cost surface comes from the synchronous halo-rounds
       solver (`_solve` — bit-identical to the scene fixpoint), so the
       exact optimality equality holds across tile boundaries.
    2. ONE halo shuffle ships each tile its 1-px (cost, friction)
       neighbor strips; per tile, every cell's predecessor (FIRST
       `_LCP_DIRS` neighbor satisfying the exact equality — the same
       rule the scene walk applies one cell at a time) is computed
       vectorized, and LOCAL pointer doubling with hop accumulation
       collapses every in-tile chain to either a seed (terminal) or the
       first out-of-tile cell, carrying the EXACT in-tile step count.
       Emitted per tile: O(perimeter) border rows + one row per target
       inside the tile (with its quantized cost).
    3. Distributed pointer doubling on the border table — log2(tile
       crossings) tiny self-joins, steps summed exactly, fail-loud at
       ``max_rounds`` — then one join resolves targets through it.

    Identical output contract to the scene path: (source_id, band, tgr,
    tgc, path_len, cost_q2); path_len parity is bit-exact because cost,
    friction and the predecessor rule are all bit-identical."""
    from geotrellis_contrib_spark.operators.focal import (
        _assemble_frame, _frame_gids, _halo_pieces, _own_ring, _ptr_double)

    t = int(tile_size)
    p = t + 2
    state = _solve(tiles, seed_predicate, t, straight, diag, None,
                   max_iter)
    nan = float("nan")
    planes = None
    for plane, src in ((0, "cost"), (1, "friction")):
        plane_tiles = state.select(
            "source_id", "band", "col", "row", F.col(src).alias("px"),
            F.lit("float64").alias("dtype"), F.lit(nan).alias("nodata"))
        cut = _halo_pieces(plane_tiles, 1, t) \
            .withColumn("plane", F.lit(plane))
        planes = cut if planes is None else planes.unionByName(cut)

    def resolve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        col, row = int(key[2]), int(key[3])
        cols = ["source_id", "band", "col", "row", "kind", "gid", "rep",
                "steps", "final", "q2"]
        cframe = _assemble_frame(pdf[pdf["plane"] == 0], 1, t)
        fframe = _assemble_frame(pdf[pdf["plane"] == 1], 1, t)
        if cframe is None or fframe is None:
            return pd.DataFrame(columns=cols)
        cost = np.where(np.isnan(cframe), np.inf, cframe)
        fric = fframe
        if not np.all(np.isnan(fric)) \
                and float(np.nanmin(fric)) <= 0.0:
            raise ValueError("friction must be positive")
        interior = np.zeros((p, p), dtype=bool)
        interior[1:1 + t, 1:1 + t] = True
        finite = np.isfinite(cost)
        nonseed = finite & (cost != 0.0) & interior
        # FIRST-match predecessor in the scene walk's fixed order
        chosen = np.full((p, p), -1, dtype=np.int64)
        remaining = nonseed.copy()
        for k, (dr, dc) in enumerate(_LCP_DIRS):
            nco = np.full((p, p), np.inf)
            nfr = np.full((p, p), np.nan)
            rs = slice(max(0, dr), p + min(0, dr))
            rd = slice(max(0, -dr), p + min(0, -dr))
            cs = slice(max(0, dc), p + min(0, dc))
            cd = slice(max(0, -dc), p + min(0, -dc))
            nco[rd, cd] = cost[rs, cs]
            nfr[rd, cd] = fric[rs, cs]
            dist = diag if (dr != 0 and dc != 0) else straight
            with np.errstate(invalid="ignore"):
                eq = (remaining & np.isfinite(nco)
                      & (cost == nco + dist * (fric + nfr) / 2.0))
            chosen[eq] = k
            remaining &= ~eq
        if remaining.any():  # pragma: no cover - optimality guarantees
            raise RuntimeError("no optimal predecessor found")
        idxs = np.arange(p * p, dtype=np.int64)
        ptr = idxs.copy()
        steps0 = np.zeros(p * p, dtype=np.int64)
        flat_ch = chosen.ravel()
        for k, (dr, dc) in enumerate(_LCP_DIRS):
            sel = flat_ch == k
            ptr[sel] = idxs[sel] + dr * p + dc
            steps0[sel] = 1
        ptr, steps0 = _ptr_double(ptr, steps0)
        # same global-pixel encoding as the watershed border table
        gid_of = _frame_gids(col, row, t)
        int_flat = interior.ravel()
        fin_flat = finite.ravel()
        out = []
        for cell in _own_ring(t):
            if not fin_flat[cell]:
                continue
            d = ptr[cell]
            out.append({"source_id": source_id, "band": band,
                        "col": col, "row": row, "kind": 1,
                        "gid": int(gid_of[cell]), "rep": int(gid_of[d]),
                        "steps": int(steps0[cell]),
                        "final": int(bool(int_flat[d])), "q2": 0})
        for tgr, tgc in targets(source_id, band):
            i = int(tgr) - row * t + 1
            j = int(tgc) - col * t + 1
            if not (1 <= i <= t and 1 <= j <= t):
                continue  # another tile owns this target
            cell = i * p + j
            if not fin_flat[cell]:
                raise ValueError(
                    f"target ({tgr},{tgc}) unreachable in "
                    f"{source_id}/{band}")
            d = ptr[cell]
            out.append({"source_id": source_id, "band": band,
                        "col": col, "row": row, "kind": 2,
                        "gid": int(gid_of[cell]), "rep": int(gid_of[d]),
                        "steps": int(steps0[cell]),
                        "final": int(bool(int_flat[d])),
                        "q2": int(np.floor(cost.ravel()[cell] * 2.0
                                           + 0.5))})
        return pd.DataFrame(out, columns=cols)

    parts = compute_grouped(planes, "source_id", "band", "col", "row") \
        .applyInPandas(resolve, _LCP_PART).localCheckpoint(eager=True)

    border, bc = pointer_double(
        parts.filter(F.col("kind") == 1)
        .select("source_id", "band", "gid", "rep", "steps", "final"),
        ["steps"], max_rounds=max_rounds,
        what="least_cost_path border resolution")

    tg = parts.filter(F.col("kind") == 2)
    tdone = tg.filter(F.col("final") == 1) \
        .select("source_id", "band", "gid", "steps", "q2")
    ttodo = tg.filter(F.col("final") == 0).alias("g").join(
        bc(border.select("source_id", "band", F.col("gid").alias("bgid"),
                         F.col("steps").alias("bsteps")).alias("m")),
        on=[F.col("g.source_id") == F.col("m.source_id"),
            F.col("g.band") == F.col("m.band"),
            F.col("g.rep") == F.col("m.bgid")]) \
        .select(F.col("g.source_id").alias("source_id"),
                F.col("g.band").alias("band"),
                F.col("g.gid").alias("gid"),
                (F.col("g.steps") + F.col("m.bsteps")).alias("steps"),
                F.col("g.q2").alias("q2"))
    return tdone.unionByName(ttodo).select(
        "source_id", "band",
        (F.col("gid") / F.lit(4096)).cast("long").alias("tgr"),
        F.pmod(F.col("gid"), F.lit(4096)).alias("tgc"),
        F.col("steps").alias("path_len"),
        F.col("q2").alias("cost_q2"))


def least_cost_path(tiles: DataFrame, seed_predicate, targets,
                    tile_size: int = 64, straight: float = 1.0,
                    diag: float = 1.5, max_px: int = 1 << 11,
                    max_iter: int = 64,
                    max_rounds: int = 24) -> DataFrame:
    """Least-cost path backtracking (GeoTrellis LeastCostPath analog):
    from each target cell, walk predecessors on the accumulated-cost
    surface until a seed (cost 0). The predecessor of ``cur`` is the
    FIRST neighbor (fixed row-major order) satisfying the EXACT
    optimality equation cost(cur) == cost(n) + dist * (f(cur)+f(n))/2 —
    exact float equality, which is what the dyadic-cost gate fixture
    guarantees and the SQL oracle mirrors. ``targets`` is a callable
    (source_id, band) -> list[(gr, gc)]. Output one row per target:
    (source_id, band, tgr, tgc, path_len, cost_q2) with cost_q2 =
    floor(cost(target)*2 + 0.5).

    Adaptive strategy (NO scene-size refusal anywhere): scenes fitting
    ``max_px`` on a side solve + walk in ONE task; larger scenes take
    the distributed contraction path (`_lcp_dist` — halo-rounds cost
    state, per-tile pointer collapse, O(perimeter) border doubling).
    ``max_px=0`` forces distributed. Both paths are bit-identical
    (pytest parity on multi-tile fixtures)."""
    t = int(tile_size)
    small = False
    if max_px:
        ext = tiles.groupBy("source_id", "band").agg(
            ((F.max("col") - F.min("col") + 1) * t).alias("w"),
            ((F.max("row") - F.min("row") + 1) * t).alias("h")) \
            .agg(F.max(F.greatest("w", "h")).alias("m")).collect()
        small = bool(ext) and ext[0]["m"] is not None \
            and int(ext[0]["m"]) <= int(max_px)
    if small:
        return _lcp_scene(tiles, seed_predicate, targets, t, straight,
                          diag, max_px)
    return _lcp_dist(tiles, seed_predicate, targets, t, straight, diag,
                     max_iter, max_rounds)
