"""Focal (neighborhood) map algebra over the distributed tile table — the
canonical stencil pattern: per-tile HALO EXCHANGE, then a vectorized numpy
stencil per assembled tile.

Reference parity: the reference's RasterSources feed GeoTrellis focal ops
(aspect-tiled.tif is literally an aspect/slope fixture —
vlm/src/test/resources, RasterSourceSpec reads it); the contrib layer's
job is exactly this tiling/halo plumbing.

Spark-first plan (scale posture):
  1. ``mapInPandas`` strip extraction — each tile CUTS the r-wide edge
     strips its 8 neighbors need BEFORE the shuffle, so shuffle volume is
     ~(1 + 4r/T) x tile bytes, not 9x (no full-tile replication).
  2. ONE shuffle: ``groupBy(source, band, col, row).applyInPandas`` —
     assemble the (T+2r)^2 padded frame (missing neighbors / NoData ->
     NaN), run the stencil, emit per-tile results.
At 100 TB this is one co-partitioned shuffle of ~1.06x the raster bytes;
the stencil itself is embarrassingly parallel per tile.

Determinism contract (mirrored by the ``focal_stats`` SQL oracle in
``__spark_entry__.py`` — change one only with the other):
  * the 3x3 accumulation adds the 9 neighbor terms in FIXED lexicographic
    (dr, dc) order: (-1,-1), (-1,0), ..., (1,1) — chained left-to-right
    float adds, invalid terms contribute literal 0.0;
  * focal_mean = acc / count (one division, both operands bit-identical
    on both sides);
  * the per-tile checksum quantizes FIRST — floor(v * 2^20 + 0.5) as
    int64 — then sums INTEGERS, so the sum is order-independent (float
    sums of quotients would depend on order; integer sums do not).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import DTYPES, pack
from geotrellis_contrib_spark.util import (
    compute_grouped, fixpoint, pointer_double)

_Q = 1048576.0  # 2^20 quantization for the order-independent checksum

# fixed lexicographic neighbor order — the SQL oracle's chained-add order
_OFFSETS = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]


def _strip(arr: np.ndarray, dr: int, dc: int, r: int) -> np.ndarray:
    rows = slice(None) if dr == 0 else (slice(-r, None) if dr == 1
                                        else slice(0, r))
    cols = slice(None) if dc == 0 else (slice(-r, None) if dc == 1
                                        else slice(0, r))
    return arr[rows, cols]


def _halo_pieces(tiles: DataFrame, r: int, t: int) -> DataFrame:
    """Stage 1 of the stencil pattern: every tile cuts the r-wide edge
    strips its 8 neighbors need BEFORE the shuffle (no full-tile
    replication); keyed by the RECEIVING tile."""

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                        .reshape(t, t).astype(np.float64)
                for dr, dc in _OFFSETS:
                    piece = arr if (dr == 0 and dc == 0) \
                        else _strip(arr, dr, dc, r)
                    out.append({
                        "source_id": row_t.source_id, "band": row_t.band,
                        "col": row_t.col + dc, "row": row_t.row + dr,
                        "dr": dr, "dc": dc, "nodata": row_t.nodata,
                        "h": piece.shape[0], "w": piece.shape[1],
                        "px": pack(np.ascontiguousarray(piece)),
                    })
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "dr", "dc", "nodata",
                "h", "w", "px"])

    return tiles.mapInPandas(
        cut, "source_id string, band int, col bigint, row bigint, "
             "dr int, dc int, nodata double, h int, w int, px binary")


def _assemble_frame(pdf: pd.DataFrame, r: int, t: int):
    """Stage 2 helper: build the (t+2r)^2 padded frame from a receiving
    tile's pieces — NaN where no neighbor exists or NoData. Returns None
    for halo-only groups (the target tile itself does not exist)."""
    p = t + 2 * r
    frame = np.full((p, p), np.nan)
    have_center = False
    nodata = None
    for row_t in pdf.itertuples(index=False):
        arr = np.frombuffer(row_t.px, dtype=np.float64) \
                .reshape(int(row_t.h), int(row_t.w))
        nodata = row_t.nodata
        dr, dc = int(row_t.dr), int(row_t.dc)
        if dr == 0 and dc == 0:
            have_center = True
        # a piece sent with offset (dr, dc) sits at the OPPOSITE edge
        # of the receiver's padded frame
        rows = slice(r, r + t) if dr == 0 else (
            slice(0, r) if dr == 1 else slice(p - r, p))
        cols = slice(r, r + t) if dc == 0 else (
            slice(0, r) if dc == 1 else slice(p - r, p))
        frame[rows, cols] = arr
    if not have_center:
        return None
    frame[frame == nodata] = np.nan
    return frame


def focal_stats(tiles: DataFrame, op: str = "mean", radius: int = 1,
                tile_size: int = 64,
                classify_div: float | None = None,
                shape: str = "square",
                inner_radius: int | None = None,
                start_angle: float | None = None,
                end_angle: float | None = None) -> DataFrame:
    """Focal ``op`` over every pixel's neighborhood ACROSS tile
    boundaries (halo exchange), NoData/edge cells excluded from the
    neighborhood; returns the per-tile quantized checksum
    ``(source_id, band, col, row, focal_sum, focal_count)`` where
    focal_sum = sum of floor(focal * 2^20 + 0.5) over cells with at least
    one valid neighbor and focal_count = that cell count.

    ``shape`` selects the GeoTrellis neighborhood family
    (geotrellis.raster.mapalgebra.focal.{Square, Circle, Annulus,
    Wedge}): 'square' = the full (2r+1)^2 window; 'circle' keeps
    offsets with dr^2 + dc^2 <= radius^2 (integer arithmetic — the
    mask is exact and trivially replayed by the SQL oracle); 'annulus'
    additionally requires dr^2 + dc^2 >= inner_radius^2; 'wedge' keeps
    circle offsets whose ray angle atan2(-dr, dc) (math convention,
    north = +pi/2) lies in [start_angle, end_angle] (radians,
    wrap-around arcs supported; the center cell always belongs). Pick
    wedge bounds away from exact offset angles — the oracle recomputes
    membership with SQL ATAN2, identical up to sub-ulp libm noise that
    only matters ON a boundary. The offset iteration order stays
    row-major in every shape, so accumulation chains are identical
    across shapes (each is the square's chain with terms removed)."""
    if op not in ("mean", "sum", "max", "min", "median", "stddev", "mode"):
        raise ValueError(f"unsupported focal op: {op!r}")
    if radius < 1 or radius >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {radius}")
    if classify_div is not None and op != "mode":
        raise ValueError("classify_div is a mode-only parameter")
    if shape not in ("square", "circle", "annulus", "wedge"):
        raise ValueError(f"unsupported neighborhood shape: {shape!r} "
                         "(square | circle | annulus | wedge)")
    if shape == "annulus":
        if inner_radius is None or not 0 < int(inner_radius) <= radius:
            raise ValueError("annulus needs 0 < inner_radius <= radius")
    elif inner_radius is not None:
        raise ValueError("inner_radius is annulus-only")
    if shape == "wedge":
        if start_angle is None or end_angle is None:
            raise ValueError("wedge needs start_angle and end_angle "
                             "(radians)")
    elif start_angle is not None or end_angle is not None:
        raise ValueError("start/end_angle are wedge-only")
    r, t = int(radius), int(tile_size)
    offsets = [(dr0, dc0) for dr0 in range(-r, r + 1)
               for dc0 in range(-r, r + 1)]
    if shape == "circle":
        offsets = [(a, b) for a, b in offsets if a * a + b * b <= r * r]
    elif shape == "annulus":
        ir = int(inner_radius)
        offsets = [(a, b) for a, b in offsets
                   if ir * ir <= a * a + b * b <= r * r]
    elif shape == "wedge":
        import math

        a0 = float(start_angle)
        a1 = float(end_angle)

        def in_arc(a, b):
            if a == 0 and b == 0:
                return True  # the center cell always belongs
            ang = math.atan2(-a, b)
            if a0 <= a1:
                return a0 <= ang <= a1
            return ang >= a0 or ang <= a1  # wrap-around arc

        offsets = [(a, b) for a, b in offsets
                   if a * a + b * b <= r * r and in_arc(a, b)]
    pieces = _halo_pieces(tiles, r, t)

    def stencil(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, r, t)
        if frame is None:
            return pd.DataFrame(columns=["source_id", "band", "col", "row",
                                         "focal_sum", "focal_count"])
        if classify_div is not None:
            # majority filter runs on RECLASSIFIED cells (GeoTrellis Mode
            # is for categorical rasters) — floor(v/div), NoData stays NaN
            frame = np.floor(frame / classify_div)
        valid = ~np.isnan(frame)
        acc = np.zeros((t, t))
        acc2 = np.zeros((t, t))
        cnt = np.zeros((t, t), dtype=np.int64)
        ext = None
        wins = []
        for dr, dc in offsets:
            win = frame[r + dr:r + dr + t, r + dc:r + dc + t]
            vw = valid[r + dr:r + dr + t, r + dc:r + dc + t]
            if op in ("mean", "sum"):
                acc = acc + np.where(vw, win, 0.0)
            elif op == "stddev":
                # sum AND sum-of-squares in the same fixed chained-add
                # order; the fixture's quarter-multiples make both EXACT
                acc = acc + np.where(vw, win, 0.0)
                acc2 = acc2 + np.where(vw, win * win, 0.0)
            elif op in ("median", "mode"):
                wins.append(np.where(vw, win, np.nan))
            else:
                cur = np.where(vw, win, np.nan)
                ext = cur if ext is None else (
                    np.fmax(ext, cur) if op == "max" else np.fmin(ext, cur))
            cnt = cnt + vw
        any_valid = cnt > 0
        if op == "mean":
            focal = np.where(any_valid, acc / np.maximum(cnt, 1), np.nan)
        elif op == "sum":
            focal = np.where(any_valid, acc, np.nan)
        elif op == "stddev":
            # population stddev: ONE division each for mean and mean-of-
            # squares, var = m2 - m*m clamped at 0 (float dust), sqrt —
            # mirrored op-for-op by the focal_stddev SQL oracle
            n = np.maximum(cnt, 1).astype(np.float64)
            m = acc / n
            m2 = acc2 / n
            var = np.maximum(m2 - m * m, 0.0)
            focal = np.where(any_valid, np.sqrt(var), np.nan)
        elif op == "mode":
            # majority vote over the valid window, SMALLEST value on ties
            # (deterministic categorical rule). Exact: class values are
            # small integers, equality is exact. O(k^2) vectorized over
            # the k=(2r+1)^2 window slices.
            stack = np.stack(wins, axis=-1)
            best_v = np.full((t, t), np.nan)
            best_c = np.zeros((t, t), dtype=np.int64)
            for j in range(stack.shape[-1]):
                vj = stack[..., j]
                with np.errstate(invalid="ignore"):
                    cj = np.nansum(
                        (stack == vj[..., None]).astype(np.int64), axis=-1)
                ok_j = ~np.isnan(vj)
                take = ok_j & ((cj > best_c)
                               | ((cj == best_c)
                                  & ~(np.isnan(best_v) | (vj >= best_v))))
                best_v = np.where(take, vj, best_v)
                best_c = np.where(take, cj, best_c)
            focal = best_v
        elif op == "median":
            # rank-based, so EXACT: sort (NaN last), take the two middle
            # order statistics of the valid prefix, (lo + hi)/2.0 — for an
            # odd count lo == hi and (x + x)/2.0 is bitwise x; the SQL
            # oracle mirrors with list_sort/list_filter + 1-based picks
            srt = np.sort(np.stack(wins, axis=-1), axis=-1)
            il = np.maximum((cnt - 1) // 2, 0)
            ih = cnt // 2
            lo = np.take_along_axis(srt, il[..., None], axis=-1)[..., 0]
            hi = np.take_along_axis(srt, ih[..., None], axis=-1)[..., 0]
            with np.errstate(invalid="ignore"):
                focal = np.where(any_valid, (lo + hi) / 2.0, np.nan)
        else:
            focal = ext
        q = np.floor(focal[any_valid] * _Q + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "focal_sum": int(q.sum()), "focal_count": int(any_valid.sum()),
        }])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        stencil, "source_id string, band bigint, col bigint, row bigint, "
                 "focal_sum bigint, focal_count bigint")


def _nb9(frame: np.ndarray, t: int):
    """The nine 3x3-neighborhood slices (a..i, row-major: a=NW, e=center,
    i=SE) of a radius-1 padded frame — shared by the Horn/GDALDEM kernels."""
    return (frame[0:t, 0:t], frame[0:t, 1:t + 1], frame[0:t, 2:t + 2],
            frame[1:t + 1, 0:t], frame[1:t + 1, 1:t + 1],
            frame[1:t + 1, 2:t + 2],
            frame[2:t + 2, 0:t], frame[2:t + 2, 1:t + 1],
            frame[2:t + 2, 2:t + 2])


def tri_stats(tiles: DataFrame, tile_size: int = 64) -> DataFrame:
    """TRI + TPI + roughness — the rest of the GDALDEM terrain family
    (gdaldem tri/tpi/roughness), on the same halo machinery and all-9-valid
    edge rule as the Horn kernels:

        TRI (Wilson)  = mean of |e - neighbor| over the 8 neighbors
        TPI           = e - mean of the 8 neighbors
        roughness     = max(3x3) - min(3x3)

    Determinism contract (mirrored by the ``tri_stats`` SQL oracle —
    change one only with the other): the 8-term chained adds run in FIXED
    a,b,c,d,f,g,h,i order (left-to-right float adds), one division by 8.0,
    max/min are order-free exactly; quantize-first (floor(v*2^20+0.5) as
    int64 — TPI can be negative; floor-toward--inf is identical in numpy
    and SQL) then integer sums. Returns per-tile checksums
    ``(source_id, band, col, row, tri_sum, tpi_sum, rough_sum, tri_count)``.
    Reference parity: the reference's aspect-tiled.tif fixture family
    (vlm/src/test/resources, RasterSourceSpec) — the contrib tier owns the
    tiling/halo plumbing these kernels ride."""
    t = int(tile_size)
    pieces = _halo_pieces(tiles, 1, t)

    def kern(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row",
                "tri_sum", "tpi_sum", "rough_sum", "tri_count"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        a, b, c, d, e, f, g, h, i = _nb9(frame, t)
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            tri = (np.abs(e - a) + np.abs(e - b) + np.abs(e - c)
                   + np.abs(e - d) + np.abs(e - f) + np.abs(e - g)
                   + np.abs(e - h) + np.abs(e - i)) / 8.0
            tpi = e - (a + b + c + d + f + g + h + i) / 8.0
            mx = np.fmax(np.fmax(np.fmax(np.fmax(a, b), np.fmax(c, d)),
                                 np.fmax(np.fmax(e, f), np.fmax(g, h))), i)
            mn = np.fmin(np.fmin(np.fmin(np.fmin(a, b), np.fmin(c, d)),
                                 np.fmin(np.fmin(e, f), np.fmin(g, h))), i)
            rough = mx - mn
        qt = np.floor(tri[ok] * _Q + 0.5).astype(np.int64)
        qp = np.floor(tpi[ok] * _Q + 0.5).astype(np.int64)
        qr = np.floor(rough[ok] * _Q + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "tri_sum": int(qt.sum()), "tpi_sum": int(qp.sum()),
            "rough_sum": int(qr.sum()), "tri_count": int(ok.sum()),
        }])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        kern, "source_id string, band bigint, col bigint, row bigint, "
              "tri_sum bigint, tpi_sum bigint, rough_sum bigint, "
              "tri_count bigint")


def terrain_stats(tiles: DataFrame, dx: float = 30.0, dy: float = 30.0,
                  tile_size: int = 64) -> DataFrame:
    """Slope + aspect via the HORN (1981) 3x3 kernel over the same halo
    machinery — the op family behind the reference's own aspect fixture
    (vlm/src/test/resources aspect-tiled.tif, read by RasterSourceSpec).

    Horn derivatives on the padded frame (rows grow southward, cols
    eastward):
        p = dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8*dx)
        q = dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8*dy)
        slope_deg  = degrees(atan(sqrt(p*p + q*q)))
        aspect_deg = (degrees(atan2(q, -p)) + 360) % 360, flat cells -> 0
    A cell gets output only when ALL 9 neighborhood cells are valid
    (the GDAL edge convention). Returns per-tile quantized checksums
    ``(source_id, band, col, row, slope_sum, aspect_sum, terrain_count)``
    — floor(v * 2^20 + 0.5) summed as int64, order-independent. The
    ``terrain_stats`` SQL oracle mirrors this arithmetic term-for-term —
    change one only with the other."""
    t = int(tile_size)
    pieces = _halo_pieces(tiles, 1, t)

    def horn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row",
                "slope_sum", "aspect_sum", "terrain_count"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        a, b, c, d, e, f, g, h, i = _nb9(frame, t)
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            p = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * dx)
            q = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * dy)
            slope = np.degrees(np.arctan(np.sqrt(p * p + q * q)))
            aspect = (np.degrees(np.arctan2(q, -p)) + 360.0) % 360.0
            aspect = np.where((p == 0.0) & (q == 0.0), 0.0, aspect)
        qs = np.floor(slope[ok] * _Q + 0.5).astype(np.int64)
        qa = np.floor(aspect[ok] * _Q + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "slope_sum": int(qs.sum()), "aspect_sum": int(qa.sum()),
            "terrain_count": int(ok.sum()),
        }])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        horn, "source_id string, band bigint, col bigint, row bigint, "
              "slope_sum bigint, aspect_sum bigint, terrain_count bigint")


def curvature_stats(tiles: DataFrame, cell: float = 30.0,
                    tile_size: int = 64) -> DataFrame:
    """Profile / plan / total CURVATURE via the ZEVENBERGEN & THORNE
    (1987) 3x3 quadratic fit — the terrain-family member next to
    slope/aspect/hillshade/TRI (the GDALDEM/ArcGIS curvature recipe,
    ×100 scaling). On the padded frame (a..i row-major, e center):

        D = ((d + f)/2 − e)/L²      E = ((b + h)/2 − e)/L²
        F = (−a + c + g − i)/(4L²)  G = (−d + f)/(2L)   H = (b − h)/(2L)
        total   = −2(D + E)·100
        profile = −2(DG² + EH² + FGH)/(G² + H²)·100   (flat → 0)
        plan    =  2(DH² + EG² − FGH)/(G² + H²)·100   (flat → 0)

    Full-3x3-valid convention (the GDAL edge rule), same halo machinery,
    quantize-first integer checksums. The ``curvature_stats`` SQL oracle
    mirrors every expression term-for-term — change one only with the
    other."""
    t = int(tile_size)
    L = float(cell)
    pieces = _halo_pieces(tiles, 1, t)

    def zt(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row", "prof_sum",
                "plan_sum", "total_sum", "curv_count"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        a, b, c, d, e, f, g, h, i = _nb9(frame, t)
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        l2 = L * L
        with np.errstate(invalid="ignore"):
            D = ((d + f) / 2.0 - e) / l2
            E = ((b + h) / 2.0 - e) / l2
            Fc = (-a + c + g - i) / (4.0 * l2)
            G = (-d + f) / (2.0 * L)
            H = (b - h) / (2.0 * L)
            den = G * G + H * H
            total = -2.0 * (D + E) * 100.0
            safe = np.where(den > 0.0, den, 1.0)
            prof = np.where(
                den > 0.0,
                -2.0 * (D * G * G + E * H * H + Fc * G * H)
                / safe * 100.0, 0.0)
            plan = np.where(
                den > 0.0,
                2.0 * (D * H * H + E * G * G - Fc * G * H)
                / safe * 100.0, 0.0)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "prof_sum": int(np.floor(prof[ok] * _Q + 0.5)
                            .astype(np.int64).sum()),
            "plan_sum": int(np.floor(plan[ok] * _Q + 0.5)
                            .astype(np.int64).sum()),
            "total_sum": int(np.floor(total[ok] * _Q + 0.5)
                             .astype(np.int64).sum()),
            "curv_count": int(ok.sum())}])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        zt, "source_id string, band bigint, col bigint, row bigint, "
            "prof_sum bigint, plan_sum bigint, total_sum bigint, "
            "curv_count bigint")


def hillshade_stats(tiles: DataFrame, azimuth: float = 315.0,
                    altitude: float = 45.0, dx: float = 30.0,
                    dy: float = 30.0, tile_size: int = 64) -> DataFrame:
    """Hillshade (GDALDEM/ESRI convention) on the Horn p/q derivatives:
        shade = 255 * max(0, cos(zen)*cos(slope)
                             + sin(zen)*sin(slope)*cos(az_rad - aspect_rad))
    with zen = 90 - altitude, az measured clockwise from north and
    aspect_rad = atan2(q, -p) in the same frame. Same halo machinery and
    all-9-valid edge rule as terrain_stats; per-tile quantized checksums
    ``(source_id, band, col, row, shade_sum, shade_count)``."""
    t = int(tile_size)
    zen = np.radians(np.float64(90.0 - altitude))
    az = np.radians(np.float64(azimuth))
    pieces = _halo_pieces(tiles, 1, t)

    def shade(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row",
                "shade_sum", "shade_count"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        a, b, c, d, e, f, g, h, i = _nb9(frame, t)
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            p = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * dx)
            q = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * dy)
            slope = np.arctan(np.sqrt(p * p + q * q))
            aspect = np.arctan2(q, -p)
            sh = 255.0 * np.maximum(
                0.0, np.cos(zen) * np.cos(slope)
                + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
        qs = np.floor(sh[ok] * _Q + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "shade_sum": int(qs.sum()), "shade_count": int(ok.sum()),
        }])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        shade, "source_id string, band bigint, col bigint, row bigint, "
               "shade_sum bigint, shade_count bigint")


def convolve_stats(tiles: DataFrame,
                   kernel: tuple = ((1.0, 2.0, 1.0),
                                    (2.0, 4.0, 2.0),
                                    (1.0, 2.0, 1.0)),
                   tile_size: int = 64) -> DataFrame:
    """Kernel CONVOLUTION (GeoTrellis focal.Convolve / Kernel) with
    cross-tile halo exchange: out = sum(w_ij * v_ij over valid cells)
    / sum(w_ij over valid cells) — the NoData-renormalizing convolution
    (a plain weighted sum would bleed NoData). Kernel must be odd-sized.

    Determinism contract (mirrored by the ``focal_conv`` SQL oracle —
    change one only with the other): the weighted terms accumulate in
    FIXED lexicographic (dr, dc) order (chained left-to-right float adds;
    the default integer kernel times the fixture's quarter-multiples is
    EXACT, so both accumulators are order-free anyway), ONE division,
    quantize-first checksums. Returns
    ``(source_id, band, col, row, conv_sum, conv_count)``."""
    kh = len(kernel)
    kw = len(kernel[0])
    if kh % 2 != 1 or kw % 2 != 1 or kh != kw:
        raise ValueError(f"kernel must be odd square: {kh}x{kw}")
    r = kh // 2
    t = int(tile_size)
    if r < 1 or r >= t:
        raise ValueError(f"kernel radius must be in 1..{t - 1}: {r}")
    pieces = _halo_pieces(tiles, r, t)

    def conv(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row",
                "conv_sum", "conv_count"]
        frame = _assemble_frame(pdf, r, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        valid = ~np.isnan(frame)
        acc = np.zeros((t, t))
        wacc = np.zeros((t, t))
        cnt = np.zeros((t, t), dtype=np.int64)
        for dr in range(-r, r + 1):
            for dc in range(-r, r + 1):
                w = float(kernel[dr + r][dc + r])
                win = frame[r + dr:r + dr + t, r + dc:r + dc + t]
                vw = valid[r + dr:r + dr + t, r + dc:r + dc + t]
                acc = acc + np.where(vw, w * win, 0.0)
                wacc = wacc + np.where(vw, w, 0.0)
                cnt = cnt + vw
        any_valid = cnt > 0
        with np.errstate(invalid="ignore", divide="ignore"):
            focal = np.where(any_valid, acc / np.where(wacc == 0.0, 1.0,
                                                       wacc), np.nan)
        q = np.floor(focal[any_valid] * _Q + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "conv_sum": int(q.sum()), "conv_count": int(any_valid.sum()),
        }])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        conv, "source_id string, band bigint, col bigint, row bigint, "
              "conv_sum bigint, conv_count bigint")


def euclidean_distance(tiles: DataFrame, mask_predicate,
                       radius: int = 5, tile_size: int = 64) -> DataFrame:
    """Bounded-radius Euclidean distance transform ACROSS tile
    boundaries (the raster sibling of GeoTrellis's Euclidean-distance
    ops, with an explicit cutoff): per valid pixel, the distance to the
    NEAREST cell of ``mask_predicate(values, gr, gc)`` within ``radius``
    cells (chebyshev window, euclidean metric, mask cells themselves get
    0); pixels with no mask cell in range are absent from the stats.

    Rides the focal halo machinery: r-wide strips, ONE co-partitioned
    shuffle, then a vectorized min-over-offsets scan ((2r+1)^2 shifted
    compares — MIN is order-independent, no quantization needed until
    the rollup). Output: (source_id, band, col, row, dist_qsum,
    n_within) with dist_qsum = sum of floor(d * 2^20 + 0.5) (each d is a
    single SQRT both engine- and oracle-side, so quantization is
    bit-identical)."""
    r, t = int(radius), int(tile_size)
    if r < 1 or r >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {r}")
    pieces = _halo_pieces(tiles, r, t)
    offs = [(dr, dc, float(np.sqrt(float(dr * dr + dc * dc))))
            for dr in range(-r, r + 1) for dc in range(-r, r + 1)
            if dr * dr + dc * dc <= r * r]

    def scan(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, r, t)
        if frame is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "dist_qsum", "n_within"])
        p = t + 2 * r
        gr = (int(row) * t - r + np.arange(p).reshape(-1, 1)) \
            + np.zeros((1, p), dtype=np.int64)
        gc = np.zeros((p, 1), dtype=np.int64) \
            + (int(col) * t - r + np.arange(p).reshape(1, -1))
        mask = mask_predicate(frame, gr, gc) & ~np.isnan(frame)
        dist = np.full((t, t), np.inf)
        for dr, dc, d in offs:
            win = mask[r + dr:r + dr + t, r + dc:r + dc + t]
            np.copyto(dist, np.minimum(dist, d), where=win)
        valid = ~np.isnan(frame[r:r + t, r:r + t])
        hit = valid & np.isfinite(dist)
        if not hit.any():
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "dist_qsum", "n_within"])
        q = np.floor(dist[hit] * 1048576.0 + 0.5).astype(np.int64)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "dist_qsum": int(q.sum()), "n_within": int(hit.sum())}])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        scan, "source_id string, band int, col bigint, row bigint, "
              "dist_qsum bigint, n_within bigint")


_D8_SQRT2 = 1.4142135623730951

# (dr, dc, distance, ESRI power-of-two code) in FIXED row-major order —
# the SQL oracle enumerates the same tuples
_D8 = [(-1, -1, _D8_SQRT2, 32), (-1, 0, 1.0, 64), (-1, 1, _D8_SQRT2, 128),
       (0, -1, 1.0, 16), (0, 1, 1.0, 1),
       (1, -1, _D8_SQRT2, 8), (1, 0, 1.0, 4), (1, 1, _D8_SQRT2, 2)]


def flow_direction(tiles: DataFrame, tile_size: int = 64) -> DataFrame:
    """D8 flow direction (the GeoTrellis raster.hydrology FlowDirection /
    ArcGIS encoding) ACROSS tile boundaries on the focal halo machinery:
    per valid cell the drop RATE to each valid neighbor is
    (z - z_n) / dist (1 orthogonal, sqrt(2) diagonal); the cell flows
    along the maximum positive rate, ties SUM their power-of-two codes
    (E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128); no positive drop -> 0
    (pit/flat). Mosaic-edge and NoData neighbors are not candidates.

    Determinism: rates are identical arithmetic on both sides, the max
    is order-free, and codes are exact integers — the per-tile rollup
    (dir_sum, n_pits, n_valid) needs no quantization."""
    t = int(tile_size)
    pieces = _halo_pieces(tiles, 1, t)

    def d8(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "dir_sum", "n_pits",
                                         "n_valid"])
        z = frame[1:1 + t, 1:1 + t]
        valid = ~np.isnan(z)
        rates = []
        best = np.full((t, t), -np.inf)
        for dr, dc, dist, code in _D8:
            zn = frame[1 + dr:1 + dr + t, 1 + dc:1 + dc + t]
            rate = np.where(~np.isnan(zn), (z - zn) / dist, -np.inf)
            rates.append(rate)
            best = np.maximum(best, rate)
        code_sum = np.zeros((t, t), dtype=np.int64)
        for (dr, dc, dist, code), rate in zip(_D8, rates):
            code_sum += np.where((rate == best) & (best > 0.0), code, 0)
        code_sum = np.where(valid, code_sum, 0)
        pits = valid & (best <= 0.0)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "dir_sum": int(code_sum.sum()),
            "n_pits": int(pits.sum()), "n_valid": int(valid.sum())}])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        d8, "source_id string, band int, col bigint, row bigint, "
            "dir_sum bigint, n_pits bigint, n_valid bigint")


def _d8_chosen(zp: np.ndarray) -> np.ndarray:
    """Single D8 direction per cell from a 1-px-NaN-padded elevation
    frame ``zp``: returns int64 (H, W) with -2 on invalid (NaN) cells,
    -1 on valid cells with no positive drop (pit/flat), else the FIRST
    max-positive-drop-rate direction index in the fixed row-major _D8
    order (ties resolve first — the SQL oracle's CASE cascade order).
    Shared by the scene solvers AND the distributed halo paths, so both
    compute bit-identical directions from the same local arithmetic."""
    H, W = zp.shape[0] - 2, zp.shape[1] - 2
    z = zp[1:1 + H, 1:1 + W]
    valid = ~np.isnan(z)
    best = np.full((H, W), -np.inf)
    rates = []
    for dr, dc, dist, code in _D8:
        zn = zp[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        rate = np.where(~np.isnan(zn), (z - zn) / dist, -np.inf)
        rates.append(rate)
        best = np.maximum(best, rate)
    chosen = np.full((H, W), -1, dtype=np.int64)
    for idx in range(len(_D8) - 1, -1, -1):
        sel = (rates[idx] == best) & (best > 0.0)
        chosen[sel] = idx
    chosen[~valid] = -2
    return chosen


def _acc_fixpoint(accf: np.ndarray, chf: np.ndarray,
                  base: np.ndarray) -> np.ndarray:
    """In-frame accumulation fixpoint (Jacobi sweeps): interior
    acc = base + sum of inflows; the frame's 1-px ring is FROZEN
    boundary input (0 for the scene solve, the neighbor tiles' current
    acc for the halo rounds). ``accf``/``chf`` are (H+2, W+2); ``base``
    is (H, W). The in-frame flow graph is acyclic (drops are strictly
    positive), so sweeps terminate in max in-frame path length; all
    values are integer-valued float64 — exact arithmetic, unique
    fixpoint regardless of the starting interior."""
    H, W = base.shape
    masks = [chf[1 - dr:1 - dr + H, 1 - dc:1 - dc + W] == idx
             for idx, (dr, dc, _, _) in enumerate(_D8)]
    srcs = [accf[1 - dr:1 - dr + H, 1 - dc:1 - dc + W]
            for dr, dc, _, _ in _D8]
    for _ in range(H * W + 1):
        nxt = base.copy()
        for idx in range(len(_D8)):
            nxt += np.where(masks[idx], srcs[idx], 0.0)
        if np.array_equal(nxt, accf[1:1 + H, 1:1 + W]):
            break
        accf[1:1 + H, 1:1 + W] = nxt
    else:  # pragma: no cover - acyclicity makes this unreachable
        raise RuntimeError("flow accumulation did not converge")
    return accf


def _scene_small(tiles: DataFrame, t: int, scene_max_px: int) -> bool:
    """Adaptive chooser (the cost_distance template): one cheap agg job
    reads the largest scene footprint; ``scene_max_px=0`` forces the
    distributed path."""
    if not scene_max_px:
        return False
    ext = tiles.groupBy("source_id", "band").agg(
        ((F.max("col") - F.min("col") + 1) * t).alias("w"),
        ((F.max("row") - F.min("row") + 1) * t).alias("h")) \
        .agg(F.max(F.greatest("w", "h")).alias("m")).collect()
    return bool(ext) and ext[0]["m"] is not None \
        and int(ext[0]["m"]) <= int(scene_max_px)


_ACC_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
               "acc_sum bigint, acc_max bigint, n_valid bigint")
_FLOW_STATE = ("source_id string, band int, col bigint, row bigint, "
               "chosen binary, acc binary, improved int, "
               "ring binary, chring binary")
_FLOW_PIECE = ("source_id string, band int, col bigint, row bigint, "
               "dr int, dc int, h int, w int, chosen binary, acc binary, "
               "ring binary, chring binary")


def _ring_store(frame: np.ndarray) -> bytes:
    """Serialize a (p, p) frame's 1-px ring (top row, bottom row, left
    column, right column — corners ride the rows) for the delta-
    propagation state (r7): retaining the last-received ring lets a
    round skip strips from tiles that did not improve, shrinking the
    per-round shuffle to the active wavefront while staying bit-exact
    (an unimproved neighbor's strip would carry the values already
    stored)."""
    return np.ascontiguousarray(np.concatenate(
        [frame[0, :], frame[-1, :],
         frame[1:-1, 0], frame[1:-1, -1]])).tobytes()


def _ring_load(frame: np.ndarray, buf: bytes, dtype) -> None:
    p = frame.shape[0]
    a = np.frombuffer(buf, dtype=dtype)
    frame[0, :] = a[:p]
    frame[-1, :] = a[p:2 * p]
    frame[1:-1, 0] = a[2 * p:3 * p - 2]
    frame[1:-1, -1] = a[3 * p - 2:]


def _acc_rollup_rows(source_id, band, row_t, up, va):
    return {"source_id": source_id, "band": band,
            "col": int(row_t.col), "row": int(row_t.row),
            "acc_sum": int(up[va].sum()),
            "acc_max": int(up[va].max()) if va.any() else 0,
            "n_valid": int(va.sum())}


def _flow_acc_scene(tiles: DataFrame, t: int) -> DataFrame:
    """Small-scene fast path: one applyInPandas task per (source, band)
    assembles the mosaic and sweeps to the fixpoint directly."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        z = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            z[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
              (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(arr == row_t.nodata, np.nan, arr)
        H, W = z.shape
        valid = ~np.isnan(z)
        chosen = _d8_chosen(np.pad(z, 1, constant_values=np.nan))
        base = np.where(valid, 1.0, 0.0)
        accf = _acc_fixpoint(np.pad(base, 1, constant_values=0.0),
                             np.pad(chosen, 1, constant_values=-1), base)
        acc = accf[1:1 + H, 1:1 + W]
        up = np.where(valid, acc - 1.0, 0.0).astype(np.int64)  # exclusive
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            out.append(_acc_rollup_rows(source_id, band, row_t,
                                        up[ty:ty + t, tx:tx + t],
                                        valid[ty:ty + t, tx:tx + t]))
        return pd.DataFrame(out, columns=["source_id", "band", "col",
                                          "row", "acc_sum", "acc_max",
                                          "n_valid"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        run, _ACC_SCHEMA)


def _flow_rounds_state(tiles: DataFrame, t: int,
                       max_iter: int) -> DataFrame:
    """Converged distributed flow state (the cost_distance
    synchronous-rounds template, r5 verdict task 1): NO scene-size
    bound. Round 0 computes each tile's D8 directions from a 1-px
    elevation halo (one shuffle) and its in-tile accumulation fixpoint
    with zero boundary inflow; each subsequent round exchanges 1-px
    (acc, chosen) edge strips and re-sweeps the in-tile fixpoint
    against the neighbors' frozen acc. Values only INCREASE toward the
    true accumulation (monotone inflow fixpoint over an acyclic
    graph), so the global no-tile-improved fixpoint is exact and
    bit-identical to the scene solve; round count is bounded by the
    max number of tile-boundary crossings of any flow path, fail-loud
    at ``max_iter``. Per-round shuffle volume is ~1.06x the acc bytes —
    strips only, never full-tile replication. Returns the per-tile
    (chosen, acc) state — consumed by the accumulation rollup and by
    :func:`stream_network`'s distributed path."""

    def init(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "chosen", "acc",
                                         "improved", "ring", "chring"])
        chosen = _d8_chosen(frame)
        base = (chosen >= -1).astype(np.float64)
        accf = _acc_fixpoint(np.zeros((t + 2, t + 2)),
                             np.pad(chosen, 1, constant_values=-1), base)
        p = t + 2
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "chosen": chosen.astype(np.int8).tobytes(),
            "acc": pack(np.ascontiguousarray(accf[1:1 + t, 1:1 + t])),
            "improved": 1,
            # round-0 ring state: zero boundary inflow, no-flow ring
            "ring": np.zeros(4 * p - 4).tobytes(),
            "chring": np.full(4 * p - 4, -1, dtype=np.int8).tobytes()}])

    state = compute_grouped(_halo_pieces(tiles, 1, t),
                            "source_id", "band", "col", "row") \
        .applyInPandas(init, _FLOW_STATE).localCheckpoint(eager=True)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "dr": 0, "dc": 0, "h": t, "w": t,
                            "chosen": row_t.chosen, "acc": row_t.acc,
                            "ring": row_t.ring, "chring": row_t.chring})
                # delta propagation (r7): an unimproved tile's edge
                # strips are unchanged since it last sent them — every
                # neighbor already holds those exact values in its ring
                # state, so skipping them is bit-exact and the shuffle
                # shrinks to the active wavefront
                if not int(row_t.improved):
                    continue
                ch = np.frombuffer(row_t.chosen,
                                   dtype=np.int8).reshape(t, t)
                acc = np.frombuffer(row_t.acc,
                                    dtype=np.float64).reshape(t, t)
                for dr, dc in [(a, b) for a in (-1, 0, 1)
                               for b in (-1, 0, 1) if (a, b) != (0, 0)]:
                    rows = slice(None) if dr == 0 else (
                        slice(-1, None) if dr == 1 else slice(0, 1))
                    cols = slice(None) if dc == 0 else (
                        slice(-1, None) if dc == 1 else slice(0, 1))
                    chp = np.ascontiguousarray(ch[rows, cols])
                    if not (chp >= 0).any():
                        continue  # no cell on this edge flows anywhere
                    acp = np.ascontiguousarray(acc[rows, cols])
                    out.append({"source_id": row_t.source_id,
                                "band": int(row_t.band),
                                "col": int(row_t.col) + dc,
                                "row": int(row_t.row) + dr,
                                "dr": dr, "dc": dc,
                                "h": chp.shape[0], "w": chp.shape[1],
                                "chosen": chp.tobytes(),
                                "acc": pack(acp),
                                "ring": None, "chring": None})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "dr", "dc", "h", "w",
                "chosen", "acc", "ring", "chring"])

    def relax(pdf: pd.DataFrame) -> pd.DataFrame:
        p = t + 2
        center = None
        strips = []
        for row_t in pdf.itertuples(index=False):
            if int(row_t.dr) == 0 and int(row_t.dc) == 0:
                center = row_t
            else:
                strips.append(row_t)
        if center is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "chosen", "acc",
                                         "improved", "ring", "chring"])
        if not strips:
            # pass-through (r7 delta propagation): no new strips means
            # the frozen ring is unchanged, so the in-tile fixpoint —
            # a pure function of (ring, chosen, base) — cannot move
            return pd.DataFrame([{
                "source_id": center.source_id, "band": int(center.band),
                "col": int(center.col), "row": int(center.row),
                "chosen": center.chosen, "acc": center.acc,
                "improved": 0, "ring": center.ring,
                "chring": center.chring}])
        chf = np.empty((p, p), dtype=np.int8)
        accf = np.empty((p, p))
        _ring_load(chf, center.chring, np.int8)
        _ring_load(accf, center.ring, np.float64)
        chf[1:1 + t, 1:1 + t] = np.frombuffer(
            center.chosen, dtype=np.int8).reshape(t, t)
        accf[1:1 + t, 1:1 + t] = np.frombuffer(
            center.acc, dtype=np.float64).reshape(t, t)
        for row_t in strips:
            ch = np.frombuffer(row_t.chosen, dtype=np.int8) \
                   .reshape(int(row_t.h), int(row_t.w))
            ac = np.frombuffer(row_t.acc, dtype=np.float64) \
                   .reshape(int(row_t.h), int(row_t.w))
            dr, dc = int(row_t.dr), int(row_t.dc)
            rows = slice(1, 1 + t) if dr == 0 else (
                slice(0, 1) if dr == 1 else slice(p - 1, p))
            cols = slice(1, 1 + t) if dc == 0 else (
                slice(0, 1) if dc == 1 else slice(p - 1, p))
            chf[rows, cols] = ch
            accf[rows, cols] = ac
        ring_b = _ring_store(accf)
        chring_b = _ring_store(chf)
        old = accf[1:1 + t, 1:1 + t].copy()
        base = (chf[1:1 + t, 1:1 + t] >= -1).astype(np.float64)
        new = _acc_fixpoint(accf, chf, base)[1:1 + t, 1:1 + t]
        improved = int(bool(np.any(new != old)))
        return pd.DataFrame([{
            "source_id": center.source_id, "band": int(center.band),
            "col": int(center.col), "row": int(center.row),
            "chosen": center.chosen, "acc": pack(new),
            "improved": improved, "ring": ring_b,
            "chring": chring_b}])

    def step(state: DataFrame) -> DataFrame:
        return compute_grouped(state.mapInPandas(cut, _FLOW_PIECE),
                               "source_id", "band", "col", "row") \
            .applyInPandas(relax, _FLOW_STATE)

    return fixpoint(state, step, F.max("improved"), max_rounds=max_iter,
                    what="flow_accumulation")


def _flow_acc_rounds(tiles: DataFrame, t: int, max_iter: int) -> DataFrame:
    """Distributed accumulation rollup over the converged
    :func:`_flow_rounds_state`."""
    state = _flow_rounds_state(tiles, t, max_iter)

    def rollup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                ch = np.frombuffer(row_t.chosen,
                                   dtype=np.int8).reshape(t, t)
                acc = np.frombuffer(row_t.acc,
                                    dtype=np.float64).reshape(t, t)
                va = ch >= -1
                up = np.where(va, acc - 1.0, 0.0).astype(np.int64)
                out.append(_acc_rollup_rows(row_t.source_id,
                                            int(row_t.band), row_t,
                                            up, va))
            yield pd.DataFrame(out, columns=["source_id", "band", "col",
                                             "row", "acc_sum", "acc_max",
                                             "n_valid"])

    return state.mapInPandas(rollup, _ACC_SCHEMA)


def flow_accumulation(tiles: DataFrame, tile_size: int = 64,
                      scene_max_px: int = 1 << 11,
                      max_iter: int = 64) -> DataFrame:
    """D8 flow accumulation (GeoTrellis raster.hydrology
    FlowAccumulation analog): per valid cell the COUNT of upstream cells
    whose single-direction D8 path passes through it (exclusive, the
    ArcGIS convention). Direction per cell = the max positive drop rate;
    ties resolve to the FIRST direction in the fixed row-major _D8 order
    (deterministic, mirrored by the SQL oracle's CASE cascade); pits and
    flats have no outflow.

    Adaptive strategy (the cost_distance template): when every scene's
    tile footprint fits ``scene_max_px`` on a side, each scene solves in
    ONE task; otherwise — or with ``scene_max_px=0`` forcing it — the
    synchronous halo-rounds path runs with NO scene-size bound
    (bit-identical values; r5 verdict task 1). Output per tile:
    (source_id, band, col, row, acc_sum, acc_max, n_valid)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return _flow_acc_scene(tiles, t)
    return _flow_acc_rounds(tiles, t, max_iter)


def _ptr_double(ptr: np.ndarray, *carry: np.ndarray) -> tuple:
    """In-memory pointer doubling to the fixpoint: log(depth) rounds of
    ptr = ptr[ptr], each integer ``carry`` array ADDING along the
    pointer (c = c + c[ptr]; exact — integer addition is associative).
    Terminals self-point with zero carry, so a round applied after
    convergence adds zero. Returns ``(ptr, *carry)``; fail-loud at 64
    rounds."""
    for _ in range(64):
        nxt = ptr[ptr]
        carry = tuple(c + c[ptr] for c in carry)
        if np.array_equal(nxt, ptr):
            return (nxt, *carry)
        ptr = nxt
    raise RuntimeError(  # pragma: no cover
        "in-memory pointer doubling did not settle")


def _own_ring(t: int) -> np.ndarray:
    """Flat indices, in a tile's (t+2)^2 halo frame, of the tile's OWN
    1-px ring — the cells neighbor tiles can point into: top row, bottom
    row, then the left and right columns between them."""
    fi = np.arange((t + 2) ** 2, dtype=np.int64).reshape(t + 2, t + 2)
    if t == 1:
        return fi[1, 1:2]
    return np.concatenate([fi[1, 1:1 + t], fi[t, 1:1 + t],
                           fi[2:t, 1], fi[2:t, t]])


def _frame_gids(col: int, row: int, t: int) -> np.ndarray:
    """Global pixel id (gr*4096 + gc, the scene solves' label encoding)
    of every flat index of tile (col, row)'s (t+2)^2 halo frame."""
    p = t + 2
    idxs = np.arange(p * p, dtype=np.int64)
    return (int(row) * t + idxs // p - 1) * 4096 \
        + (int(col) * t + idxs % p - 1)


_WSHED_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                 "basin_qsum bigint, n_basins bigint, n_valid bigint")


def _watershed_scene(tiles: DataFrame, t: int) -> DataFrame:
    """Small-scene fast path: one task per (source, band) assembles the
    mosaic and resolves labels by in-memory pointer doubling."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        z = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            z[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
              (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(arr == row_t.nodata, np.nan, arr)
        H, W = z.shape
        valid = ~np.isnan(z)
        chosen = _d8_chosen(np.pad(z, 1, constant_values=np.nan))
        # flat pointer array: terminal cells point to themselves
        n = H * W
        idxs = np.arange(n, dtype=np.int64)
        ptr = idxs.copy()
        flat_ch = chosen.ravel()
        for k, (dr, dc, _, _) in enumerate(_D8):
            sel = flat_ch == k
            ptr[sel] = idxs[sel] + dr * W + dc
        ptr = _ptr_double(ptr)[0]
        gi = (r0 * t + (ptr // W)) * 4096 + (c0 * t + (ptr % W))
        labels = np.where(valid.ravel(), gi, -1).reshape(H, W)
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            lab = labels[ty:ty + t, tx:tx + t]
            va = valid[ty:ty + t, tx:tx + t]
            out.append({"source_id": source_id, "band": band,
                        "col": int(row_t.col), "row": int(row_t.row),
                        "basin_qsum": int(lab[va].sum()),
                        "n_basins": int(np.unique(lab[va]).size),
                        "n_valid": int(va.sum())})
        return pd.DataFrame(out, columns=["source_id", "band", "col",
                                          "row", "basin_qsum",
                                          "n_basins", "n_valid"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        run, _WSHED_SCHEMA)


_WSHED_PART = ("source_id string, band int, col bigint, row bigint, "
               "kind int, gid bigint, rep bigint, cnt bigint, final int")


def _watershed_dist(tiles: DataFrame, t: int, max_rounds: int) -> DataFrame:
    """Distributed path (r5 verdict task 1 — the pointer doubling lifted
    OUT of the scene task onto a label table): NO scene-size bound.

    1. ONE halo shuffle per tile computes D8 directions from the 1-px
       elevation halo and resolves every in-tile cell by LOCAL pointer
       doubling to either an in-tile terminal (final label) or its first
       out-of-tile cell (a border cell of the neighbor tile). Emitted:
       per-tile (rep, count) GROUP rows — cells contracted by shared
       destination — plus a border-resolution row for each of the
       tile's own ring cells (O(perimeter) per tile, a 16x contraction
       at t=64; the label table a 100-TB run pointer-doubles is the
       PERIMETER table, not the pixel table).
    2. Distributed pointer doubling on the border table: non-final rows
       self-join rep -> gid each round, so resolved-hop count doubles —
       log2(max tile-boundary crossings) rounds of a tiny-table join,
       fail-loud at ``max_rounds`` (a dropped invariant leaves rows
       non-final forever, which the cap surfaces).
    3. Group rows join the resolved border labels; per-tile rollups are
       pure JVM aggregation (sum(rep*cnt), countDistinct, sum(cnt)).

    Bit-identical to the scene solve: directions come from the same
    _d8_chosen arithmetic, labels use the same gr*4096+gc encoding, and
    basin paths are followed exactly (no approximation anywhere)."""
    p = t + 2

    def resolve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row", "kind", "gid", "rep",
                "cnt", "final"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        chosen = _d8_chosen(frame)
        valid = chosen >= -1
        # frame-local pointer array: halo ring + terminals self-point
        idxs = np.arange(p * p, dtype=np.int64)
        ptr = idxs.copy()
        interior = np.zeros((p, p), dtype=bool)
        interior[1:1 + t, 1:1 + t] = True
        chf = np.full((p, p), -2, dtype=np.int64)
        chf[1:1 + t, 1:1 + t] = chosen
        flat_ch = chf.ravel()
        for k, (dr, dc, _, _) in enumerate(_D8):
            sel = flat_ch == k
            ptr[sel] = idxs[sel] + dr * p + dc
        ptr = _ptr_double(ptr)[0]
        gid_of = _frame_gids(col, row, t)
        dest = ptr[interior.ravel()]                 # per interior cell
        va = valid.ravel()
        dest_final = interior.ravel()[dest]          # settled in-tile?
        out = []
        # GROUP rows: interior valid cells contracted by destination
        dv, cv = np.unique(
            np.stack([dest[va], dest_final[va].astype(np.int64)], axis=1),
            axis=0, return_counts=True)
        for (d, fin), cnt in zip(dv, cv):
            out.append({"source_id": source_id, "band": int(band),
                        "col": int(col), "row": int(row), "kind": 0,
                        "gid": 0, "rep": int(gid_of[d]),
                        "cnt": int(cnt), "final": int(fin)})
        # BORDER rows: the tile's own 1-px ring, valid cells only
        for cell in _own_ring(t):
            li = cell // p - 1, cell % p - 1
            if not valid[li[0], li[1]]:
                continue
            d = ptr[cell]
            out.append({"source_id": source_id, "band": int(band),
                        "col": int(col), "row": int(row), "kind": 1,
                        "gid": int(gid_of[cell]), "rep": int(gid_of[d]),
                        "cnt": 0,
                        "final": int(bool(interior.ravel()[d]))})
        return pd.DataFrame(out, columns=cols)

    parts = compute_grouped(_halo_pieces(tiles, 1, t),
                            "source_id", "band", "col", "row") \
        .applyInPandas(resolve, _WSHED_PART).localCheckpoint(eager=True)

    border, bc = pointer_double(
        parts.filter(F.col("kind") == 1)
        .select("source_id", "band", "gid", "rep", "final"),
        [], max_rounds=max_rounds,
        what="watershed_labels border resolution")

    groups = parts.filter(F.col("kind") == 0) \
        .select("source_id", "band", "col", "row", "rep", "cnt", "final")
    gdone = groups.filter(F.col("final") == 1) \
        .select("source_id", "band", "col", "row",
                F.col("rep").alias("label"), "cnt")
    gtodo = groups.filter(F.col("final") == 0).alias("g").join(
        bc(border.select("source_id", "band", F.col("gid").alias("bgid"),
                         F.col("rep").alias("label")).alias("m")),
        on=[F.col("g.source_id") == F.col("m.source_id"),
            F.col("g.band") == F.col("m.band"),
            F.col("g.rep") == F.col("m.bgid")]) \
        .select(F.col("g.source_id").alias("source_id"),
                F.col("g.band").alias("band"),
                F.col("g.col").alias("col"), F.col("g.row").alias("row"),
                "label", F.col("g.cnt").alias("cnt"))
    return gdone.unionByName(gtodo) \
        .groupBy("source_id", "band", "col", "row") \
        .agg(F.sum(F.col("label") * F.col("cnt")).alias("basin_qsum"),
             F.countDistinct(F.when(F.col("cnt") > 0,
                                    F.col("label"))).alias("n_basins"),
             F.sum("cnt").alias("n_valid"))


def watershed_labels(tiles: DataFrame, tile_size: int = 64,
                     scene_max_px: int = 1 << 11,
                     max_rounds: int = 64) -> DataFrame:
    """Watershed / drainage-basin labeling: every valid cell is labeled
    with the global pixel id (gr*4096 + gc) of the TERMINAL cell (pit or
    flat) its single-direction D8 path drains to — same direction rule
    as flow_accumulation (first max positive drop, fixed order).

    Adaptive strategy (the cost_distance template): scenes fitting
    ``scene_max_px`` on a side solve in ONE pointer-doubling task;
    otherwise — or with ``scene_max_px=0`` forcing it — the distributed
    contraction path runs: in-tile pointer doubling to the tile border,
    then distributed pointer doubling over the O(perimeter) border
    table (bit-identical labels, r5 verdict task 1). Output per tile:
    (source_id, band, col, row, basin_qsum = exact int64 sum of labels,
    n_basins = distinct basins touching the tile, n_valid)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return _watershed_scene(tiles, t)
    return _watershed_dist(tiles, t, max_rounds)


# ---------------------------------------------------------------------------
# Fill sinks (Planchon & Darboux 2001, eps=0, 8-connectivity) — the
# standard DEM pit-filling preprocessing ahead of D8 flow direction /
# accumulation (GeoTrellis raster.hydrology family; the reference feeds
# hydrology through the same tiled RasterSource plumbing, e.g.
# /root/reference/gdal/src/it/scala/geotrellis/contrib/vlm/SubsceneReadingIT.scala:91-97).
#
# Semantics: W is the unique fixpoint of W(c) = max(dem(c), min over the
# 8 neighbors n of W(n)), starting from W = +inf on interior valid cells,
# where NoData cells and cells beyond the data edge act as OUTLETS
# (encoded uniformly as W = -inf, so a cell adjacent to one relaxes to
# its own dem — no special boundary init). Equivalently W(c) = the min
# over escape paths to an outlet of the max dem along the path ("the
# level water settles at"). W only DECREASES toward the fixpoint, values
# are SELECTED from the dem's value set (max/min only, zero arithmetic),
# so scene and distributed paths are bit-identical by construction.
# ---------------------------------------------------------------------------

_FILL_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                "n_valid bigint, n_filled bigint, q_fill_sum bigint")
_FILL_STATE = ("source_id string, band int, col bigint, row bigint, "
               "dem binary, w binary, improved int, ring binary")
_FILL_PIECE = ("source_id string, band int, col bigint, row bigint, "
               "dr int, dc int, h int, w int, wvals binary, ring binary")


def _fill_gs(wf: np.ndarray, z: np.ndarray, valid: np.ndarray) -> None:
    """In-frame Gauss–Seidel Planchon–Darboux sweeps to the LOCAL
    fixpoint, in place. ``wf`` is the (H+2, W+2) water frame whose 1-px
    ring is FROZEN input (-inf = outlet, +inf = unknown neighbor,
    else the neighbor's current W); interior carries the current state
    (-inf on invalid cells). Four row/column sweeps per macro round
    (down/up/right/left — each uses already-updated predecessor lines,
    so information crosses the frame in one sweep per direction);
    terminates when a full round changes nothing. W is monotone
    non-increasing and drawn from a finite value set, so termination is
    guaranteed; the guard is a pure fail-loud."""
    H, W = z.shape

    def relax_line(fi_line, prev, same_l, same_r, nxt, zi, vi):
        m = np.minimum(np.minimum(
            np.minimum(prev[:-2], prev[1:-1]), prev[2:]),
            np.minimum(np.minimum(same_l, same_r),
                       np.minimum(np.minimum(nxt[:-2], nxt[1:-1]),
                                  nxt[2:])))
        cand = np.maximum(zi, m)
        return np.where(vi, np.minimum(fi_line, cand), fi_line)

    for _ in range(H * W + 2):
        before = wf[1:1 + H, 1:1 + W].copy()
        for i in range(H):                       # down sweep
            fi = i + 1
            wf[fi, 1:-1] = relax_line(
                wf[fi, 1:-1], wf[fi - 1], wf[fi, :-2], wf[fi, 2:],
                wf[fi + 1], z[i], valid[i])
        for i in range(H - 1, -1, -1):           # up sweep
            fi = i + 1
            wf[fi, 1:-1] = relax_line(
                wf[fi, 1:-1], wf[fi - 1], wf[fi, :-2], wf[fi, 2:],
                wf[fi + 1], z[i], valid[i])
        for j in range(W):                       # right sweep
            fj = j + 1
            wf[1:-1, fj] = relax_line(
                wf[1:-1, fj], wf[:, fj - 1], wf[:-2, fj], wf[2:, fj],
                wf[:, fj + 1], z[:, j], valid[:, j])
        for j in range(W - 1, -1, -1):           # left sweep
            fj = j + 1
            wf[1:-1, fj] = relax_line(
                wf[1:-1, fj], wf[:, fj - 1], wf[:-2, fj], wf[2:, fj],
                wf[:, fj + 1], z[:, j], valid[:, j])
        if np.array_equal(before, wf[1:1 + H, 1:1 + W]):
            return
    raise RuntimeError(
        "fill_sinks: in-frame sweep guard exceeded")  # pragma: no cover


def _fill_rollup_row(source_id, band, col, row, w, z, valid, q_fill):
    filled = valid & (w > z)
    return {"source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "n_valid": int(valid.sum()),
            "n_filled": int(filled.sum()),
            "q_fill_sum": int(np.floor(w * q_fill + 0.5)[valid]
                              .astype(np.int64).sum())}


def _fill_scene(tiles: DataFrame, t: int, q_fill: float) -> DataFrame:
    """Small-scene fast path: one task per (source, band) assembles the
    mosaic and sweeps to the global fixpoint directly."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        z = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            z[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
              (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(arr == row_t.nodata, np.nan, arr)
        valid = ~np.isnan(z)
        wf = np.full((z.shape[0] + 2, z.shape[1] + 2), -np.inf)
        wf[1:-1, 1:-1] = np.where(valid, np.inf, -np.inf)
        _fill_gs(wf, z, valid)
        w = wf[1:-1, 1:-1]
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            sl = (slice(ty, ty + t), slice(tx, tx + t))
            out.append(_fill_rollup_row(source_id, band, row_t.col,
                                        row_t.row, w[sl], z[sl],
                                        valid[sl], q_fill))
        return pd.DataFrame(out, columns=["source_id", "band", "col",
                                          "row", "n_valid", "n_filled",
                                          "q_fill_sum"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        run, _FILL_SCHEMA)


def _fill_rounds(tiles: DataFrame, t: int, q_fill: float,
                 max_iter: int) -> DataFrame:
    """Distributed path (the cost_distance / flow_accumulation
    synchronous-rounds template): NO scene-size bound. Round 0 solves
    each tile's local fixpoint with +inf (unknown) on data-neighbor
    ring cells and -inf (outlet) on absent/NoData ring cells; each
    round exchanges 1-px W edge strips and re-sweeps against the
    neighbors' frozen W. Ring inputs only DECREASE per round, so the
    in-tile fixpoints decrease monotonically to the global fixpoint —
    exact, bit-identical to the scene solve (selection only, no
    arithmetic). Per-round shuffle is O(perimeter) strips."""

    def init(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "dem", "w", "improved",
                                         "ring"])
        z = frame[1:1 + t, 1:1 + t]
        valid = ~np.isnan(z)
        wf = np.where(np.isnan(frame), -np.inf, np.inf)
        wf[1:1 + t, 1:1 + t] = np.where(valid, np.inf, -np.inf)
        _fill_gs(wf, z, valid)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "dem": pack(np.ascontiguousarray(z)),
            "w": pack(np.ascontiguousarray(wf[1:1 + t, 1:1 + t])),
            "improved": 1,
            # round-0 ring memory = the old per-round assembly default
            # (-inf everywhere): every EXISTING neighbor sends its
            # strips in round 1 (improved=1 out of init), absent
            # neighbors are outlets (-inf) forever
            "ring": np.full(4 * (t + 2) - 4, -np.inf).tobytes()}])

    state = compute_grouped(_halo_pieces(tiles, 1, t),
                            "source_id", "band", "col", "row") \
        .applyInPandas(init, _FILL_STATE).localCheckpoint(eager=True)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "dr": 0, "dc": 0, "h": t, "w": t,
                            "wvals": row_t.w, "dem": row_t.dem,
                            "ring": row_t.ring})
                # delta propagation (r7): unimproved tiles' strips are
                # unchanged since last sent — receivers hold them in
                # ring memory, so skipping is bit-exact (see
                # _flow_rounds_state)
                if not int(row_t.improved):
                    continue
                w = np.frombuffer(row_t.w, dtype=np.float64) \
                      .reshape(t, t)
                for dr, dc in [(a, b) for a in (-1, 0, 1)
                               for b in (-1, 0, 1) if (a, b) != (0, 0)]:
                    rows = slice(None) if dr == 0 else (
                        slice(-1, None) if dr == 1 else slice(0, 1))
                    cols = slice(None) if dc == 0 else (
                        slice(-1, None) if dc == 1 else slice(0, 1))
                    wp = np.ascontiguousarray(w[rows, cols])
                    out.append({"source_id": row_t.source_id,
                                "band": int(row_t.band),
                                "col": int(row_t.col) + dc,
                                "row": int(row_t.row) + dr,
                                "dr": dr, "dc": dc,
                                "h": wp.shape[0], "w": wp.shape[1],
                                "wvals": pack(wp), "dem": b"",
                                "ring": None})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "dr", "dc",
                "h", "w", "wvals", "dem", "ring"])

    def relax(pdf: pd.DataFrame) -> pd.DataFrame:
        p = t + 2
        center = None
        strips = []
        for row_t in pdf.itertuples(index=False):
            if int(row_t.dr) == 0 and int(row_t.dc) == 0:
                center = row_t
            else:
                strips.append(row_t)
        if center is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "dem", "w", "improved",
                                         "ring"])
        if not strips:
            # pass-through (r7): unchanged ring => unchanged fixpoint
            return pd.DataFrame([{
                "source_id": center.source_id, "band": int(center.band),
                "col": int(center.col), "row": int(center.row),
                "dem": center.dem, "w": center.wvals,
                "improved": 0, "ring": center.ring}])
        wf = np.empty((p, p))
        _ring_load(wf, center.ring, np.float64)
        wf[1:1 + t, 1:1 + t] = np.frombuffer(
            center.wvals, dtype=np.float64).reshape(t, t)
        for row_t in strips:
            wv = np.frombuffer(row_t.wvals, dtype=np.float64) \
                   .reshape(int(row_t.h), int(row_t.w))
            dr, dc = int(row_t.dr), int(row_t.dc)
            rows = slice(1, 1 + t) if dr == 0 else (
                slice(0, 1) if dr == 1 else slice(p - 1, p))
            cols = slice(1, 1 + t) if dc == 0 else (
                slice(0, 1) if dc == 1 else slice(p - 1, p))
            wf[rows, cols] = wv
        ring_b = _ring_store(wf)
        z = np.frombuffer(center.dem, dtype=np.float64).reshape(t, t)
        valid = ~np.isnan(z)
        old = wf[1:1 + t, 1:1 + t].copy()
        _fill_gs(wf, z, valid)
        new = wf[1:1 + t, 1:1 + t]
        return pd.DataFrame([{
            "source_id": center.source_id, "band": int(center.band),
            "col": int(center.col), "row": int(center.row),
            "dem": center.dem, "w": pack(np.ascontiguousarray(new)),
            "improved": int(bool(np.any(new != old))),
            "ring": ring_b}])

    piece_schema = _FILL_PIECE + ", dem binary"

    def step(state: DataFrame) -> DataFrame:
        return compute_grouped(state.mapInPandas(cut, piece_schema),
                               "source_id", "band", "col", "row") \
            .applyInPandas(relax, _FILL_STATE)

    state = fixpoint(state, step, F.max("improved"), max_rounds=max_iter,
                     what="fill_sinks")

    def rollup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                z = np.frombuffer(row_t.dem,
                                  dtype=np.float64).reshape(t, t)
                w = np.frombuffer(row_t.w,
                                  dtype=np.float64).reshape(t, t)
                valid = ~np.isnan(z)
                out.append(_fill_rollup_row(
                    row_t.source_id, int(row_t.band), row_t.col,
                    row_t.row, w, z, valid, q_fill))
            yield pd.DataFrame(out, columns=["source_id", "band", "col",
                                             "row", "n_valid",
                                             "n_filled", "q_fill_sum"])

    return state.mapInPandas(rollup, _FILL_SCHEMA)


def fill_sinks(tiles: DataFrame, tile_size: int = 64,
               scene_max_px: int = 1 << 11, max_iter: int = 64,
               q_fill: float = 4.0) -> DataFrame:
    """Planchon–Darboux sink filling (eps=0, 8-connectivity) — see the
    block comment above. Adaptive strategy (the cost_distance
    template): scenes fitting ``scene_max_px`` on a side solve in ONE
    task; otherwise — or with ``scene_max_px=0`` forcing it — the
    synchronous halo-rounds path runs with no scene-size bound
    (bit-identical: the fill is pure max/min SELECTION over dem
    values). Output per tile: (source_id, band, col, row, n_valid,
    n_filled = cells raised above their dem, q_fill_sum =
    Σ floor(W·q + 0.5) over valid cells)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return _fill_scene(tiles, t, q_fill)
    return _fill_rounds(tiles, t, q_fill, max_iter)


# ---------------------------------------------------------------------------
# Stream network extraction — the hydrology product built ON TOP of flow
# accumulation (GeoTrellis/ArcGIS convention: stream cells are cells
# whose exclusive accumulation reaches a threshold; channel heads are
# stream cells with no upstream stream cell; links follow the D8
# direction). Selection + integer ids only — exact.
# ---------------------------------------------------------------------------

_STREAM_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                  "n_stream bigint, n_heads bigint, link_qsum bigint")


def _stream_cell_arrays(chf: np.ndarray, accf: np.ndarray, thr: int):
    """From 1-px-padded chosen/acc frames: (stream, heads, streamf).
    stream = valid & exclusive acc >= thr; head = stream with no
    8-neighbor stream cell whose D8 direction points at it (neighbor
    at offset (dr,dc) points back along direction index 7-idx — the
    fixed row-major _D8 order is antisymmetric under reversal)."""
    H, W = chf.shape[0] - 2, chf.shape[1] - 2
    streamf = (chf >= -1) & (accf - 1.0 >= float(thr))
    stream = streamf[1:1 + H, 1:1 + W]
    inflow = np.zeros((H, W), dtype=bool)
    for idx, (dr, dc, _, _) in enumerate(_D8):
        nb_stream = streamf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        nb_ch = chf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        inflow |= nb_stream & (nb_ch == (7 - idx))
    return stream, stream & ~inflow, streamf


def _stream_link_terms(stream, streamf, ch, GR, GC):
    """Per-cell outgoing-link term: for a stream cell whose D8 target
    is also a stream cell, the target's global id GR*4096 + GC; else 0.
    Each cell has at most one outgoing direction, so this is exact."""
    H, W = stream.shape
    terms = np.zeros((H, W), dtype=np.int64)
    for idx, (dr, dc, _, _) in enumerate(_D8):
        nb_stream = streamf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        sel = stream & (ch == idx) & nb_stream
        terms += np.where(sel, (GR + dr) * 4096 + (GC + dc), 0)
    return terms


def _stream_scene(tiles: DataFrame, t: int, thr: int) -> DataFrame:
    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        z = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            z[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
              (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(arr == row_t.nodata, np.nan, arr)
        H, W = z.shape
        chosen = _d8_chosen(np.pad(z, 1, constant_values=np.nan))
        base = np.where(~np.isnan(z), 1.0, 0.0)
        accf = _acc_fixpoint(np.pad(base, 1, constant_values=0.0),
                             np.pad(chosen, 1, constant_values=-1),
                             base)
        chf = np.pad(chosen, 1, constant_values=-2)
        stream, heads, streamf = _stream_cell_arrays(chf, accf, thr)
        GR = (np.arange(H) + r0 * t).reshape(-1, 1) + np.zeros(
            (1, W), dtype=np.int64)
        GC = (np.arange(W) + c0 * t).reshape(1, -1) + np.zeros(
            (H, 1), dtype=np.int64)
        terms = _stream_link_terms(stream, streamf, chosen, GR, GC)
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            sl = (slice(ty, ty + t), slice(tx, tx + t))
            out.append({"source_id": source_id, "band": band,
                        "col": int(row_t.col), "row": int(row_t.row),
                        "n_stream": int(stream[sl].sum()),
                        "n_heads": int(heads[sl].sum()),
                        "link_qsum": int(terms[sl].sum())})
        return pd.DataFrame(out, columns=["source_id", "band", "col",
                                          "row", "n_stream", "n_heads",
                                          "link_qsum"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        run, _STREAM_SCHEMA)


def _stream_dist(tiles: DataFrame, t: int, thr: int,
                 max_iter: int) -> DataFrame:
    """Distributed path: ONE more halo pass over the converged
    :func:`_flow_rounds_state` — (chosen, acc) strips exchange
    UNCONDITIONALLY (unlike the accumulation cut, a non-flowing
    neighbor cell can still be a stream TARGET: a pit with acc past
    the threshold), then the same local stream/head/link arrays."""
    state = _flow_rounds_state(tiles, t, max_iter)

    def cut_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                ch = np.frombuffer(row_t.chosen,
                                   dtype=np.int8).reshape(t, t)
                acc = np.frombuffer(row_t.acc,
                                    dtype=np.float64).reshape(t, t)
                out.append({"source_id": row_t.source_id,
                            "band": int(row_t.band),
                            "col": int(row_t.col), "row": int(row_t.row),
                            "dr": 0, "dc": 0, "h": t, "w": t,
                            "chosen": row_t.chosen, "acc": row_t.acc})
                for dr, dc in [(a, b) for a in (-1, 0, 1)
                               for b in (-1, 0, 1) if (a, b) != (0, 0)]:
                    rows = slice(None) if dr == 0 else (
                        slice(-1, None) if dr == 1 else slice(0, 1))
                    cols = slice(None) if dc == 0 else (
                        slice(-1, None) if dc == 1 else slice(0, 1))
                    chp = np.ascontiguousarray(ch[rows, cols])
                    acp = np.ascontiguousarray(acc[rows, cols])
                    out.append({"source_id": row_t.source_id,
                                "band": int(row_t.band),
                                "col": int(row_t.col) + dc,
                                "row": int(row_t.row) + dr,
                                "dr": dr, "dc": dc,
                                "h": chp.shape[0], "w": chp.shape[1],
                                "chosen": chp.tobytes(),
                                "acc": pack(acp)})
            yield pd.DataFrame(out, columns=[
                "source_id", "band", "col", "row", "dr", "dc", "h", "w",
                "chosen", "acc"])

    def rollup(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        p = t + 2
        chf = np.full((p, p), -2, dtype=np.int64)
        accf = np.zeros((p, p))
        center = False
        for row_t in pdf.itertuples(index=False):
            ch = np.frombuffer(row_t.chosen, dtype=np.int8) \
                   .reshape(int(row_t.h), int(row_t.w))
            ac = np.frombuffer(row_t.acc, dtype=np.float64) \
                   .reshape(int(row_t.h), int(row_t.w))
            dr, dc = int(row_t.dr), int(row_t.dc)
            if dr == 0 and dc == 0:
                center = True
                chf[1:1 + t, 1:1 + t] = ch
                accf[1:1 + t, 1:1 + t] = ac
            else:
                rows = slice(1, 1 + t) if dr == 0 else (
                    slice(0, 1) if dr == 1 else slice(p - 1, p))
                cols = slice(1, 1 + t) if dc == 0 else (
                    slice(0, 1) if dc == 1 else slice(p - 1, p))
                chf[rows, cols] = ch
                accf[rows, cols] = ac
        if not center:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "n_stream", "n_heads",
                                         "link_qsum"])
        stream, heads, streamf = _stream_cell_arrays(chf, accf, thr)
        GR = (np.arange(t) + int(row) * t).reshape(-1, 1) \
            + np.zeros((1, t), dtype=np.int64)
        GC = (np.arange(t) + int(col) * t).reshape(1, -1) \
            + np.zeros((t, 1), dtype=np.int64)
        terms = _stream_link_terms(stream, streamf,
                                   chf[1:1 + t, 1:1 + t], GR, GC)
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "n_stream": int(stream.sum()),
            "n_heads": int(heads.sum()),
            "link_qsum": int(terms.sum())}])

    # cut_all ships no ring memory (one-shot pass over the converged
    # state) — its pieces use the ring-less schema
    piece_schema = ("source_id string, band int, col bigint, "
                    "row bigint, dr int, dc int, h int, w int, "
                    "chosen binary, acc binary")
    return compute_grouped(state.mapInPandas(cut_all, piece_schema),
                           "source_id", "band", "col", "row") \
        .applyInPandas(rollup, _STREAM_SCHEMA)


def stream_network(tiles: DataFrame, tile_size: int = 64,
                   threshold: int = 8, scene_max_px: int = 1 << 11,
                   max_iter: int = 64) -> DataFrame:
    """Stream network extraction over D8 accumulation (module block
    comment): per tile the count of stream cells (exclusive acc >=
    ``threshold``), channel heads (no upstream stream cell), and the
    exact integer sum of stream->stream link target ids (gr*4096+gc).
    Adaptive strategy (the cost_distance template); ``scene_max_px=0``
    forces the distributed path (bit-identical: thresholding and link
    ids are selection over the SAME converged accumulation state)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return _stream_scene(tiles, t, int(threshold))
    return _stream_dist(tiles, t, int(threshold), max_iter)


# ---------------------------------------------------------------------------
# Downstream flow length (ArcGIS FlowLength, direction=DOWNSTREAM) — per
# cell the D8 path length to its terminal, kept EXACT as the integer
# step decomposition (n_orth, n_diag): length = n_orth·1 + n_diag·√2,
# but a float accumulation would depend on addition ORDER and pointer
# doubling reassociates it — the integer pair is order-free, so the
# scene solve, the distributed contraction, and the SQL closure agree
# bit-for-bit and the caller applies √2 once at the end.
# ---------------------------------------------------------------------------

_FLEN_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                "n_valid bigint, orth_sum bigint, diag_sum bigint")
_FLEN_PART = ("source_id string, band int, col bigint, row bigint, "
              "kind int, gid bigint, rep bigint, cnt bigint, "
              "no bigint, nd bigint, final int")
_D8_DIAG = [1 if dr != 0 and dc != 0 else 0
            for dr, dc, _, _ in _D8]


def _flow_length_scene(tiles: DataFrame, t: int) -> DataFrame:
    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        z = np.full((nr * t, nc * t), np.nan)
        for row_t in pdf.itertuples(index=False):
            arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                    .reshape(t, t).astype(np.float64)
            z[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
              (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = np.where(arr == row_t.nodata, np.nan, arr)
        H, W = z.shape
        valid = ~np.isnan(z)
        chosen = _d8_chosen(np.pad(z, 1, constant_values=np.nan))
        chf = np.full((H + 2, W + 2), -2, dtype=np.int64)
        chf[1:1 + H, 1:1 + W] = chosen
        _, no, nd = _flen_init_rect(chf, H + 2, W + 2)
        no = no.reshape(H + 2, W + 2)[1:1 + H, 1:1 + W]
        nd = nd.reshape(H + 2, W + 2)[1:1 + H, 1:1 + W]
        out = []
        for row_t in pdf.itertuples(index=False):
            ty = (int(row_t.row) - r0) * t
            tx = (int(row_t.col) - c0) * t
            sl = (slice(ty, ty + t), slice(tx, tx + t))
            va = valid[sl]
            out.append({"source_id": source_id, "band": band,
                        "col": int(row_t.col), "row": int(row_t.row),
                        "n_valid": int(va.sum()),
                        "orth_sum": int(no[sl][va].sum()),
                        "diag_sum": int(nd[sl][va].sum())})
        return pd.DataFrame(out, columns=["source_id", "band", "col",
                                          "row", "n_valid", "orth_sum",
                                          "diag_sum"])

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        run, _FLEN_SCHEMA)


def _flen_init_rect(chf: np.ndarray, ph: int, pw: int):
    """Rectangular variant of :func:`_flen_init` (row stride pw)."""
    idxs = np.arange(ph * pw, dtype=np.int64)
    ptr = idxs.copy()
    no = np.zeros(ph * pw, dtype=np.int64)
    nd = np.zeros(ph * pw, dtype=np.int64)
    flat_ch = chf.ravel()
    for k, (dr, dc, _, _) in enumerate(_D8):
        sel = flat_ch == k
        ptr[sel] = idxs[sel] + dr * pw + dc
        if _D8_DIAG[k]:
            nd[sel] = 1
        else:
            no[sel] = 1
    return _ptr_double(ptr, no, nd)


def _flow_length_dist(tiles: DataFrame, t: int,
                      max_rounds: int) -> DataFrame:
    """Distributed path (the _watershed_dist contraction with ADDITIVE
    integer step counts riding the pointer doubling): per tile, local
    doubling resolves every cell to an in-tile terminal or its first
    out-of-tile cell; a kind-2 row carries the tile's Σ local counts,
    kind-0 GROUP rows carry (dest, cell count), and the O(perimeter)
    border table pointer-doubles with counts ADDING each round (exact —
    integer addition is associative). Tile total = local Σ + Σ_groups
    cnt · resolved(dest)."""
    p = t + 2

    def resolve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        cols = ["source_id", "band", "col", "row", "kind", "gid",
                "rep", "cnt", "no", "nd", "final"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        chosen = _d8_chosen(frame)
        valid = chosen >= -1
        chf = np.full((p, p), -2, dtype=np.int64)
        chf[1:1 + t, 1:1 + t] = chosen
        ptr, no, nd = _flen_init_rect(chf, p, p)
        interior = np.zeros((p, p), dtype=bool)
        interior[1:1 + t, 1:1 + t] = True
        gid_of = _frame_gids(col, row, t)
        intmask = interior.ravel()
        vmask = np.zeros(p * p, dtype=bool)
        vmask[intmask] = valid.ravel()
        dest = ptr[vmask]
        dest_final = intmask[dest]
        out = [{"source_id": source_id, "band": int(band),
                "col": int(col), "row": int(row), "kind": 2,
                "gid": 0, "rep": 0, "cnt": int(valid.sum()),
                "no": int(no[vmask].sum()), "nd": int(nd[vmask].sum()),
                "final": 1}]
        dv, cv = np.unique(
            np.stack([dest, dest_final.astype(np.int64)], axis=1),
            axis=0, return_counts=True)
        for (d, fin), cnt in zip(dv, cv):
            out.append({"source_id": source_id, "band": int(band),
                        "col": int(col), "row": int(row), "kind": 0,
                        "gid": 0, "rep": int(gid_of[d]),
                        "cnt": int(cnt), "no": 0, "nd": 0,
                        "final": int(fin)})
        for cell in _own_ring(t):
            li = cell // p - 1, cell % p - 1
            if not valid[li[0], li[1]]:
                continue
            d = ptr[cell]
            out.append({"source_id": source_id, "band": int(band),
                        "col": int(col), "row": int(row), "kind": 1,
                        "gid": int(gid_of[cell]), "rep": int(gid_of[d]),
                        "cnt": 0, "no": int(no[cell]),
                        "nd": int(nd[cell]),
                        "final": int(bool(intmask[d]))})
        return pd.DataFrame(out, columns=cols)

    parts = compute_grouped(_halo_pieces(tiles, 1, t),
                            "source_id", "band", "col", "row") \
        .applyInPandas(resolve, _FLEN_PART).localCheckpoint(eager=True)

    border, bc = pointer_double(
        parts.filter(F.col("kind") == 1)
        .select("source_id", "band", "gid", "rep", "no", "nd", "final"),
        ["no", "nd"], max_rounds=max_rounds,
        what="flow_length border resolution")

    local = parts.filter(F.col("kind") == 2) \
        .select("source_id", "band", "col", "row",
                F.col("cnt").alias("n_valid"),
                F.col("no").alias("orth_sum"),
                F.col("nd").alias("diag_sum"))
    groups = parts.filter((F.col("kind") == 0) & (F.col("final") == 0))
    gres = groups.alias("g").join(
        bc(border.select("source_id", "band", F.col("gid").alias("bgid"),
                         F.col("no").alias("bno"),
                         F.col("nd").alias("bnd")).alias("m")),
        on=[F.col("g.source_id") == F.col("m.source_id"),
            F.col("g.band") == F.col("m.band"),
            F.col("g.rep") == F.col("m.bgid")]) \
        .select(F.col("g.source_id").alias("source_id"),
                F.col("g.band").alias("band"),
                F.col("g.col").alias("col"), F.col("g.row").alias("row"),
                F.lit(0).alias("n_valid"),
                (F.col("g.cnt") * F.col("m.bno")).alias("orth_sum"),
                (F.col("g.cnt") * F.col("m.bnd")).alias("diag_sum"))
    return local.unionByName(gres) \
        .groupBy("source_id", "band", "col", "row") \
        .agg(F.sum("n_valid").alias("n_valid"),
             F.sum("orth_sum").alias("orth_sum"),
             F.sum("diag_sum").alias("diag_sum"))


def flow_length(tiles: DataFrame, tile_size: int = 64,
                scene_max_px: int = 1 << 11,
                max_rounds: int = 64) -> DataFrame:
    """Downstream D8 flow length (module block comment): per tile
    n_valid plus the EXACT integer step decomposition (orth_sum,
    diag_sum) of the summed path lengths to each cell's terminal —
    length = orth·1 + diag·√2 applied by the caller ONCE at the end.
    Adaptive (the cost_distance template); ``scene_max_px=0`` forces
    the distributed contraction (bit-identical: integer addition is
    associative, so pointer doubling cannot change the answer)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return _flow_length_scene(tiles, t)
    return _flow_length_dist(tiles, t, max_rounds)


# ---------------------------------------------------------------------------
# Global Moran's I (the classic spatial-autocorrelation statistic; the
# raster sibling of the vector hotspot family) over rook-adjacent
# pixels — returned as EXACT integer MOMENTS, not the final ratio:
# with v quantized to an integer grid,
#     n      valid pixels
#     w      ordered adjacent valid pairs (Sum_i deg_i)
#     s1     Sum over ordered pairs v_i * v_j
#     sdeg   Sum_i deg_i * v_i
#     sv     Sum_i v_i          svv    Sum_i v_i^2
# I = (n/w) * (s1 - 2*m*sdeg + m^2*w) / (svv - n*m^2), m = sv/n —
# applied ONCE by the caller; the mean-centered formulation would put
# a float subtraction inside every partial sum (order-dependent),
# while the raw integer moments are order-free and distributable
# (the flow_length integer-decomposition discipline).
# ---------------------------------------------------------------------------

_MORAN_SCHEMA = ("source_id string, band int, n bigint, w_pairs bigint, "
                 "s1 bigint, sdeg bigint, sv bigint, svv bigint")


def morans_moments(tiles: DataFrame, tile_size: int = 64,
                   quant: float = 4.0) -> DataFrame:
    """Per-(scene, band) Moran's I integer moments (module block
    comment): values quantized floor(v*quant + 0.5) to int64 first, so
    every product and sum is exact. ONE halo-strip shuffle (the
    stencil template) + a map-side-combined scene rollup; each tile
    emits a single partial row — constant state per task at any scene
    size."""
    t = int(tile_size)
    qf = float(quant)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = ["source_id", "band", "n", "w_pairs", "s1", "sdeg",
                "sv", "svv"]
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        val = ~np.isnan(frame)
        vq = np.where(val, np.floor(frame * qf + 0.5), 0).astype(np.int64)
        cen = (slice(1, 1 + t), slice(1, 1 + t))
        mc, vc = val[cen], vq[cen]
        deg = np.zeros((t, t), dtype=np.int64)
        nsum = np.zeros((t, t), dtype=np.int64)
        for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            nm = val[1 + dr:1 + t + dr, 1 + dc:1 + t + dc]
            nv = vq[1 + dr:1 + t + dr, 1 + dc:1 + t + dc]
            both = mc & nm
            deg += both
            nsum += np.where(both, nv, 0)
        return pd.DataFrame([{
            "source_id": source_id, "band": band,
            "n": int(mc.sum()), "w_pairs": int(deg[mc].sum()),
            "s1": int((vc * nsum)[mc].sum()),
            "sdeg": int((deg * vc)[mc].sum()),
            "sv": int(vc[mc].sum()), "svv": int((vc * vc)[mc].sum()),
        }], columns=cols)

    parts = _halo_pieces(tiles, 1, t) \
        .groupBy("source_id", "band", "col", "row") \
        .applyInPandas(run, _MORAN_SCHEMA)
    return parts.groupBy("source_id", "band").agg(
        F.sum("n").alias("n"), F.sum("w_pairs").alias("w_pairs"),
        F.sum("s1").alias("s1"), F.sum("sdeg").alias("sdeg"),
        F.sum("sv").alias("sv"), F.sum("svv").alias("svv"))


def euclidean_allocation(tiles: DataFrame, mask_predicate,
                         radius: int = 5, tile_size: int = 64) -> DataFrame:
    """Bounded-radius EUCLIDEAN ALLOCATION across tile boundaries (the
    argmin sibling of :func:`euclidean_distance` — GDAL/ArcGIS
    Euclidean Allocation: per pixel WHICH mask cell is nearest, not
    just how far): ties at equal squared distance go to the SMALLEST
    global pixel id — the whole comparison is the packed integer key

        key = d2 * 2^24 + gid      (d2 <= 2r^2, gid = gr*4096+gc < 2^24)

    so the scan is a running int64 MIN with NO float anywhere (the
    distance version's SQRT is monotone so both rank identically —
    this one just never needs it). Same halo machinery, ONE
    co-partitioned shuffle. Output per tile: (n_within, d2_sum = Σ d2
    of winners, alloc_sum = Σ winning gid) — all order-free integer
    sums."""
    r, t = int(radius), int(tile_size)
    if r < 1 or r >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {r}")
    pieces = _halo_pieces(tiles, r, t)
    offs = [(dr, dc, dr * dr + dc * dc)
            for dr in range(-r, r + 1) for dc in range(-r, r + 1)
            if dr * dr + dc * dc <= r * r]
    big = np.iinfo(np.int64).max
    cols = ["source_id", "band", "col", "row", "n_within", "d2_sum",
            "alloc_sum"]

    def scan(key_t: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key_t
        frame = _assemble_frame(pdf, r, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        p = t + 2 * r
        gr = (int(row) * t - r + np.arange(p).reshape(-1, 1)) \
            + np.zeros((1, p), dtype=np.int64)
        gc = np.zeros((p, 1), dtype=np.int64) \
            + (int(col) * t - r + np.arange(p).reshape(1, -1))
        mask = mask_predicate(frame, gr, gc) & ~np.isnan(frame)
        # the packed key d2*2^24 + (gr*4096 + gc) is only injective
        # while global pixel coords stay below 4096 — fail loud on
        # oversize mosaics instead of silently corrupting the MIN
        # ordering and the decode (r6 ADVICE)
        if int(gr.max()) >= 4096 or int(gc.max()) >= 4096:
            raise ValueError(
                "euclidean_allocation: global pixel coords exceed the "
                "4096 packing limit — re-derive the pack shift from the "
                "mosaic extent")
        gidf = gr * 4096 + gc
        key = np.full((t, t), big, dtype=np.int64)
        for dr, dc, d2 in offs:
            sl = (slice(r + dr, r + dr + t), slice(r + dc, r + dc + t))
            cand = d2 * 16777216 + gidf[sl]
            np.copyto(key, np.minimum(key, cand), where=mask[sl])
        valid = ~np.isnan(frame[r:r + t, r:r + t])
        hit = valid & (key < big)
        if not hit.any():
            return pd.DataFrame(columns=cols)
        kv = key[hit]
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "n_within": int(hit.sum()),
            "d2_sum": int((kv // 16777216).sum()),
            "alloc_sum": int((kv % 16777216).sum())}])

    return compute_grouped(
        pieces, "source_id", "band", "col", "row").applyInPandas(
        scan, "source_id string, band bigint, col bigint, row bigint, "
              "n_within bigint, d2_sum bigint, alloc_sum bigint")


def tpi_roughness(tiles: DataFrame, tile_size: int = 64,
                  q_tpi: float = 1048576.0) -> DataFrame:
    """TPI + ROUGHNESS (gdaldem's last two modes — completing the
    terrain family next to Horn slope/aspect, hillshade and TRI):
    per pixel with a FULLY VALID 3x3 (the GDAL edge rule terrain_stats
    already pins),

        tpi       = center - (sum of 8 neighbors) / 8   (ONE division)
        roughness = max(3x3) - min(3x3)                 (selection)

    Roughness stays on the exact x4 integer grid (selections and one
    subtraction of quarter-grid values); TPI quantizes its single
    division. Same halo machinery, ONE co-partitioned shuffle. Output
    per tile: (n_valid9, tpi_qsum, rough_q4sum)."""
    t = int(tile_size)
    cols = ["source_id", "band", "col", "row", "n_valid9", "tpi_qsum",
            "rough_q4sum"]

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, 1, t)
        if frame is None:
            return pd.DataFrame(columns=cols)
        wins = [frame[1 + dr:1 + dr + t, 1 + dc:1 + dc + t]
                for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
        ok = np.ones((t, t), dtype=bool)
        for w in wins:
            ok &= ~np.isnan(w)
        if not ok.any():
            return pd.DataFrame(columns=cols)
        center = frame[1:1 + t, 1:1 + t]
        nsum = np.zeros((t, t))
        mx = np.full((t, t), -np.inf)
        mn = np.full((t, t), np.inf)
        for i, w in enumerate(wins):
            if i != 4:
                nsum = nsum + np.where(ok, w, 0.0)
            mx = np.maximum(mx, np.where(ok, w, -np.inf))
            mn = np.minimum(mn, np.where(ok, w, np.inf))
        tpi = center - nsum / 8.0
        rough = mx - mn
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            "n_valid9": int(ok.sum()),
            "tpi_qsum": int(np.floor(tpi * q_tpi + 0.5)[ok]
                            .astype(np.int64).sum()),
            "rough_q4sum": int(np.floor(rough * 4.0 + 0.5)[ok]
                               .astype(np.int64).sum())}])

    return compute_grouped(_halo_pieces(tiles, 1, t),
                           "source_id", "band", "col", "row") \
        .applyInPandas(run, "source_id string, band bigint, col bigint, "
                            "row bigint, n_valid9 bigint, "
                            "tpi_qsum bigint, rough_q4sum bigint")
