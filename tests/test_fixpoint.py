"""The shared driver-side iteration helpers (util.fixpoint,
util.pointer_double, util.broadcast_if_small): their two convergence
rules, the broadcast decision, and the fail-loud round cap of every
operator that iterates through them."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import cluster as CL
from geotrellis_contrib_spark.operators import costdistance as CD
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack
from geotrellis_contrib_spark.util import broadcast_if_small, fixpoint

# predicates shipped to executors must be lambdas (pickled by value)
_seed_pred = lambda vals, gr, gc: (gr % 97 == 5) & (gc % 89 == 7)  # noqa: E731


def _grow(df):
    # one round: every value moves one step toward 3; ch flags the move
    nv = F.least(F.col("v") + 1, F.lit(3))
    return df.select(nv.alias("v"), (nv != F.col("v")).cast("int").alias("ch"))


def test_fixpoint_reaches_zero_rule(spark):
    # values 0, 1, 2 need three moving rounds plus one still round
    state = spark.range(3).select(F.col("id").alias("v"))
    out = fixpoint(state, _grow, F.max("ch"), max_rounds=4, what="grow")
    assert sorted(r.v for r in out.collect()) == [3, 3, 3]
    # two rounds per sync: the still round lands in sync 2
    fixpoint(state, _grow, F.max("ch"), max_rounds=2, rounds_per_sync=2,
             what="grow")
    with pytest.raises(RuntimeError,
                       match=r"grow did not reach a fixpoint in 3 syncs"):
        fixpoint(state, _grow, F.max("ch"), max_rounds=3, what="grow")


def test_fixpoint_monotone_rule(spark):
    # sums 3 -> 6 -> 8 -> 9 -> 9: the unchanged sum is seen in sync 4
    state = spark.range(3).select(F.col("id").alias("v"))
    out = fixpoint(state, _grow, F.sum("v"), max_rounds=4, monotone=True,
                   what="grow")
    assert sorted(r.v for r in out.collect()) == [3, 3, 3]
    with pytest.raises(RuntimeError, match="grow did not reach"):
        fixpoint(state, _grow, F.sum("v"), max_rounds=3, monotone=True,
                 what="grow")


def test_broadcast_if_small_keys_on_bytes(spark):
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    pair = spark.createDataFrame([(1, 2)], "id long, ptr long")   # 16 B
    assert broadcast_if_small(pair, threshold // 16) is F.broadcast
    assert broadcast_if_small(pair, threshold // 16 + 1) is not F.broadcast
    # a wider row stops broadcasting at fewer rows
    border = spark.createDataFrame(
        [("s", 0, 1, 2, 1)],
        "source_id string, band int, gid long, rep long, final int")
    assert broadcast_if_small(border, threshold // 16) is not F.broadcast


def _cc(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "src long, dst long")
    return CL.connected_components(df, max_iter=1, small_graph_edges=0)


def _kcore(spark):
    df = spark.createDataFrame(corpus.synth_core_edges(), "src long, dst long")
    return CL.kcore(df, max_rounds=1)


def _strahler_chain(spark):
    df = spark.createDataFrame([(i + 1, i) for i in range(64)],
                               "child long, parent long")
    return CL.strahler_order(df, max_rounds=1, small_graph_edges=0)


def _strahler_star(spark):
    # no unary chain, so contraction settles at once and Jacobi hits the cap
    df = spark.createDataFrame([(2, 1), (3, 1)], "child long, parent long")
    return CL.strahler_order(df, max_rounds=1, small_graph_edges=0)


def _px(spark):
    return corpus.synth_px_tiles(spark, tile_size=64)


def _ramp(spark, value):
    """One 2-row strip of 20 2x2 tiles; ``value(gc)`` per pixel column.
    A path along it crosses 19 tile seams — more border links than one
    sync of two doubling rounds resolves."""
    rows = [("s", 0, 3, tc, 0, 0, "float64", -9999.0,
             pack(np.array([[value(2 * tc), value(2 * tc + 1)]] * 2,
                           dtype=np.float64)))
            for tc in range(20)]
    return spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")


def _east_slope(spark):
    return _ramp(spark, lambda gc: 100.0 - gc)


CASES = {
    "connected_components": _cc,
    "kcore": _kcore,
    "strahler_order contraction": _strahler_chain,
    "strahler_order Jacobi": _strahler_star,
    "flow_accumulation": lambda s: FO.flow_accumulation(
        _px(s), scene_max_px=0, max_iter=1),
    "fill_sinks": lambda s: FO.fill_sinks(_px(s), scene_max_px=0,
                                          max_iter=1),
    "cost_distance": lambda s: CD.cost_distance(
        corpus.synth_friction_tiles(s), _seed_pred, max_iter=1,
        scene_max_px=0),
    "watershed_labels border resolution": lambda s: FO.watershed_labels(
        _east_slope(s), tile_size=2, scene_max_px=0, max_rounds=1),
    "flow_length border resolution": lambda s: FO.flow_length(
        _east_slope(s), tile_size=2, scene_max_px=0, max_rounds=1),
    "least_cost_path border resolution": lambda s: CD.least_cost_path(
        _ramp(s, lambda gc: 1.0), lambda v, gr, gc: gc == 0,
        lambda sid, band: [(0, 39)], tile_size=2, max_px=0, max_rounds=1),
}


@pytest.mark.parametrize("what", sorted(CASES))
def test_round_cap_fails_loud_naming_the_operator(spark, what):
    with pytest.raises(RuntimeError, match=f"{what}.*fixpoint"):
        CASES[what](spark).collect()


def test_ramp_fixture_resolves_under_the_default_caps(spark):
    # the border cases above fail only for their cap: with the defaults
    # the same fixtures resolve to the closed form
    fl = {r.col: (r.orth_sum, r.diag_sum) for r in FO.flow_length(
        _east_slope(spark), tile_size=2, scene_max_px=0).collect()}
    # tile tc holds columns 2tc, 2tc+1 in both rows, each 39-gc steps east
    assert fl == {tc: (2 * ((39 - 2 * tc) + (38 - 2 * tc)), 0)
                  for tc in range(20)}
    (lcp,) = CD.least_cost_path(
        _ramp(spark, lambda gc: 1.0), lambda v, gr, gc: gc == 0,
        lambda sid, band: [(0, 39)], tile_size=2, max_px=0).collect()
    assert (lcp.path_len, lcp.cost_q2) == (39, 78)
