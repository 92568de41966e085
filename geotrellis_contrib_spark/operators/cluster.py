"""Connected components over candidate-pair edges — the dedup-clustering
step of a training-data pipeline: near-duplicate PAIRS (MinHash-LSH,
SimHash, embedding-LSH) become duplicate CLUSTERS, and one survivor is kept
per cluster.

Algorithm: min-label propagation PLUS pointer doubling (path halving) —
the robust core of the large-star/small-star map-reduce CC family. Each
round is (a) one shuffle-on-dst join + groupBy taking the min label over
neighbors, then (b) one label self-join following each node's label to its
label's label. Step (b) makes convergence O(log d) rounds in the label-hop
diameter d instead of O(d): a 10^6-node chain converges in ~20 rounds, not
10^6 (measured on the sf0.1 embed near-pair graph: 18 rounds -> 6).

Every iterative pass here (connected components, k-core, both Strahler
phases) runs through :func:`geotrellis_contrib_spark.util.fixpoint`: a
fixed number of lazy rounds per driver sync, one job per sync that both
materializes the state and reads the convergence probe, and one uniform
fail-loud round cap. The driver-side fixed cost per sync dominated the
per-round work at test scale, so connected components runs two
propagation+doubling rounds per sync (min-label propagation is idempotent
and order-free, so batching cannot change the labels).

Scale notes: labels are single longs (LongHashedRelation joins); edges are
symmetrized once; per-round state is (node, label) — 16 bytes/node. At
10^12 docs the identical loop runs with the label table bucketed by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.util import broadcast_if_small, fixpoint


def _propagate_and_double(sym: DataFrame, cur: DataFrame) -> DataFrame:
    """One logical CC round on ``cur`` (id, component): every node
    offers its label to its neighbors, keep min(own, best offer), then
    pointer-double (jump to the label of my label's node). ``_old`` keeps
    the round's input label, so ``component != _old`` flags the rows this
    round changed. Pure plan construction — no action."""
    cur = cur.select("id", "component", F.col("component").alias("_old"))
    offered = (sym.join(cur, sym.dst == cur.id)
               .groupBy("src").agg(F.min("component").alias("offer")))
    tent = (cur.join(offered, cur.id == offered.src, "left")
            .select(cur.id,
                    F.least(F.col("component"),
                            F.coalesce(F.col("offer"), F.col("component")))
                    .alias("component"),
                    F.col("_old")))
    # pointer doubling: labels are always node ids, so the lookup side is
    # tent itself — min is idempotent/order-free, stays deterministic
    lk = tent.select(F.col("id").alias("_lid"),
                     F.col("component").alias("_lcomp"))
    return (tent.join(lk, tent.component == lk._lid, "left")
            .select(tent.id,
                    F.least(F.col("component"),
                            F.coalesce(F.col("_lcomp"), F.col("component")))
                    .alias("component"),
                    F.col("_old")))


def _cc_driver(spark, rows, id_type: str) -> DataFrame:
    """Small-graph fast path: union-find with path compression on the
    already-collected symmetrized edge list, labeling every set with its
    MIN member — result-identical to the distributed loop (both compute
    min-reachable-id), ZERO further jobs (the probe collect that decided
    the path is the only materialization)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    best: dict = {}
    for node in parent:
        root = find(node)
        cur = best.get(root)
        if cur is None or node < cur:
            best[root] = node
    out = [(node, best[find(node)]) for node in parent]
    return spark.createDataFrame(
        out, f"id {id_type}, component {id_type}")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         small_graph_edges: int = 500_000) -> DataFrame:
    """Label every node of the undirected pair graph with the MIN node id
    reachable from it. Input: one row per edge (any direction, dupes ok).
    Output: (id, component). Deterministic.

    Adaptive strategy (the AQE-broadcast-style runtime choice): ONE
    bounded probe job collects at most ``small_graph_edges``+1 raw edge
    rows (union-find needs neither symmetrization nor dedup, so the
    probe plan is the caller's edge plan + a limit — ~16 B/row, ≤8 MB
    at the default cap); at or below the cap the collected rows are the
    whole graph and it is solved driver-side by union-find (identical
    labels; zero further jobs — typical post-LSH/border-reduction
    graphs are tiny relative to the corpus). Above it, the distributed
    min-label + pointer-doubling loop runs on the symmetrized distinct
    edge table; at 10^12-doc scale that is the only path, and
    ``small_graph_edges=0`` disables the fast path (and its probe)
    outright.

    ``max_iter`` counts driver syncs; each sync runs two propagate+double
    rounds lazily, so the effective propagation depth is 2 * max_iter
    (with doubling: exponential in it)."""
    # ids keep their input type: longs get the LongHashedRelation fast
    # path; strings still hash-join (MIN over strings = lexicographic,
    # deterministic — and the corpus's zero-padded doc ids sort numerically)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # co-partition edges and labels ON THE JOIN KEY once: every round's
    # propagation join then reuses the same partitioning (no re-shuffle of
    # the edge table per round); n_parts tracks the session default but is
    # floored so toy graphs don't schedule hundreds of empty tasks
    n_parts = max(int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")) // 4, 4)
    if small_graph_edges:
        # ONE probe job decides the path: collect at most cap+1 RAW edge
        # rows — union-find is direction- and duplicate-insensitive, so
        # the probe skips the symmetrize/distinct exchanges entirely;
        # under the cap the rows ARE the whole graph (driver union-find,
        # no further jobs), over it the probe cost is one bounded-limit
        # scan and the distributed loop materializes sym properly below
        probe = e.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            return _cc_driver(edges.sparkSession, probe,
                              e.schema["src"].dataType.simpleString())
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))) \
           .distinct().repartition(n_parts, "dst")
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("id")).distinct() \
                .withColumn("component", F.col("id")) \
                .repartition(n_parts, "id")
    labels = labels.localCheckpoint(eager=True)
    # a component whose label-hop diameter exceeds the round budget would
    # exit UNCONVERGED and silently split clusters — fixpoint fails loud
    return fixpoint(
        labels, lambda cur: _propagate_and_double(sym, cur),
        F.max((F.col("component") != F.col("_old")).cast("int")),
        max_rounds=max_iter, rounds_per_sync=2,
        what="connected_components").drop("_old")


def dup_clusters(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Near-dup pairs -> duplicate clusters: (id, cluster_id, is_survivor).
    cluster_id = the component's min id; the survivor (the doc a dedup
    pipeline KEEPS) is that min id — the same min-doc_id convention
    exact_dedup uses. Nodes in no pair are not duplicates and do not
    appear (callers keep them all)."""
    comp = connected_components(pairs, a_col, b_col)
    return comp.select(F.col("id"), F.col("component").alias("cluster_id"),
                       (F.col("id") == F.col("component")).alias("is_survivor"))


def pagerank(edges: DataFrame, iters: int = 3, d: float = 0.875,
             q: float = float(1 << 40)) -> DataFrame:
    """Fixed-iteration PAGERANK (Brin & Page 1998) — the link-graph
    quality-weighting pass web-scale training-data pipelines run over
    crawl graphs before sampling. Dangling mass is DROPPED (the
    simplest published variant; documented, not hidden) and the damping
    factor defaults to 7/8 — DYADIC, so d·pr_q is exact in float64 and
    the whole per-edge chain floor(d·pr_q / deg + 0.5) is one exact
    multiply, ONE IEEE division, one floor: bit-reproducible, and the
    per-node reduction sums INTEGERS (the quantize-first rule —
    order-free across any partitioning).

    State: (node, pr_q) with pr = pr_q / q; init pr_q = floor(q/N +
    0.5); each iteration pr'_q = floor((1−d)·q / N + 0.5) + Σ_in
    floor(d·pr_q / deg + 0.5). Scale shape per iteration: ONE
    shuffle — edges join pr on src (both bucketable by node) +
    groupBy dst with map-side combine; the degree table is a groupBy
    of edges reused across iterations; nodes with no in-links keep the
    base term via a left join from the node table.

    ``edges``: (src long, dst long). Self-loops count like any edge.
    Returns (node, pr_q)."""
    if not (0.0 < d < 1.0):
        raise ValueError(f"pagerank: damping {d} outside (0, 1)")
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct()
             # materialized once (r7): nodes is scanned per iteration
             # (the left join) AND for N — without the checkpoint the
             # edge scan + distinct re-run inside every iteration of
             # the lazily-chained plan
             .localCheckpoint(eager=True))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # the weighted edge table is reused by every iteration — pin it too
    e = edges.join(deg, "src").localCheckpoint(eager=True)
    n_nodes = nodes.count()  # one tiny job; N is a scalar of the state
    import math
    base_q = math.floor((1.0 - d) * q / n_nodes + 0.5)
    pr = nodes.select("node",
                      F.lit(math.floor(q / n_nodes + 0.5))
                      .cast("long").alias("pr_q"))
    # pr and the per-iteration inflow aggregate are one row per node:
    # when they broadcast, the edge table is never shuffled per iteration
    bc = broadcast_if_small(pr, n_nodes)
    for _ in range(int(iters)):
        contrib = (e.join(bc(pr), e["src"] == pr["node"])
                   .select(F.col("dst").alias("node"),
                           F.floor(F.lit(d) * F.col("pr_q")
                                   / F.col("deg") + F.lit(0.5))
                           .cast("long").alias("c_q"))
                   .groupBy("node").agg(F.sum("c_q").alias("in_q")))
        pr = (nodes.join(bc(contrib), "node", "left")
              .select("node",
                      (F.lit(base_q)
                       + F.coalesce(F.col("in_q"), F.lit(0)))
                      .cast("long").alias("pr_q")))
    return pr


# ---------------------------------------------------------------------------
# Strahler stream order over a flow-link table — the classic stream-
# network attribute (leaf = 1; a node whose >=2 maximal children tie
# gets max+1, else max; unary nodes copy their single child). The
# vector form: (child, parent) rows, child flows INTO parent — the
# NHDPlus-style link table GIS stream networks ship as.
# ---------------------------------------------------------------------------

def _strahler_py(rows) -> dict[int, int]:
    """Independent driver solve: iterative post-order over the forest
    (explicit stack — no recursion-depth hazard)."""
    from collections import defaultdict
    children = defaultdict(list)
    nodes = set()
    # duplicate links would double-count a child at its junction and
    # wrongly fire the +1 tie rule (r6 ADVICE) — dedup first
    for c, p in dict.fromkeys(tuple(r) for r in rows):
        children[p].append(c)
        nodes.add(c)
        nodes.add(p)
    order: dict[int, int] = {}
    for start in nodes:
        if start in order:
            continue
        stack = [(start, False)]
        open_ = set()
        while stack:
            v, done = stack.pop()
            if v in order:
                continue
            kids = children.get(v, ())
            if done or not kids:
                open_.discard(v)
                if not kids:
                    order[v] = 1
                else:
                    os_ = [order[k] for k in kids]
                    m = max(os_)
                    order[v] = m + 1 if os_.count(m) >= 2 else m
            else:
                if v in open_:
                    # re-entering a grey node before its post-visit =
                    # a cycle (the distributed path hits its
                    # max_rounds fail-loud for the same input)
                    raise ValueError(
                        "strahler_order: cycle in the flow table")
                open_.add(v)
                stack.append((v, True))
                stack.extend((k, False) for k in kids)
    return order


def strahler_order(edges: DataFrame, child: str = "child",
                   parent: str = "parent", max_rounds: int = 64,
                   small_graph_edges: int = 500_000) -> DataFrame:
    """Strahler order for EVERY node of the flow forest (module block
    comment). Adaptive like :func:`connected_components`: one bounded
    probe collect solves small graphs in the driver; above the cap (or
    with ``small_graph_edges=0``) the distributed path runs:

    1. CHAIN CONTRACTION — order is constant along unary runs, so each
       node points at its single child (terminals point at themselves)
       and pointer doubling resolves every node to its terminal
       representative in O(log chain) tiny self-joins;
    2. JACOBI ON TERMINALS — per round ONE map-side-combined
       (junction, child-order) count + a struct-max argmax gives
       (max, tie-count); leaves stay 1; converged when no order moved
       (orders only grow — a monotone fixpoint, so Jacobi from
       bottom=1 reaches the unique solution in junction-DEPTH rounds,
       not path-length rounds — the contraction is what buys that).

    Cycles never converge and hit the ``max_rounds`` fail-loud.
    Returns (node, strahler)."""
    e = edges.select(F.col(child).cast("long").alias("c"),
                     F.col(parent).cast("long").alias("p"))
    spark = edges.sparkSession
    if small_graph_edges:
        probe = e.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            order = _strahler_py([(r.c, r.p) for r in probe])
            return spark.createDataFrame(
                sorted(order.items()), "node long, strahler long")

    # duplicate (child, parent) rows would make a unary node look like a
    # junction with two equal-order children and wrongly fire the +1 tie
    # rule — dedup the edge projection (r6 ADVICE)
    e = e.distinct()
    nodes = (e.select(F.col("c").alias("id"))
             .unionByName(e.select(F.col("p").alias("id"))).distinct())
    nch = e.groupBy("p").agg(F.count(F.lit(1)).alias("nc"),
                             F.min("c").alias("only"))
    base = (nodes.join(nch, nodes.id == nch.p, "left")
            .select("id", F.coalesce("nc", F.lit(0)).alias("nc"), "only")
            # LAZY: the node count below materializes it — one job,
            # not an eager-checkpoint job plus a count job (r7)
            .localCheckpoint(eager=False))
    ptr = base.select(
        "id", F.when(F.col("nc") == 1, F.col("only"))
              .otherwise(F.col("id")).alias("ptr"))
    # every per-round lookup side is a two-long pointer/order table; the
    # count over the already-materialized base sizes it for free
    bc = broadcast_if_small(ptr, base.count())

    def contract(cur):
        # _mv flags the rows this doubling step moved
        lk = cur.select(F.col("id").alias("_i"), F.col("ptr").alias("_p"))
        return (cur.join(bc(lk), cur.ptr == lk._i)
                .select(cur["id"], lk["_p"].alias("ptr"),
                        (lk["_p"] != cur["ptr"]).cast("int").alias("_mv")))

    ptr = fixpoint(ptr, contract, F.max("_mv"), max_rounds=max_rounds,
                   rounds_per_sync=2,
                   what="strahler_order contraction (cycle in the flow "
                        "table?)").drop("_mv")

    term = base.filter(F.col("nc") != 1).select("id", "nc")
    jed = (e.join(bc(term.select(F.col("id").alias("_t"))),
                  e.p == F.col("_t"))
           .join(bc(ptr.select(F.col("id").alias("_c"),
                               F.col("ptr").alias("jc"))),
                 e.c == F.col("_c"))
           .select(F.col("p").alias("j"), "jc")
           # LAZY: the first Jacobi sync's job materializes it once
           # (checkpointed partitions are computed once and reused by
           # every round in the chained plan)
           .localCheckpoint(eager=False))
    # leaves keep order 1 forever — a STATIC union branch, so each round
    # needs NO term join at all (r7): every junction j has >= 2 children
    # rows in jed, so the aggregate g covers the full junction set every
    # round, and `g union leaves` is row-identical to the old
    # `term left-join g` (junctions take no, leaves take 1).
    leaves1 = term.filter(F.col("nc") == 0) \
                  .select("id", F.lit(1).cast("long").alias("o"))

    def jacobi_round(cur):
        g = (jed.join(bc(cur.select(F.col("id").alias("_jc"), "o")),
                      jed.jc == F.col("_jc"))
             # ONE exchange per round (r7): hash by j up front — the
             # (j, o) count AND the per-j argmax then both satisfy
             # their clustering from the same partitioning (two
             # exchange-free aggregates instead of two shuffles)
             .repartition("j")
             .groupBy("j", "o").agg(F.count(F.lit(1)).alias("cnt"))
             .groupBy("j")
             .agg(F.max(F.struct(F.col("o"), F.col("cnt"))).alias("mx"))
             .select(F.col("j").alias("id"),
                     F.when(F.col("mx.cnt") >= 2, F.col("mx.o") + 1)
                     .otherwise(F.col("mx.o")).cast("long").alias("o")))
        return g.unionByName(leaves1)

    # orders only GROW toward the least fixpoint, so sum(o) strictly
    # increases until convergence — the monotone probe's precondition.
    # (sum(long) wraps only past ~2^57 nodes.)
    cur = fixpoint(term.select("id", F.lit(1).cast("long").alias("o")),
                   jacobi_round, F.sum("o"), max_rounds=max_rounds,
                   rounds_per_sync=4, monotone=True,
                   what="strahler_order Jacobi (cycle in the flow table?)")
    # pure-unary cycles (a->b->a with nc==1 everywhere) contract to
    # self-pointers whose representative is itself an nc==1 node — such
    # rows have NO terminal match here. The guard is a FILTER on the
    # joined representative, not a projected value, so a consumer that
    # prunes the strahler column (select("node"), count()) still runs it.
    return (ptr.join(bc(cur.select(F.col("id").alias("_t2"), "o")),
                     ptr.ptr == F.col("_t2"), "left")
            .filter(F.when(F.col("_t2").isNull(), F.raise_error(F.lit(
                "strahler contraction resolved a node to an nc==1 "
                "representative (cycle in the flow table)")))
                .otherwise(F.lit(True)))
            .select(F.col("id").alias("node"), F.col("o").alias("strahler")))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node TRIANGLE participation counts — the classic graph
    statistic (clustering coefficient's numerator; the MR
    "compact-forward" algorithm): edges are deduped undirected, then
    ORIENTED from the lower to the higher endpoint under the total
    order (degree, id) — every triangle is counted exactly once as a
    wedge at its smallest corner, and the wedge intermediate is
    Sum deg_out^2 which the degree ordering bounds by O(m^1.5)
    (orienting by raw id instead would let one hub explode the wedge
    set). Returns (node, triangles) for every node of the graph,
    zeros included.

    Plan shape: a degree aggregate joined twice (broadcast-sized at
    any realistic skew), ONE wedge self-join on the pivot, ONE closing
    semi-join on the oriented edge set, and a 3-way corner explode
    into a map-side-combined count."""
    e0 = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .filter(F.col("a") != F.col("b")).distinct())
    deg = (e0.select(F.col("a").alias("id"))
           .unionByName(e0.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    ed = e0.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) \
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oe = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"))
    # wedges at pivot u with the two legs ordered by the SAME total
    # order, so the closing edge is oriented exactly (x, y)
    w1 = oe.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = oe.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedge = (w1.join(w2, "u")
             .filter((F.col("dx") < F.col("dy"))
                     | ((F.col("dx") == F.col("dy"))
                        & (F.col("x") < F.col("y")))))
    tri = wedge.join(oe.select(F.col("u").alias("x"),
                               F.col("v").alias("y")), ["x", "y"]) \
               .select("u", "x", "y")
    corners = (tri.select(F.col("u").alias("node"))
               .unionByName(tri.select(F.col("x").alias("node")))
               .unionByName(tri.select(F.col("y").alias("node"))))
    cnt = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles"))
    return (deg.select(F.col("id").alias("node"))
            .join(cnt, "node", "left")
            .select("node", F.coalesce("triangles", F.lit(0))
                    .cast("long").alias("triangles")))


def mst_boruvka(edges: DataFrame, src: str = "src", dst: str = "dst",
                weight: str = "w", max_rounds: int = 32) -> DataFrame:
    """MINIMUM SPANNING FOREST by Borůvka — THE distributed MST
    algorithm (each round every component picks its lightest outgoing
    edge; components at least halve, so rounds <= log2(n)): returns
    the chosen edges as canonical (a < b, w) rows. Requires DISTINCT
    weights (the classic uniqueness condition — with ties Borůvka can
    cycle); duplicate weights across DIFFERENT edges fail loud.
    Parallel edges are fine (the lighter one wins the struct-min).

    Plan shape per round: two comp-lookup joins + ONE map-side-combined
    struct-min per component + the engine's adaptive
    connected_components to merge (driver union-find at gate scale,
    the distributed loop above the cap) — everything keyed on single
    longs."""
    # validate integral weights in-plan instead of silently truncating
    # fractional ones with cast('long') (r6 ADVICE): a non-integral
    # weight fails loud inside the same job
    w_long = F.col(weight).cast("long")
    w_checked = F.when(
        F.col(weight).cast("double") != w_long.cast("double"),
        F.raise_error(F.concat(
            F.lit("mst_boruvka: non-integral edge weight "),
            F.col(weight).cast("string"),
            F.lit(" — quantize weights explicitly before the MST")))
        .cast("long")).otherwise(w_long)
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"),
                      w_checked.alias("w"))
         .filter(F.col("a") != F.col("b"))
         .groupBy("a", "b").agg(F.min("w").alias("w"))
         # LAZY: the ndup probe materializes it in the same job (r7)
         .localCheckpoint(eager=False))
    ndup = e.groupBy("w").count().filter(F.col("count") > 1).limit(1).count()
    if ndup:
        raise ValueError("mst_boruvka: duplicate edge weights — the "
                         "unique-MST condition does not hold")
    n_edges = e.count()
    # nodes is materialized ONCE so each round's comp rebuild is a cheap
    # join over it instead of a re-run union+distinct
    nodes = (e.select(F.col("a").alias("id"))
             .unionByName(e.select(F.col("b").alias("id"))).distinct()
             .localCheckpoint(eager=True))
    comp = nodes.select("id", F.col("id").alias("c"))
    # when the per-node component table broadcasts, the two comp-lookup
    # joins stop shuffling the edge table every round
    bc = broadcast_if_small(comp, n_edges)
    chosen = None
    for _ in range(max_rounds):
        ca = comp.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        cb = comp.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        cross = (e.join(bc(ca), "a").join(bc(cb), "b")
                 .filter(F.col("ca") != F.col("cb")))
        cand = (cross.select(F.col("ca").alias("comp"),
                             F.struct("w", "a", "b").alias("t"))
                .unionByName(
                    cross.select(F.col("cb").alias("comp"),
                                 F.struct("w", "a", "b").alias("t"))))
        picked = (cand.groupBy("comp").agg(F.min("t").alias("t"))
                  .select(F.col("t.a").alias("a"),
                          F.col("t.b").alias("b"),
                          F.col("t.w").alias("w"))
                  .distinct()
                  .localCheckpoint(eager=True))
        # the materializing checkpoint doubles as the emptiness probe
        # (r7): the old separate cross.limit(1).count() re-ran the
        # whole cross join a second time every round
        if not picked.take(1):
            break
        # Boruvka invariant: once an edge is chosen its endpoints share
        # a component next round, so it can never be re-picked — the
        # across-round union needs NO distinct (r7; the within-round
        # two-sided pick is deduped above)
        chosen = picked if chosen is None else chosen.unionByName(picked)
        cc = connected_components(chosen.select("a", "b"),
                                  src="a", dst="b")
        comp = (nodes.join(bc(cc), nodes.id == cc.id, "left")
                .select(nodes.id,
                        F.coalesce(cc.component, nodes.id).alias("c")))
    else:
        raise RuntimeError(
            f"mst_boruvka did not converge in {max_rounds} rounds")
    if chosen is None:
        spark = edges.sparkSession
        return spark.createDataFrame([], "a long, b long, w long")
    return chosen


def kcore(edges: DataFrame, src: str = "src", dst: str = "dst",
          max_rounds: int = 64) -> DataFrame:
    """K-CORE DECOMPOSITION (coreness per node) by distributed H-INDEX
    ITERATION (Lü et al. 2016: start at degree; repeatedly set every
    node to the h-index of its neighbors' current values — the largest
    h with >= h neighbors at >= h; the sequence is monotone
    NON-INCREASING and its fixpoint IS the coreness, so no global
    peeling order is needed — the insight that makes k-core
    map-reducible). Returns (node, coreness).

    Plan shape per round: ONE neighbor-value join + one per-node
    window (rank by value desc, h = MAX(LEAST(rank, value))); two
    logical rounds per driver sync (monotone => batching cannot change
    the fixpoint).
    All integer; h-index is a SET function, so there are no tie
    hazards to pin."""
    from pyspark.sql import Window as W

    e0 = (edges.select(F.col(src).cast("long").alias("a"),
                       F.col(dst).cast("long").alias("b"))
          .filter(F.col("a") != F.col("b")).distinct())
    sym = (e0.unionByName(e0.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
           .distinct().localCheckpoint(eager=False))
    n_sym = sym.count()
    cur = sym.groupBy("a").agg(F.count(F.lit(1)).alias("o")) \
             .select(F.col("a").alias("id"), "o")
    # the value table is <= one row per node (n_sym bounds it): when it
    # broadcasts, no round shuffles sym
    bc = broadcast_if_small(cur, n_sym)

    def one_round(cur):
        nb = sym.join(bc(cur.select(F.col("id").alias("_b"),
                                    F.col("o").alias("nv"))),
                      sym.b == F.col("_b")) \
                .select(F.col("a").alias("v"), "nv")
        w = W.partitionBy("v").orderBy(F.col("nv").desc())
        return (nb.withColumn("r", F.row_number().over(w))
                .groupBy("v")
                .agg(F.max(F.least(F.col("r"), F.col("nv"))).alias("o"))
                .select(F.col("v").alias("id"), "o"))

    # h-index values are monotone NON-INCREASING toward the coreness
    # fixpoint, so sum(o) strictly decreases until convergence — the
    # monotone probe's precondition
    cur = fixpoint(cur.localCheckpoint(eager=True), one_round, F.sum("o"),
                   max_rounds=max_rounds, rounds_per_sync=2, monotone=True,
                   what="kcore h-index iteration")
    return cur.select(F.col("id").alias("node"),
                      F.col("o").alias("coreness"))
