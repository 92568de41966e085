"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_min_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Raise the partition count of a SMALL scan to the session's default
    parallelism before a high-fan-out broadcast join.

    Why: a broadcast-hash join's output parallelism equals the PROBE side's
    partition count. A probe table that is small on disk (one parquet
    split) but explodes 1000x through the join then runs the whole
    explosion in one task — at sf1.0 the kNN candidate join (49k points x
    10k co-located queries -> 150M pairs) ran in 2 tasks for 272s. Real
    at-scale fact tables always carry >= cores partitions, so this is a
    NO-OP there (the guard reads the partition count, no job); when it
    does fire, it round-robin shuffles a by-definition-small table (cost:
    milliseconds). Round-robin, NOT keyed: hash-repartitioning by the join
    key would re-concentrate the hot cell in one partition.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def compute_grouped(df: DataFrame, *keys: str):
    """``df.groupBy(*keys)`` with the feeding exchange PINNED to the
    session's default parallelism.

    Why: AQE coalesces post-shuffle partitions by BYTES
    (advisoryPartitionSizeInBytes / minPartitionSize), which is right
    for relational operators but wrong for grouped-map pandas stages
    over pixel blobs — a 96-tile scene's state is a few MB, so AQE
    folds it into ONE partition and the whole vectorized stencil /
    relaxation sweep runs on one core (measured: the converged
    flow-rounds state sat in 1 partition at local[32]). An explicit
    numPartitions repartition on the grouping key is exempt from AQE
    coalescing, satisfies the grouped-map clustering requirement (no
    second exchange), and scales with the cluster (defaultParallelism)
    instead of a constant."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys).groupBy(*keys)


def compute_spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a SMALL compute-dense table to the
    session's default parallelism before a heavy mapInPandas stage —
    same AQE blind spot as :func:`compute_grouped`, for stages with no
    grouping key (e.g. the viewshed pair table: ~1k rows carrying 32 KB
    blobs each, coalesced to 1-2 partitions by byte-based AQE)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def broadcast_if_small(df: DataFrame, rows: int):
    """``F.broadcast`` when ``rows`` rows of ``df``'s schema fit the
    session's ``spark.sql.autoBroadcastJoinThreshold``, else identity.

    Why: ``localCheckpoint`` erases Catalyst's size statistics, so the
    per-round lookup joins of a fixpoint plan as full shuffle joins even
    when the lookup side is a few KB. The caller already holds an exact
    row count (from a probe it needs anyway), so the decision costs no
    job. The byte estimate is rows x the schema's default row size (the
    per-row width Catalyst assumes for a known row count), so a wide
    border table (string id + longs) stops broadcasting sooner
    than a two-long pointer table. A negative threshold (broadcast
    disabled) never broadcasts."""
    spark = df.sparkSession
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if rows * df._jdf.schema().defaultSize() <= threshold:
        return F.broadcast
    return lambda d: d


def fixpoint(state: DataFrame, step, probe, *, max_rounds: int,
             rounds_per_sync: int = 1, what: str,
             monotone: bool = False) -> DataFrame:
    """Drive ``state = step(state)`` to its fixpoint from the driver.

    Each SYNC applies ``step`` ``rounds_per_sync`` times lazily, marks
    the result ``localCheckpoint(eager=False)`` and runs ONE job,
    ``agg(probe).collect()``: the job that materializes the checkpoint
    also answers convergence, so a sync costs exactly one driver job.
    Later syncs read the checkpointed partitions, never the lineage.

    Convergence, one of exactly two rules:

    * default — the probe reaches 0 (or null, on an empty state): the
      probe counts or flags rows still in motion, e.g. rows the last
      round changed or rows not yet final;
    * ``monotone=True`` — the probe stops changing between syncs. Valid
      ONLY when every round moves the state monotonically (e.g. values
      only grow) so that the probe, typically ``sum``, strictly changes
      while any row changes; an unchanged sum is then convergence. A
      round that can move rows both ways breaks this precondition and
      would stop early with a wrong answer.

    Batching several rounds per sync never changes the fixpoint — a
    round applied at the fixpoint is a no-op — it only trades driver
    syncs for longer lazy plans. Raises one uniform ``RuntimeError``
    naming ``what`` after ``max_rounds`` syncs without convergence."""
    prev = None
    for _ in range(max_rounds):
        for _ in range(rounds_per_sync):
            state = step(state)
        state = state.localCheckpoint(eager=False)
        value = state.agg(probe).collect()[0][0]
        if (value == prev) if monotone else not value:
            return state
        prev = value
    raise RuntimeError(
        f"{what} did not reach a fixpoint in {max_rounds} syncs of "
        f"{rounds_per_sync} round(s); raise the round cap")


def pointer_double(border: DataFrame, carry, *, max_rounds: int,
                   what: str):
    """Resolve a distributed BORDER table by pointer doubling.

    ``border`` rows are ``(source_id, band, gid, rep, *carry, final)``:
    cell ``gid`` points at cell ``rep`` of the same (source_id, band);
    ``final`` = 1 once ``rep`` is a terminal. Each round, every pending
    row jumps to its target's ``rep`` and ADDS the target's integer
    ``carry`` columns (exact: integer addition is associative, so the
    regrouping doubling does cannot change a sum), so resolved hop
    counts double per round and ``max_rounds`` syncs of two rounds
    resolve chains of up to 4^max_rounds links.

    One first job reads both the pending count and the table size; the
    size picks the join strategy (:func:`broadcast_if_small`) for the
    doubling rounds and is returned for the caller's tail join. The
    rounds run through :func:`fixpoint` with the pending count as the
    reaches-0 probe; a border table that dropped a link leaves rows
    pending forever, which the round cap surfaces.

    Returns ``(resolved border, broadcast decision)``."""
    pending = F.sum(F.lit(1) - F.col("final"))
    n_pending, n_rows = border.agg(pending, F.count(F.lit(1))).collect()[0]
    bc = broadcast_if_small(border, n_rows)
    if not n_pending:
        return border, bc

    def double(b: DataFrame) -> DataFrame:
        lookup = b.select("source_id", "band", F.col("gid").alias("g2"),
                          F.col("rep").alias("r2"),
                          *[F.col(c).alias(f"{c}2") for c in carry],
                          F.col("final").alias("f2")).alias("b")
        step = b.filter(F.col("final") == 0).alias("a").join(
            bc(lookup),
            on=[F.col("a.source_id") == F.col("b.source_id"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.rep") == F.col("b.g2")], how="left") \
            .select(F.col("a.source_id").alias("source_id"),
                    F.col("a.band").alias("band"),
                    F.col("a.gid").alias("gid"),
                    F.coalesce(F.col("b.r2"), F.col("a.rep")).alias("rep"),
                    *[(F.col(f"a.{c}") + F.coalesce(F.col(f"b.{c}2"),
                                                    F.lit(0))).alias(c)
                      for c in carry],
                    F.coalesce(F.col("b.f2"), F.lit(0)).alias("final"))
        return b.filter(F.col("final") == 1).unionByName(step)

    return fixpoint(border, double, pending, max_rounds=max_rounds,
                    rounds_per_sync=2, what=what), bc
