"""Exact distributed quantiles via sort + rank arithmetic.

Spark's builtin exact ``percentile`` aggregate builds a value→count
hashmap per (group, partition) and merges the maps at the final
aggregation — with mostly-distinct doubles the maps are row-sized and
the merge serializes on the handful of group reducers (measured ~2× the
runtime of this operator on 600k rows, and the gap grows with data:
at 100 TB the merge is a straight OOM).

These operators instead compute the classic linear-interpolation
quantile (the quantile_cont / numpy 'linear' definition, identical to
``percentile``'s) from sorted ranks:

  rn   = global per-group rank of the row by col
  n    = group size
  pos  = (n - 1) * q ;  k = floor(pos) ;  frac = pos - k
  qval = v[rn = k+1] + frac * (v[rn = k+2] - v[rn = k+1])

Only the ≤ 2·|qs| boundary rows per group survive the filter, and the
final combine touches a few rows per group. Two rank strategies:

- ``exact_quantiles``: one window sort keyed by the group — one
  shuffle; each group sorts on one task (external sort spills). Right
  when groups are many and modest.
- ``exact_quantiles_ranged``: range-repartition + partition-local
  ranks + broadcast prefix counts — two shuffles, but NO task ever
  holds more than a shuffle partition, so a handful of giant groups
  (or one) cannot serialize the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
    nd: int | None = None,
    mode: str = "linear",
) -> DataFrame:
    """Per-``keys`` exact quantiles of ``col``; ``qs`` maps output alias
    → quantile in [0, 1]. Optional ``nd`` rounds the result.

    ``mode``: 'linear' interpolates between the two bracketing values
    (numpy/quantile_cont definition); 'disc' returns the data value at
    rank floor((n-1)*q)+1 (numpy method='lower'). Prefer 'disc' when the
    result feeds a cross-engine comparison: interpolation produces
    midpoints (e.g. the mean of two cent-values is an exact half-cent)
    whose float rounding is engine-dependent, while 'disc' returns a
    value that exists in the data, bit-identical everywhere."""
    # asc_nulls_last: DuckDB/SQL-standard NULL placement (Spark's bare
    # asc is NULLS FIRST) — a group mixing NULL and real values must
    # rank them identically in both engines
    w = Window.partitionBy(*keys).orderBy(F.col(col).asc_nulls_last())
    wn = Window.partitionBy(*keys)
    d = (
        df.select(*keys, col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
    )
    return _rank_select(d, keys, col, qs, nd, mode)


def _rank_select(
    d: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
    nd: int | None,
    mode: str,
) -> DataFrame:
    """Shared tail of both quantile paths: given rows carrying a global
    per-group rank ``_rn`` and group size ``_n``, keep only boundary
    rows and fold them into one row per group."""

    def pos(q: float):
        return (F.col("_n") - 1) * F.lit(q)

    if mode not in ("linear", "disc"):
        raise ValueError(f"unknown mode: {mode}")
    interpolate = mode == "linear"

    keep = None
    for q in qs.values():
        c = F.col("_rn") == F.floor(pos(q)) + 1
        if interpolate:
            c = c | (F.col("_rn") == F.floor(pos(q)) + 2)
        keep = c if keep is None else (keep | c)

    aggs = []
    for alias, q in qs.items():
        k1 = F.floor(pos(q)) + 1
        vk = F.max(F.when(F.col("_rn") == k1, F.col(col)))
        if interpolate:
            frac = pos(q) - F.floor(pos(q))
            vk2 = F.max(F.when(F.col("_rn") == k1 + 1, F.col(col)))
            f = F.max(F.when(F.col("_rn") == k1, frac))
            # v_k*(1-f) + v_k+1*f — the float expression percentile_cont
            # evaluates; algebraically-equal rewrites differ in the last
            # ulp and can cross a rounding boundary.
            val = F.when((f == 0) | vk2.isNull(), vk).otherwise(
                vk * (F.lit(1.0) - f) + vk2 * f
            )
        else:
            val = vk
        aggs.append((F.round(val, nd) if nd is not None else val).alias(alias))

    return d.where(keep).groupBy(*keys).agg(*aggs)


def _resolve_partitions(df: DataFrame, partitions: int | None) -> int:
    """Shared partition-count resolution: explicit arg wins; otherwise
    the session conf, parsed with a readable error (the conf can be a
    non-integer like 'auto' on some platforms)."""
    if partitions is not None:
        P = partitions
    else:
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            P = int(conf)
        except ValueError as e:
            raise ValueError(
                "spark.sql.shuffle.partitions is not an integer "
                f"({conf!r}); pass partitions= explicitly"
            ) from e
    if P < 1:
        raise ValueError(f"partitions must be >= 1, got {P}")
    return P


def exact_quantiles_ranged(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
    nd: int | None = None,
    mode: str = "linear",
    partitions: int | None = None,
) -> DataFrame:
    """Exact per-group quantiles that survive FEW GIANT GROUPS.

    ``exact_quantiles`` windows by the group key, so one group's sort
    runs on ONE task — right when groups are many and modest, fatal
    when a handful of groups hold the table (l_returnflag at 100 TB:
    3 groups of tens of TB each). This variant bounds every sort by a
    SHUFFLE PARTITION instead:

    1. range-repartition by (keys, col): each group becomes a
       contiguous run of partitions, each partition a bounded slice;
    2. local rank via a window keyed by (partition_id, keys) — no
       window partition can exceed a shuffle partition;
    3. global rank = local rank + prefix, where the prefix comes from
       the (partitions × groups)-row count table (broadcast) summed
       over preceding partition ids;
    4. the same rank-arithmetic filter + tiny final aggregate.

    Costs two data shuffles (range + the pid-keyed window hash) versus
    one — the price of removing the per-group single-task bound.
    Quantile VALUES are invariant to where the range boundaries fall,
    so runtime boundary sampling cannot perturb results."""
    P = _resolve_partitions(df, partitions)
    # The broadcast prefix table in step 3 is O(P × n_groups) rows. This
    # operator is for FEW giant groups; a high-cardinality key set makes
    # that table explode and would only fail late at the broadcast limit.
    # exact_quantiles (window path) or exact_quantiles_auto is the right
    # tool there — bound documented here, enforced in _auto.
    # asc_nulls_last on the RANGE key too: the local rank below orders
    # asc_nulls_last, and Spark's bare-column range ordering is
    # NULLS FIRST — with both defaults, a multi-partition group's NULL
    # rows land in its first range partition yet rank last within it,
    # shifting every later partition's global ranks (wrong quantiles
    # exactly in this operator's few-giant-groups target regime).
    d = (
        df.select(*keys, col)
        .repartitionByRange(
            P, *[F.col(k) for k in keys], F.col(col).asc_nulls_last()
        )
        .withColumn("_pid", F.spark_partition_id())
    )
    wl = Window.partitionBy("_pid", *keys).orderBy(F.col(col).asc_nulls_last())
    local = d.withColumn("_lrn", F.row_number().over(wl))
    cnt = local.groupBy("_pid", *keys).agg(F.count(F.lit(1)).alias("_c"))
    wp = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = cnt.withColumn("_prefix", F.coalesce(F.sum("_c").over(wp), F.lit(0)))
    tot = cnt.groupBy(*keys).agg(F.sum("_c").alias("_n"))
    # eqNullSafe joins: a NULL group key is a real group (the window
    # path's partitionBy keeps it), and a plain equi-join back to the
    # broadcast prefix/total tables would silently drop it — the one
    # place the two rank strategies could disagree
    pre_b = F.broadcast(
        pre.select(
            F.col("_pid").alias("_jpid"),
            *[F.col(k).alias(f"_jk{i}") for i, k in enumerate(keys)],
            "_prefix",
        )
    )
    pre_cond = F.col("_pid") == F.col("_jpid")
    for i, k in enumerate(keys):
        pre_cond = pre_cond & F.col(k).eqNullSafe(F.col(f"_jk{i}"))
    tot_b = F.broadcast(
        tot.select(
            *[F.col(k).alias(f"_tk{i}") for i, k in enumerate(keys)], "_n"
        )
    )
    tot_cond = F.lit(True)
    for i, k in enumerate(keys):
        tot_cond = tot_cond & F.col(k).eqNullSafe(F.col(f"_tk{i}"))
    ranked = (
        local.join(pre_b, pre_cond)
        .join(tot_b, tot_cond)
        .withColumn("_rn", F.col("_lrn") + F.col("_prefix"))
    )
    return _rank_select(ranked, keys, col, qs, nd, mode)


def exact_quantiles_auto(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
    nd: int | None = None,
    mode: str = "linear",
    n_groups_hint: int | None = None,
) -> DataFrame:
    """Pick the right exact-quantile strategy from the data's shape.

    The two fixed strategies each have a failure regime:

    - ``exact_quantiles`` (window) sorts each group on ONE task — fatal
      when a handful of giant groups hold the table;
    - ``exact_quantiles_ranged`` broadcasts an O(P × n_groups) prefix
      table — fatal when groups are high-cardinality.

    The selector runs one cheap aggregate-only job,
    ``approx_count_distinct`` over the keys (a HyperLogLog scan — no
    shuffle of the data, only sketch merge), and routes:

    - n_groups >= shuffle-partitions → every task already holds ~one
      group's worth of data → window path (one shuffle);
    - n_groups <  shuffle-partitions → some group must span partitions
      → ranged path; the broadcast table is then at most
      P × P rows ≈ 32×32 here, a few KB even at P=2000.

    The boundary is a heuristic (group-size *skew* at high cardinality
    still favors ranged for the giant groups specifically — use the
    explicit entry points when you know the shape); the guarantee is
    that each path is only chosen inside its safe regime, so the
    library's default entry point has no footgun. Both paths compute
    the identical quantile definition, so the choice never changes the
    result (unit-tested on both regimes in tests/test_operators.py).

    COST NOTE: without ``n_groups_hint``, the probe is a driver-blocking
    Spark job PER CALL (cheap — aggregate-only, no data shuffle — but a
    job). Callers invoking this in a loop, or that already know the key
    cardinality (a dimension enum, a prior profile), should pass
    ``n_groups_hint`` to make routing a pure plan-time decision with no
    Spark action at all."""
    P = _resolve_partitions(df, None)
    if n_groups_hint is not None:
        if n_groups_hint < 1:
            raise ValueError(f"n_groups_hint must be >= 1, got {n_groups_hint}")
        n_groups = n_groups_hint
    else:
        n_groups = df.select(
            F.approx_count_distinct(F.concat_ws("\x1f", *keys)).alias("n")
        ).first()["n"]
    if n_groups >= P:
        return exact_quantiles(df, keys, col, qs, nd, mode)
    return exact_quantiles_ranged(df, keys, col, qs, nd, mode, partitions=P)


def global_ranks(
    df: DataFrame, order_cols: list[str], partitions: int | None = None
) -> DataFrame:
    """Global ``row_number`` over a TOTAL ordering without the
    single-task funnel of ``row_number().over(Window.orderBy(...))``
    (an empty-partitionBy window drags the whole input through ONE
    task — q17's documented 114×-at-100× pathology).

    Same rank strategy as :func:`exact_quantiles_ranged`, degenerate
    group case: range-repartition on the ordering (each partition a
    bounded contiguous slice), rank locally within the partition, add
    the broadcast per-partition prefix counts. No task ever holds more
    than one shuffle partition; the prefix table is P rows.

    ``order_cols`` must be a total order (include a tiebreaker key) or
    ranks within ties are partition-placement-dependent. NULLs rank
    last (asc_nulls_last), matching SQL-standard/DuckDB placement.
    Returns the input columns plus ``rn`` (1-based)."""
    P = _resolve_partitions(df, partitions)
    cols = [F.col(c).asc_nulls_last() for c in order_cols]
    d = df.repartitionByRange(P, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("_pid").orderBy(*cols)
    local = d.withColumn("_lrn", F.row_number().over(wl))
    cnt = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    # P-row inputs only: this empty-partitionBy window is the bounded
    # kind (prefix over partition COUNTS, never data rows)
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    pre = cnt.withColumn("_prefix", F.coalesce(F.sum("_c").over(wp), F.lit(0)))
    return (
        local.join(F.broadcast(pre.select("_pid", "_prefix")), "_pid")
        .withColumn("rn", F.col("_lrn") + F.col("_prefix"))
        .drop("_pid", "_lrn", "_prefix")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    partitions: int | None = None,
    alias: str = "running_total",
) -> DataFrame:
    """Global cumulative sum over a TOTAL ordering without the
    single-task funnel of ``sum().over(Window.orderBy(...))`` — the
    running-total twin of :func:`global_ranks`, sharing its strategy:
    range-repartition on the ordering, local cumulative sum within
    each partition, add the broadcast per-partition prefix SUMS.

    The prefix table is P rows (partition subtotals), so the only
    empty-partitionBy window runs on P rows, never data. Inclusive
    semantics (``rows unbounded preceding .. current row``), matching
    ``SUM(v) OVER (ORDER BY ...)`` with a total order. ``order_cols``
    must be a total order (tiebreaker included) or the running value
    at ties is placement-dependent.

    NULL values follow SUM's rule: a row's total is NULL only while no
    non-NULL value precedes it (inclusive) in the GLOBAL order. The
    non-NULL counts ride along with the sums, so a range partition that
    starts with NULLs still carries the prefix of the partitions before
    it."""
    P = _resolve_partitions(df, partitions)
    cols = [F.col(c).asc_nulls_last() for c in order_cols]
    d = df.repartitionByRange(P, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    wl = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("_lsum", F.sum(value_col).over(wl)).withColumn(
        "_lcnt", F.count(value_col).over(wl)
    )
    cnt = local.groupBy("_pid").agg(
        F.sum(value_col).alias("_s"), F.count(value_col).alias("_c")
    )
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    pre = cnt.select(
        "_pid",
        F.coalesce(F.sum("_s").over(wp), F.lit(0)).alias("_prefix"),
        F.coalesce(F.sum("_c").over(wp), F.lit(0)).alias("_pcnt"),
    )
    return (
        local.join(F.broadcast(pre), "_pid")
        .withColumn(
            alias,
            F.when(
                F.col("_lcnt") + F.col("_pcnt") > 0,
                F.coalesce("_lsum", F.lit(0)) + F.col("_prefix"),
            ),
        )
        .drop("_pid", "_lsum", "_lcnt", "_prefix", "_pcnt")
    )
