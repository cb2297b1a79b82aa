"""Multiple-testing p-adjustment: BH / BY / holm / none (SURVEY.md M10).

Reference: the DE scripts' documented ``adjust`` argument surface
``{"none","BH","fdr","BY","holm"}``
(`scripts/data_integration/DiffExpression_closedPlatform.R:24`, consumed
by ``topTable(adjust.method=...)`` at `:184,566,600`).  Semantics pinned
to R ``p.adjust``:

    BH   : adj_i = min_{j >= i} min(1, p_(j) * n / j)
    fdr  : alias of BH (R's own alias)
    BY   : adj_i = min_{j >= i} min(1, c(n) * p_(j) * n / j),
           c(n) = sum_{i=1..n} 1/i  (Benjamini-Yekutieli 2001 —
           FDR under arbitrary dependence)
    holm : adj_i = max_{j <= i} min(1, (n - j + 1) * p_(j))
           (step-DOWN: forward cumulative max over ascending p)
    none : identity

i.e. rank ascending by p, scale, then a cumulative extreme — reverse
cummin for the step-up methods, forward cummax for holm.  One kernel
serves all three: ``_SCALED`` holds each method's scaled term in R's
operand order (so the IEEE doubles match an R replay bit-for-bit), and
the step direction picks the window order and the extreme.  Ties
receive identical adjusted values automatically (equal p with different
ranks collapse under the cumulative extreme).  ``min(1, .)`` commutes
with both cummin and cummax, so clamping per-row before the window is
bit-identical to R's post-window ``pmin(1, ...)``.

The BY factor c(n) is summed as an ORDERED left fold over ascending i
(``aggregate(transform(sequence(1,n), ...))``) so the IEEE double is
reproducible in any engine that folds left — the DuckDB oracle replays
the same fold via ``list_reduce``; an unordered SUM over 1/i would be
permutation-dependent in the last ulp.

Spark shape: two window functions over the same (optional partition,
order-by-p) window — one shuffle if partitioned, single-stage on
post-aggregate relations otherwise.  Unpartitioned calls on relations
Catalyst can't prove small route to the bucket-partitioned form
(``p_adjust_histogram``) — the billion-row scale path, bit-identical to
the window form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.windows import fits_single_task

# scaled term per method as f(p, n, rank, c(n)), in R's operand order
_SCALED = {
    "BH": lambda p, n, rank, cn: p * n / rank,
    "BY": lambda p, n, rank, cn: cn * n / rank * p,
    "holm": lambda p, n, rank, cn: (n - rank + F.lit(1)) * p,
}
_TEMP = ("_n", "_cn", "_rank", "_scaled")


def _method(method: str) -> str:
    method = "BH" if method == "fdr" else method
    if method not in _SCALED:
        raise ValueError(
            f"unknown p-adjust method {method!r}; expected one of "
            "'none', 'BH', 'fdr', 'BY', 'holm'"
        )
    return method


def _harmonic(n_col: str, chunk: int = 1_000_000):
    """c(n) = sum_{i=1..n} 1/i as an ORDERED ascending left fold —
    the Benjamini-Yekutieli dependence factor, bit-reproducible across
    engines (R's ``sum(1/(1:n))`` is the same left fold).  The fold is
    CHUNKED: an outer fold over ceil(n/chunk) chunk indices threads the
    accumulator through an inner left fold over each chunk's 1/i terms,
    so the addition ORDER is identical to the flat fold (bit-identical
    result) while the transient ``sequence`` array never exceeds
    ``chunk`` elements (~8 MB) — no O(n) array materialization and no
    ``sequence`` 2^31 element cap, so the expression is safe at any n a
    bigint can hold.  Still O(n) flops in ONE evaluation: callers must
    attach it to a ONE-row aggregate, never a per-row column."""
    n = f"cast({n_col} as bigint)"
    return F.expr(
        f"if({n} >= 1,"
        f" aggregate(sequence(cast(0 as bigint), ({n} - 1) div {chunk}),"
        " cast(0.0 as double),"
        f" (acc, k) -> aggregate("
        f"   transform(sequence(k * {chunk} + 1, least((k + 1) * {chunk}, {n})),"
        "    i -> double(1) / i),"
        "   acc, (a, x) -> a + x)),"
        " cast(0.0 as double))"
    )


def _scaled(method: str, p_col: str) -> Column:
    term = _SCALED[method](F.col(p_col), F.col("_n"), F.col("_rank"), F.col("_cn"))
    return F.least(term, F.lit(1.0))


def _orders(p_col: str, tiebreak_col: str | None, step_down: bool):
    """(rank order, cumulative-extreme order): ascending p for the rank;
    the extreme runs forward (holm's cummax) or in reverse (BH/BY's
    cummin)."""
    keys = [F.col(p_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    order = [c.asc() for c in keys]
    return order, order if step_down else [c.desc() for c in keys]


def _p_adjust_window(
    df: DataFrame,
    p_col: str,
    out_col: str,
    method: str,
    parts: list[str],
    tiebreak_col: str | None,
) -> DataFrame:
    step_down = method == "holm"
    order, cum_order = _orders(p_col, tiebreak_col, step_down)
    w_rank = Window.partitionBy(*parts).orderBy(*order)
    w_cum = (
        Window.partitionBy(*parts)
        .orderBy(*cum_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if method == "BY":
        # per-partition (n, c(n)) on a one-row-per-group aggregate,
        # broadcast back: the O(n) harmonic fold runs once per group
        counts = (
            df.groupBy(*parts)
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_cn", _harmonic("_n"))
        )
        joined = (
            df.join(F.broadcast(counts), parts)
            if parts
            else df.crossJoin(F.broadcast(counts))
        )
        ranked = joined.withColumn("_rank", F.row_number().over(w_rank))
    else:
        ranked = df.withColumn("_rank", F.row_number().over(w_rank)).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(*parts))
        )
    ext = F.max if step_down else F.min
    return (
        ranked.withColumn("_scaled", _scaled(method, p_col))
        .withColumn(out_col, ext("_scaled").over(w_cum))
        .drop(*_TEMP)
    )


def p_adjust_histogram(
    df: DataFrame,
    p_col: str,
    out_col: str = "adj_p_value",
    method: str = "BH",
    tiebreak_col: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact p-adjust without a global sort window — the billion-row
    scale path.  The unpartitioned ``orderBy(p)`` window moves the whole
    relation to ONE task; fine for post-aggregate gene lists, fatal for
    permutation-scale p-sets.  This form range-buckets p into
    ``n_buckets`` equi-width bins so every window is partitioned by
    bucket:

    1. histogram pass: per-bucket counts -> cumulative base rank per
       bucket + total n (a <= n_buckets-row relation, broadcast back;
       BY's c(n) is folded ONCE on a one-row total, not per bucket);
    2. rank pass: global rank = bucket base + row_number within bucket
       (exact, because buckets are value ranges: every p in bucket k
       sorts before every p in bucket k+1, and ties share a bucket);
    3. cumulative extreme = combine(within-bucket cumulative extreme,
       extreme over the buckets before it in step order) — suffix-min
       of HIGHER buckets for BH/BY, prefix-max of LOWER buckets for
       holm, again computed on the tiny per-bucket relation and
       broadcast.  ``least``/``greatest`` ignore the null edge of the
       first bucket in step order.

    Same scaled term and tie semantics as the window form, so the
    output is bit-identical; the only unpartitioned windows run on
    ``n_buckets`` rows regardless of |df|.  Under a uniform-ish p
    distribution each bucket holds |df|/n_buckets rows; AQE skew-split
    covers spiky nulls at p≈0.
    """
    method = _method(method)
    step_down = method == "holm"
    order, cum_order = _orders(p_col, tiebreak_col, step_down)
    with_b = df.withColumn(
        "_bkt",
        F.least(
            F.floor(F.col(p_col) * n_buckets).cast("int"), F.lit(n_buckets - 1)
        ),
    )
    hist = with_b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    w_base = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    based = hist.withColumn(
        "_base", F.coalesce(F.sum("_cnt").over(w_base), F.lit(0))
    )
    if method == "BY":
        totals = hist.agg(F.sum("_cnt").alias("_n")).withColumn(
            "_cn", _harmonic("_n")
        )
        cum = based.crossJoin(F.broadcast(totals)).select(
            "_bkt", "_base", "_n", "_cn"
        )
    else:
        cum = based.withColumn(
            "_n", F.sum("_cnt").over(Window.partitionBy())
        ).select("_bkt", "_base", "_n")
    w_in = Window.partitionBy("_bkt").orderBy(*order)
    ranked = (
        with_b.join(F.broadcast(cum), "_bkt")
        .withColumn("_rank", F.col("_base") + F.row_number().over(w_in))
        .withColumn("_scaled", _scaled(method, p_col))
    )
    if step_down:
        ext, combine, bkt_order = F.max, F.greatest, F.col("_bkt").asc()
        per_bkt, edge, cum_in = "_bmax", "_premax", "_fwdmax"
    else:
        ext, combine, bkt_order = F.min, F.least, F.col("_bkt").desc()
        per_bkt, edge, cum_in = "_bmin", "_sufmin", "_revmin"
    w_edge = Window.orderBy(bkt_order).rowsBetween(Window.unboundedPreceding, -1)
    edges = (
        ranked.groupBy("_bkt")
        .agg(ext("_scaled").alias(per_bkt))
        .withColumn(edge, ext(per_bkt).over(w_edge))
        .select("_bkt", edge)
    )
    w_cum_in = Window.partitionBy("_bkt").orderBy(*cum_order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ranked.join(F.broadcast(edges), "_bkt")
        .withColumn(cum_in, ext("_scaled").over(w_cum_in))
        .withColumn(out_col, combine(F.col(cum_in), F.col(edge)))
        .drop("_bkt", "_base", *_TEMP, cum_in, edge)
    )


def p_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "adj_p_value",
    method: str = "BH",
    partition_cols: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """The reference DE scripts' full ``adjust`` argument surface
    (`DiffExpression_closedPlatform.R:24`): R ``p.adjust`` by
    ``method``.  ``fdr`` is R's own alias of BH; ``none`` passes p
    through unchanged (R returns p itself).

    Adaptive scale guard: an unpartitioned sort window on a relation
    Catalyst can't prove single-task-small funnels the whole p-set
    through one task, so it routes to the bit-identical
    :func:`p_adjust_histogram` instead (p in [0,1] by contract, so the
    equi-width bucketing needs no bounds pass)."""
    if method == "none":
        return df.withColumn(out_col, F.col(p_col))
    method = _method(method)
    parts = partition_cols or []
    if not parts and not fits_single_task(df):
        return p_adjust_histogram(df, p_col, out_col, method, tiebreak_col=tiebreak_col)
    return _p_adjust_window(df, p_col, out_col, method, parts, tiebreak_col)
