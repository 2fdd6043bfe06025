"""Bucket-offset running aggregation — THE engine-wide pattern for
exact cumulatives/ranks over a bounded value space without a global
window (the hard GLOBW lint rule).

Shape (first built for pipeline_gini/pareto, then zipf, then the r9
statistics family): split the ordered domain into value-contiguous
buckets from approx-percentile cuts (equal values always share a
bucket, so bucket boundaries respect the total order), run B-way
PARALLEL partitioned windows inside buckets, and lift them to global
running totals by adding per-bucket offsets collected as ≤B
control-plane rows. ``percentile_approx`` is only used to PLACE the
cuts — bucket placement can shift with partitioning, but the running
totals are offset-corrected exactly, so results are bit-stable under
any partitioning (pinned by test_partition_count_independence).

Every global rank, prefix sum, prefix max and NTILE in the engine
goes through this module: a rank is the running sum of a literal-1
column (its row count is the ``totals`` by-product), an NTILE is
arithmetic on that rank (``operators.windows.distributed_ntile``),
and a decimal prefix runs over scaled integers. One fix — e.g. the
documented decimal(38,0) upgrade for >2·10⁹-row sums — lands in one
place; tests/test_registry.py lints that ``percentile_approx``
appears nowhere else.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_BUCKETS = 8


def _bucketed(df: DataFrame, order_col: str) -> tuple[DataFrame, bool]:
    """``df`` plus an int ``_bkt`` column: the value-contiguous bucket
    id (0..N_BUCKETS-1) from approx-percentile cuts on ``order_col``.
    The flag is False for an EMPTY frame, counted in the same agg as
    the cuts. percentile_approx returns NULL cuts both there and when
    every ``order_col`` value is NULL; the all-NULL frame is not empty
    and keeps one bucket (every id is 0) on the real path.

    r14 (guide §1.2): the input executes THREE times in either caller
    (the cuts agg, the per-bucket offset collect, the output pass) and
    this build never reuses exchange subtrees — so the input is
    localCheckpoint-ed once here unless the caller already passed a
    materialized checkpoint (LogicalRDD). Callers need no
    pre-checkpoint of their own.

    Cluster-scale caveat (VERDICT r14 #8, applies to EVERY
    localCheckpoint in this engine): localCheckpoint is
    executor-local and non-replicated — a lost executor kills the
    lineage-truncated job. On a real cluster swap in a reliable
    checkpoint dir (spark.sparkContext.setCheckpointDir + .checkpoint)
    for fault tolerance; on this single-box target the local form is
    strictly cheaper. The LogicalRDD-detection guard below is
    private-API introspection, pinned to this Spark build."""
    if (
        df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        != "LogicalRDD"
    ):
        df = df.localCheckpoint(eager=True)
    probs = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    cuts, n = df.agg(
        F.percentile_approx(order_col, probs, 10_000).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).head()
    bucket: Column = F.lit(0)
    for cut in cuts or []:
        bucket = bucket + F.when(F.col(order_col) > F.lit(cut), 1).otherwise(0)
    return df.withColumn("_bkt", bucket.cast("int")), n > 0


def _by_bucket(values: dict, base: Column) -> Column:
    """CASE chain: the literal ``values[_bkt]``, else ``base``."""
    expr = base
    for bkt, v in values.items():
        expr = F.when(F.col("_bkt") == bkt, F.lit(v)).otherwise(expr)
    return expr


def bucketed_running(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    tie_cols: Sequence[str] = (),
) -> tuple[DataFrame, dict[str, int]]:
    """Exact INCLUSIVE running sums of ``sum_cols`` (integer-typed)
    over ``df`` ordered by ``(order_col, *tie_cols)``, without a
    global window.

    Returns ``(out, totals)`` where ``out`` is ``df`` plus a
    ``run_<col>`` column per requested sum (global inclusive running
    total in that order) and an ``_bkt`` int column (the
    value-contiguous bucket id — callers chaining a SECOND running
    pass over derived columns reuse it), and ``totals`` maps each
    sum col to its exact grand total (a by-product of the offset
    collect — no extra pass).

    Cuts are placed on ``order_col`` alone, so rows tied on it share
    a bucket and ``tie_cols`` only order rows inside one bucket's
    window. The FULL order ``(order_col, *tie_cols)`` must be
    DISTINCT (group first, or tie-break on a key). A global 1-based
    rank is the running sum of a literal-1 column; its total is the
    row count. Sums must be integer-typed so offset arithmetic is
    exact — for decimal running sums scale to integer micros first
    (the pipeline_survival_km / pipeline_pareto_abc recipe). Cost:
    the guarded head checkpoint, one ≤B-row collect and one B-way
    parallel window pass; input is expected to be bounded (distinct
    values of a value space, never a raw corpus)."""
    bucketed, nonempty = _bucketed(df, order_col)
    if not nonempty:
        # zero rows -> zero-offset run columns, zero totals. run_<col>
        # is typed from the SUM-result type (analysis only, nothing
        # executes) so the degenerate schema matches the non-empty
        # path even for a non-long sum column (ADVICE r10).
        sum_schema = df.select(
            *[F.sum(c).alias(c) for c in sum_cols]
        ).schema
        out = bucketed.select(
            "*",
            *[
                F.lit(0).cast(f.dataType).alias(f"run_{f.name}")
                for f in sum_schema.fields
            ],
        )
        return out, {c: 0 for c in sum_cols}
    per_bucket = {
        r["_bkt"]: tuple(r[f"_s_{c}"] for c in sum_cols)
        for r in bucketed.groupBy("_bkt")
        .agg(*[F.sum(c).alias(f"_s_{c}") for c in sum_cols])
        .collect()
    }
    offsets: list[dict] = [{} for _ in sum_cols]
    running = [0 for _ in sum_cols]
    for bkt in sorted(per_bucket):
        for i in range(len(sum_cols)):
            if running[i] != 0:
                offsets[i][bkt] = running[i]
            running[i] += per_bucket[bkt][i] or 0
    w = (
        Window.partitionBy("_bkt")
        .orderBy(order_col, *tie_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = bucketed.select(
        "*",
        *[
            (
                _by_bucket(offsets[i], F.lit(0).cast("long"))
                + F.sum(c).over(w)
            ).alias(f"run_{c}")
            for i, c in enumerate(sum_cols)
        ],
    )
    return out, {c: running[i] for i, c in enumerate(sum_cols)}


def bucketed_running_max(
    df: DataFrame,
    order_col: str,
    val_col: str,
) -> DataFrame:
    """Exact EXCLUSIVE-prefix running MAX of integer ``val_col`` over
    ``df`` ordered by ``order_col``, without a global window — the
    dominance-test primitive (skyline/Pareto queries): row i gets
    ``run_max_<val_col>`` = MAX(val) over all rows STRICTLY before it
    in ``order_col`` order (NULL for the global first row).

    Same buckets and guarded head checkpoint as ``bucketed_running``,
    per-bucket parallel windows with an EXCLUSIVE frame, and ≤B
    collected per-bucket maxima lifted to cross-bucket offsets —
    max is reorder-safe, so the offset lift is exact under any
    partitioning. ``order_col`` values must be DISTINCT."""
    bucketed, nonempty = _bucketed(df, order_col)
    null = F.lit(None).cast(df.schema[val_col].dataType)
    if not nonempty:
        return bucketed.select("*", null.alias(f"run_max_{val_col}"))
    per_bucket = {
        r["_bkt"]: r["_m"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.max(val_col).alias("_m"))
        .collect()
    }
    offsets, running = {}, None
    for bkt in sorted(per_bucket):
        if running is not None:
            offsets[bkt] = running
        m = per_bucket[bkt]
        if m is not None:
            running = m if running is None else max(running, m)
    w = (
        Window.partitionBy("_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return bucketed.select(
        "*",
        F.greatest(F.max(val_col).over(w), _by_bucket(offsets, null)).alias(
            f"run_max_{val_col}"
        ),
    )
