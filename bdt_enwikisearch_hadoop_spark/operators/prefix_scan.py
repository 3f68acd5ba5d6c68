"""Exact distributed prefix scans (running sum/max/min/count, global
row numbers, global NTILE) without a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` is the one DataFrame
construct that silently serializes a corpus: Spark plans ``Exchange
SinglePartition`` and ONE task holds every row (the WindowExec warning
in any log that contains it).  Fine over a dim-sized aggregate;
a 100 TB death sentence over a fact table.  These helpers compute the
same EXACT results with the classic two-phase scan:

1. **Order-aligned bucketing.**  Each row gets a bucket id that is
   non-decreasing along the requested sort order — either derived here
   from an ``approx_percentile`` sketch of the leading order column
   (boundary literals off a seeded sample; ANY boundary placement is
   correct, the sketch only balances load, so sampling error is free)
   or supplied by the caller as an aligned expression (e.g. a hash
   prefix range for an already-uniform key, which skips the sketch
   pass entirely).
2. **Partition-local scan.**  The running value within each bucket is
   an ordinary PARTITIONED window — ONE hash exchange on the bucket
   id, the same corpus cost the single-partition form pays, but spread
   over every core in the cluster, and the per-task working set is a
   bucket, not the corpus.
3. **Metadata-sized closure.**  Per-bucket totals (map-side partial
   aggregation: the corpus reduces to ≤ |buckets| rows per task BEFORE
   its exchange) are closed with the only remaining unpartitioned
   window — bounded by the bucket COUNT, never by the data — and
   broadcast-joined back.

Cost accounting, honestly: the INPUT IS EVALUATED TWICE (the window
pass and the totals pass) — three times when the sketch runs, and the
sketch is an EAGER sample-sized job at plan-CONSTRUCTION time (the
price of literal boundaries; ``hex_prefix_bucket`` or any explicit
bucket skips it).  The sketch is memoized per (application,
input-identity, column, geometry) — the ``_PQ_META`` discipline from
ann.py — so repeated plan construction over the same input pays the
sample job ONCE per session.  Over a raw table that is two
column-pruned scans —
measured ~2× wall at sf0.1 on local[n], where a 600k-row one-task
sort is nearly free.  Over an EXPENSIVE DERIVED input the upstream
pipeline recomputes per pass: pass a materialized/checkpointed frame
(j31's discipline) when the input itself cost a shuffle to build.
The buy: THIS shape's critical path is a 1/|buckets| slice of the
corpus and stays flat as executors are added; the one-task form is
the whole corpus through one JVM thread — minutes-to-hours and an OOM
risk at 100 TB.  We buy scale-out with local milliseconds.

The arithmetic is the window's own (no monotonicity assumption: sums
may go negative, ``max`` may stall), so results are bit-identical to
the ``Window.orderBy`` form whenever ``order_cols`` is a TOTAL order —
the same determinism contract every ordered operator here already
carries (§2.0 rule 4: always include a pk tiebreaker) — for EXACT
value types (integer/long/decimal; count/rank/ntile always).  A
floating-point SUM is reassociated (per-bucket totals + offset vs the
window's strict left-to-right fold) and can differ in the last ulp;
every call site here sums longs, and a float-summing caller owns the
4dp-floor (or equivalent) that this repo's float-sensitive operators
already apply before comparison.

NULL order keys sort first (Spark/DuckDB ASC default); a NULL leading
key comparing ``> boundary`` as NULL lands in bucket 0, which is
exactly where nulls-first ordering needs it.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window, functions as F

_LOC = "_ps_loc"  # partition-local running value
_OFF = "_ps_off"  # exclusive prefix of the buckets before this one
_TOT = "_ps_tot"  # grand total over all buckets (ntile's divisor)
_BKT = "_ps_bkt"  # order-aligned bucket id

_AGGS = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "count": lambda c: F.count(F.lit(1)),
}
# how a bucket's local value combines with the prior buckets' total;
# coalesce(a+b, a, b) is null-correct (a lone side passes through);
# sum's local is NULL over an empty frame, count's is 0 (COUNT never
# yields NULL), so the combined first-row exclusive value is NULL for
# sum and 0 for count — both matching the window form exactly;
# greatest/least skip NULLs natively
_COMBINE = {
    "sum": lambda loc, off: F.coalesce(loc + off, loc, off),
    "count": lambda loc, off: F.coalesce(loc + off, loc, off),
    "max": F.greatest,
    "min": F.least,
}


#: boundary-sketch memo: (applicationId, df.semanticHash(), order_col,
#: n_buckets, sample_fraction) -> bounds list.  Same discipline as
#: ann.py's _PQ_META: keyed by applicationId so a new session can never
#: inherit another session's sketch; entries are a handful of floats,
#: one per distinct (input, column, geometry) per application, so no
#: eviction is needed.  The fixture tables are immutable within a
#: session, so identical analyzed plans imply identical data.
_SKETCH_CACHE: dict = {}


def _sketch_bounds(
    df: DataFrame, order_col: str, n_buckets: int, sample_fraction: float
) -> list:
    """One sketch job: distinct approx-percentile boundaries over a
    seeded sample, retried over the FULL input when the sample comes
    back degenerate, with a visible warning when the full input itself
    collapses to a single bucket (constant or all-NULL leading key) —
    the scan is still CORRECT then, but it runs as the one-task form
    this module exists to remove, and the caller should hear about it
    (supply an explicit bucket or a higher-cardinality leading
    column)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]

    def one(frame):
        row = frame.agg(
            F.percentile_approx(order_col, qs, 1_000).alias("b"),
            F.count(order_col).alias("n"),
            F.min(order_col).alias("lo"),
            F.max(order_col).alias("hi"),
        ).first()
        return sorted(set(row["b"] or [])), row["n"], row["lo"], row["hi"]

    bounds, n, lo, hi = one(df.sample(fraction=sample_fraction, seed=13))
    if (not bounds or lo == hi) and sample_fraction < 1.0:
        # degenerate SAMPLE (empty, or constant within the sample) —
        # retry over the full input before concluding anything
        bounds, n, lo, hi = one(df)
    if n and lo == hi:
        warnings.warn(
            f"prefix_scan: leading sort column {order_col!r} is constant"
            f" over the input — every row lands in ONE bucket and the"
            f" scan degenerates to the single-task form; supply an"
            f" explicit order-aligned bucket or a higher-cardinality"
            f" leading column",
            stacklevel=3,
        )
    return bounds


def aligned_bucket(
    df: DataFrame,
    order_col: str,
    n_buckets: int,
    sample_fraction: float = 0.1,
) -> Column:
    """An order-aligned bucket id for a NUMERIC leading sort column:
    ``approx_percentile`` boundary sketch over a seeded sample → per-
    row count of boundaries strictly below the key (a balanced
    binary-search WHEN tree, ~log2(|buckets|) comparisons per row — no
    UDF; :func:`_bucket_of`).  Every boundary placement yields correct
    scan results; the sketch only balances bucket sizes, so neither its
    accuracy knob nor the sampling error is a correctness input.
    Constant keys degenerate to one bucket — exactly what any range
    partitioner does with them — with a ``warnings.warn`` so the
    degradation is visible.  The sketch job runs ONCE per
    (application, input-identity, column, geometry): repeated plan
    construction over the same frame serves the memoized boundaries
    (``_SKETCH_CACHE``) with zero extra Spark jobs."""
    key = (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        order_col,
        n_buckets,
        sample_fraction,
    )
    bounds = _SKETCH_CACHE.get(key)
    if bounds is None:
        bounds = _SKETCH_CACHE[key] = _sketch_bounds(
            df, order_col, n_buckets, sample_fraction
        )
    if not bounds:
        return F.lit(0)
    return _bucket_of(F.col(order_col), bounds)


def _bucket_of(col: Column, bounds: list) -> Column:
    """Bucket id = COUNT of sorted ``bounds`` strictly below ``col`` as
    a balanced binary-search WHEN tree over the literal boundaries —
    ~log2(|bounds|) codegen comparisons per row.  The previous
    ``size(filter(array(...), b -> col > b))`` form evaluated an
    INTERPRETED higher-order lambda against every boundary for every
    row (63 comparisons + a filtered-array allocation per row at the
    default 64-bucket geometry, and the scan evaluates the bucket in
    BOTH of its passes): measured 4.97 s → ~2.5 s executor CPU on d22's
    600k-row ntile (round 16).  NULL keys: ``col > bound`` is NULL, so
    every WHEN falls through to its left branch and a NULL lands in
    bucket 0 — identical to the filter form (NULL predicate rows were
    dropped, size 0) and exactly where nulls-first ordering needs it.

    ``bounds`` must be strictly increasing: the tree's binary search
    equals the count only over sorted, duplicate-free boundaries, so
    anything else raises ``ValueError`` instead of mis-bucketing."""
    if any(not a < b for a, b in zip(bounds, bounds[1:])):
        raise ValueError(
            f"_bucket_of: bounds must be sorted and duplicate-free, got "
            f"{bounds!r}"
        )

    def tree(lo: int, hi: int) -> Column:
        # bucket id within [lo, hi], searching bounds[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(col > F.lit(bounds[mid]), tree(mid + 1, hi))
            .otherwise(tree(lo, mid))
        )

    return tree(0, len(bounds)).cast("int")


def hex_prefix_bucket(col: Column, n_buckets: int = 64) -> Column:
    """Order-aligned bucket for a fixed-width lowercase-hex sort key
    (md5/sha...): lexicographic order of equal-length hex strings IS
    numeric order of their values, so equal-width ranges of the leading
    32 bits are exactly aligned — and the key being uniform by
    construction, they are load-balanced with no sketch pass at all.
    The key must be NON-NULL (hash a pk, as every call site does):
    a NULL key yields a NULL bucket, which the scan REJECTS at runtime
    — the null-safe closure join would otherwise close it as its own
    bucket that sorts FIRST, silently misordering the scan whenever the
    NULL-bucket rows are not first in sort order.  See ``prefix_agg``'s
    bucket contract."""
    return (
        F.conv(F.substring(col, 1, 8), 16, 10).cast("long")
        * n_buckets
        / F.lit(2**32)
    ).cast("int")


def _scanned(
    df: DataFrame,
    order_cols: list[str],
    local: Column,
    value_col: str | None,
    agg: str,
    bucket: Column | None,
    n_buckets: int,
    partition_cols: list[str] = (),
) -> DataFrame:
    """The shared two-phase frame: df + bucket id + the partition-local
    window column + broadcast (_OFF exclusive-prefix, _TOT grand total)
    per (partition, bucket).  One parallel corpus exchange; the totals
    pass reduces map-side to ≤ |groups|·|buckets| rows before ITS
    exchange; the closure window runs over that metadata-sized
    aggregate only — and with ``partition_cols`` it is itself
    PARTITIONED (parallel across groups), so no SinglePartition
    exchange exists anywhere in the grouped form."""
    clash = sorted(c for c in df.columns if c.startswith("_ps_"))
    if clash:
        raise ValueError(
            f"prefix_scan: input already has reserved column(s) "
            f"{clash} (the _ps_ prefix is internal) — rename them "
            f"before the scan"
        )
    if bucket is not None:
        # REJECT a NULL caller-supplied bucket at runtime: the
        # null-safe closure join would close it as its own bucket
        # sorted FIRST (NULLS FIRST in the closure's orderBy), silently
        # misordering the scan — a data-dependent hazard no test of the
        # caller's happy path would catch.  assert_true is data-
        # dependent, so Catalyst cannot fold the branch away; the cost
        # is one null-check per row, JVM-side.
        b = F.when(
            bucket.isNull(),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "prefix_scan: caller-supplied bucket expression "
                    "produced NULL — buckets must be NON-NULL and "
                    "order-aligned (see prefix_agg's bucket contract)"
                ),
            ),
        ).otherwise(bucket)
    else:
        b = aligned_bucket(df, order_cols[0], n_buckets)
    pc = list(partition_cols)
    t = df.withColumn(_BKT, b)
    loc = t.withColumn(_LOC, local)
    w = (
        Window.partitionBy(*pc).orderBy(_BKT)
        if pc
        else Window.orderBy(_BKT)
    )
    comb = F.sum if agg in ("sum", "count") else _AGGS[agg]
    full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        t.groupBy(*pc, _BKT)
        .agg(_AGGS[agg](value_col).alias("_t"))
        .select(
            *[F.col(c).alias(f"_ps_r_{c}") for c in pc],
            F.col(_BKT).alias("_ps_r_bkt"),
            comb("_t")
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .alias(_OFF),
            comb("_t").over(full).alias(_TOT),
        )
    )
    # NULL-SAFE closure join: the window form treats a NULL group key
    # as one ordinary partition, so the closure must too — a plain
    # equi-join would never match it, silently restarting every
    # NULL-group scan at its bucket boundary (the right side is
    # renamed, not self-referenced, so the condition binds cleanly)
    conds = [F.col(c).eqNullSafe(F.col(f"_ps_r_{c}")) for c in pc]
    conds.append(F.col(_BKT).eqNullSafe(F.col("_ps_r_bkt")))
    cond = conds[0]
    for extra in conds[1:]:
        cond = cond & extra
    return (
        loc.join(F.broadcast(offs), cond, "left")
        .drop(*[f"_ps_r_{c}" for c in pc], "_ps_r_bkt")
    )


def prefix_agg(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | None,
    out_col: str,
    agg: str = "sum",
    inclusive: bool = True,
    bucket: Column | None = None,
    n_buckets: int = 64,
    partition_cols: list[str] = (),
    total_col: str | None = None,
) -> DataFrame:
    """``aggf(value_col) OVER ([PARTITION BY partition_cols] ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING [AND CURRENT ROW | AND -1])``
    — exact, with one PARALLEL corpus exchange instead of Exchange
    SinglePartition.  ``total_col`` additionally emits the [group]
    GRAND total of ``value_col`` — the closure already computed it, so
    callers needing "running + total" (resamplers, quota fills) must
    not pay a second aggregate pass for it.

    ``partition_cols`` is for LOW-cardinality groups (language, source,
    modality): the plain window form is just as serialized there — the
    whole group rides one task — while this form splits every group
    across |buckets| tasks and its closure stays |groups|·|buckets|
    rows.  High-cardinality partitions (per-document, per-query) don't
    need any of this; use the plain window.

    ``(partition_cols, order_cols)`` must be a total order for a
    deterministic result (the same contract the window form carries).
    ``bucket`` overrides the numeric-leading-column sketch with any
    expression that is non-decreasing along the sort order WITHIN each
    group (e.g. a uniform hash prefix) and NEVER NULL — a NULL bucket
    would close as its own bucket that sorts FIRST in the closure,
    silently misordering the scan, so the scan REJECTS it at runtime
    (``aligned_bucket`` cannot produce one; a custom expression over a
    nullable key can).  ``agg='count'`` ignores ``value_col``.  For the
    exclusive first row (empty frame) sum/max/min yield NULL exactly as
    the window form does; COUNT yields 0, also matching the window form
    (COUNT over an empty frame is 0, never NULL) — no coalesce needed
    at count call sites.
    """
    if agg not in _AGGS:
        raise ValueError(f"prefix_agg: unknown agg {agg!r}")
    end = Window.currentRow if inclusive else -1
    wloc = (
        Window.partitionBy(*partition_cols, _BKT)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = _AGGS[agg](value_col).over(wloc)
    out = _scanned(
        df, order_cols, local, value_col, agg, bucket, n_buckets,
        partition_cols,
    ).withColumn(out_col, _COMBINE[agg](F.col(_LOC), F.col(_OFF)))
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOT))
    return out.drop(_BKT, _LOC, _OFF, _TOT)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    bucket: Column | None = None,
    n_buckets: int = 64,
    partition_cols: list[str] = (),
    total_col: str | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER ([PARTITION BY partition_cols] ORDER BY
    order_cols)`` (1-based, LONG), exact and parallel: partition-local
    row_number + the exclusive prefix of bucket row counts.  See
    ``prefix_agg`` for the low-cardinality-groups contract.
    ``total_col`` additionally emits each group's TOTAL row count (the
    ``COUNT(*) OVER (PARTITION BY partition_cols)`` companion) for free
    from the same closure — rank-vs-quota selections need both and
    should not pay a second pass."""
    local = F.row_number().over(
        Window.partitionBy(*partition_cols, _BKT).orderBy(*order_cols)
    ).cast("long")
    out = _scanned(
        df, order_cols, local, None, "count", bucket, n_buckets,
        partition_cols,
    ).withColumn(
        out_col, F.col(_LOC) + F.coalesce(F.col(_OFF), F.lit(0))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOT))
    return out.drop(_BKT, _LOC, _OFF, _TOT)


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str,
    bucket: Column | None = None,
    n_buckets: int = 64,
    partition_cols: list[str] = (),
) -> DataFrame:
    """``NTILE(n) OVER ([PARTITION BY partition_cols] ORDER BY
    order_cols)`` (INT, SQL remainder rule:
    the first ``total % n`` tiles carry one extra row), computed from
    the distributed global rank plus the grand total the bucket closure
    already carries (no extra corpus pass) — the closed form NTILE
    hides: with ``base = total DIV n`` and ``rem = total % n``, ranks
    up to ``rem*(base+1)`` land in tile ``(rank-1) DIV (base+1) + 1``
    and the rest in ``rem + (rank - rem*(base+1) - 1) DIV base + 1``."""
    local = F.row_number().over(
        Window.partitionBy(*partition_cols, _BKT).orderBy(*order_cols)
    ).cast("long")
    t = _scanned(
        df, order_cols, local, None, "count", bucket, n_buckets,
        partition_cols,
    )
    rk = F.col(_LOC) + F.coalesce(F.col(_OFF), F.lit(0))
    base = F.floor(F.col(_TOT) / n).cast("long")
    rem = F.col(_TOT) % n
    # long-exact: both divisions floor exactly-representable quotients
    # (row counts ≪ 2^53); the base=0 branch (n > total rows) never
    # reaches `otherwise` because rank ≤ total = rem·(base+1) there
    tile = F.when(
        rk <= rem * (base + 1), F.floor((rk - 1) / (base + 1))
    ).otherwise(rem + F.floor((rk - rem * (base + 1) - 1) / base))
    return t.withColumn(out_col, (tile + 1).cast("int")).drop(
        _BKT, _LOC, _OFF, _TOT
    )
