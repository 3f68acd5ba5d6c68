"""operators/prefix_scan.py: the two-phase distributed scans must be
BIT-IDENTICAL to the ``Window.orderBy`` single-partition forms they
replace, for every aggregate, frame, and degenerate input — and the
order-aligned bucketing contract (non-decreasing along the sort) must
hold for the explicit buckets the call sites pass."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window, functions as F

from bdt_enwikisearch_hadoop_spark.operators.prefix_scan import (
    _bucket_of,
    aligned_bucket,
    global_ntile,
    global_row_number,
    prefix_agg,
)

ORDER = ["k", "id"]  # duplicate-heavy key + pk tiebreaker = total order


@pytest.fixture(scope="module")
def df(spark):
    random.seed(13)
    # negative values on purpose: the scan must not assume monotone
    # running sums; duplicate k values straddle bucket boundaries
    rows = [(i % 97, i, random.randint(-50, 50)) for i in range(701)]
    return spark.createDataFrame(rows, "k long, id long, v long").repartition(7)


def _window(df, inclusive):
    end = Window.currentRow if inclusive else -1
    return (
        Window.orderBy(*ORDER)
        .rowsBetween(Window.unboundedPreceding, end)
    )


@pytest.mark.parametrize("agg", ["sum", "max", "min", "count"])
@pytest.mark.parametrize("inclusive", [True, False])
def test_prefix_agg_matches_single_window(spark, df, agg, inclusive):
    aggf = {
        "sum": F.sum("v"),
        "max": F.max("v"),
        "min": F.min("v"),
        "count": F.count(F.lit(1)),
    }[agg]
    exp = df.withColumn("e", aggf.over(_window(df, inclusive)))
    got = prefix_agg(
        df, ORDER, "v", "g", agg=agg, inclusive=inclusive, n_buckets=11
    )
    joined = exp.join(got, ORDER + ["v"])
    assert joined.count() == df.count()
    # eqNullSafe: the exclusive frame's first row is NULL on both sides
    assert joined.filter(~F.col("e").eqNullSafe(F.col("g"))).count() == 0


def test_global_row_number_matches_window(spark, df):
    exp = df.withColumn(
        "e", F.row_number().over(Window.orderBy(*ORDER)).cast("long")
    )
    got = global_row_number(df, ORDER, "g", n_buckets=11)
    j = exp.join(got, ORDER + ["v"])
    assert j.filter(F.col("e") != F.col("g")).count() == 0


@pytest.mark.parametrize("n", [1, 7, 8, 701, 1000])
def test_global_ntile_matches_window(spark, df, n):
    """Covers every remainder-rule regime: n | rows, n ∤ rows, n = rows
    (each row its own tile) and n > rows (base = 0)."""
    exp = df.withColumn("e", F.ntile(n).over(Window.orderBy(*ORDER)))
    got = global_ntile(df, ORDER, n, "g", n_buckets=11)
    j = exp.join(got, ORDER + ["v"])
    assert j.filter(F.col("e") != F.col("g")).count() == 0
    assert dict(got.dtypes)["g"] == "int"  # NTILE's type, schema-pinned


def test_explicit_hash_prefix_bucket_is_order_aligned(spark):
    """j71's bucket contract: md5 is fixed-width lowercase hex, so
    lexicographic order equals leading-32-bit value order — the bucket
    must be NON-DECREASING along the sort, and the ranks must match
    the window form exactly."""
    docs = spark.range(500).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    bucket = (
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
        * 16
        / F.lit(2**32)
    ).cast("int")
    got = global_row_number(docs, ["h", "id"], "g", bucket=bucket)
    exp = docs.withColumn(
        "e", F.row_number().over(Window.orderBy("h", "id")).cast("long")
    )
    assert (
        exp.join(got, ["h", "id"]).filter(F.col("e") != F.col("g")).count()
        == 0
    )
    # alignment property, directly: bucket never decreases in h-order
    b = docs.select(bucket.alias("b"), "h", "id")
    w = Window.orderBy("h", "id")
    assert (
        b.withColumn("prev", F.lag("b").over(w))
        .filter(F.col("b") < F.col("prev"))
        .count()
        == 0
    )


def test_degenerate_inputs(spark):
    # empty frame: no rows out, no errors (sketch returns no bounds)
    empty = spark.createDataFrame([], "k long, id long, v long")
    assert prefix_agg(empty, ORDER, "v", "g").count() == 0
    assert global_ntile(empty, ORDER, 4, "g").count() == 0
    # constant key: one bucket (any range partitioner's behavior),
    # still exact
    const = spark.createDataFrame(
        [(5, i, i * 2) for i in range(40)], "k long, id long, v long"
    )
    got = prefix_agg(const, ORDER, "v", "cum", agg="sum", n_buckets=8)
    exp = const.withColumn(
        "e", F.sum("v").over(_window(const, True))
    )
    assert (
        exp.join(got, ORDER + ["v"])
        .filter(F.col("e") != F.col("cum"))
        .count()
        == 0
    )
    # single row
    one = spark.createDataFrame([(1, 1, 9)], "k long, id long, v long")
    assert global_row_number(one, ORDER, "rn").first()["rn"] == 1


def test_sketch_bucket_is_reasonably_balanced(spark):
    """The approx_percentile boundaries exist ONLY for load balance —
    correctness never depends on them — but a sketch that dumps
    everything in one bucket would quietly rebuild the serialization
    this module removes.  Uniform input over 16 requested buckets must
    use a healthy number of them."""
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 100_000).alias("k"),
        F.col("id").alias("id"),
        F.lit(1).alias("v"),
    )
    b = aligned_bucket(df, "k", 16)
    n_used = df.select(b.alias("b")).distinct().count()
    assert n_used >= 8, n_used


@pytest.mark.parametrize("agg,inclusive", [("sum", True), ("max", False)])
def test_grouped_prefix_agg_matches_partitioned_window(
    spark, df, agg, inclusive
):
    """partition_cols: low-cardinality groups (here k%3) must be
    bit-identical to PARTITION BY g ORDER BY ... — including groups
    whose rows straddle bucket boundaries."""
    g = df.withColumn("g", (F.col("k") % 3).cast("string"))
    end = Window.currentRow if inclusive else -1
    w = (
        Window.partitionBy("g")
        .orderBy(*ORDER)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    aggf = {"sum": F.sum("v"), "max": F.max("v")}[agg]
    exp = g.withColumn("e", aggf.over(w))
    got = prefix_agg(
        g,
        ORDER,
        "v",
        "o",
        agg=agg,
        inclusive=inclusive,
        partition_cols=["g"],
        n_buckets=11,
    )
    j = exp.join(got, ["g"] + ORDER + ["v"])
    assert j.count() == g.count()
    assert j.filter(~F.col("e").eqNullSafe(F.col("o"))).count() == 0


def test_grouped_row_number_with_total_matches_windows(spark, df):
    """total_col must equal COUNT(*) OVER (PARTITION BY g) and the rank
    must equal ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...) — both
    from one scan."""
    g = df.withColumn("g", (F.col("k") % 3).cast("string"))
    w = Window.partitionBy("g").orderBy(*ORDER)
    exp = g.select(
        "g",
        *ORDER,
        F.row_number().over(w).cast("long").alias("e_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("e_n"),
    )
    got = global_row_number(
        g, ORDER, "rn", partition_cols=["g"], total_col="n", n_buckets=11
    )
    j = exp.join(got, ["g"] + ORDER)
    assert (
        j.filter(
            (F.col("e_rn") != F.col("rn")) | (F.col("e_n") != F.col("n"))
        ).count()
        == 0
    )


def test_grouped_ntile_matches_partitioned_window(spark, df):
    g = df.withColumn("g", (F.col("k") % 3).cast("string"))
    w = Window.partitionBy("g").orderBy(*ORDER)
    exp = g.withColumn("e", F.ntile(7).over(w))
    got = global_ntile(
        g, ORDER, 7, "o", partition_cols=["g"], n_buckets=11
    )
    j = exp.join(got, ["g"] + ORDER + ["v"])
    assert j.filter(F.col("e") != F.col("o")).count() == 0


def test_reserved_column_names_refuse(spark, df):
    """An input already carrying a _ps_* internal name must refuse by
    name, not get silently overwritten and dropped."""
    poisoned = df.withColumn("_ps_bkt", F.lit(1))
    with pytest.raises(ValueError, match="_ps_bkt"):
        prefix_agg(poisoned, ORDER, "v", "g")


def test_null_group_key_matches_window_form(spark, df):
    """A NULL partition key is ONE ordinary partition in the window
    form — the closure join must be null-safe so the NULL group's scan
    carries across buckets instead of silently restarting (and its
    total must not come back NULL)."""
    g = df.withColumn(
        "g",
        F.when(F.col("k") % 3 == 0, F.lit(None)).otherwise(
            (F.col("k") % 3).cast("string")
        ),
    )
    w = Window.partitionBy("g").orderBy(*ORDER)
    exp = g.select(
        "g",
        *ORDER,
        F.row_number().over(w).cast("long").alias("e_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("e_n"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("e_cum"),
    )
    got_rn = global_row_number(
        g, ORDER, "rn", partition_cols=["g"], total_col="n", n_buckets=11
    )
    got_cum = prefix_agg(
        g, ORDER, "v", "cum", partition_cols=["g"], n_buckets=11
    )
    joined = (
        exp.join(got_rn, ["g"] + ORDER)
        .join(got_cum.select("g", *ORDER, "cum"), ["g"] + ORDER)
    )
    # the join above drops NULL-g rows (plain equi-join) — compare the
    # NULL group explicitly via null-safe filters
    null_exp = {
        (r["k"], r["id"]): (r["e_rn"], r["e_n"], r["e_cum"])
        for r in exp.filter(F.col("g").isNull()).collect()
    }
    null_got_rn = {
        (r["k"], r["id"]): (r["rn"], r["n"])
        for r in got_rn.filter(F.col("g").isNull()).collect()
    }
    null_got_cum = {
        (r["k"], r["id"]): r["cum"]
        for r in got_cum.filter(F.col("g").isNull()).collect()
    }
    assert null_exp, "fixture must produce a NULL group"
    for key, (ern, en, ecum) in null_exp.items():
        assert null_got_rn[key] == (ern, en), key
        assert null_got_cum[key] == ecum, key
    assert (
        joined.filter(
            (F.col("e_rn") != F.col("rn"))
            | (F.col("e_n") != F.col("n"))
            | (F.col("e_cum") != F.col("cum"))
        ).count()
        == 0
    )


def test_prefix_agg_total_col_matches_group_sum(spark, df):
    g = df.withColumn("g", (F.col("k") % 3).cast("string"))
    got = prefix_agg(
        g, ORDER, "v", "cum", partition_cols=["g"], total_col="tot",
        n_buckets=11,
    )
    exp = g.withColumn(
        "e_tot", F.sum("v").over(Window.partitionBy("g"))
    )
    j = exp.join(got.select("g", *ORDER, "tot"), ["g"] + ORDER)
    assert j.filter(~F.col("e_tot").eqNullSafe(F.col("tot"))).count() == 0


def test_count_exclusive_first_row_is_zero_not_null(spark, df):
    """COUNT over the exclusive first-row (empty) frame is 0 — never
    NULL — matching COUNT(*) window semantics exactly (the local count
    is 0 and the coalesce passes it through); sum stays NULL there.
    Pins the documented contract so no caller needs a coalesce."""
    got = prefix_agg(df, ORDER, None, "c", agg="count", inclusive=False)
    exp = df.withColumn(
        "e", F.count(F.lit(1)).over(_window(df, False))
    )
    j = exp.join(got.select(*ORDER, "c"), ORDER)
    assert j.filter(~F.col("e").eqNullSafe(F.col("c"))).count() == 0
    first = (
        got.orderBy(*ORDER).select("c").first()["c"]
    )
    assert first == 0 and first is not None


def test_caller_supplied_null_bucket_refused_at_runtime(spark):
    """A NULL caller-supplied bucket would close as its OWN bucket that
    sorts FIRST in the closure (null-safe join + NULLS FIRST), silently
    misordering the scan — so the scan must refuse it by name at
    runtime instead."""
    rows = [(None if i % 7 == 0 else i % 5, i, 1) for i in range(50)]
    t = spark.createDataFrame(rows, "k int, id long, v long")
    bad = prefix_agg(
        t, ["k", "id"], "v", "cum", bucket=F.col("k").cast("int")
    )
    with pytest.raises(Exception, match="bucket expression produced NULL"):
        bad.collect()
    # the same expression made non-null passes untouched
    ok = prefix_agg(
        t, ["k", "id"], "v", "cum",
        bucket=F.coalesce(F.col("k"), F.lit(-1)).cast("int"),
    )
    assert ok.count() == 50


def test_constant_leading_key_warns_single_bucket(spark):
    """A constant leading sort key collapses the sketch to one bucket —
    still correct, but it silently reinstates the one-task scan this
    module removes, so the degradation must be VISIBLE (ADVICE r13)."""
    const = spark.createDataFrame(
        [(7, i, i * 3) for i in range(30)], "k long, id long, v long"
    )
    with pytest.warns(UserWarning, match="constant"):
        aligned_bucket(const, "k", 8)


def test_sketch_memoized_second_construction_adds_zero_jobs(spark, sf_dir):
    """aligned_bucket's boundary sketch is an EAGER sample job at plan
    construction; it must run ONCE per (application, input, column,
    geometry) — constructing the same prefix-scan query twice must add
    ZERO Spark jobs the second time (the _PQ_META discipline), and the
    memoized plan must be the same plan."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    tracker = spark.sparkContext.statusTracker()

    def n_jobs() -> int:
        return len(tracker.getJobIdsForGroup())

    for key in ("d22_equi_depth_histogram", "j42_dsir_select"):
        first = QUERIES[key](spark, sf_dir)  # may run sketch jobs
        before = n_jobs()
        second = QUERIES[key](spark, sf_dir)
        assert n_jobs() == before, key
        assert first.schema == second.schema, key


@pytest.mark.parametrize("n_bounds", [1, 2, 7, 63])
def test_bucket_of_when_tree_equals_filter_count(spark, n_bounds):
    """``_bucket_of``'s binary-search WHEN tree must equal the form it
    replaced, ``size(filter(array(bounds), b -> col > b))`` — the count
    of bounds strictly below the key — for random doubles, every exact
    boundary value and its neighbours, ±inf, NaN and NULL keys."""
    rnd = random.Random(n_bounds)
    bounds = sorted({round(rnd.uniform(-100, 100), 2)
                     for _ in range(n_bounds)})
    while len(bounds) < n_bounds:
        bounds = sorted(set(bounds) | {round(rnd.uniform(-100, 100), 2)})
    xs = [rnd.uniform(-150, 150) for _ in range(300)]
    for b in bounds:
        xs += [b, b - 1e-9, b + 1e-9]
    xs += [float("inf"), float("-inf"), float("nan"), None, None]
    t = spark.createDataFrame([(x,) for x in xs], "x double")
    old = F.size(F.filter(
        F.array(*[F.lit(b) for b in bounds]), lambda b: F.col("x") > b
    ))
    got = t.select(
        "x",
        _bucket_of(F.col("x"), bounds).alias("tree"),
        old.alias("filt"),
    )
    bad = got.filter(F.col("tree") != F.col("filt")).collect()
    assert not bad, bad[:5]
    assert got.filter(F.col("tree").isNull()).count() == 0


@pytest.mark.parametrize("bounds", [[2.0, 1.0], [1.0, 1.0], [0.0, 3.0, 3.0]])
def test_bucket_of_refuses_unsorted_or_duplicate_bounds(spark, bounds):
    """The binary search only counts correctly over strictly increasing
    bounds — anything else must raise, not mis-bucket silently."""
    with pytest.raises(ValueError, match="sorted and duplicate-free"):
        _bucket_of(F.col("x"), bounds)
