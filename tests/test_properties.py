"""Property-style invariants across registered queries (SURVEY §5.3):
relationships that must hold regardless of fixture content."""

from __future__ import annotations

from bdt_enwikisearch_hadoop_spark.registry import QUERIES


def test_no_registered_key_reuses_a_reserved_number():
    """Key-numbering hygiene (VERDICT r12 item 7): the numbering gaps
    in the registry (c28, e12/e13, i24, i41, j41, j75) were SKIPPED
    during authoring — ``git log --all -S`` over full history finds no
    commit ever registering them — and are now reserved so a future
    round can never introduce one of those names with fresh semantics
    (historical artifacts — BASELINE.md records, BENCH_r{N}.json,
    judge coverage tables — are keyed by name).  Two pins: no current
    key collides, and the registry decorator itself REFUSES such a
    registration at import time (the enforcement, not just the
    ledger; ledger text in SURVEY.md §8f)."""
    import re

    import pytest

    from bdt_enwikisearch_hadoop_spark.registry import (
        RESERVED_KEY_NUMBERS,
        query,
    )

    pat = re.compile(r"([a-z]\d+)_")
    for k in QUERIES:
        m = pat.match(k)
        assert not (m and m.group(1) in RESERVED_KEY_NUMBERS), (
            f"registered key {k} collides with reserved number"
        )
    with pytest.raises(ValueError, match="reserved number c28"):
        query("c28_resurrected")(lambda spark, sf_dir: None)
    assert "c28_resurrected" not in QUERIES


def test_union_distinct_subset_of_union_all(spark, sf_dir):
    all_n = QUERIES["g1_union_all"](spark, sf_dir).count()
    dis_n = QUERIES["g2_union_distinct"](spark, sf_dir).count()
    assert 0 < dis_n <= all_n


def test_tf_sums_equal_token_count(spark, sf_dir):
    from pyspark.sql import functions as F

    tf_total = (
        QUERIES["i2_term_freq"](spark, sf_dir)
        .agg(F.sum("tf").alias("s"))
        .collect()[0]["s"]
    )
    tok_total = QUERIES["i1_tokenize"](spark, sf_dir).count()
    assert tf_total == tok_total > 0


def test_dedup_output_bounded_by_input(spark, sf_dir):
    from bdt_enwikisearch_hadoop_spark.sources import load

    n_docs = load(spark, sf_dir, "documents").count()
    n_groups = QUERIES["j1_dedup_exact"](spark, sf_dir).count()
    assert 0 < n_groups <= n_docs


def test_search_and_subset_of_or(spark, sf_dir):
    and_ids = {
        r["doc_id"] for r in QUERIES["i6_search_and"](spark, sf_dir).collect()
    }
    # OR over the same terms, unlimited, must contain every AND hit
    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
        tfidf,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    or_ids = {
        r["doc_id"]
        for r in tfidf(load(spark, sf_dir, "documents"))
        .filter(F.col("term").isin(*QUERY_TERMS))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert and_ids and and_ids <= or_ids


def test_knn_excludes_self(spark, sf_dir):
    rows = QUERIES["j4_knn_self"](spark, sf_dir).collect()
    assert rows and all(r["qid"] != r["nid"] for r in rows)


def test_lsh_pairs_subset_of_exact_with_high_recall(spark, sf_dir):
    """j8 (MinHash-LSH) must find a subset of j2 (exact) pairs, and at
    16 hashes / 4 bands recall at J>=0.8 should be near-total."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["j2_dedup_near_jaccard"](spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["j8_dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert exact and lsh
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact)


def test_multimodal_module_has_no_stub_paths():
    """Round-10 retirement of the legacy decode_image stub: the
    multimodal module must carry ZERO NotImplementedError paths — every
    decoder it ships (decode_ppm, decode_wav, decode_ppm_stream) is a
    real parser, and the m1-m4 metadata stand-in is fake_decode_meta,
    not a raising stub."""
    import inspect

    from bdt_enwikisearch_hadoop_spark.functions import multimodal

    src = inspect.getsource(multimodal)
    assert "NotImplementedError" not in src
    assert not hasattr(multimodal, "decode_image")


def test_simhash_identical_docs_identical_fingerprint(spark, sf_dir):
    """SimHash is a pure function of token multiset."""
    rows = QUERIES["j9_simhash"](spark, sf_dir).collect()
    assert rows and all(isinstance(r["simhash"], int) for r in rows)
    assert all(0 <= r["simhash"] < 2**32 for r in rows)


def test_index_backed_search_matches_live_search(spark, sf_dir, tmp_path):
    """The persisted bucketed index must serve exactly the flagship's
    results (build-once/serve-many == recompute-per-query)."""
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_index,
        search_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.text_search import QUERY_TERMS

    build_index(spark, sf_dir, "t_index", str(tmp_path / "idx"))
    try:
        served = search_index(spark, "t_index", QUERY_TERMS, k=10).collect()
        live = QUERIES["i6_search_and"](spark, sf_dir).collect()
        assert [(r["doc_id"], r["score"]) for r in served] == [
            (r["doc_id"], r["score"]) for r in live
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_index")
        spark.sql("DROP TABLE IF EXISTS t_index_norms")


def test_vsm_served_from_store_matches_live_i17(spark, sf_dir, tmp_path):
    """The persisted norms table must make store-served VSM cosine equal
    the live i17 (same top-10, same 4dp-floored scores), and the
    corpus-sized norms side must never be scanned: a warm search starts
    no Spark job and reads only the query terms' postings buckets and
    the hit ids' norms buckets."""
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_index,
        search_index_vsm,
    )
    from bdt_enwikisearch_hadoop_spark.functions.text_search import QUERY_TERMS

    build_index(spark, sf_dir, "t_vsm_index", str(tmp_path / "vsmidx"))
    try:
        q = search_index_vsm(spark, "t_vsm_index", QUERY_TERMS, k=10)
        served = q.collect()
        live = QUERIES["i17_vsm_cosine"](spark, sf_dir).collect()
        assert [(r["doc_id"], round(r["score"], 4)) for r in served] == [
            (r["doc_id"], round(r["score"], 4)) for r in live
        ]
        assert _assert_search_reads_pruned(
            spark, "t_vsm_index", QUERY_TERMS, "vsm") == [
            tuple(r) for r in served]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_vsm_index")
        spark.sql("DROP TABLE IF EXISTS t_vsm_index_norms")


def test_every_query_schema_stable_across_scale_factors(spark):
    """The driver smoke requires a stable schema; plan-time schemas must
    be identical at every scale factor (names AND types)."""
    for key in sorted(QUERIES):
        s1 = QUERIES[key](spark, "/root/testdata/sf0.001").schema
        s2 = QUERIES[key](spark, "/root/testdata/sf0.01").schema
        assert s1 == s2, f"{key}: schema differs across sf dirs"


def test_every_query_has_unique_column_names(spark, sf_dir):
    """Duplicate output names break column-sorted value hashing."""
    for key in sorted(QUERIES):
        cols = QUERIES[key](spark, sf_dir).columns
        assert len(cols) == len(set(cols)), f"{key}: duplicate columns {cols}"


def test_sql_entry_point(spark, sf_dir):
    """engine.sql(): string SQL over registered fixture views must agree
    with the DataFrame form of the same query."""
    from bdt_enwikisearch_hadoop_spark.sql import sql

    via_sql = sql(
        spark,
        sf_dir,
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
    ).collect()
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    via_df = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(map(tuple, via_sql)) == sorted(map(tuple, via_df))


def test_components_refine_one_hop_reps(spark, sf_dir):
    """j20's fixed-point component is ≤ j17's one-hop rep for every
    node (propagating min labels further can only lower them), over
    the identical node set."""
    from pyspark.sql import functions as F

    reps = QUERIES["j17_dup_cluster_reps"](spark, sf_dir).select("doc_id", "rep")
    comp = QUERIES["j20_connected_components"](spark, sf_dir)
    joined = comp.join(reps, "doc_id", "full").cache()
    try:
        n_unmatched = joined.filter(
            F.col("rep").isNull() | F.col("component").isNull()
        ).count()
        n_worse = joined.filter(F.col("component") > F.col("rep")).count()
        n = joined.count()
        assert n > 0 and n_unmatched == 0 and n_worse == 0
    finally:
        joined.unpersist()


def test_j12_grid_invariant_to_block_count(spark, sf_dir, monkeypatch):
    """The block-pair grid is an execution strategy, not a semantics
    knob: j12's result set must be identical at B=1 (one task, plain
    all-pairs) and the shipped B (distributed grid)."""
    from bdt_enwikisearch_hadoop_spark.functions import llm_scale

    shipped = sorted(
        map(tuple, QUERIES["j12_embedding_near_dup"](spark, sf_dir).collect())
    )
    monkeypatch.setattr(llm_scale, "_J12_BLOCKS", 1)
    single = sorted(
        map(tuple, QUERIES["j12_embedding_near_dup"](spark, sf_dir).collect())
    )
    assert shipped == single and len(shipped) > 0


def test_components_path_graph_converges_logarithmically(spark):
    """Pointer doubling must collapse a 50-node path (diameter 49) in
    O(log d) rounds — ~6 label-changing rounds plus the final
    verification round, not ~50 (the round-2 j20 weakness)."""
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "src long, dst long"
    )
    labels, rounds = _connected_components(edges)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(50)}
    assert rounds <= 8, f"path graph took {rounds} rounds"


def test_components_match_union_find_on_random_graphs(spark):
    """Hypothesis: the distributed pointer-doubling propagation equals
    a plain union-find on arbitrary small graphs (self-loop-free random
    edge lists) — node → min node id of its component."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _connected_components,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=5, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=40))
    def check(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        labels, _rounds = _connected_components(df)
        got = {r["node"]: r["component"] for r in labels.collect()}

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller, so every
                # tree's root IS its component's min node id
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        assert got == want

    check()


def test_funnel_stage_times_strictly_ordered(spark, sf_dir):
    """k5: each reached stage happens strictly after the previous one,
    and a reached stage implies all earlier stages were reached."""
    from pyspark.sql import functions as F

    f = QUERIES["k5_funnel"](spark, sf_dir).cache()
    try:
        assert f.count() > 0
        assert (
            f.filter(
                F.col("click_s").isNotNull() & (F.col("click_s") < F.col("view_s"))
            ).count()
            == 0
        )
        assert (
            f.filter(
                F.col("purchase_s").isNotNull()
                & (F.col("purchase_s") < F.col("click_s"))
            ).count()
            == 0
        )
        assert (
            f.filter(
                F.col("purchase_s").isNotNull() & F.col("click_s").isNull()
            ).count()
            == 0
        )
    finally:
        f.unpersist()


def test_decontaminate_never_flags_eval_docs(spark, sf_dir):
    """j19 flags only non-eval docs, with at least one hit each."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    flagged = QUERIES["j19_decontaminate"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    bad = (
        flagged.join(docs, "doc_id")
        .filter(
            (F.col("source") == "src0")
            | (F.col("n_hit_shingles") < 1)
            | (F.col("n_eval_docs") < 1)
        )
        .count()
    )
    assert bad == 0


def test_bm25_and_tfidf_rank_over_same_candidates(spark, sf_dir):
    """i10 scores the same disjunctive candidate universe as i7 — its
    top-10 doc set must be a subset of docs containing a query term."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
        tokenize,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    hits = {
        r["doc_id"]
        for r in tokenize(load(spark, sf_dir, "documents"))
        .filter(F.col("term").isin(*QUERY_TERMS))
        .select("doc_id")
        .distinct()
        .collect()
    }
    top = {r["doc_id"] for r in QUERIES["i10_bm25"](spark, sf_dir).collect()}
    assert top and top <= hits


def test_ragged_expansion_matches_python_reference():
    """Hypothesis: the vectorized numpy repeat+arange 1→N expansions in
    m2/m3 are value-identical (including float seconds) to the plain
    per-row Python loops they replaced, for arbitrary byte lengths."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.functions.multimodal import (
        _chunk_audio,
        _sample_frames,
    )

    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=50))
    def check(nb):
        pdf = pd.DataFrame({"doc_id": list(range(len(nb))), "n_bytes": nb})
        got_chunks = [
            tuple(r)
            for r in pd.concat(list(_chunk_audio(iter([pdf])))).itertuples(index=False)
        ]
        want_chunks = []
        for doc_id, n_bytes in zip(pdf["doc_id"], pdf["n_bytes"]):
            n_chunks = ((n_bytes * 50) % 48000 + 16000 - 400) // 160 + 1
            for idx in range(n_chunks):
                want_chunks.append(
                    (doc_id, idx, idx * 160 / 16000.0, (idx * 160 + 400) / 16000.0)
                )
        assert got_chunks == want_chunks
        got_frames = [
            tuple(r)
            for r in pd.concat(list(_sample_frames(iter([pdf])))).itertuples(index=False)
        ]
        want_frames = []
        for doc_id, n_bytes in zip(pdf["doc_id"], pdf["n_bytes"]):
            for idx in range(0, n_bytes % 30 + 1, 5):
                want_frames.append((doc_id, idx))
        assert got_frames == want_frames

    check()


def test_shingle_expression_matches_python_reference(spark):
    """Hypothesis: the in-row zip_with 3-token shingle expression used
    by the whole j-family equals a plain-Python reference on arbitrary
    token lists (random words incl. empties/unicode)."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.functions.llm_pipeline import shingles

    # printable ASCII minus space: avoids unicode case-mapping edge
    # cases where Python str.lower() and JVM lower() legitimately differ
    word = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=8,
    )
    corpus = st.lists(st.lists(word, min_size=3, max_size=30), min_size=1, max_size=8)

    def py_shingles(toks):
        lower = [t.lower() for t in toks]
        return {
            " ".join(lower[i : i + 3]) for i in range(len(lower) - 2)
        }

    @settings(max_examples=5, deadline=None)
    @given(corpus)
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in shingles(df).collect():
            got.setdefault(r["doc_id"], set()).add(r["shingle"])
        want = {i: py_shingles(toks) for i, toks in enumerate(docs)}
        want = {i: s for i, s in want.items() if s}
        assert got == want

    check()


def test_resample_grid_is_dense_and_filled(spark, sf_dir):
    """k9 invariants: per user the grid has exactly the hours between
    the first and last event (inclusive), every bucket after the first
    carries a non-null forward-filled value, and observed buckets carry
    their own last observation."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    res = QUERIES["k9_resample_ffill"](spark, sf_dir)
    per_user = res.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.min("bucket_s").alias("lo_s"),
        F.max("bucket_s").alias("hi_s"),
        F.sum(F.col("value_ffill").isNull().cast("int")).alias("n_null"),
    )
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.unix_timestamp(F.date_trunc("hour", F.min("ts2"))).alias("exp_lo"),
        F.unix_timestamp(F.date_trunc("hour", F.max("ts2"))).alias("exp_hi"),
    )
    joined = per_user.join(span, "user_id").collect()
    assert joined
    for r in joined:
        assert r["lo_s"] == r["exp_lo"]
        assert r["hi_s"] == r["exp_hi"]
        assert r["n_buckets"] == (r["exp_hi"] - r["exp_lo"]) // 3600 + 1
        assert r["n_null"] == 0  # first bucket always has an observation


def test_map_in_arrow_surface(spark, sf_dir):
    """mapInArrow: raw pyarrow RecordBatches in and out — the
    zero-pandas-overhead sibling of mapInPandas for columnar kernels
    (no pandas boxing of struct/binary columns).  Doubling a column
    through pyarrow.compute must equal the JVM-side expression."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    def double_value(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("event_id"), pc.multiply(b.column("value"), 2.0)],
                names=["event_id", "value2"],
            )

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    got = (
        ev.mapInArrow(double_value, schema="event_id long, value2 double")
        .orderBy("event_id")
        .collect()
    )
    want = (
        ev.select("event_id", (F.col("value") * 2.0).alias("value2"))
        .orderBy("event_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_hll_rollup_close_to_exact(spark, sf_dir):
    """d16's region estimates must sit within HLL error bounds of the
    exact distinct counts (lgConfigK=12 → ~1.6% relative standard
    error; assert 5%), and the nation→region rollup must cover every
    region that has orders."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    est = {
        r["n_regionkey"]: r["est_customers"]
        for r in QUERIES["d16_hll_sketch_merge"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    exact = {
        r["n_regionkey"]: r["x"]
        for r in (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_regionkey")
            .agg(F.countDistinct("o_custkey").alias("x"))
        ).collect()
    }
    assert set(est) == set(exact)
    for k, x in exact.items():
        assert abs(est[k] - x) <= max(1, 0.05 * x), (k, est[k], x)


def test_sequence_pack_invariants(spark, sf_dir):
    """j23: offsets stay inside the budget, bins fill contiguously per
    lang (bin ids dense from 0), and each doc's start equals the
    running sum of its predecessors."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import _PACK_BUDGET
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    res = QUERIES["j23_sequence_pack"](spark, sf_dir)
    assert res.filter(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= _PACK_BUDGET)
    ).count() == 0
    per_lang = res.groupBy("lang").agg(
        F.min("bin_id").alias("lo"),
        F.max("bin_id").alias("hi"),
        F.countDistinct("bin_id").alias("nbins"),
        F.sum("n_tok").alias("tot"),
    ).collect()
    for r in per_lang:
        assert r["lo"] == 0
        # contiguous fill: every bin id up to the last is occupied
        assert r["nbins"] == r["hi"] + 1
        # last doc's start = tot - its n_tok  =>  hi == (tot - last_tok) // budget
        assert r["hi"] <= (r["tot"] - 1) // _PACK_BUDGET + 1


def test_stratified_sample_exact_quota(spark, sf_dir):
    """j24: exactly min(quota, group size) rows per language, ranks
    dense 1..k."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import _STRATUM_QUOTA
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    res = QUERIES["j24_stratified_sample"](spark, sf_dir)
    sizes = {
        r["lang"]: r["n"]
        for r in load(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = res.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"), F.max("rk").alias("maxrk")
    ).collect()
    assert {r["lang"] for r in got} == set(sizes)
    for r in got:
        expect = min(_STRATUM_QUOTA, sizes[r["lang"]])
        assert r["k"] == expect == r["maxrk"]


def test_cli_search_matches_flagship(spark, sf_dir, tmp_path, capsys):
    """The CLI surface: live `search` must print exactly the flagship
    i6 ranking, and `search-index` served from a freshly built store
    must print the same rows."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    expect = [
        (r["doc_id"], r["score"])
        for r in QUERIES["i6_search_and"](spark, sf_dir).collect()
    ]

    def run(args):
        rc = cli.main(args)
        out = capsys.readouterr().out.strip().splitlines()
        return rc, out

    rc, out = run(["--sf-dir", sf_dir, "search", "spark", "join"])
    got = [(int(a), float(b)) for a, b in (ln.split("\t") for ln in out)]
    assert rc == 0 and got == expect

    try:
        rc, out = run(
            ["--sf-dir", sf_dir, "build-index", str(tmp_path / "idx"),
             "--table", "t_cli_idx"]
        )
        assert rc == 0 and out[-1].startswith("built t_cli_idx")
        rc, out = run(
            ["--sf-dir", sf_dir, "search-index", str(tmp_path / "idx"),
             "spark", "join", "--table", "t_cli_idx"]
        )
        served = [(int(a), float(b)) for a, b in (ln.split("\t") for ln in out)]
        assert rc == 0 and served == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cli_idx")


def test_windowed_quantile_nonintegral_measure_matches_oracle(spark):
    """e9's above-median flag must survive a NON-INTEGRAL measure:
    Spark's percentile() and DuckDB's quantile_cont() interpolate in
    different fp orders, so raw medians of e.g. thirds can land an ulp
    apart and flip the flag for rows sitting exactly on the median.
    Both engines therefore compare against the same 1e-4-truncated
    median.  Values are adversarial: thirds (non-terminating binary),
    tenths (inexact binary), and rows exactly AT the interpolated
    median of an even-sized group."""
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bdt_enwikisearch_hadoop_spark.testing import compare

    rows = (
        [("thirds", i, i / 3.0) for i in range(7)]
        + [("tenths", i, 0.1 * i + 0.01) for i in range(6)]
        # even group whose interpolated median 0.3 equals a member value
        + [("atmed", i, v) for i, v in enumerate([0.1, 0.3, 0.3, 0.5])]
    )
    df = spark.createDataFrame(rows, "grp string, id int, x double")
    w = Window.partitionBy("grp")
    med_t = F.floor(F.expr("percentile(x, 0.5)").over(w) * 10000) / 10000
    out = df.select(
        "grp",
        "id",
        "x",
        med_t.alias("group_median"),
        (F.col("x") > med_t).alias("above_median"),
    )
    con = duckdb.connect()
    try:
        con.register("t", df.toPandas())
        oracle = con.execute(
            """
            SELECT grp, id, x,
                   FLOOR(quantile_cont(x, 0.5) OVER (PARTITION BY grp)
                         * 10000) / 10000 AS group_median,
                   x > FLOOR(quantile_cont(x, 0.5) OVER (PARTITION BY grp)
                             * 10000) / 10000 AS above_median
            FROM t
            """
        ).df()
        assert compare(out, oracle) == []
    finally:
        con.close()


def test_k10_hour_rows_reaggregate_to_day_rows(spark, sf_dir):
    """The rollup ladder's load-bearing invariant: re-aggregating the
    HOUR-level rows must reproduce the DAY-level rows exactly (counts
    integer-exact; sums compared to the same 4dp rounding the query
    emits) — this is what lets 100 TB retention persist only hour
    partials and derive everything coarser without a rescan."""
    from pyspark.sql import functions as F

    rows = QUERIES["k10_time_rollup"](spark, sf_dir)
    hours = rows.filter(F.col("hour_s").isNotNull())
    days = rows.filter(
        F.col("hour_s").isNull() & F.col("day_s").isNotNull()
    ).select("event_type", "day_s", "n", "sum_value")
    rolled = (
        hours.groupBy("event_type", "day_s")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 3).alias("sum_value"),
        )
    )
    d = {(r.event_type, r.day_s): (r.n, round(r.sum_value, 3)) for r in days.collect()}
    r = {(x.event_type, x.day_s): (x.n, x.sum_value) for x in rolled.collect()}
    assert set(d) == set(r)
    for k in d:
        assert d[k][0] == r[k][0], k
        assert abs(d[k][1] - r[k][1]) < 2e-3, (k, d[k], r[k])


def test_j29_assignment_total_and_seed_fixpoints(spark, sf_dir):
    """Every vector gets exactly one cluster; each seed vector is its
    own nearest centroid at distance 0."""
    from bdt_enwikisearch_hadoop_spark.sources import load

    out = QUERIES["j29_kmeans_step"](spark, sf_dir)
    n_vecs = load(spark, sf_dir, "embeddings").count()
    rows = out.collect()
    assert len(rows) == n_vecs
    for r in rows:
        if r.vec_id < 8:
            assert r.cluster == r.vec_id and r.dist4 == 0.0, r


def test_j28_kept_copies_account_for_every_document(spark, sf_dir):
    """Priority dedup must partition the corpus: one keeper per
    distinct text, and keepers' copy counts sum to the corpus size."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    out = QUERIES["j28_cross_source_dedup"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_texts = docs.select(F.lower("text")).distinct().count()
    agg = out.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n_copies").alias("s")
    ).collect()[0]
    assert agg.k == n_texts
    assert agg.s == n_docs


def test_a4_old_generation_surfaces_added_column_as_null(spark, sf_dir):
    """Schema-evolution read: every gen=1 row must carry NULL for the
    later-added column, every gen=2 row a value; generations together
    must cover all orders exactly once."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    out = QUERIES["a4_scan_merge_schema"](spark, sf_dir)
    bad_old = out.filter(
        (F.col("gen") == 1) & F.col("o_orderpriority").isNotNull()
    ).count()
    bad_new = out.filter(
        (F.col("gen") == 2) & F.col("o_orderpriority").isNull()
    ).count()
    assert bad_old == 0 and bad_new == 0
    assert out.count() == load(spark, sf_dir, "orders").count()


def test_observe_quality_metrics_match_direct_aggregates(spark, sf_dir):
    """The Observation must report exactly what a separate aggregate
    pass would — but measured during the pipeline's own action, which
    is the point (no second 100 TB scan for monitoring)."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.quality_monitor import (
        observe_quality,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    instrumented, obs = observe_quality(
        docs.filter(F.col("n_chars") > 200), "docs_q", ["lang", "n_chars"]
    )
    instrumented.write.format("noop").mode("overwrite").save()
    got = obs.get
    direct = (
        docs.filter(F.col("n_chars") > 200)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("lang").isNull().cast("long")).alias("ln"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .collect()[0]
    )
    assert got["n_rows"] == direct.n
    assert got["lang__nulls"] == direct.ln
    assert got["n_chars__min"] == direct.mn
    assert got["n_chars__max"] == direct.mx


def test_semdedup_within_cell_captures_planted_near_dups(spark):
    """SemDeDup's within-cell restriction must not lose true
    near-duplicates: planted copies (tiny deterministic perturbation,
    cosine ≥ 0.99) land in the same cell as their original — they are
    near the same centroid by construction — so every planted pair
    appears in the output, while the pruning still removes most of the
    random-pair quadratic space.  Fixture embeddings are near-random
    (max pairwise cosine < 0.5), so this is the property the fixture
    itself cannot exercise."""
    import numpy as np

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        semdedup_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.normal(size=(40, 64))
    rows = [
        (i, [float(x) for x in base[i]]) for i in range(40)
    ]
    # plant 10 near-identical copies of vectors 8..17 as ids 100..109
    for j in range(10):
        pert = base[8 + j] + 0.001 * rng.normal(size=64)
        rows.append((100 + j, [float(x) for x in pert]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_pairs(emb, k_seeds=8, tau=0.99).collect()
    got = {(r.vec_a, r.vec_b) for r in out}
    expected = {(8 + j, 100 + j) for j in range(10)}
    assert expected <= got, expected - got
    # and the cell restriction actually prunes: far fewer pairs than
    # the 50-vector all-pairs space even at tau=-1 (every pair kept)
    all_within = semdedup_pairs(emb, k_seeds=8, tau=-1.0).count()
    assert all_within < 50 * 49 / 2


def test_ivfpq_rerank_recall_vs_exact_cell_scan(spark, sf_dir):
    """IVF-PQ (j35) must recover ≥9 of the 10 true top-k in the SAME
    probed cells (j13's exact scan) — isolating the error PQ adds:
    the 4-bit ADC shortlist may drop at most one true neighbor before
    the exact re-rank.  Scores for commonly-returned ids must be
    IDENTICAL (the re-rank is exact cosine, not approximated)."""
    j13 = {r.vec_id: r.score for r in QUERIES["j13_ann_ivf"](spark, sf_dir).collect()}
    j35 = {r.vec_id: r.score for r in QUERIES["j35_ann_ivfpq"](spark, sf_dir).collect()}
    common = set(j13) & set(j35)
    assert len(common) >= 9, (sorted(j13), sorted(j35))
    assert all(j13[v] == j35[v] for v in common)


def test_j36_metrics_equal_direct_aggregates_over_j16(spark, sf_dir):
    """The Observation-riding metrics key must report exactly what a
    (costly) second aggregation pass over j16's output would."""
    from pyspark.sql import functions as F

    m = QUERIES["j36_pipeline_quality_metrics"](spark, sf_dir).collect()[0]
    direct = (
        QUERIES["j16_training_data_pipeline"](spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("dmin"),
            F.max("doc_id").alias("dmax"),
            F.min("n_tokens").alias("tmin"),
            F.max("n_tokens").alias("tmax"),
            F.min("distinct_ratio").alias("rmin"),
            F.max("distinct_ratio").alias("rmax"),
        )
        .collect()[0]
    )
    assert m["n_rows"] == direct["n"] > 0
    assert m["doc_id__min"] == direct["dmin"]
    assert m["doc_id__max"] == direct["dmax"]
    assert m["n_tokens__min"] == direct["tmin"]
    assert m["n_tokens__max"] == direct["tmax"]
    assert m["distinct_ratio__min"] == direct["rmin"]
    assert m["distinct_ratio__max"] == direct["rmax"]
    assert m["doc_id__nulls"] == 0 and m["lang__nulls"] == 0


def test_k14_scd2_versions_tile_per_user(spark, sf_dir):
    """SCD-2 invariants: per user, version rows chain exactly —
    each valid_to equals the next valid_from, intervals never
    overlap, and precisely ONE open (is_current) row exists."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["k14_scd2_build"](spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.valid_from_s)
        assert sum(r.is_current for r in vs) == 1, user
        assert vs[-1].is_current == 1 and vs[-1].valid_to_s is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_s == b.valid_from_s, user
            assert a.valid_from_s <= a.valid_to_s, user


def test_j37_kept_chunks_equal_distinct_hashes(spark, sf_dir):
    """Chunk dedup accounting: exactly one keeper per distinct chunk
    hash corpus-wide, and no document retains more than it has."""
    import pyspark.sql.functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    agg = (
        QUERIES["j37_chunk_dedup"](spark, sf_dir)
        .agg(
            F.sum("kept_chunks").alias("kept"),
            F.sum("total_chunks").alias("total"),
            F.max(F.col("kept_chunks") > F.col("total_chunks")).alias("over"),
        )
        .first()
    )
    n_hashes = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, CAST(ceil(size(split(lower(text),"
                    "' ')) / 16.0) AS INT) - 1), i -> md5(array_join("
                    "slice(split(lower(text), ' '), i * 16 + 1, 16), ' ')))"
                )
            ).alias("h")
        )
        .distinct()
        .count()
    )
    assert agg.kept == n_hashes
    assert not agg.over and agg.kept <= agg.total


def test_j38_degenerate_target_scores_exactly_zero(spark, sf_dir):
    """DSIR with target == the whole corpus: ct == cr for every term,
    so the per-term log-ratio vanishes and every document's weight is
    exactly 0.0 — bit-exact, not approximately."""
    import pyspark.sql.functions as F

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import dsir_scores
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    all_sources = [r.source for r in docs.select("source").distinct().collect()]
    scored = dsir_scores(docs, all_sources)
    assert scored.filter(F.col("logw") != 0.0).count() == 0
    assert scored.count() == docs.count()


def test_j39_chunks_reconstruct_every_document(spark, sf_dir):
    """Overlap accounting: taking the first stride(=8) tokens of every
    chunk, plus the remainder of each doc's final chunk, must
    reconstruct the original token stream exactly — no token lost or
    duplicated by the windowing."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    chunks = QUERIES["j39_rag_chunks"](spark, sf_dir).collect()
    originals = {
        r.doc_id: r.text.lower().split(" ")
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    by_doc: dict = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) == set(originals)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        toks: list = []
        for c in cs[:-1]:
            toks.extend(c.chunk_text.split(" ")[:8])
        toks.extend(cs[-1].chunk_text.split(" "))
        assert toks == originals[doc_id], doc_id
        assert all(c.start_tok == c.chunk_idx * 8 for c in cs)


def test_j40_rank_mass_conserved(spark, sf_dir):
    """With every node emitting exactly k out-edges there is no
    dangling mass, so total PageRank stays 1 through every iteration
    (up to float accumulation ~1e-12)."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["j40_pagerank"](spark, sf_dir).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-9
    assert all(r.rank > 0 for r in rows)


def test_scd2_matches_python_reference_on_random_logs(spark):
    """Hypothesis: the windowed SCD-2 build equals a plain sequential
    Python reference (sort per user, collapse consecutive runs, chain
    validity) on arbitrary small event logs, including duplicate
    timestamps (event_id breaks the tie)."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.streaming.events import scd2_build

    ev = st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.sampled_from(["a", "b", "c"]),  # event_type
        st.integers(min_value=0, max_value=20),  # ts in seconds
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=30))
    def check(events):
        rows = [
            (u, t, s * 1_000_000_000, i) for i, (u, t, s) in enumerate(events)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts long, event_id long"
        )
        got = sorted(
            (r.user_id, r.state, r.valid_from_s, r.valid_to_s,
             r.n_events, r.is_current)
            for r in scd2_build(df).collect()
        )
        want = []
        for u in {r[0] for r in rows}:
            mine = sorted(
                (r for r in rows if r[0] == u), key=lambda r: (r[2], r[3])
            )
            runs = []  # [state, from_s, n]
            for _, t, ts, _ in mine:
                if runs and runs[-1][0] == t:
                    runs[-1][2] += 1
                else:
                    runs.append([t, ts // 1_000_000_000, 1])
            for i, (state, from_s, n) in enumerate(runs):
                to_s = runs[i + 1][1] if i + 1 < len(runs) else None
                want.append((u, state, from_s, to_s, n, int(to_s is None)))
        assert got == sorted(want)

    check()


def test_postings_delta_matches_python_vlq_reference(spark):
    """Hypothesis: delta-gap + VLQ byte accounting equals a direct
    Python varint cost model on arbitrary posting sets (including
    doc_id 0 and maximal gaps)."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        postings_delta,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        st.dictionaries(
            st.sampled_from(["t0", "t1", "t2"]),
            st.sets(st.integers(min_value=0, max_value=10**9), min_size=1,
                    max_size=15),
            min_size=1,
            max_size=3,
        )
    )
    def check(postings):
        rows = [(t, d) for t, ds in postings.items() for d in ds]
        df = spark.createDataFrame(rows, "term string, doc_id long")
        got = {
            r.term: (r.df, r.raw_bytes, r.vlq_bytes)
            for r in postings_delta(df).collect()
        }
        for t, ds in postings.items():
            ordered = sorted(ds)
            gaps = [ordered[0]] + [
                b - a for a, b in zip(ordered, ordered[1:])
            ]
            vlq = sum((max(g.bit_length(), 1) + 6) // 7 for g in gaps)
            assert got[t] == (len(ds), 8 * len(ds), vlq), t

    check()


def test_a5_malformed_xml_surfaces_as_nulls(spark):
    """The a5 docstring claim: schema-on-read means malformed pages
    become NULL rows, not job failures."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            ("<page><id>7</id><lang>en</lang><source>s</source>"
             "<text>ok</text></page>",),
            ("<page><id>not-a-number</id><lang>en</lang>"
             "<source>s</source><text>bad id</text></page>",),
            ("totally not xml",),
        ],
        "raw string",
    )
    parsed = df.select(
        F.from_xml(
            "raw", "struct<id:bigint, lang:string, source:string, text:string>"
        ).alias("p")
    ).select("p.id", "p.lang")
    rows = parsed.collect()
    assert len(rows) == 3  # no crash
    assert rows[0].id == 7 and rows[0].lang == "en"
    # PERMISSIVE mode nulls the whole malformed record (page
    # granularity) — filterable, never a job failure
    assert rows[1].id is None and rows[1].lang is None
    assert rows[2].id is None and rows[2].lang is None


def test_c20_lateral_equals_window_topk(spark, sf_dir):
    """The LATERAL correlated top-2 must equal the hand-rolled window
    formulation row for row."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    lateral = {
        (r.c_custkey, r.o_orderkey, r.o_totalprice)
        for r in QUERIES["c20_lateral_topk"](spark, sf_dir).collect()
    }
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    windowed = {
        (r.o_custkey, r.o_orderkey, r.o_totalprice)
        for r in load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .join(
            load(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey")
            ),
            "o_custkey",
        )
        .collect()
    }
    assert lateral == windowed and lateral


def test_a5_entity_escaping_roundtrips_special_chars(spark):
    """a5's serialize path entity-escapes <, > and & — from_xml must
    recover the original text exactly, so a fixture refresh with
    markup-like content cannot desynchronize the engines."""
    import pyspark.sql.functions as F

    texts = ["a < b > c & d", "&amp; already-escaped-looking", "plain"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    raw = df.select(
        F.concat(
            F.lit("<page><text>"),
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
                ),
                ">",
                "&gt;",
            ),
            F.lit("</text></page>"),
        ).alias("raw"),
        "text",
    )
    parsed = raw.select(
        "text",
        F.from_xml("raw", "struct<text:string>").alias("p"),
    ).select("text", F.col("p.text").alias("rt"))
    for r in parsed.collect():
        assert r.rt == r.text, (r.text, r.rt)


def test_sequence_detection_matches_python_reference(spark):
    """Hypothesis: the lead()-based consecutive-pattern match equals a
    sequential Python scan over each user's ordered events, including
    overlapping matches and duplicate timestamps."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.streaming.events import detect_sequence

    ev = st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(min_value=0, max_value=12),  # ts seconds
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=3, max_size=25))
    def check(events):
        rows = [
            (u, t, s * 1_000_000_000, i) for i, (u, t, s) in enumerate(events)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts long, event_id long"
        )
        got = {
            (r.user_id, r.start_event_id, r.end_event_id)
            for r in detect_sequence(df).collect()
        }
        want = set()
        for u in {r[0] for r in rows}:
            mine = sorted(
                (r for r in rows if r[0] == u), key=lambda r: (r[2], r[3])
            )
            for a, b, c in zip(mine, mine[1:], mine[2:]):
                if (a[1], b[1], c[1]) == ("view", "click", "purchase"):
                    want.add((u, a[3], c[3]))
        assert got == want

    check()


def test_dump_to_search_equals_flagship(spark, sf_dir):
    """i22 (XML parse → index → search in one plan) must produce
    exactly the flagship i6's ranked results — the roundtrip is the
    identity on the corpus."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    composed = [
        (r.doc_id, r.score)
        for r in QUERIES["i22_dump_to_search"](spark, sf_dir).collect()
    ]
    flagship = [
        (r.doc_id, r.score)
        for r in QUERIES["i6_search_and"](spark, sf_dir).collect()
    ]
    assert composed == flagship and composed


def test_sessionize_matches_python_reference(spark):
    """Hypothesis: gaps-and-islands sessionization equals a sequential
    Python scan (30-min gap rule, duplicate timestamps allowed)."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.streaming.events import sessionize

    NS = 1_000_000_000
    GAP = 30 * 60
    ev = st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=4 * 3600),  # ts seconds
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=30))
    def check(events):
        rows = [(u, i, s * NS) for i, (u, s) in enumerate(events)]
        df = spark.createDataFrame(rows, "user_id long, event_id long, ts long")
        got = sorted(
            (r.user_id, r.session_id, r.n_events, r.start_s, r.dur_s)
            for r in sessionize(df).collect()
        )
        want = []
        for u in {r[0] for r in rows}:
            mine = sorted(
                (r for r in rows if r[0] == u), key=lambda r: (r[2], r[1])
            )
            sid = 0
            sess: list = []  # ts seconds of current session
            prev = None
            for _, _, tns in mine:
                s = tns // NS
                if prev is not None and s - prev <= GAP:
                    sess.append(s)
                else:
                    if sess:
                        want.append(
                            (u, sid, len(sess), sess[0], sess[-1] - sess[0])
                        )
                    sid += 1
                    sess = [s]
                prev = s
            want.append((u, sid, len(sess), sess[0], sess[-1] - sess[0]))
        assert got == sorted(want)

    check()


def test_resample_ffill_matches_python_reference(spark):
    """Hypothesis: the dense hourly grid with forward-fill equals a
    sequential pandas-free Python reference — last observation per
    bucket wins (ts, event_id tiebreak), gaps carry the previous
    value, and the grid spans exactly [first, last] active hour."""
    from hypothesis import given, settings, strategies as st

    import pyspark.sql.functions as F

    from bdt_enwikisearch_hadoop_spark.streaming.events import resample_ffill

    NS = 1_000_000_000
    H = 3600
    ev = st.tuples(
        st.integers(min_value=0, max_value=1),  # user
        st.integers(min_value=0, max_value=6 * 3600),  # ts seconds
        st.integers(min_value=-5, max_value=5),  # value
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=25))
    def check(events):
        rows = [
            (u, i, s * NS, float(v)) for i, (u, s, v) in enumerate(events)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts long, value double"
        ).withColumn(
            "ts2", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)"))
        )
        got = sorted(
            (r.user_id, r.bucket_s, r.value_ffill)
            for r in resample_ffill(df).collect()
        )
        want = []
        for u in {r[0] for r in rows}:
            mine = sorted(
                (r for r in rows if r[0] == u), key=lambda r: (r[2], r[1])
            )
            secs = [r[2] // NS for r in mine]
            lo, hi = (secs[0] // H) * H, (secs[-1] // H) * H
            # max-(ts,event_id) observation per bucket
            by_bucket: dict = {}
            for _, eid, tns, v in mine:
                b = (tns // NS // H) * H
                key = (tns, eid)
                if b not in by_bucket or key > by_bucket[b][0]:
                    by_bucket[b] = (key, v)
            carry = None
            for b in range(lo, hi + H, H):
                if b in by_bucket:
                    carry = by_bucket[b][1]
                want.append((u, b, carry))
        assert got == sorted(want)

    check()


def test_funnel_matches_python_reference(spark):
    """Hypothesis: the staged min-aggregate funnel equals a sequential
    reference — earliest view, earliest click strictly after it,
    earliest purchase strictly after that — on arbitrary logs."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.streaming.events import funnel

    NS = 1_000_000_000
    ev = st.tuples(
        st.integers(min_value=0, max_value=2),
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=0, max_value=50),
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=30))
    def check(events):
        rows = [(u, t, s * NS) for (u, t, s) in events]
        df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
        got = {
            r.user_id: (r.view_s, r.click_s, r.purchase_s)
            for r in funnel(df).collect()
        }
        want = {}
        for u in {r[0] for r in rows}:
            mine = [(t, tns // NS) for uu, t, tns in rows if uu == u]
            views = [s for t, s in mine if t == "view"]
            if not views:
                continue  # funnel keys off users with a view
            v = min(views)
            clicks = [s for t, s in mine if t == "click" and s > v]
            c = min(clicks) if clicks else None
            ps = (
                [s for t, s in mine if t == "purchase" and s > c]
                if c is not None
                else []
            )
            p = min(ps) if ps else None
            want[u] = (v, c, p)
        assert got == want

    check()


def test_bounded_funnel_is_subset_of_unbounded(spark, sf_dir):
    """Every deadline-bounded conversion is also an unbounded one, and
    its stage times can never precede the unbounded funnel's earliest
    stages."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    bounded = {
        r.user_id: r
        for r in QUERIES["k16_bounded_funnel"](spark, sf_dir).collect()
    }
    unbounded = {
        r.user_id: r for r in QUERIES["k5_funnel"](spark, sf_dir).collect()
    }
    assert set(bounded) == set(unbounded)  # both key off users with a view
    converted = [u for u, r in bounded.items() if r.converted]
    assert converted  # fixture has 1h conversions
    for u, b in bounded.items():
        ub = unbounded[u]
        assert b.view_s == ub.view_s
        if b.click_s is not None:
            assert ub.click_s is not None and ub.click_s <= b.click_s
        if b.converted:
            assert ub.purchase_s is not None


def test_session_conversion_accounting(spark, sf_dir):
    """k18 invariants: session event counts re-total to the raw log,
    every converted session saw a view first, and session ids match
    k3's session inventory exactly."""
    import pyspark.sql.functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    k18 = QUERIES["k18_session_conversion"](spark, sf_dir).cache()
    try:
        total = k18.agg(F.sum("n_events")).first()[0]
        assert total == load(spark, sf_dir, "events").count()
        assert k18.filter(
            (F.col("converted") == 1) & (F.col("saw_view") == 0)
        ).count() == 0
        k3 = QUERIES["k3_session"](spark, sf_dir)
        a = {(r.user_id, r.session_id, r.n_events) for r in k3.collect()}
        b = {
            (r.user_id, r.session_id, r.n_events) for r in k18.collect()
        }
        assert a == b
    finally:
        k18.unpersist()


def test_retention_matches_python_reference(spark):
    """Hypothesis: day-over-day retention equals a direct Python
    computation over (user, day) activity sets, including day
    boundaries (events seconds before/after midnight UTC)."""
    from hypothesis import given, settings, strategies as st

    import pyspark.sql.functions as F

    from bdt_enwikisearch_hadoop_spark.streaming.events import retention

    DAY = 86400
    ev = st.tuples(
        st.integers(min_value=0, max_value=3),  # user
        st.integers(min_value=0, max_value=4 * DAY - 1),  # ts seconds
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=30))
    def check(events):
        df = spark.createDataFrame(
            [(u, s * 1_000_000) for u, s in events], "user_id long, us long"
        ).select("user_id", F.timestamp_micros("us").alias("ts2"))
        got = {
            r.day_s: (r.n_active, r.n_retained, r.retention)
            for r in retention(df).collect()
        }
        acts = {(u, (s // DAY) * DAY) for u, s in events}
        days = sorted({d for _, d in acts})
        want = {}
        for d in days:
            active = {u for u, dd in acts if dd == d}
            retained = {u for u in active if (u, d - DAY) in acts}
            frac = len(retained) * 10000 // len(active) / 10000
            want[d] = (len(active), len(retained), frac)
        assert got == want

    check()


def test_skyline_matches_bruteforce_on_random_points(spark):
    """Hypothesis: the window-form Pareto frontier equals the O(n²)
    dominance scan on arbitrary (price, size) points — including
    duplicate points and full ties on either axis."""
    from hypothesis import given, settings, strategies as st

    from bdt_enwikisearch_hadoop_spark.operators.sorts import pareto_frontier

    pt = st.tuples(
        st.integers(min_value=0, max_value=8),   # price
        st.integers(min_value=0, max_value=8),   # size
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(pt, min_size=1, max_size=25))
    def check(points):
        rows = [(i, float(p), s) for i, (p, s) in enumerate(points)]
        df = spark.createDataFrame(rows, "id long, price double, size int")
        got = sorted(r.id for r in pareto_frontier(df, "price", "size").collect())
        want = sorted(
            i
            for i, p, s in rows
            if not any(
                (q <= p and t >= s and (q < p or t > s))
                for _, q, t in rows
            )
        )
        assert got == want

    check()


def test_incremental_merge_split_invariant(spark, sf_dir):
    """The merged base+delta aggregate must equal the direct aggregate
    for EVERY split point, not just the declared one — the defining
    property of mergeable partial states."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load
    from bdt_enwikisearch_hadoop_spark.streaming.events import (
        merge_partial_aggregates,
    )

    e = load(spark, sf_dir, "events")
    direct = sorted(
        (r.event_type, r.day_s, r.n, r.sum_cents)
        for r in e.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", "ts2")).alias("day_s"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .collect()
    )
    for split in ("2024-01-01", "2024-01-09", "2024-01-23", "2025-01-01"):
        merged = sorted(
            (r.event_type, r.day_s, r.n, r.sum_cents)
            for r in merge_partial_aggregates(e, split).collect()
        )
        assert merged == direct, split


def test_winsorize_invariants(spark, sf_dir):
    """Clipping invariants: never above the original, at most ~5% of
    each group clipped, and the clip ceiling is an observed value."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["j45_winsorize"](spark, sf_dir).collect()
    assert rows
    per_src = defaultdict(list)
    for r in rows:
        assert r.clipped <= r.n_chars
        per_src[r.source].append(r)
    observed = defaultdict(set)
    for r in load(spark, sf_dir, "documents").collect():
        observed[r.source].add(r.n_chars)
    for src, rs in per_src.items():
        n = len(rs)
        clipped = [r for r in rs if r.clipped < r.n_chars]
        # discrete p95 at rank ceil(.95 n): >5% strictly above it is
        # impossible; allow the boundary row
        assert len(clipped) <= n - int(-(-0.95 * n // 1)) + 1
        ceiling = max(r.clipped for r in rs)
        assert ceiling in observed[src]


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """j44's top-k by u^(1/w) must equal a direct Python computation of
    the same md5-derived keys — proving the sample is a pure function
    of content, independent of partitioning or engine."""
    import hashlib

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = []
    for r in docs.collect():
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) / 2**32
        keyed.append((u ** (1.0 / max(r.n_chars, 1)), -r.doc_id, r.doc_id))
    want = {d for _, _, d in sorted(keyed, reverse=True)[:20]}
    got = {
        r.doc_id for r in QUERIES["j44_weighted_sample"](spark, sf_dir).collect()
    }
    assert got == want


def test_token_budget_matches_python_reference(spark, sf_dir):
    """j48's windowed prefix fill must equal a sequential greedy loop
    over the same md5 order — the selection is a pure function of
    (doc_id, source, token count), never of partitioning."""
    import hashlib
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.dataset_ops import _BUDGET_TOK
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    by_src = defaultdict(list)
    for r in docs.collect():
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        by_src[r.source].append((h, r.doc_id, len(r.text.split(" "))))
    want = {}
    for src, rows in by_src.items():
        used = kept = toks = 0
        for _, _, n in sorted(rows):
            if used < _BUDGET_TOK:
                kept, toks = kept + 1, toks + n
            used += n
        want[src] = (kept, toks)
    got = {
        r.source: (r.docs_kept, r.tokens_kept)
        for r in QUERIES["j48_token_budget_select"](spark, sf_dir).collect()
    }
    assert got == want


def test_quality_classifier_matches_python_reference(spark, sf_dir):
    """j47's broadcast-join scoring must equal a direct Python rebuild
    of the hashed-feature model (same md5 buckets, same weights) —
    proving the serving join computes the model, not an approximation."""
    import hashlib
    import math

    from bdt_enwikisearch_hadoop_spark.functions.dataset_ops import _CLS_D
    from bdt_enwikisearch_hadoop_spark.sources import load

    w = [
        (int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:4], 16) / 65535.0 - 0.5)
        * 2
        for b in range(_CLS_D)
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    want = {}
    for r in docs.collect():
        toks = r.text.lower().split(" ")
        z = (
            sum(
                w[int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % _CLS_D]
                for t in toks
            )
            / len(toks)
        )
        want[r.doc_id] = (
            math.floor(1.0 / (1.0 + math.exp(-z)) * 10000) / 10000,
            1 if z >= 0 else 0,
        )
    got = {
        r.doc_id: (r.score, r.keep)
        for r in QUERIES["j47_quality_classifier"](spark, sf_dir).collect()
    }
    assert got == want


def test_cocitation_matches_bruteforce_pairs(spark, sf_dir):
    """i29's in-row pair expansion must equal brute-force enumeration
    over the extracted edge list (the oracle's self-join semantics)."""
    from collections import Counter
    from itertools import combinations

    from bdt_enwikisearch_hadoop_spark.functions.link_graph import extract_links
    from bdt_enwikisearch_hadoop_spark.sources import load

    edges = extract_links(load(spark, sf_dir, "documents")).collect()
    by_src = {}
    for r in edges:
        by_src.setdefault(r.src, set()).add(r.target)
    cnt = Counter()
    for ts in by_src.values():
        for a, b in combinations(sorted(ts), 2):
            cnt[(a, b)] += 1
    want = sorted(
        ((n, a, b) for (a, b), n in cnt.items() if n >= 2),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:30]
    got = [
        (r.common_sources, r.target_a, r.target_b)
        for r in QUERIES["i29_cocitation"](spark, sf_dir).collect()
    ]
    # both sides sorted by (count desc, pair asc); compare as sets at
    # the limit boundary is unnecessary — the tiebreak is total
    assert got == want


def test_anchor_index_conserves_anchor_tokens(spark, sf_dir):
    """i28 accounting: summing (target, term) counts over the FULL
    (unlimited) index must equal the total anchor token stream — two
    2-term + one 1-term... anchors vary, so derive the expected total
    from the edge list itself."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.link_graph import extract_links
    from bdt_enwikisearch_hadoop_spark.sources import load

    lk = extract_links(load(spark, sf_dir, "documents"))
    n_tokens = lk.select(
        F.explode(F.split("anchor", " ")).alias("t")
    ).count()
    full = (
        lk.select("target", F.explode(F.split("anchor", " ")).alias("term"))
        .groupBy("target", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert full.agg(F.sum("cnt")).collect()[0][0] == n_tokens > 0


def test_cumulative_distinct_monotone_and_converges(spark, sf_dir):
    """e10: per type, the audience curve never decreases and its last
    point equals the type's total distinct-user count."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["e10_cumulative_distinct"](spark, sf_dir).collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.hour_s)):
        prev = by_type.get(r.event_type, 0)
        assert r.cum_users >= prev, r
        by_type[r.event_type] = r.cum_users
    totals = {
        r.event_type: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert by_type == totals


def test_equi_depth_buckets_are_balanced_and_ordered(spark, sf_dir):
    """d22: bucket sizes differ by at most 1, ranges ascend without
    interleaving, and the sizes sum to the table's row count."""
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = sorted(
        QUERIES["d22_equi_depth_histogram"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    sizes = [r.n for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == load(spark, sf_dir, "lineitem").count()
    for a, b in zip(rows, rows[1:]):
        assert a.lo <= a.hi <= b.lo <= b.hi


def test_fuzzy_join_finds_every_probe_source(spark, sf_dir):
    """c25: each probe is its own part name minus the final character
    (distance 1), so the blocked join must at minimum resolve every
    probe back to its source part."""
    got = {
        (r.probe_key, r.match_key)
        for r in QUERIES["c25_fuzzy_join"](spark, sf_dir).collect()
    }
    probes = {pk for pk, _ in got}
    assert probes, "probe set empty"
    for pk in probes:
        assert (pk, pk) in got


def test_bfs_level_one_is_seed_out_links(spark, sf_dir):
    """i30: the depth-1 set must equal the seed page's distinct link
    targets from the extracted edge list."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.link_graph import (
        _BFS_SEED,
        extract_links,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    seed_id = int(_BFS_SEED.split("_")[1])
    want = {
        r.target
        for r in extract_links(load(spark, sf_dir, "documents"))
        .filter(F.col("src") == seed_id)
        .collect()
    } - {_BFS_SEED}
    got = {
        r.node
        for r in QUERIES["i30_link_bfs"](spark, sf_dir).collect()
        if r.depth == 1
    }
    assert got == want


def test_split_clusters_never_straddle(spark, sf_dir):
    """j49: summing per-split cluster counts must equal the corpus's
    total distinct content-hash count — a per-DOC assignment would let
    one cluster land in two splits and overcount."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["j49_leakage_safe_split"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    n_clusters = d.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("k")
    ).distinct().count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_clusters for r in rows) == n_clusters
    # sf0.01+ fixtures carry genuine duplicate texts (n_clusters <
    # n_docs there, making the straddle check non-vacuous); sf0.001 is
    # all-distinct, where the two count identities are still exact
    assert n_clusters <= n_docs


def test_minhash_estimate_covers_j8_and_exact_dups(spark, sf_dir):
    """j50: every j8 pair (exact J >= 0.8) appears in the >= 0.5
    report, and exact-duplicate pairs (J = 1.0) estimate at exactly
    1.0 — identical shingle sets force identical md5 signatures."""
    rows = QUERIES["j50_minhash_jaccard_est"](spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r for r in rows}
    j8 = QUERIES["j8_dedup_minhash_lsh"](spark, sf_dir).collect()
    for r in j8:
        assert (r.doc_a, r.doc_b) in got
    for r in rows:
        if r.jaccard == 1.0:
            assert r.est == 1.0 and r.err == 0.0, r


def test_watermark_lag_matches_python_reference(spark, sf_dir):
    """k21's running-max lateness must equal a sequential walk of the
    same md5-jittered arrival order — and that order must produce real
    disorder (the raw fixture is perfectly time-sorted, measured: all
    lateness 0, which would make the profile vacuous)."""
    import hashlib
    import math

    from bdt_enwikisearch_hadoop_spark.sources import load

    NS = 1_000_000_000
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts")
        .collect()
    )

    from bdt_enwikisearch_hadoop_spark.streaming.events import (
        _ARRIVAL_JITTER_S,
    )

    def arr(r):
        j = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16)
        return r.ts + (j % _ARRIVAL_JITTER_S) * NS

    by_type = {}
    for r in sorted(ev, key=lambda r: (r.event_type, arr(r), r.event_id)):
        hi, lates = by_type.setdefault(r.event_type, [0, []])
        hi = max(hi, r.ts)
        by_type[r.event_type][0] = hi
        lates.append(hi - r.ts)
    def q(vals, p):
        s = sorted(vals)
        idx = (len(s) - 1) * p
        lo, hi_i = math.floor(idx), math.ceil(idx)
        return s[lo] + (s[hi_i] - s[lo]) * (idx - lo)
    got = {
        r.event_type: r
        for r in QUERIES["k21_watermark_lag"](spark, sf_dir).collect()
    }
    for t, (_, lates) in by_type.items():
        r = got[t]
        assert r.n == len(lates)
        assert r.frac_late == math.floor(
            sum(1 for x in lates if x > 0) * 10000.0 / len(lates)
        ) / 10000
        assert r.p95_late_s == math.floor(q(lates, 0.95) / NS * 10000) / 10000
        assert r.max_late_s == math.floor(max(lates) * 10000.0 / NS) / 10000
        # non-vacuous: the jittered arrival genuinely disorders the log
        assert r.frac_late > 0 and r.max_late_s > 0


def test_cdc_apply_accounting(spark, sf_dir):
    """c26: deletes hitting the base vanish, strict inserts land, a key
    hit by update-then-delete (%77) ends deleted, and every surviving
    base row keeps its price unless updated — checked against a direct
    Python merge over the same derived changelog."""
    from bdt_enwikisearch_hadoop_spark.sources import load

    orders = {
        r.o_orderkey: r.o_totalprice
        for r in load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    import math

    want = {}
    for k, p in orders.items():
        in_base = k % 97 != 0
        # last op by seq: I(3) > D(2) > U(1)
        op = "I" if k % 97 == 0 else ("D" if k % 11 == 0 else ("U" if k % 7 == 0 else None))
        if op is None and in_base:
            want[k] = ("base", p)
        elif op == "U":
            want[k] = ("updated", p * 1.05) if in_base else None
        elif op == "D":
            if not in_base:
                pass  # no-op delete
            # delete hitting base: row vanishes
        elif op == "I":
            want[k] = ("inserted", p)  # %97 keys are never in base
    want = {
        k: (s, math.floor(p * 10000) / 10000)
        for k, v in want.items()
        if v is not None
        for s, p in [v]
    }
    got = {
        r.o_orderkey: (r.src, r.price)
        for r in QUERIES["c26_cdc_apply"](spark, sf_dir).collect()
    }
    assert got == want


def test_json_shred_roundtrip_is_identity(spark, sf_dir):
    """h15's build→parse→explode chain must reproduce the original
    line items exactly, row for row, floats included."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    doc = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.struct(
                F.col("l_orderkey").alias("k"),
                F.array_sort(
                    F.collect_list(
                        F.struct("l_linenumber", "l_quantity", "l_extendedprice")
                    )
                ).alias("items"),
            )
        ).alias("doc")
    )
    schema = (
        "k BIGINT, items ARRAY<STRUCT<l_linenumber: INT, "
        "l_quantity: DOUBLE, l_extendedprice: DOUBLE>>"
    )
    back = (
        doc.select(F.from_json("doc", schema).alias("p"))
        .select(F.col("p.k").alias("l_orderkey"), F.explode("p.items").alias("it"))
        .select(
            "l_orderkey",
            F.col("it.l_linenumber").alias("l_linenumber"),
            F.col("it.l_quantity").alias("l_quantity"),
            F.col("it.l_extendedprice").alias("l_extendedprice"),
        )
    )
    want = {tuple(r) for r in li.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want and len(got) == li.count()


def test_regression_stats_satisfy_ols_identities(spark, sf_dir):
    """d23: intercept = mean(y) - slope*mean(x) (the OLS normal
    equation) and r2 in [0, 1] — recomputed from the raw table."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    li = load(spark, sf_dir, "lineitem")
    means = {
        r.l_returnflag: (r.my, r.mx)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.avg("l_extendedprice").alias("my"),
            F.avg("l_quantity").alias("mx"),
        )
        .collect()
    }
    for r in QUERIES["d23_regression_stats"](spark, sf_dir).collect():
        my, mx = means[r.l_returnflag]
        # slope/intercept are 4dp-floored, so the identity holds to
        # the rounding step times the mean magnitude
        assert abs(r.intercept - (my - r.slope * mx)) < 0.01 * max(mx, 1)
        assert 0.0 <= r.r2 <= 1.0


def test_crossover_curves_are_monotone_and_conserve_total(spark, sf_dir):
    """f28: both cumulative curves are non-decreasing and their final
    points sum to total order revenue (decimal-exact upstream)."""
    import math

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = sorted(
        QUERIES["f28_cumulative_crossover"](spark, sf_dir).collect(),
        key=lambda r: r.mon,
    )
    for a, b in zip(rows, rows[1:]):
        assert b.cum_a >= a.cum_a and b.cum_b >= a.cum_b
        assert b.a_leads == (b.cum_a > b.cum_b)
    total = (
        load(spark, sf_dir, "orders")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .collect()[0][0]
    )
    assert math.isclose(
        rows[-1].cum_a + rows[-1].cum_b, float(total), rel_tol=1e-12
    )


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """j51's degree-oriented wedge closure must equal brute-force
    triangle enumeration over the same undirected edge set — proving
    the orientation trick changes the plan, never the count."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _PR_K,
        knn_edges,
    )

    und = {
        (r.u, r.v)
        for r in knn_edges(spark, sf_dir, _PR_K)
        .select(
            F.least("qid", "nid").alias("u"),
            F.greatest("qid", "nid").alias("v"),
        )
        .distinct()
        .collect()
    }
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    brute = sum(
        1
        for u, nbrs in adj.items()
        for a, b in combinations(sorted(nbrs), 2)
        if u < a and (a, b) in und
    )
    row = QUERIES["j51_knn_triangles"](spark, sf_dir).collect()[0]
    assert row.n_tri == brute
    assert row.n_edges == len(und)
    assert 0.0 <= row.global_clustering <= 1.0


def test_fingerprint_is_order_insensitive_and_sensitive_to_content(spark, sf_dir):
    """j52: the checksum equals a Python XOR over rows in ANY order,
    and flipping one document's text flips its source's checksum."""
    import hashlib

    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    want = {}
    for r in sorted(docs, key=lambda r: -r.doc_id):  # deliberately reversed
        h = int(
            hashlib.md5(f"{r.doc_id}|{r.text}".encode()).hexdigest()[:15], 16
        )
        s = want.setdefault(r.source, [0, 0])
        s[0] ^= h
        s[1] += 1
    got = {
        r.source: (r.content_xor, r.n_docs)
        for r in QUERIES["j52_dataset_fingerprint"](spark, sf_dir).collect()
    }
    assert got == {k: (v[0], v[1]) for k, v in want.items()}
    # single-row sensitivity: XOR-ing out one doc's hash changes the sum
    r0 = docs[0]
    h0 = int(hashlib.md5(f"{r0.doc_id}|{r0.text}".encode()).hexdigest()[:15], 16)
    assert got[r0.source][0] ^ h0 != got[r0.source][0]


def test_streaks_match_python_run_length(spark, sf_dir):
    """e11's islands construction must equal a sequential run-length
    scan of each user's sorted day set."""
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.unix_timestamp(F.date_trunc("day", "ts2")) / 86400)
            .cast("long")
            .alias("d"),
        )
        .distinct()
        .collect()
    )
    by_user = {}
    for r in daily:
        by_user.setdefault(r.user_id, set()).add(r.d)
    streaks = []
    for u, days in by_user.items():
        ds = sorted(days)
        start, prev = ds[0], ds[0]
        for d in ds[1:]:
            if d != prev + 1:
                streaks.append((prev - start + 1, u, start))
                start = d
            prev = d
        streaks.append((prev - start + 1, u, start))
    want = sorted(streaks, key=lambda x: (-x[0], x[1], x[2]))[:20]
    got = [
        (r.len, r.user_id, r.start_d)
        for r in QUERIES["e11_streaks"](spark, sf_dir).collect()
    ]
    assert got == want


def test_ema_matches_python_reference(spark, sf_dir):
    """k22's windowed-list fold must equal a direct Python truncated
    EMA over the same dense grid."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions import dataset_ops  # noqa: F401
    from bdt_enwikisearch_hadoop_spark.streaming.events import (
        _EMA_ALPHA,
        _EMA_WINDOW,
    )

    rows = QUERIES["k22_ema_smoothing"](spark, sf_dir).collect()
    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.event_type, r.h)):
        series[r.event_type].append(r)
    for t, rs in series.items():
        vs = [r.v for r in rs]
        for i, r in enumerate(rs):
            window = vs[max(0, i - _EMA_WINDOW + 1): i + 1]
            ema = sum(
                v * _EMA_ALPHA * (1 - _EMA_ALPHA) ** (len(window) - 1 - j)
                for j, v in enumerate(window)
            )
            assert r.ema == math.floor(ema * 10000) / 10000, (t, r.h)
        # the dense grid must be gap-free hourly
        for a, b in zip(rs, rs[1:]):
            assert b.h - a.h == 3600


def test_nfc_length_delta_equals_combining_marks(spark, sf_dir):
    """l10: NFC folds exactly one combining mark per injected 'e', so
    len_decomposed − len_nfc must equal the doc's 'e' count, and the
    normalized text must hash differently from the decomposed raw."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    e_counts = {
        r.doc_id: r.ne
        for r in load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "e", ""))
            ).alias("ne"),
        )
        .collect()
    }
    rows = QUERIES["l10_unicode_normalize"](spark, sf_dir).collect()
    assert rows
    saw_change = False
    for r in rows:
        assert r.len_decomposed - r.len_nfc == e_counts[r.doc_id]
        saw_change = saw_change or e_counts[r.doc_id] > 0
    assert saw_change  # at least one doc genuinely normalized


def test_interval_overlap_matches_bruteforce(spark, sf_dir):
    """c27's bucketed decomposition must equal brute-force interval
    intersection over the same activity and window sets."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    e = load(spark, sf_dir, "events")
    act = (
        e.select(
            "user_id",
            F.unix_timestamp(F.date_trunc("day", "ts2")).alias("day_s"),
            F.expr("ts DIV 1000000000").alias("s"),
        )
        .groupBy("user_id", "day_s")
        .agg(F.min("s").alias("a_s"), F.max("s").alias("a_e"))
        .collect()
    )
    h0, h1 = (
        e.agg(
            F.expr("MIN(ts) DIV 1000000000 DIV 3600"),
            F.expr("MAX(ts) DIV 1000000000 DIV 3600"),
        ).collect()[0]
    )
    wins = [
        (h * 3600, h * 3600 + 7200)
        for h in range(h0, h1 + 1)
        if h % 37 == 0
    ]
    agg = defaultdict(lambda: [set(), 0])
    for r in act:
        for ws, we in wins:
            if r.a_s < we and ws < r.a_e:
                agg[ws][0].add(r.user_id)
                agg[ws][1] += min(r.a_e, we) - max(r.a_s, ws)
    want = {ws: (len(u), t) for ws, (u, t) in agg.items()}
    got = {
        r.w_s: (r.n_users, r.total_overlap_s)
        for r in QUERIES["c27_interval_overlap"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_benford_terms_cover_all_digits_and_probs_sum(spark, sf_dir):
    """d24: all nine digits appear, observed probabilities sum to ~1,
    and the Benford column matches log10(1 + 1/d) exactly at 4dp."""
    import math

    rows = QUERIES["d24_benford_test"](spark, sf_dir).collect()
    assert sorted(r.d1 for r in rows) == list(range(1, 10))
    assert abs(sum(r.observed_p for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.benford_p == math.floor(
            math.log10(1 + 1 / r.d1) * 10000
        ) / 10000


def test_entropy_gini_bounds_and_python_reference(spark, sf_dir):
    """d25: entropy in [0, ln(k)], gini in [0, 1-1/k], both matching a
    direct Python recomputation from the segment×type counts."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    cnt = Counter()
    for r in (
        load(spark, sf_dir, "events")
        .select((F.col("user_id") % 10).alias("s"), "event_type")
        .collect()
    ):
        cnt[(r.s, r.event_type)] += 1
    segs = {}
    for (s, _), n in cnt.items():
        segs.setdefault(s, []).append(n)
    for r in QUERIES["d25_entropy_gini"](spark, sf_dir).collect():
        ns = segs[r.segment]
        nt = sum(ns)
        ent = sum(-(n / nt) * math.log(n / nt) for n in ns)
        gini = 1.0 - sum((n / nt) ** 2 for n in ns)
        k = len(ns)
        assert r.n_events == nt
        assert r.entropy_nats == math.floor(ent * 10000) / 10000
        assert r.gini_impurity == math.floor(gini * 10000) / 10000
        assert 0.0 <= r.entropy_nats <= math.log(k) + 1e-9
        assert 0.0 <= r.gini_impurity <= 1.0 - 1.0 / k + 1e-9


def test_maxscore_equals_unpruned_and_actually_prunes(spark, sf_dir):
    """i32 must return EXACTLY i7's ranking (pruning is an
    optimization, never a semantics change), while the bound filter
    genuinely removes candidates before the scoring aggregate."""
    from pyspark.sql import functions as F, Window

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
        tfidf,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    a = [tuple(r) for r in QUERIES["i32_maxscore_prune"](spark, sf_dir).collect()]
    b = [tuple(r) for r in QUERIES["i7_search_or"](spark, sf_dir).collect()]
    assert a == b
    w = tfidf(load(spark, sf_dir, "documents")).filter(
        F.col("term").isin(*QUERY_TERMS)
    )
    matched = w.select("doc_id").distinct().count()
    ub = w.groupBy("term").agg(F.max("wt").alias("ub"))
    sw = Window.partitionBy("term").orderBy(
        F.floor(F.col("wt") * 10000).desc(), "doc_id"
    )
    seed = (
        w.withColumn("rn", F.row_number().over(sw))
        .filter(F.col("rn") <= 10)
        .select("doc_id")
        .distinct()
    )
    theta = (
        w.join(seed, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum("wt"), 4).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(10)
        .agg(F.min("s"))
        .collect()[0][0]
    )
    survivors = (
        w.join(F.broadcast(ub), "term")
        .groupBy("doc_id")
        .agg(F.sum("ub").alias("b"))
        .filter(F.col("b") >= theta)
        .count()
    )
    assert survivors < matched  # the bound really cuts work


def test_distinct_ngram_ratios_bounded_and_match_python(spark, sf_dir):
    """j53: ratios in (0, 1], matching a direct Python recomputation
    over per-source token streams."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.sources import load

    uni = defaultdict(lambda: [0, set()])
    bi = defaultdict(lambda: [0, set()])
    for r in load(spark, sf_dir, "documents").select("source", "text").collect():
        t = r.text.lower().split(" ")
        for g in t:
            uni[r.source][0] += 1
            uni[r.source][1].add(g)
        for a, b in zip(t, t[1:]):
            bi[r.source][0] += 1
            bi[r.source][1].add(f"{a} {b}")
    got = {
        r.source: (r.unigram_total, r.distinct_1, r.distinct_2)
        for r in QUERIES["j53_distinct_ngram_diversity"](spark, sf_dir).collect()
    }
    for s, (ut, ug) in uni.items():
        bt, bg = bi[s]
        assert got[s] == (
            ut,
            math.floor(len(ug) * 10000.0 / ut) / 10000,
            math.floor(len(bg) * 10000.0 / bt) / 10000,
        )
        assert 0 < got[s][1] <= 1 and 0 < got[s][2] <= 1


def test_field_boost_promotes_title_hits(spark, sf_dir):
    """i33: a doc whose query-term hits sit in the title must outscore
    an otherwise-identical body-only profile — checked by recomputing
    both scores from the weighted-tf definition in Python."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
        _TITLE_BOOST,
        _TITLE_LEN,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    nd = len(docs)
    dfc = defaultdict(set)
    wtf = defaultdict(lambda: defaultdict(int))
    for r in docs:
        t = r.text.lower().split(" ")
        for term in set(t) & set(QUERY_TERMS):
            dfc[term].add(r.doc_id)
        for i, g in enumerate(t):
            if g in QUERY_TERMS:
                wtf[r.doc_id][g] += _TITLE_BOOST if i < _TITLE_LEN else 1
    scored = sorted(
        (
            (
                -math.floor(
                    sum(
                        w * math.log(nd / len(dfc[term]))
                        for term, w in terms.items()
                    )
                    * 10000
                )
                / 10000,
                d,
            )
            for d, terms in wtf.items()
        ),
    )[:10]
    want = [(d, -s) for s, d in scored]
    got = [
        (r.doc_id, r.score)
        for r in QUERIES["i33_field_boost"](spark, sf_dir).collect()
    ]
    assert got == want


def test_modality_manifest_conserves_and_prices_m3(spark, sf_dir):
    """m5: item counts and bytes sum to the corpus totals, shares sum
    to ~1, and the audio token formula prices exactly the chunk count
    m3 emits for the same documents."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["m5_modality_manifest"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    n = d.count()
    total_bytes = d.agg(
        F.sum(F.octet_length(F.encode(F.col("text"), "utf-8")))
    ).collect()[0][0]
    assert sum(r.n_items for r in rows) == n
    assert sum(r.total_bytes for r in rows) == total_bytes
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    # audio pricing == m3's emitted chunk count for audio-tagged docs
    audio_ids = {
        r.doc_id
        for r in d.select(
            "doc_id",
            F.octet_length(F.encode(F.col("text"), "utf-8")).alias("nb"),
        )
        .filter((F.col("nb") % 97 >= 70) & (F.col("nb") % 97 < 90))
        .collect()
    }
    m3_chunks = sum(
        1
        for r in QUERIES["m3_audio_chunks"](spark, sf_dir).collect()
        if r.doc_id in audio_ids
    )
    audio_row = [r for r in rows if r.modality == "audio"]
    if audio_row:
        assert audio_row[0].total_tokens == m3_chunks


def test_interleave_prefixes_stay_proportional(spark, sf_dir):
    """m6's stride property: every prefix of the FULL schedule carries
    each modality within ±1 of its proportional share — no modality
    starves or floods any training window."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F, Window

    from bdt_enwikisearch_hadoop_spark.sources import load

    d = load(spark, sf_dir, "documents")
    nb = F.octet_length(F.encode(F.col("text"), "utf-8"))
    tagged = d.select(
        "doc_id",
        F.when(nb % 97 < 40, "text")
        .when(nb % 97 < 70, "image")
        .when(nb % 97 < 90, "audio")
        .otherwise("video")
        .alias("modality"),
    )
    wr = Window.partitionBy("modality").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    full = (
        tagged.select(
            "modality",
            F.row_number().over(wr).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("modality")).alias("n_m"),
        )
        .select("modality", (F.col("r") * 1.0 / F.col("n_m")).alias("vt"))
        .orderBy("vt", "modality")
        .collect()
    )
    shares = Counter(r.modality for r in full)
    seen = Counter()
    # the stride guarantee is stated in VIRTUAL TIME: after all items
    # with vt <= V, each class has served count_m = floor(V*n_m) items
    # (within 1) — check at every distinct-vt boundary, after ties
    for idx, r in enumerate(full):
        seen[r.modality] += 1
        is_boundary = idx + 1 == len(full) or full[idx + 1].vt != r.vt
        if not is_boundary:
            continue
        for m, n_m in shares.items():
            assert abs(seen[m] - r.vt * n_m) <= 1 + 1e-9, (idx, m, r.vt)
    # and the declared key is exactly the first 50 slots of this order
    head = [
        r.modality
        for r in QUERIES["m6_interleave_schedule"](spark, sf_dir).collect()
    ]
    assert head == [r.modality for r in full[:50]]


def test_search_eval_matches_python_metrics(spark, sf_dir):
    """i34's four metrics must equal a direct Python computation from
    i7's ranking and i6-style conjunctive relevance."""
    import math

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
        tfidf,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    w = tfidf(load(spark, sf_dir, "documents")).filter(
        F.col("term").isin(*QUERY_TERMS)
    )
    ranking = [r.doc_id for r in QUERIES["i7_search_or"](spark, sf_dir).collect()]
    rel = {
        r.doc_id
        for r in w.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(QUERY_TERMS))
        .collect()
    }
    hits = [1 if d in rel else 0 for d in ranking]
    dcg = sum(h / math.log2(i + 2) for i, h in enumerate(hits))
    idcg = sum(1 / math.log2(i + 2) for i in range(min(10, len(rel))))
    first = next((i + 1 for i, h in enumerate(hits) if h), None)
    row = QUERIES["i34_search_eval"](spark, sf_dir).collect()[0]
    assert row.p_at_10 == math.floor(sum(hits) * 10000.0 / 10) / 10000
    assert row.recall_at_10 == math.floor(sum(hits) * 10000.0 / len(rel)) / 10000
    assert row.mrr == (math.floor(10000.0 / first) / 10000 if first else None)
    assert row.ndcg_at_10 == math.floor(dcg / idcg * 10000) / 10000
    assert 0 < row.ndcg_at_10 <= 1


def test_qgram_prefix_filter_theorem_on_generated_edits():
    """The soundness claim c25's plan rests on, checked off-fixture:
    ANY two strings within edit distance k=2 (each with >= 2k+1 = 5
    distinct bigrams) share a bigram among the first 5 of EACH side's
    distinct bigrams under the fixed md5 order.  Hypothesis drives
    random base strings through random <=2-edit mutations."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    def prefix5(s: str) -> set:
        grams = sorted(
            {s[i : i + 2] for i in range(len(s) - 1)},
            key=lambda g: (hashlib.md5(g.encode()).hexdigest(), g),
        )
        return set(grams[:5])

    alphabet = "abcdef "
    base = st.text(alphabet=alphabet, min_size=8, max_size=20)
    edit = st.tuples(
        st.sampled_from(["del", "sub", "ins"]),
        st.integers(min_value=0, max_value=30),
        st.sampled_from(alphabet),
    )

    @settings(max_examples=200, deadline=None)
    @given(base, st.lists(edit, min_size=0, max_size=2))
    def check(s, edits):
        t = s
        for op, pos, ch in edits:
            if not t:
                break
            p = pos % len(t)
            if op == "del":
                t = t[:p] + t[p + 1 :]
            elif op == "sub":
                t = t[:p] + ch + t[p + 1 :]
            else:
                t = t[:p] + ch + t[p:]
        # the theorem's precondition: enough distinct bigrams per side
        if len({s[i:i+2] for i in range(len(s)-1)}) < 5:
            return
        if len({t[i:i+2] for i in range(len(t)-1)}) < 5:
            return
        assert prefix5(s) & prefix5(t), (s, t)

    check()


def test_batch_queries_equal_sequential_execution(spark, sf_dir):
    """i35's batched scoring must equal running each query alone —
    checked for every query in the batch via a Python re-scoring over
    the collected weight table."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.text_search import tfidf
    from bdt_enwikisearch_hadoop_spark.sources import load

    w = defaultdict(dict)
    dfc = defaultdict(int)
    for r in tfidf(load(spark, sf_dir, "documents")).collect():
        w[r.term][r.doc_id] = r.wt
        dfc[r.term] += 1
    top = sorted(dfc, key=lambda t: (-dfc[t], t))[:10]
    pairs = sorted(
        (min(a, b), max(a, b))
        for i, a in enumerate(top)
        for b in top[i + 1 :]
    )[:20]
    want = []
    for qid, (ta, tb) in enumerate(pairs, start=1):
        scores = {
            d: round(w[ta][d] + w[tb][d], 4)
            for d in set(w[ta]) & set(w[tb])
        }
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        want += [
            (qid, d, rk + 1, s) for rk, (d, s) in enumerate(ranked)
        ]
    got = [
        (r.query_id, r.doc_id, r.rnk, r.score)
        for r in QUERIES["i35_batch_queries"](spark, sf_dir).collect()
    ]
    assert got == want


def test_nearest_asof_is_componentwise_min_of_directions(spark, sf_dir):
    """c29: the nearest distance per click equals min(backward gap,
    forward gap) recomputed from c19-style directional scans in
    Python, and the tie rule resolves to the smaller purchase id."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.sources import load

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    )
    purchases = defaultdict(list)
    for r in ev:
        if r.event_type == "purchase":
            purchases[r.user_id].append((r.ts, r.event_id))
    want = {}
    for r in ev:
        if r.event_type != "click" or r.user_id not in purchases:
            continue
        best = min(
            (abs(t - r.ts), pid) for t, pid in purchases[r.user_id]
        )
        want[r.event_id] = (best[1], best[0] // 1_000_000_000)
    got = {
        r.event_id: (r.nearest_purchase, r.dist_s)
        for r in QUERIES["c29_asof_nearest"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_weighted_percentile_mass_invariants(spark, sf_dir):
    """d26: at least half / 90% of the quantity mass sits at or below
    the reported prices, and strictly less does below the previous
    distinct price — the defining property of the lower weighted
    percentile."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r.l_returnflag].append((r.l_extendedprice, r.l_quantity))
    for r in QUERIES["d26_weighted_percentile"](spark, sf_dir).collect():
        vals = groups[r.l_returnflag]
        tot = sum(q for _, q in vals)
        for p, cut in ((0.5, r.w_median), (0.9, r.w_p90)):
            at_or_below = sum(q for v, q in vals if v <= cut)
            below = sum(q for v, q in vals if v < cut)
            assert at_or_below >= p * tot - 1e-6
            assert below < p * tot + 1e-6


def test_share_of_parent_levels_conserve(spark, sf_dir):
    """f30: nation shares sum to ~1 within each region; region shares
    sum to ~1 overall (each row divided by its true parent level)."""
    from collections import defaultdict

    rows = QUERIES["f30_share_of_parent"](spark, sf_dir).collect()
    by_region = defaultdict(float)
    region_total = 0.0
    for r in rows:
        if r.n_name == "ALL":
            region_total += r.share_of_parent
        else:
            by_region[r.r_name] += r.share_of_parent
    assert abs(region_total - 1.0) < 1e-2
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-2, region


def test_mad_outliers_match_python_reference(spark, sf_dir):
    """d27: both floored medians and the 3-MAD outlier counts must
    equal a direct Python computation."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.sources import load

    vals = defaultdict(list)
    for r in load(spark, sf_dir, "events").select("event_type", "value").collect():
        vals[r.event_type].append(r.value)

    def q50(xs):
        s = sorted(xs)
        i = (len(s) - 1) * 0.5
        lo, hi = math.floor(i), math.ceil(i)
        return s[lo] + (s[hi] - s[lo]) * (i - lo)

    for r in QUERIES["d27_mad_outliers"](spark, sf_dir).collect():
        xs = vals[r.event_type]
        med = math.floor(q50(xs) * 10000) / 10000
        adev = [abs(x - med) for x in xs]
        mad = math.floor(q50(adev) * 10000) / 10000
        assert r.n == len(xs)
        assert r.mad == mad
        assert r.n_outliers == sum(1 for a in adev if a > 3 * mad)
        assert r.n_outliers < r.n


def test_j59_negatives_complete_and_disjoint_from_positives(spark, sf_dir):
    """Every anchor gets exactly _NEG_K negatives; no negative is the
    anchor itself or one of its kNN positives (the false-negative
    poisoning the operator exists to prevent)."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _NEG_K,
        _PR_K,
        knn_edges,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    negs = QUERIES["j59_negative_sampling"](spark, sf_dir).collect()
    pos = defaultdict(set)
    for r in knn_edges(spark, sf_dir, _PR_K).collect():
        pos[r.qid].add(r.nid)
    n_vec = load(spark, sf_dir, "embeddings").count()
    per_q = defaultdict(list)
    for r in negs:
        assert r.neg_id != r.qid
        assert r.neg_id not in pos[r.qid], (r.qid, r.neg_id)
        assert 0 <= r.neg_id < n_vec
        per_q[r.qid].append(r.rk)
    assert len(per_q) == n_vec
    for q, rks in per_q.items():
        assert sorted(rks) == list(range(1, _NEG_K + 1)), (q, rks)


def test_k24_cusum_identity_matches_sequential_recurrence(spark, sf_dir):
    """The shipped prefix-sum identity must equal the textbook
    sequential recurrence S_i = max(0, S_{i-1} + dev_i) computed in
    plain Python over the same cents-quantized, count-scaled
    deviations — including the argmax and its earliest-tie rule."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    e = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            "event_id",
            F.expr("ts DIV 1000000000").alias("s"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    groups = defaultdict(list)
    for r in e:
        groups[r.event_type].append((r.s, r.event_id, r.cents))
    expected = {}
    for et, rows in groups.items():
        rows.sort()
        n = len(rows)
        tot = sum(c for _, _, c in rows)
        s_run, best, best_key = 0, -1, None
        for ts, eid, c in rows:
            s_run = max(0, s_run + (c * n - tot))
            if s_run > best:
                best, best_key = s_run, (ts, eid)
        expected[et] = (n, best, best_key[0], best_key[1])
    got = {
        r.event_type: (r.n, r.max_cusum_scaled, r.cp_s, r.cp_event)
        for r in QUERIES["k24_cusum_changepoint"](spark, sf_dir).collect()
    }
    assert got == expected


def test_i36_unnormalized_hits_ranks_like_normalized_hits(spark, sf_dir):
    """The integer-exact trick's claim: dropping per-round L1
    normalization changes no ordering.  Recompute HITS in Python WITH
    normalization each half-step and check the authority ranking
    (score desc, target asc) matches i36's top-20 exactly."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.link_graph import (
        extract_links,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    edges = {
        (r.src, r.target)
        for r in extract_links(load(spark, sf_dir, "documents"))
        .select("src", "target")
        .distinct()
        .collect()
    }
    hubs = {s for s, _ in edges}
    h = {u: 1.0 for u in hubs}
    a = defaultdict(float)
    for u, v in edges:  # a1
        a[v] += h[u]
    z = sum(a.values())
    a = {v: x / z for v, x in a.items()}  # L1 normalize
    h = defaultdict(float)
    for u, v in edges:  # h1
        h[u] += a[v]
    z = sum(h.values())
    h = {u: x / z for u, x in h.items()}
    a2 = defaultdict(float)
    for u, v in edges:  # a2
        a2[v] += h[u]
    ranked = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [r.target for r in QUERIES["i36_hits"](spark, sf_dir).collect()]
    assert got == [t for t, _ in ranked]


def test_k23_decay_weight_is_monotone_and_bounded(spark, sf_dir):
    """Trending scores: each type's score is positive, at most
    n_events * SCALE (weight <= SCALE), and equals the Python fold of
    the same integer kernel."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from bdt_enwikisearch_hadoop_spark.streaming.events import _DECAY_SCALE
    from pyspark.sql import functions as F

    rows = (
        load(spark, sf_dir, "events")
        .select("event_type", F.expr("ts DIV 1000000000").alias("s"))
        .collect()
    )
    t_now = max(r.s for r in rows)
    exp = defaultdict(lambda: [0, 0])
    for r in rows:
        exp[r.event_type][0] += 1
        exp[r.event_type][1] += _DECAY_SCALE // (1 + (t_now - r.s) // 3600)
    got = QUERIES["k23_decayed_trending"](spark, sf_dir).collect()
    for r in got:
        n, score = exp[r.event_type]
        assert r.n_events == n and r.trend_score == score
        assert 0 < r.trend_score <= n * _DECAY_SCALE
    assert [r.trend_score for r in got] == sorted(
        (r.trend_score for r in got), reverse=True
    )


def test_i39_vbyte_sizes_match_python_varint(spark, sf_dir):
    """The range-CASE byte count must equal a real varint encoder's
    output length for every term's gap stream."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.text_search import tokenize
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    def varint_len(g: int) -> int:
        n = 1
        while g >= 128:
            g >>= 7
            n += 1
        return n

    post = defaultdict(list)
    for r in (
        tokenize(load(spark, sf_dir, "documents"))
        .select("term", "doc_id")
        .distinct()
        .collect()
    ):
        post[r.term].append(r.doc_id)
    expected = {}
    for term, ids in post.items():
        ids.sort()
        gaps = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
        expected[term] = (len(ids), sum(varint_len(g) for g in gaps))
    for r in QUERIES["i39_postings_compression"](spark, sf_dir).collect():
        df, vb = expected[r.term]
        assert (r.df, r.vbyte_bytes) == (df, vb), r.term
        assert r.raw_bytes == 8 * df


def test_j54_eval_counts_are_consistent(spark, sf_dir):
    """found <= true (verified candidates are a subset of the exact
    pairs by construction), recall matches the counts, and the
    recall >= 0.9 bound the j8 property test guarantees holds in the
    report too."""
    import math

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    r = QUERIES["j54_lsh_eval"](spark, sf_dir).collect()[0]
    assert r.n_dup_found <= r.n_exact
    assert r.n_dup_found <= r.n_candidates
    assert r.recall == math.floor(
        r.n_dup_found / max(r.n_exact, 1) * 10000
    ) / 10000
    assert r.recall >= 0.9


def test_d29_chi_square_margins_conserve(spark, sf_dir):
    """Expected counts must sum to N (row/col margin conservation) and
    each chi2 term must equal the Python computation from the observed
    table."""
    import math
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["d29_chi_square"](spark, sf_dir).collect()
    row_n = defaultdict(int)
    col_n = defaultdict(int)
    n = 0
    for r in rows:
        row_n[r.lang] += r.o
        col_n[r.source] += r.o
        n += r.o
    for r in rows:
        e = row_n[r.lang] * col_n[r.source] / n
        assert r.expected == math.floor(e * 10000) / 10000
        assert r.chi2_term == math.floor((r.o - e) ** 2 / e * 10000) / 10000
    # conservation including the ZERO cells (absent from the result:
    # no observed row -> no output row, but their expected mass is
    # row_n*col_n/n too): present + missing expecteds must sum to N
    present = {(r.lang, r.source) for r in rows}
    full = sum(
        row_n[la] * col_n[so] / n for la in row_n for so in col_n
    )
    assert abs(full - n) < 1e-6
    missing = sum(
        row_n[la] * col_n[so] / n
        for la in row_n
        for so in col_n
        if (la, so) not in present
    )
    assert abs(sum(r.expected for r in rows) + missing - n) < len(rows) * 1e-4 + 1e-9


def test_j62_kappa_matches_sklearn_free_formula(spark, sf_dir):
    """The four cells must sum to the corpus size and kappa must equal
    the independent Python computation from the cells."""
    import math

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    r = QUERIES["j62_filter_agreement"](spark, sf_dir).collect()[0]
    n_docs = load(spark, sf_dir, "documents").count()
    n = r.n_both + r.n_cls_only + r.n_heur_only + r.n_neither
    assert n == n_docs
    po = (r.n_both + r.n_neither) / n
    pe = ((r.n_both + r.n_cls_only) / n) * ((r.n_both + r.n_heur_only) / n) + (
        (r.n_heur_only + r.n_neither) / n
    ) * ((r.n_cls_only + r.n_neither) / n)
    assert r.po == math.floor(po * 10000) / 10000
    assert r.kappa == math.floor((po - pe) / (1 - pe) * 10000) / 10000


def test_j65_copy_counts_telescope_to_k(spark, sf_dir):
    """Systematic resampling conservation: copy counts sum to exactly
    K, every count is >= 1 on selected rows, and each doc's count is
    within 1 of its exact proportional share K*w/W (the low-variance
    guarantee)."""
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _RESAMPLE_K,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    rows = QUERIES["j65_systematic_resample"](spark, sf_dir).collect()
    assert sum(r.n_copies for r in rows) == _RESAMPLE_K
    wt = (
        load(spark, sf_dir, "documents")
        .agg(F.sum("n_chars"))
        .collect()[0][0]
    )
    for r in rows:
        assert r.n_copies >= 1
        share = _RESAMPLE_K * r.w / wt
        assert share - 1 <= r.n_copies <= share + 1, (r.doc_id, r.n_copies, share)


def test_j64_lpa_round_matches_python_reference(spark, sf_dir):
    """One synchronous LPA round computed in Python (most frequent
    neighbor label, ties -> smallest) over the same undirected kNN
    graph must reproduce the engine's community histogram after the
    declared number of rounds."""
    from collections import Counter, defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _LPA_ROUNDS,
        _PR_K,
        knn_edges,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    e = knn_edges(spark, sf_dir, _PR_K).collect()
    und = defaultdict(set)
    nodes = {
        r.vec_id
        for r in load(spark, sf_dir, "embeddings").select("vec_id").collect()
    }
    for r in e:
        und[r.qid].add(r.nid)
        und[r.nid].add(r.qid)
    lab = {v: v for v in nodes}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for v in nodes:
            if not und[v]:
                new[v] = v
                continue
            votes = Counter(lab[u] for u in und[v])
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lab = new
    hist = Counter(lab.values())
    expected = sorted(
        ((c, l) for l, c in hist.items()), key=lambda t: (-t[0], t[1])
    )[:30]
    got = [
        (r.n_members, r.community)
        for r in QUERIES["j64_lpa_communities"](spark, sf_dir).collect()
    ]
    assert got == expected


def test_h17_weekday_formula_matches_python_calendar(spark, sf_dir):
    """The closed-form weekday count must equal Python's calendar walk
    for a dense sweep of date pairs around week and year boundaries."""
    import datetime

    def f(d: datetime.date) -> int:
        n = (d - datetime.date(1970, 1, 1)).days
        x = n + 3
        return 5 * ((x + 1) // 7) + min((x + 1) % 7, 5) - 3

    def walk(d1: datetime.date, d2: datetime.date) -> int:
        c, d = 0, d1
        while d < d2:
            d += datetime.timedelta(days=1)
            if d.isoweekday() <= 5:
                c += 1
        return c

    base = datetime.date(1995, 12, 25)
    for i in range(0, 30):
        for span in (0, 1, 2, 6, 7, 8, 13, 30):
            d1 = base + datetime.timedelta(days=i)
            d2 = d1 + datetime.timedelta(days=span)
            assert f(d2) - f(d1) == walk(d1, d2), (d1, d2)


def test_cli_card_and_dedup_report_match_declared_keys(spark, sf_dir, capsys):
    """The CLI `card` and `dedup-report` commands must print exactly
    the j63 / j60 query results."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rc = cli.main(["--sf-dir", sf_dir, "card"])
    out = capsys.readouterr().out.strip().splitlines()
    card = QUERIES["j63_dataset_card"](spark, sf_dir).collect()[0]
    assert rc == 0
    got = dict(ln.split("\t") for ln in out)
    for name in card.__fields__:
        assert got[name] == str(card[name])

    rc = cli.main(["--sf-dir", sf_dir, "dedup-report"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and out[0].startswith("n_members")
    expect = [
        f"{r['n_members']}\t{r['n_clusters']}\t{r['docs_covered']}"
        f"\t{r['docs_removed']}\t{r['dedup_ratio']}"
        for r in QUERIES["j60_dedup_report"](spark, sf_dir).collect()
    ]
    assert out[1:] == expect


def test_j67_funnel_is_monotone_and_consistent_with_parts(spark, sf_dir):
    """Funnel survivors must be monotonically non-increasing and each
    boundary must equal the count derivable from the standalone
    stage operators."""
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _FUNNEL_LANGS,
        j32_dedup_pipeline_scale,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    rows = QUERIES["j67_curation_funnel"](spark, sf_dir).collect()
    counts = [r.rows_kept for r in rows]
    assert counts == sorted(counts, reverse=True)
    docs = load(spark, sf_dir, "documents")
    assert counts[0] == docs.count()
    assert counts[1] == docs.filter(
        F.col("lang").isin(*_FUNNEL_LANGS)
    ).count()
    keep = {
        r.doc_id
        for r in QUERIES["j47_quality_classifier"](spark, sf_dir)
        .filter(F.col("keep") == 1)
        .collect()
    }
    lang_ids = {
        r.doc_id
        for r in docs.filter(F.col("lang").isin(*_FUNNEL_LANGS))
        .select("doc_id")
        .collect()
    }
    assert counts[2] == len(lang_ids & keep)
    keepers = {
        r.keeper_doc_id
        for r in j32_dedup_pipeline_scale(spark, sf_dir).collect()
    }
    assert counts[3] == len(lang_ids & keep & keepers)


def test_j68_curve_is_monotone_and_consistent_with_j54(spark, sf_dir):
    """Counts must be non-increasing in the threshold, found <= true
    everywhere, and the 0.8 point must equal j54's report."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["j68_dedup_threshold_curve"](spark, sf_dir).collect()
    assert [r.t10 for r in rows] == [5, 6, 7, 8, 9]
    for a, b in zip(rows, rows[1:]):
        assert a.n_true >= b.n_true and a.n_found >= b.n_found
    for r in rows:
        assert r.n_found <= r.n_true
    j54 = QUERIES["j54_lsh_eval"](spark, sf_dir).collect()[0]
    p8 = next(r for r in rows if r.t10 == 8)
    assert (p8.n_true, p8.n_found) == (j54.n_exact, j54.n_dup_found)
    assert p8.recall == j54.recall


def test_k26_interpolation_matches_python_and_floors_negatives(spark, sf_dir):
    """Interpolated grid values must equal a sequential Python replay
    (per event_type), and the floor-division spelling must agree with
    Python's // even for NEGATIVE dividends (synthetic check — the
    fixture's values are non-negative today, the operator must not
    depend on that)."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    e = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts2")).alias("hs"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "ts",
            "event_id",
        )
        .collect()
    )
    best = {}
    for r in e:  # last observation per (type, hour): max (ts, event_id)
        k = (r.event_type, r.hs)
        if k not in best or (r.ts, r.event_id) > best[k][0]:
            best[k] = ((r.ts, r.event_id), r.cents)
    obs = defaultdict(dict)
    for (et, hs), (_, cents) in best.items():
        obs[et][hs] = cents
    expected = {}
    for et, m in obs.items():
        hours = sorted(m)
        lo, hi = hours[0], hours[-1]
        h = lo
        while h <= hi:
            if h in m:
                expected[(et, h)] = m[h]
            else:
                prev = max(x for x in hours if x < h)
                nxt = min(x for x in hours if x > h)
                pc, nc = m[prev], m[nxt]
                expected[(et, h)] = (
                    pc * (nxt - h) + nc * (h - prev)
                ) // (nxt - prev)
            h += 3600
    got = {
        (r.event_type, r.h_s): r.cents_interp
        for r in QUERIES["k26_resample_interpolate"](spark, sf_dir).collect()
    }
    assert got == expected

    # negative-dividend floor semantics, directly on the expression
    rows = [(-250, 100, 0, 3600, 1200), (-7, -3, 0, 10, 4)]
    df = spark.createDataFrame(
        rows, "pc long, nc long, ps long, ns long, h_s long"
    )
    out = df.select(
        F.expr(
            "(pc * (ns - h_s) + nc * (h_s - ps)"
            " - pmod(pc * (ns - h_s) + nc * (h_s - ps), ns - ps))"
            " DIV (ns - ps)"
        ).alias("v")
    ).collect()
    for (pc, nc, ps, ns, h), r in zip(rows, out):
        assert r.v == (pc * (ns - h) + nc * (h - ps)) // (ns - ps)


def test_d34_trimmed_mean_matches_python(spark, sf_dir):
    """The rank-trimmed mean must equal a Python sort-and-slice over
    the same quantized values and tie order."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r.l_returnflag].append(
            (r.l_quantity, r.l_orderkey, r.l_linenumber)
        )
    expected = {}
    for flag, vals in groups.items():
        vals.sort()
        n = len(vals)
        cut = n // 10
        kept = vals[cut : n - cut]
        s = sum(round(v[0] * 100) for v in kept)
        expected[flag] = (n, len(kept), (s * 100 // len(kept)) / 10000.0)
    got = {
        r.l_returnflag: (r.n, r.n_kept, r.trimmed_mean)
        for r in QUERIES["d34_trimmed_mean"](spark, sf_dir).collect()
    }
    assert got == expected


def test_k27_peaks_are_true_local_maxima(spark, sf_dir):
    """Every reported peak must be an interior local maximum of the
    independently computed hourly series (strict left, non-strict
    right), and no higher unreported interior peak may exist outside
    the top-20 cut."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    hourly = defaultdict(dict)
    for r in (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts2").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.unix_timestamp("b").alias("h"), "n")
        .collect()
    ):
        hourly[r.event_type][r.h] = r.n
    all_peaks = []
    for et, m in hourly.items():
        hs = sorted(m)
        for i in range(1, len(hs) - 1):
            if m[hs[i]] > m[hs[i - 1]] and m[hs[i]] >= m[hs[i + 1]]:
                all_peaks.append((-m[hs[i]], et, hs[i]))
    all_peaks.sort()
    expected = [(et, h, -negn) for negn, et, h in all_peaks[:20]]
    got = [
        (r.event_type, r.h_s, r.n)
        for r in QUERIES["k27_peak_detection"](spark, sf_dir).collect()
    ]
    assert got == expected


def test_j69_mask_plan_matches_python_replay(spark, sf_dir):
    """The span plan must equal a sequential Python replay of the same
    hash rules: seeds, span extension, overlap merge, and counts."""
    import hashlib

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _SPAN_LEN_MOD,
        _SPAN_RATE,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        n = len(r.text.lower().split(" "))
        masked = set()
        for pos in range(n):
            if h32(f"{r.doc_id}:{pos}") % _SPAN_RATE == 0:
                ln = 1 + h32(f"s:{r.doc_id}:{pos}") % _SPAN_LEN_MOD
                for m in range(pos, min(pos + ln, n)):
                    masked.add(m)
        if not masked:
            continue
        spans = sum(1 for m in masked if m - 1 not in masked)
        expected[r.doc_id] = (n, len(masked), spans)
    got = {
        r.doc_id: (r.n_tokens, r.n_masked, r.n_spans)
        for r in QUERIES["j69_span_corruption"](spark, sf_dir).collect()
    }
    assert got == expected


def test_d30_bins_partition_the_fact_table(spark, sf_dir):
    """2-D histogram cells must partition lineitem: counts sum to the
    row count and every cell's bin ids match the floor formula."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["d30_histogram_2d"](spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    assert sum(r.n for r in rows) == li.count()
    import math

    sample = li.select("l_quantity", "l_discount").limit(500).collect()
    cells = {(r.qty_bin, r.disc_bin) for r in rows}
    for s in sample:
        assert (
            math.floor(s.l_quantity / 10),
            math.floor(s.l_discount / 0.02),
        ) in cells


def test_d31_long_totals_equal_wide_aggregates(spark, sf_dir):
    """Each unpivoted measure's (n, total) must equal the direct wide
    aggregate over the same column."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    got = {
        (r.l_returnflag, r.measure): (r.n, r.total)
        for r in QUERIES["d31_unpivot"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem")
    for meas, col in (
        ("quantity", "l_quantity"),
        ("extendedprice", "l_extendedprice"),
        ("discount", "l_discount"),
    ):
        wide = li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum(col), 2).alias("t")
        ).collect()
        for w in wide:
            assert got[(w.l_returnflag, meas)] == (w.n, w.t)


def test_d32_cells_and_z_match_python(spark, sf_dir):
    """A/B cells must cover every user once; z must equal the Python
    pooled-proportion formula."""
    import math

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    r = QUERIES["d32_ab_test"](spark, sf_dir).collect()[0]
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert r.n_a + r.n_b == n_users
    if 0 < r.c_a + r.c_b < r.n_a + r.n_b:
        pa, pb = r.c_a / r.n_a, r.c_b / r.n_b
        pool = (r.c_a + r.c_b) / (r.n_a + r.n_b)
        z = (pa - pb) / math.sqrt(
            pool * (1 - pool) * (1 / r.n_a + 1 / r.n_b)
        )
        assert r.z_score == math.floor(z * 10000) / 10000


def test_d33_seasonality_conserves_events(spark, sf_dir):
    """Per-type dow events must sum to the type's event count, days to
    its distinct active days, and the day-weighted index mean is 1 up
    to per-cell flooring."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    rows = QUERIES["d33_dow_seasonality"](spark, sf_dir).collect()
    ev = defaultdict(int)
    days = defaultdict(int)
    for r in rows:
        ev[r.event_type] += r.ev
        days[r.event_type] += r.days
    e = load(spark, sf_dir, "events")
    for t, n in (
        (r.event_type, r.n)
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        assert ev[t] == n
    for r in (
        e.groupBy("event_type")
        .agg(F.countDistinct(F.date_trunc("day", "ts2")).alias("d"))
        .collect()
    ):
        assert days[r.event_type] == r.d
    for t in ev:
        w = sum(r.seasonal_index * r.days for r in rows if r.event_type == t)
        assert abs(w / days[t] - 1) < 7 * 1e-4 + 1e-9


def test_g10_union_evolve_accounts_for_both_vintages(spark, sf_dir):
    """Totals must cover every document; legacy rows are exactly the
    even doc_ids per lang; chars_known sums only the odd side."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    got = {
        r.lang: (r.n, r.with_source, r.legacy_rows, r.chars_known)
        for r in QUERIES["g10_union_evolve"](spark, sf_dir).collect()
    }
    d = load(spark, sf_dir, "documents")
    ref = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("legacy"),
        F.sum(
            F.when(F.col("doc_id") % 2 == 1, F.col("n_chars"))
        ).alias("chars"),
    ).collect()
    for r in ref:
        assert got[r.lang] == (r.n, r.n - r.legacy, r.legacy, r.chars)


def test_i42_burstiness_formula_and_bounds(spark, sf_dir):
    """cf >= df always; the floored ratio must match Python; ranking is
    by the displayed value."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["i42_burstiness"](spark, sf_dir).collect()
    for r in rows:
        assert r.cf >= r.dfc >= 10
        assert r.burstiness == (r.cf * 10000 // r.dfc) / 10000.0
    vals = [r.burstiness for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_i43_zipf_fit_matches_python_regression(spark, sf_dir):
    """The exponent and R2 must equal a Python replay of the same
    quantized log-log regression over the same top-200 ranking."""
    import math
    from collections import Counter

    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        _ZIPF_TOP,
        tokenize,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    cf = Counter()
    for r in tokenize(load(spark, sf_dir, "documents")).select("term").collect():
        cf[r.term] += 1
    ranked = sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_TOP]
    pts = [
        (
            math.floor(math.log(i + 1) * 1e6),
            math.floor(math.log(c) * 1e6),
        )
        for i, (_, c) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    r = QUERIES["i43_zipf_fit"](spark, sf_dir).collect()[0]
    assert r.n == n
    assert r.zipf_exponent == math.floor(-num / denx * 10000) / 10000
    assert r.r2 == math.floor(
        (float(num) * float(num)) / (float(denx) * float(deny)) * 10000
    ) / 10000
    assert 0 < r.r2 <= 1


def test_j56_woe_iv_matches_python(spark, sf_dir):
    """WOE per category and the shared IV must equal the Python
    formula over the same counts."""
    import math

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["j56_woe_iv"](spark, sf_dir).collect()
    tot_pos = sum(r.n_pos for r in rows)
    tot_neg = sum(r.n - r.n_pos for r in rows)
    iv = 0.0
    for r in rows:
        woe = math.log(
            ((r.n_pos + 0.5) / tot_pos)
            / ((r.n - r.n_pos + 0.5) / tot_neg)
        )
        assert r.woe == math.floor(woe * 10000) / 10000
        iv += (
            (r.n_pos + 0.5) / tot_pos - (r.n - r.n_pos + 0.5) / tot_neg
        ) * woe
    for r in rows:
        assert r.iv == math.floor(iv * 10000) / 10000


def test_j60_report_conserves_corpus_and_matches_j32(spark, sf_dir):
    """Histogram mass must cover the whole corpus and agree with a
    direct aggregation of j32's keeper table."""
    from collections import Counter

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        j32_dedup_pipeline_scale,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = QUERIES["j60_dedup_report"](spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.docs_covered for r in rows) == n_docs
    hist = Counter(
        r.n_members for r in j32_dedup_pipeline_scale(spark, sf_dir).collect()
    )
    for r in rows:
        assert hist[r.n_members] == r.n_clusters
        assert r.docs_removed == (r.n_members - 1) * r.n_clusters


def test_j63_card_equals_direct_aggregates(spark, sf_dir):
    """Every card column must match an independent direct computation
    over the documents table."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    card = QUERIES["j63_dataset_card"](spark, sf_dir).collect()[0]
    docs = load(spark, sf_dir, "documents").collect()
    toks = [len(r.text.lower().split(" ")) for r in docs]
    import hashlib

    hashes = {hashlib.md5(r.text.strip().lower().encode()).hexdigest() for r in docs}
    assert card.n_docs == len(docs)
    assert card.n_langs == len({r.lang for r in docs})
    assert card.n_sources == len({r.source for r in docs})
    assert card.total_tokens == sum(toks)
    assert card.total_chars == sum(r.n_chars for r in docs)
    assert card.n_exact_dups == len(docs) - len(hashes)
    assert card.min_tokens == min(toks) and card.max_tokens == max(toks)
    assert card.mean_tokens_floor == sum(toks) // len(toks)


def test_j70_efficiency_consistent_with_j23_assignment(spark, sf_dir):
    """The closed-form bin count must equal the materialized j23
    assignment's max bin id + 1 per shard, and waste must equal the
    unfilled remainder of the final bin."""
    from collections import defaultdict

    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _PACK_BUDGET,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    assign = QUERIES["j23_sequence_pack"](spark, sf_dir).collect()
    max_bin = defaultdict(int)
    tok = defaultdict(int)
    for r in assign:
        max_bin[r.lang] = max(max_bin[r.lang], r.bin_id)
        tok[r.lang] += r.n_tok
    for r in QUERIES["j70_packing_efficiency"](spark, sf_dir).collect():
        assert r.total_tokens == tok[r.lang]
        assert r.n_bins == max_bin[r.lang] + 1 or (
            # a shard whose total is an exact multiple of the budget:
            # the straddle assignment may open bin N while the closed
            # form counts N bins — both legal only when total % B == 0
            r.total_tokens % _PACK_BUDGET == 0
        )
        assert r.wasted_tokens == r.n_bins * _PACK_BUDGET - r.total_tokens


def test_j71_each_epoch_is_an_independent_permutation(spark, sf_dir):
    """Both epoch orders must be exact permutations of 0..n-1, differ
    from each other, and match the Python hash-rank replay."""
    import hashlib

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = QUERIES["j71_epoch_shuffle"](spark, sf_dir).collect()
    n = len(rows)
    for col in ("pos_e0", "pos_e1"):
        assert sorted(r[col] for r in rows) == list(range(n))
    assert any(r.pos_e0 != r.pos_e1 for r in rows)
    for ep, col in ((0, "pos_e0"), (1, "pos_e1")):
        order = sorted(
            (hashlib.md5(f"{ep}:{r.doc_id}".encode()).hexdigest(), r.doc_id)
            for r in rows
        )
        expect = {doc: i for i, (_, doc) in enumerate(order)}
        for r in rows:
            assert r[col] == expect[r.doc_id]


def test_j72_stratum_certification_consistent_with_full(spark, sf_dir):
    """The sampled certification must be internally consistent (found
    is a subset of true, recall in [0,1], the extrapolation is exactly
    16x the stratum count) and bounded by the full-corpus j54 report
    (a stratum can never contain more exact pairs than the corpus)."""
    r = QUERIES["j72_lsh_eval_sampled"](spark, sf_dir).collect()[0]
    assert 0 <= r["n_dup_found_stratum"] <= r["n_exact_stratum"]
    assert 0.0 <= r["recall"] <= 1.0
    assert r["est_full_pairs"] == r["n_exact_stratum"] * 16
    full = QUERIES["j54_lsh_eval"](spark, sf_dir).collect()[0]
    assert r["n_exact_stratum"] <= full["n_exact"]
    assert r["n_candidates_stratum"] <= full["n_candidates"]


def test_j73_sampled_curve_monotone_and_matches_j72_at_08(spark, sf_dir):
    """Counts must be non-increasing in the threshold, found <= true
    per row, and the 0.8 row must equal j72's scalar report (same
    stratum, same pair sets)."""
    rows = QUERIES["j73_dedup_curve_sampled"](spark, sf_dir).collect()
    assert [r["t10"] for r in rows] == [5, 6, 7, 8, 9]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_true_stratum"] <= prev["n_true_stratum"]
        assert cur["n_found_stratum"] <= prev["n_found_stratum"]
    for r in rows:
        assert r["n_found_stratum"] <= r["n_true_stratum"]
        assert r["est_full_pairs"] == r["n_true_stratum"] * 16
    j72 = QUERIES["j72_lsh_eval_sampled"](spark, sf_dir).collect()[0]
    at8 = next(r for r in rows if r["t10"] == 8)
    assert at8["n_true_stratum"] == j72["n_exact_stratum"]
    assert at8["n_found_stratum"] == j72["n_dup_found_stratum"]


def test_ppm_codec_round_trip_and_conservation():
    """decode(encode(w, h, seed)) must return the exact dimensions and
    pixel bytes (the conservation guarantee extended to PIXEL counts,
    VERDICT r7 item 6), parse spec-valid header variations (comments,
    extra whitespace), and reject malformed payloads."""
    import numpy as np

    from bdt_enwikisearch_hadoop_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    for w, h, seed in [(1, 1, 0), (16, 12, 7), (5, 9, 123456789)]:
        data = encode_ppm(w, h, seed)
        dw, dh, img = decode_ppm(data)
        assert (dw, dh) == (w, h)
        assert img.shape == (h, w, 3)
        assert img.size == w * h * 3  # pixel-count conservation
        expect = np.fromfunction(
            lambda y, x, c: (x + y + c + seed) % 256, (h, w, 3)
        ).astype(np.uint8)
        assert (img == expect).all()
    # header with a comment line is spec-valid and must parse
    w2, h2, img2 = decode_ppm(b"P6\n# a comment\n2 2\n255\n" + bytes(12))
    assert (w2, h2) == (2, 2) and img2.sum() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + bytes(12))  # wrong magic
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255\n" + bytes(11))  # truncated raster


def test_wav_codec_round_trip_and_conservation():
    """decode(encode(n, seed)) must return the exact sample count and
    int16 values (sample-count conservation), honor RIFF word
    alignment when an unknown odd-length chunk precedes data, and
    reject malformed containers."""
    import struct

    import numpy as np

    from bdt_enwikisearch_hadoop_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
    )

    for n, seed in [(1, 0), (100, 7), (399, 424242)]:
        rate, samples = decode_wav(encode_wav(n, seed))
        assert rate == 16000
        assert samples.size == n  # sample-count conservation
        i = np.arange(n, dtype=np.int64)
        expect = ((i * 31 + seed) % 65536) - 32768
        assert (samples.astype(np.int64) == expect).all()
    # an unknown odd-sized chunk before data: walker must skip it with
    # the spec's pad byte and still find the samples
    base = encode_wav(3, 5)
    fmt_and_data = base[12:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = (
        b"RIFF"
        + struct.pack("<I", 4 + len(odd) + len(fmt_and_data))
        + b"WAVE"
        + odd
        + fmt_and_data
    )
    rate, samples = decode_wav(patched)
    assert samples.size == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + bytes(40))
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks
    # a data chunk whose declared size exceeds the remaining bytes must
    # raise, not silently yield fewer samples than the header promises
    truncated = encode_wav(10, 3)[:-4]
    with _pytest.raises(ValueError, match="declares"):
        decode_wav(truncated)
    # a short fmt body must raise ValueError, not struct.error
    short_fmt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", 8) + bytes(8)
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(ValueError, match="fmt chunk"):
        decode_wav(short_fmt)


def test_ppm_stream_walker_round_trip_and_conservation():
    """decode_ppm_stream(encode_ppm_stream(doc)) must recover every
    frame byte-exactly (frame-count AND pixel-count conservation),
    derive each frame boundary from the DECODED header (verified by
    parsing a hand-built heterogeneous stream), and reject malformed
    or truncated streams."""
    import numpy as np

    from bdt_enwikisearch_hadoop_spark.functions.multimodal import (
        decode_ppm_stream,
        encode_ppm,
        encode_ppm_stream,
    )

    for doc_id in [0, 7, 13, 123456]:
        payload, n_frames, w, h = encode_ppm_stream(doc_id)
        frames = decode_ppm_stream(payload)
        assert len(frames) == n_frames  # frame-count conservation
        for k, (dw, dh, img) in enumerate(frames):
            assert (dw, dh) == (w, h)
            assert img.size == w * h * 3  # pixel-count conservation
            expect = np.fromfunction(
                lambda y, x, c: (x + y + c + doc_id + 13 * k) % 256,
                (h, w, 3),
            ).astype(np.uint8)
            assert (img == expect).all()
    # heterogeneous stream: frame boundaries must come from the parsed
    # headers, not any fixed-size assumption
    mixed = encode_ppm(2, 3, 1) + encode_ppm(5, 1, 9) + encode_ppm(1, 1, 0)
    shapes = [(f[0], f[1]) for f in decode_ppm_stream(mixed)]
    assert shapes == [(2, 3), (5, 1), (1, 1)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm_stream(encode_ppm(2, 2, 0) + b"JUNK")  # garbage tail
    with _pytest.raises(ValueError):
        decode_ppm_stream(encode_ppm(2, 2, 0)[:-1])  # truncated raster


def test_j78_band_candidates_far_below_all_pairs(spark, sf_dir):
    """The 8×8-bit band geometry must keep the candidate set FAR below
    all-pairs — the round-10 scale fix for the old 4×4-bit geometry
    whose 16 buckets/band admitted ~23% of all pairs as candidates.
    Bound: measured candidates ≤ 2 × the uniform-data expectation
    L·C(N,2)/2^bits (the analytic asymptote the docstring claims),
    which at 8 bands × 8 bits is N²/64 — so the assert also pins the
    geometry itself (reverting to 4×4 would blow the bound 8×)."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _J78_BAND_BITS,
        _J78_BANDS,
        band_signature,
        guarded_band_pairs,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_pipeline import vec_double
    from bdt_enwikisearch_hadoop_spark.sources import load

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    ve = vec_double(F.col("embedding"))
    buckets = band_signature(emb, ve, _J78_BANDS, _J78_BAND_BITS).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"band{g}") for g in range(_J78_BANDS)])
        ).alias("g", "bucket"),
    )
    n_cand = guarded_band_pairs(buckets, ["g", "bucket"], "vec_id").count()
    all_pairs = n * (n - 1) / 2
    expected = _J78_BANDS * all_pairs / (2 ** _J78_BAND_BITS)
    assert 0 < n_cand <= 2 * expected, (n_cand, expected, all_pairs)


def test_bucket_cap_chain_identical_vectors(spark):
    """Adversarial skew: N identical vectors land in ONE bucket of
    every band (occupancy N ≫ _BUCKET_CAP).  The guard must emit the
    O(N) consecutive chain — never the N²/2 clique — every chain edge
    must survive the exact verify (cos = 1), and the j79 closure must
    still collapse the whole group to one component (the property that
    makes chain-degradation safe for dedup)."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _BUCKET_CAP,
        _embedding_near_dup_pairs,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _connected_components,
    )

    n = 3 * _BUCKET_CAP
    emb = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    pairs = _embedding_near_dup_pairs(spark, None, emb=emb)
    rows = pairs.collect()
    assert len(rows) == n - 1, len(rows)  # chain, not clique
    assert sorted((r["ia"], r["ib"]) for r in rows) == [
        (i, i + 1) for i in range(n - 1)
    ]
    assert all(abs(r["cos"] - 1.0) < 1e-12 for r in rows)
    comps = _connected_components(
        pairs.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    )[0]
    assert comps.select("component").distinct().count() == 1
    # the guard must be IN THE PLAN: an occupancy filter at the cap on
    # the clique side (no unbounded within-bucket self-join survives)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert f"<= {_BUCKET_CAP}" in plan
    assert "CartesianProduct" not in plan


def test_bucket_cap_chain_identical_documents(spark):
    """Same adversarial skew on the TEXT side: N identical documents
    share every band key; the guard chains them (N-1 verified pairs,
    Jaccard 1) instead of the N²/2 clique, and the closure still finds
    one duplicate group."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.ann import _BUCKET_CAP
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _connected_components,
        _lsh_verified_pairs,
    )

    n = 3 * _BUCKET_CAP
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta")
         for i in range(n)],
        "doc_id long, text string",
    )
    pairs = _lsh_verified_pairs(docs)
    rows = pairs.collect()
    assert len(rows) == n - 1, len(rows)
    assert sorted((r["doc_a"], r["doc_b"]) for r in rows) == [
        (i, i + 1) for i in range(n - 1)
    ]
    assert all(r["i"] == r["na"] == r["nb"] for r in rows)  # Jaccard 1
    comps = _connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
    )[0]
    assert comps.select("component").distinct().count() == 1
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert f"<= {_BUCKET_CAP}" in plan
    assert "CartesianProduct" not in plan


def test_driver_window_keys_all_have_oracles():
    """Canary for the driver's only externally-checked window: the
    correctness driver checks the first 50 keys of the registry in
    natural (numeric-aware) order — a1…d7 as of round 10 (a11 joined
    the a-family, shifting the tail from d8 to d7) — so a refactor
    that silently drops an oracle inside that window would go dark
    externally even though the full local sweep still covers it.
    Assert every window key keeps an oracle, except the single
    documented rows-only-by-design key (d3's HLL sketch)."""
    import re

    from bdt_enwikisearch_hadoop_spark.registry import ORACLES, QUERIES

    def natural(key):
        m = re.match(r"([a-z]+)(\d+)(.*)", key)
        return (m.group(1), int(m.group(2)), m.group(3)) if m else (key, 0, "")

    window = sorted(QUERIES, key=natural)[:50]
    assert window[0].startswith("a1_") and window[-1].startswith("d7_"), window
    missing = [k for k in window if k not in ORACLES]
    assert missing == ["d3_approx_count_distinct"], missing


def test_coef_matrix_expr_equals_literal_form(spark, sf_dir):
    """The cached single-expression coefficient matrix must resolve to
    exactly the nested double-array literal the per-element F.lit form
    produced (band_signature swapped forms for driver-call cost only —
    the VALUES are the contract both j22's plan and every oracle's SQL
    re-derivation share), and the cache must hand back the SAME parsed
    Column within one application."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _COEF_COL_CACHE,
        _COEFS64,
        _coef_matrix_col,
    )

    for nbits in (16, 64):
        got = spark.range(1).select(
            _coef_matrix_col(spark, nbits).alias("m")
        ).collect()[0]["m"]
        lit = spark.range(1).select(
            F.array(
                *[
                    F.array(*[F.lit(c) for c in _COEFS64[b]])
                    for b in range(nbits)
                ]
            ).alias("m")
        ).collect()[0]["m"]
        assert [list(r) for r in got] == [list(r) for r in lit]
    app = spark.sparkContext.applicationId
    assert _coef_matrix_col(spark, 64) is _COEF_COL_CACHE[(app, 64)]
    assert _coef_matrix_col(spark, 64) is _coef_matrix_col(spark, 64)


def test_j80_filtered_table_equals_stratum_rebuild(spark, sf_dir):
    """j80's LSH side is the PRODUCTION pair table filtered to stratum
    endpoints.  On the fixtures (no bucket over _BUCKET_CAP in either
    corpus) that must coincide pair-for-pair with rebuilding the LSH
    pipeline on the stratum corpus — signatures are per-vector, so
    restricting the corpus only removes pairs with a non-stratum
    endpoint.  The two diverge exactly when the occupancy cap fires at
    different bucket loads; certifying the shipped table is the point
    of the key, and this test documents the equivalence domain."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _embedding_near_dup_pairs,
        _j80_stratum_emb,
        embedding_near_dup_pair_table,
    )

    pred_a = F.substring(F.md5(F.col("ia").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    pred_b = F.substring(F.md5(F.col("ib").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    filtered = {
        (r["ia"], r["ib"])
        for r in embedding_near_dup_pair_table(spark, sf_dir)
        .filter(pred_a & pred_b)
        .collect()
    }
    rebuilt = {
        (r["ia"], r["ib"])
        for r in _embedding_near_dup_pairs(
            spark, sf_dir, emb=_j80_stratum_emb(spark, sf_dir)
        ).collect()
    }
    assert filtered == rebuilt


def test_j80_recall_floor_at_bench_scale(spark):
    """The embedding-side certification must keep reporting a usable
    stratum recall on the bench fixture — the text side pins recall
    >= 0.9; this pins the embedding side's measured operating point so
    a geometry change can't silently crater it.  Run at sf0.1
    explicitly: the sf0.001 stratum holds a single exact pair, where
    recall is a coin flip, not a signal.  The fixture's θ = 0.45 sits
    in the regime where hyperplane LSH is recall-limited by theory
    (see the geometry note in ann.py) — the floor asserts the shipped
    8×8 geometry's measured 0.54, not a production-θ 0.95 (the
    production regime is planted-pair-pinned in
    test_j78_planted_pair_recall_at_production_theta)."""
    import os

    import pytest

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    bench_sf = "/root/testdata/sf0.1"
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench fixture {bench_sf} absent on this host")
    row = QUERIES["j80_embedding_lsh_recall_sampled"](
        spark, bench_sf
    ).collect()[0]
    assert row["n_exact_stratum"] >= 5  # enough pairs to mean something
    assert row["recall"] >= 0.5, row
    # and the found side is a true subset: never more than exact
    assert row["n_found_stratum"] <= row["n_exact_stratum"]


def test_f20_q1_matches_python_decimal_reference(spark, sf_dir):
    """TPC-H Q1's exactness machinery — decimal money sums, the
    scaled-integer triple product for sum_charge, FLOOR truncations —
    re-derived in pure Python (Decimal + int arithmetic, no Spark, no
    DuckDB).  The DuckDB oracle replicates the same formulas, so this
    is the independent third opinion that catches a both-engines-agree
    mistake in the arithmetic itself."""
    import datetime
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    rows = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
        )
        .collect()
    )
    cut = datetime.datetime(2000, 1, 1)
    groups = defaultdict(list)
    for r in rows:
        sd = r.l_shipdate
        if isinstance(sd, datetime.date) and not isinstance(
            sd, datetime.datetime
        ):
            sd = datetime.datetime(sd.year, sd.month, sd.day)
        if sd <= cut:
            groups[(r.l_returnflag, r.l_linestatus)].append(r)

    def half_up100(x):  # Spark's ROUND(x*100) on non-negative doubles
        return math.floor(x * 100 + 0.5)

    expected = {}
    for key, rs in groups.items():
        n = len(rs)
        sq = sum(r.l_quantity for r in rs)
        # Decimal(repr(double)) == Spark's double->decimal cast (both
        # go through the shortest decimal representation)
        dp = [
            Decimal(repr(r.l_extendedprice)).quantize(
                Decimal("0.01"), ROUND_HALF_UP
            )
            for r in rs
        ]
        dd = [
            Decimal(repr(r.l_discount)).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
            for r in rs
        ]
        charge = 0
        for r in rs:
            cents = half_up100(r.l_extendedprice)
            d6 = 1000000 - int(math.floor(r.l_discount * 1000000 + 0.5))
            t6 = 1000000 + int(math.floor(r.l_tax * 1000000 + 0.5))
            charge += cents * d6 * t6  # exact ints, like decimal(38,0)
        expected[key] = (
            int(sq),
            float(math.floor(sum(dp) * 100)) / 100,
            float(math.floor(sum(p * (1 - d) for p, d in zip(dp, dd)) * 100))
            / 100,
            math.floor(charge / 1e12) / 100,
            math.floor(sq / n * 10000) / 10000,
            math.floor(float(sum(dp)) / n * 100) / 100,
            n,
        )
    got = {
        (r.l_returnflag, r.l_linestatus): (
            r.sum_qty, r.sum_base_price, r.sum_disc_price, r.sum_charge,
            r.avg_qty, r.avg_price, r.count_order,
        )
        for r in QUERIES["f20_tpch_q1_pricing"](spark, sf_dir).collect()
    }
    assert got == expected


def _planted_cos_pairs(seed: int, n_pairs: int, cos_lo: float, cos_hi: float):
    """(rows, want): n_pairs vector pairs at exact cosine (cos_lo ==
    cos_hi) or uniform in [cos_lo, cos_hi] — u random unit, v = c·u +
    √(1−c²)·w with w ⟂ u, so each pair's cosine is exact by
    construction and pairs are mutually near-orthogonal (64-dim)."""
    import math

    import numpy as np

    rng = np.random.RandomState(seed)
    rows, want = [], []
    for i in range(n_pairs):
        u = rng.normal(size=64)
        u /= np.linalg.norm(u)
        w = rng.normal(size=64)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        c = cos_lo if cos_lo == cos_hi else rng.uniform(cos_lo, cos_hi)
        v = c * u + math.sqrt(1.0 - c * c) * w
        rows.append((2 * i, [float(x) for x in u]))
        rows.append((2 * i + 1, [float(x) for x in v]))
        want.append((2 * i, 2 * i + 1))
    return rows, want


def test_j78_planted_pair_recall_at_production_theta(spark):
    """EMPIRICAL pin of the production-θ recall claim in ann.py's
    geometry note (the one load-bearing number there that was
    previously closed-form only): planted pairs at known cosine driven
    through the FULL shipped path — band_signature → guarded_band_pairs
    → exact-cosine verify (`_embedding_near_dup_pairs`, the exact
    function j78/j79/j80 serve from).

    Two planted sets, both deterministic (seeded construction, the
    ±1 md5-derived hyperplane family is a constant):

    * 300 pairs at exactly cos = 0.90 — the WORST case of the θ ≥ 0.9
      regime.  Closed form 1−(1−p^8)^8 with p = 1−arccos(0.9)/π gives
      0.935; measured 0.940.  Asserting a ±0.04 band around the closed
      form checks the Rademacher family actually tracks the Gaussian
      SRP law the docstring reasons with (a systematic family defect —
      e.g. correlated bits — would land far outside it).
    * 300 pairs uniform in cos ∈ [0.90, 1.0] — a duplicate POPULATION
      at the θ = 0.9 cut.  Measured 0.977; the docstring's "population
      recall ≥ 0.95" claim is asserted directly.

    The fixture-regime floor at θ = 0.45 is pinned separately
    (test_j80_recall_floor_at_bench_scale); this test is the other
    regime — where production embedding dedup actually operates."""
    import math

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _embedding_near_dup_pairs,
    )

    def recall(rows, want):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        got = {
            (r.ia, r.ib)
            for r in _embedding_near_dup_pairs(spark, None, emb=emb).collect()
        }
        return sum(1 for p in want if p in got) / len(want)

    p_bit = 1.0 - math.acos(0.90) / math.pi
    closed_form = 1.0 - (1.0 - p_bit**8) ** 8  # 0.935
    boundary = recall(*_planted_cos_pairs(11, 300, 0.90, 0.90))
    assert abs(boundary - closed_form) <= 0.04, (boundary, closed_form)

    population = recall(*_planted_cos_pairs(11, 300, 0.90, 1.0))
    assert population >= 0.95, population


def test_j83_guard_report_detects_capped_buckets(spark, sf_dir):
    """The guard report must (a) certify the benign fixture —
    zero capped buckets on both pipelines, so the shipped pair tables
    are clique-complete — and (b) DETECT degradation: a degenerate
    bucket table with one bucket above _BUCKET_CAP reports exactly that
    bucket, its member count, and its chain-edge count through the SAME
    aggregation the registered key serves."""
    from bdt_enwikisearch_hadoop_spark.functions.ann import _BUCKET_CAP
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _guard_occupancy_report,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rows = {
        r.pipeline: r
        for r in QUERIES["j83_lsh_guard_report"](spark, sf_dir).collect()
    }
    assert set(rows) == {"text", "embedding"}
    for r in rows.values():
        assert r.n_capped_buckets == 0, r
        assert r.capped_members == 0 and r.chain_edges == 0, r
        assert 0 < r.max_occ <= _BUCKET_CAP, r

    # adversarial: 100 identical-signature members in one bucket (> cap),
    # plus a benign 3-member bucket
    n_skew = _BUCKET_CAP + 36
    skewed = spark.createDataFrame(
        [(i, 0, 7) for i in range(n_skew)]
        + [(1000 + i, 1, 9) for i in range(3)],
        "vec_id long, g int, bucket int",
    )
    got = _guard_occupancy_report(skewed, ["g", "bucket"], "adv").collect()[0]
    assert got.pipeline == "adv"
    assert got.n_buckets == 2
    assert got.max_occ == n_skew
    assert got.n_capped_buckets == 1
    assert got.capped_members == n_skew
    assert got.chain_edges == n_skew - 1


def test_d13_approx_percentile_within_rank_tolerance_of_exact(spark, sf_dir):
    """Accuracy bound for the rows-only percentile sketch (the d16
    pattern applied to d13): with accuracy = 10000 the sketch's rank
    error is ≤ 1e-4, so every approximate quantile value must lie
    between the EXACT quantiles at q ∓ 0.001 (10× slack on the
    guarantee).  A sketch that silently degraded — wrong accuracy
    parameter, broken merge — lands outside the bracket."""
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    eps = 0.001
    approx = {
        (r.l_returnflag, r.pct): r.approx_qty
        for r in QUERIES["d13_approx_percentile"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("d13_bracket_li")
    brackets = spark.sql(
        f"""
        SELECT l_returnflag,
               percentile(l_quantity, array({0.5 - eps}, {0.5 + eps},
                                            {0.9 - eps}, {0.9 + eps})) AS b
        FROM d13_bracket_li GROUP BY l_returnflag
        """
    ).collect()
    assert brackets and approx
    for r in brackets:
        lo50, hi50, lo90, hi90 = r.b
        a50 = approx[(r.l_returnflag, 0.5)]
        a90 = approx[(r.l_returnflag, 0.9)]
        assert lo50 <= a50 <= hi50, (r.l_returnflag, a50, lo50, hi50)
        assert lo90 <= a90 <= hi90, (r.l_returnflag, a90, lo90, hi90)


def test_d17_approx_top_k_matches_exact_heavy_hitters(spark, sf_dir):
    """Accuracy bound for the rows-only heavy-hitters sketch: every
    term whose exact count strictly exceeds the exact 10th count MUST
    be returned (ties at the boundary may legitimately swap), and every
    returned count must be within 0.5% of that term's exact count
    (measured: exact to the unit on the fixture — the sketch tracks far
    more items than k)."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    got = {
        r.term: r.cnt
        for r in QUERIES["d17_approx_top_k"](spark, sf_dir).collect()
    }
    assert len(got) == 10
    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = {
        r.term: r.n
        for r in tok.orderBy(F.desc("n"), "term").limit(30).collect()
    }
    tenth = sorted(exact.values(), reverse=True)[9]
    must_have = {t for t, n in exact.items() if n > tenth}
    assert must_have <= set(got), must_have - set(got)
    for t, cnt in got.items():
        assert t in exact, t  # a returned term must be a real heavy hitter
        assert abs(cnt - exact[t]) <= 0.005 * exact[t], (t, cnt, exact[t])


def test_j84_incremental_decisions_consistent_with_pair_table(spark, sf_dir):
    """Every j84 decision must be re-derivable from the j8 verified
    pair table and the batch predicate: corpus-dups name a
    non-batch partner, batch-dups name a SMALLER-id batch partner,
    keeps have no partner of either kind — and the decision column is
    exactly the precedence of the two."""
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _nb_pred_col,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from pyspark.sql import functions as F

    got = {
        r.doc_id: (r.decision, r.dup_of)
        for r in QUERIES["j84_incremental_dedup"](spark, sf_dir).collect()
    }
    assert len(got) > 50
    assert {d for d, _ in got.values()} == {
        "keep", "drop_corpus_dup", "drop_batch_dup",
    }

    pairs = QUERIES["j8_dedup_minhash_lsh"](spark, sf_dir).select(
        "doc_a", "doc_b",
        _nb_pred_col(F.col("doc_a")).alias("a_new"),
        _nb_pred_col(F.col("doc_b")).alias("b_new"),
    ).collect()
    corpus_dup: dict[int, int] = {}
    batch_dup: dict[int, int] = {}
    for r in pairs:
        for d, p, d_new, p_new in (
            (r.doc_a, r.doc_b, r.a_new, r.b_new),
            (r.doc_b, r.doc_a, r.b_new, r.a_new),
        ):
            if not d_new:
                continue
            if not p_new:
                corpus_dup[d] = min(corpus_dup.get(d, p), p)
            elif p < d:
                batch_dup[d] = min(batch_dup.get(d, p), p)
    for doc_id, (decision, dup_of) in got.items():
        if doc_id in corpus_dup:
            assert (decision, dup_of) == (
                "drop_corpus_dup", corpus_dup[doc_id],
            ), doc_id
        elif doc_id in batch_dup:
            assert (decision, dup_of) == (
                "drop_batch_dup", batch_dup[doc_id],
            ), doc_id
        else:
            assert (decision, dup_of) == ("keep", None), doc_id


def test_d3_approx_count_distinct_within_rsd_of_exact(spark, sf_dir):
    """Accuracy bound for the last unbounded sketch key: HLL++ at
    rsd = 0.05 must land within 3×rsd (15%) of the exact per-group
    distinct count — a silently degraded sketch (wrong rsd, broken
    merge) blows far past that; the fixture's true error is ~1-2%."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load

    got = {
        r.o_orderstatus: r.approx_cust
        for r in QUERIES["d3_approx_count_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r.o_orderstatus: r.n
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact) and len(got) >= 2
    for status, n in exact.items():
        assert abs(got[status] - n) <= 0.15 * n, (status, got[status], n)


def test_cli_audit_matches_declared_keys(spark, sf_dir, capsys):
    """The CLI `audit` command (SCALE.md's run-before-trusting rule,
    runnable) must print exactly the j83 guard rows and the j80
    certification row."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES

    rc = cli.main(["--sf-dir", sf_dir, "audit"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 4

    expect_guard = [
        f"guard\t{r['pipeline']}\tn_buckets={r['n_buckets']}"
        f"\tmax_occ={r['max_occ']}"
        f"\tn_capped_buckets={r['n_capped_buckets']}"
        f"\tcapped_members={r['capped_members']}"
        f"\tchain_edges={r['chain_edges']}"
        for r in QUERIES["j83_lsh_guard_report"](spark, sf_dir).collect()
    ]
    assert out[:2] == expect_guard
    trow = QUERIES["j72_lsh_eval_sampled"](spark, sf_dir).collect()[0]
    assert out[2] == (
        f"recall\ttext\tn_exact_stratum={trow['n_exact_stratum']}"
        f"\tn_found_stratum={trow['n_dup_found_stratum']}"
        f"\trecall={trow['recall']}"
        f"\test_full_pairs={trow['est_full_pairs']}"
    )
    row = QUERIES["j80_embedding_lsh_recall_sampled"](
        spark, sf_dir
    ).collect()[0]
    assert out[3] == (
        f"recall\tembedding\tn_exact_stratum={row['n_exact_stratum']}"
        f"\tn_found_stratum={row['n_found_stratum']}"
        f"\trecall={row['recall']}"
        f"\test_full_pairs={row['est_full_pairs']}"
    )


def _call_cost(spark, call) -> tuple[list, int, list]:
    """(rows, Spark jobs started, parquet files opened) of one WARM
    ``call()`` plus the collect of the DataFrame it returns — the
    guards' memos are seeded by a first call.  Jobs are counted in a
    job group of their own (the status tracker keeps every job of a
    fresh group, however many jobs the session ran before); files are
    recorded at pyarrow's reader, the only way the in-place serve
    paths read a store."""
    import uuid

    import pyarrow.parquet as pq

    call().collect()
    real, opened = pq.read_table, []

    def spy(source, *a, **k):
        opened.extend(source)
        return real(source, *a, **k)

    sc = spark.sparkContext
    group = f"call-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve cost contract")
    pq.read_table = spy
    try:
        rows = [tuple(r) for r in call().collect()]
    finally:
        pq.read_table = real
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group)), opened


def _probe_cost(spark, table: str, text: str) -> tuple[list, int, list]:
    """:func:`_call_cost` of one ``probe_dedup`` call."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        probe_dedup,
    )

    return _call_cost(spark, lambda: probe_dedup(spark, table, text))


def _assert_opened_within(opened: list, want: set, free_dirs=()) -> None:
    """Every file opened lies in a wanted (directory, bucket) pair or
    in one of ``free_dirs``, and at least one wanted directory was
    read; paths compare after realpath."""
    import os
    import re

    assert any(
        os.path.dirname(os.path.realpath(f)) == d for f in opened
        for d, _ in want
    ), opened
    for f in opened:
        d = os.path.dirname(os.path.realpath(f))
        if d in free_dirs:
            continue
        bucket = int(re.match(r".*_(\d+)\.c\d+", os.path.basename(f))[1])
        assert (d, bucket) in want, (f, sorted(want))


def _assert_search_reads_pruned(spark, table: str, terms: tuple,
                                kind: str = "tf",
                                conjunctive: bool = True) -> list:
    """The ranked searches' cost contract: a warm ``search_tf_index``
    (kind "tf"), ``search_index`` ("index") or ``search_index_vsm``
    ("vsm") starts 0 Spark jobs and opens only the query terms' bucket
    files, for VSM the hit ids' ``_norms`` buckets, and the tombstone
    table's files — the in-place twin of Spark's
    ``SelectedBucketsCount``.  Returns the search's rows."""
    import os

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

    search = {
        "tf": lambda: ix.search_tf_index(spark, table, terms,
                                         conjunctive=conjunctive),
        "index": lambda: ix.search_index(spark, table, terms,
                                         conjunctive=conjunctive),
        "vsm": lambda: ix.search_index_vsm(spark, table, terms),
    }[kind]
    rows, jobs, opened = _call_cost(spark, search)
    assert jobs == 0, jobs

    def loc(t):
        return os.path.realpath(ix.table_location(spark, t))

    nb = ix.table_buckets(spark, table)
    want = {(loc(table), ix.spark_hash(t) % nb) for t in terms}
    if kind == "vsm":
        hits = [
            r.doc_id for r in spark.table(table)
            .filter(F.col("term").isin(*terms))
            .select("term", F.explode("postings.doc_id").alias("doc_id"))
            .groupBy("doc_id").agg(F.countDistinct("term").alias("n"))
            .filter(F.col("n") == len(terms)).collect()
        ]
        nbn = ix.table_buckets(spark, f"{table}_norms")
        want |= {(loc(f"{table}_norms"), ix.spark_hash(d, "bigint") % nbn)
                 for d in hits}
    tombs = f"{table}_tombs"
    _assert_opened_within(
        opened, want,
        (loc(tombs),) if spark.catalog.tableExists(tombs) else ())
    return rows


def _assert_probe_reads_pruned(spark, table: str, text: str) -> list:
    """probe_dedup's cost contract: a warm probe starts 0 Spark jobs
    and opens only the bucket files of the probe's band keys, of its
    candidates' ``_sets`` ids and of the tombstone table — files
    opened ⊆ the probe's buckets (the in-place twin of Spark's
    ``SelectedBucketsCount``).  Returns the probe's rows."""
    import os

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        probe_bands,
        probe_shingles,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        spark_hash,
        table_buckets,
        table_location,
    )

    rows, jobs, opened = _probe_cost(spark, table, text)
    assert jobs == 0, jobs
    bands = set(probe_bands(probe_shingles(text)))
    cands = {
        r.doc_id
        for r in spark.table(table)
        .filter(F.col("bk").isin(sorted({bk for _, bk in bands})))
        .collect()
        if (r.b, r.bk) in bands
    }
    nb = table_buckets(spark, table)
    want = {
        (os.path.realpath(table_location(spark, table)),
         spark_hash(bk) % nb) for _, bk in bands
    } | {
        (os.path.realpath(table_location(spark, f"{table}_sets")),
         spark_hash(d, "bigint") % nb) for d in cands
    }
    _assert_opened_within(
        opened, want,
        (os.path.realpath(table_location(spark, f"{table}_tombs")),)
        if spark.catalog.tableExists(f"{table}_tombs") else ())
    return rows


def test_dedup_store_probe_contract(spark, sf_dir, tmp_path, capsys):
    """The persisted dedup index + online probe (dedup_store): a
    document probes to ITSELF at Jaccard 1.0; a one-token perturbation
    still matches it ≥ 0.8; unrelated and too-short-to-shingle probes
    return empty; the probe's pure-Python banding is bit-identical to
    the corpus-side Spark banding; and a warm probe starts no Spark job
    and opens only its band keys' and candidates' bucket files (one
    bucket lookup per band, never a scan).  The CLI `dedup-probe`
    prints the same rows."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        probe_bands,
        probe_dedup,
        probe_shingles,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _text_band_table,
        doc_shingle_sets,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    try:
        build_dedup_index(
            spark, sf_dir, "t_dedup_idx", str(tmp_path / "didx")
        )
        doc = load(spark, sf_dir, "documents").filter("doc_id = 42").collect()[0]

        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_dedup_idx", doc.text).collect()
        ]
        assert got and got[0] == (42, 1.0), got

        toks = doc.text.split(" ")
        toks[len(toks) // 2] = "zzzperturbzzz"
        near = {
            r.doc_id: r.jaccard
            for r in probe_dedup(
                spark, "t_dedup_idx", " ".join(toks)
            ).collect()
        }
        assert 42 in near and 0.8 <= near[42] < 1.0, near

        assert probe_dedup(
            spark, "t_dedup_idx", "entirely unrelated words " * 5
        ).collect() == []
        assert probe_dedup(spark, "t_dedup_idx", "two tokens").collect() == []

        # cross-engine derivation pin over EVERY fixture document, in
        # BOTH directions: iterate the full corpus (not just the ids
        # the Spark chain emitted), so a Spark-side row drop and a
        # Python-vs-Spark band divergence both fail here
        spark_bands: dict[int, set] = {}
        for r in _text_band_table(doc_shingle_sets(spark, sf_dir)).collect():
            spark_bands.setdefault(r.doc_id, set()).add((r.b, r.bk))
        texts = {
            r.doc_id: r.text
            for r in load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .collect()
        }
        assert len(texts) > 100
        for did, text in texts.items():
            sh = probe_shingles(text)
            got_py = set(probe_bands(sh)) if sh else set()
            assert got_py == spark_bands.get(did, set()), did

        assert _assert_probe_reads_pruned(
            spark, "t_dedup_idx", doc.text) == got

        rc = cli.main(
            ["--sf-dir", sf_dir, "dedup-probe", str(tmp_path / "didx"),
             *doc.text.split(" "), "--table", "t_dedup_idx"]
        )
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        assert [
            (int(a), float(b)) for a, b in (ln.split("\t") for ln in out)
        ] == got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_dedup_idx")
        spark.sql("DROP TABLE IF EXISTS t_dedup_idx_sets")


def test_j85_embedding_delta_decisions_consistent_with_pair_table(
    spark, sf_dir
):
    """j84's re-derivation check on the embedding side: every j85
    decision must follow from the j78 verified pair list and the batch
    predicate (corpus-dups name a non-batch partner, batch-dups a
    smaller-id batch partner, keeps neither)."""
    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _nbe_pred_col,
        embedding_near_dup_pair_table,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from pyspark.sql import functions as F

    got = {
        r.vec_id: (r.decision, r.dup_of)
        for r in QUERIES["j85_incremental_embedding_dedup"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) > 50

    pairs = embedding_near_dup_pair_table(spark, sf_dir).select(
        "ia", "ib",
        _nbe_pred_col(F.col("ia")).alias("a_new"),
        _nbe_pred_col(F.col("ib")).alias("b_new"),
    ).collect()
    corpus_dup: dict[int, int] = {}
    batch_dup: dict[int, int] = {}
    for r in pairs:
        for d, p, d_new, p_new in (
            (r.ia, r.ib, r.a_new, r.b_new),
            (r.ib, r.ia, r.b_new, r.a_new),
        ):
            if not d_new:
                continue
            if not p_new:
                corpus_dup[d] = min(corpus_dup.get(d, p), p)
            elif p < d:
                batch_dup[d] = min(batch_dup.get(d, p), p)
    for vec_id, (decision, dup_of) in got.items():
        if vec_id in corpus_dup:
            assert (decision, dup_of) == (
                "drop_corpus_dup", corpus_dup[vec_id],
            ), vec_id
        elif vec_id in batch_dup:
            assert (decision, dup_of) == (
                "drop_batch_dup", batch_dup[vec_id],
            ), vec_id
        else:
            assert (decision, dup_of) == ("keep", None), vec_id


# ---------------------------------------------------------------------------
# round 12: probe-store boundary contract, incremental index maintenance,
# and the embedding-side online probe store
# ---------------------------------------------------------------------------


def _boundary_pair(salt: int):
    """An 11-token doc and its last-token swap: shingle sets of size 9
    sharing 8 members → exact Jaccard 8/10 = 0.8 (the double closest to
    0.8, so `jac >= 0.8` keeps it — the boundary of j8's contract).
    Salts 0 and 1 are verified to COLLIDE in ≥1 MinHash band (fixed
    strings + md5 ⇒ deterministic), so the pair is always a candidate."""
    dt = [f"w{salt}x{i}" for i in range(10)] + ["enda"]
    pt = dt[:10] + ["endb"]
    return " ".join(dt), " ".join(pt)


def _below_boundary_pair():
    """A 22502-token doc and a 22501-token probe sharing a 20001-token
    prefix: sets 22500/22499 sharing 19999 → J = 19999/25000 = 0.79996,
    strictly below θ=0.8 but displaying as 0.8 under 4dp rounding — the
    adversarial fixture for the filter-what-you-emit contract.  Salt 0
    verified to collide in ≥1 band."""
    pref = [f"p0q{i}" for i in range(20001)]
    da = pref + [f"ta0z{i}" for i in range(2501)]
    pb = pref + [f"tb0z{i}" for i in range(2500)]
    return " ".join(da), " ".join(pb)


def test_probe_dedup_boundary_theta_contract(spark, tmp_path):
    """probe_dedup's threshold contract at the J=0.8 boundary, both
    sides: a pair at exactly J=0.8 is KEPT (j8's ≥0.8 semantics) and a
    pair at J=0.79996 — which 4dp rounding would DISPLAY as 0.8 — is
    DROPPED, with the emitted jaccard equal to the exact value the cut
    ran on (filter-what-you-emit: the printed number can never disagree
    with the theta decision)."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        probe_bands,
        probe_dedup,
        probe_shingles,
    )

    doc_at, probe_at = _boundary_pair(0)
    doc_below, probe_below = _below_boundary_pair()
    # fixed-string collision guards: if the fixture strings change,
    # fail HERE (candidacy lost) rather than with a confusing empty probe
    assert set(probe_bands(probe_shingles(doc_at))) & set(
        probe_bands(probe_shingles(probe_at))
    )
    assert set(probe_bands(probe_shingles(doc_below))) & set(
        probe_bands(probe_shingles(probe_below))
    )
    docs = spark.createDataFrame(
        [(1, doc_at), (2, doc_below)], "doc_id long, text string"
    )
    try:
        build_dedup_index(
            spark, "unused", "t_bdy_idx", str(tmp_path / "bidx"), docs=docs
        )
        # exactly AT the boundary: kept, jaccard exactly 8/10
        got = {
            r.doc_id: r.jaccard
            for r in probe_dedup(spark, "t_bdy_idx", probe_at).collect()
        }
        assert got.get(1) == 8 / 10, got
        # just BELOW: dropped at θ=0.8 even though round(J,4) == 0.8 …
        assert 19999 / 25000 < 0.8 and round(19999 / 25000, 4) == 0.8
        below = probe_dedup(spark, "t_bdy_idx", probe_below).collect()
        assert [r.doc_id for r in below] == [], below
        # … and at a lower θ the same pair is emitted with the EXACT
        # unrounded value the cut ran on
        low = {
            r.doc_id: r.jaccard
            for r in probe_dedup(
                spark, "t_bdy_idx", probe_below, theta=0.79
            ).collect()
        }
        assert low.get(2) == 19999 / 25000, low
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bdy_idx")
        spark.sql("DROP TABLE IF EXISTS t_bdy_idx_sets")


def test_append_dedup_index_equals_rebuild(spark, tmp_path):
    """Index MAINTENANCE: build over a base corpus + append a new batch
    must serve probes identically to a full rebuild over base ∪ batch —
    including a probe whose near-dup exists ONLY in the appended batch
    (the j84 'corpus is never rescanned' claim made true across days).
    Also pins the physical story: appended band rows land in the same
    bucket layout, so the probe keeps reading only its buckets."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        probe_dedup,
    )

    base_doc, base_probe = _boundary_pair(1)
    new_doc, new_probe = _boundary_pair(0)
    filler = "completely unrelated filler words " * 8
    base = spark.createDataFrame(
        [(1, base_doc), (2, filler)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(5, new_doc), (6, filler + " tail")], "doc_id long, text string"
    )
    probes = [base_probe, new_probe, base_doc, new_doc, "zz yy xx ww vv uu"]
    try:
        build_dedup_index(
            spark, "unused", "t_app_idx", str(tmp_path / "appidx"),
            docs=base,
        )
        append_dedup_index(spark, "t_app_idx", batch)
        # idempotence: replaying the same shard is a no-op (the
        # anti-join drops already-indexed ids) — without it every probe
        # row for a re-ingested doc would duplicate
        append_dedup_index(spark, "t_app_idx", batch)
        build_dedup_index(
            spark, "unused", "t_reb_idx", str(tmp_path / "rebidx"),
            docs=base.unionByName(batch),
        )
        for text in probes:
            got = [
                (r.doc_id, r.jaccard)
                for r in probe_dedup(spark, "t_app_idx", text).collect()
            ]
            want = [
                (r.doc_id, r.jaccard)
                for r in probe_dedup(spark, "t_reb_idx", text).collect()
            ]
            assert got == want, (text[:40], got, want)
        # the batch-only near-dup is actually served (not vacuous)
        got_new = dict(
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_app_idx", new_probe).collect()
        )
        assert got_new.get(5) == 8 / 10, got_new
        # physical: appended table still bucket-prunes the probe read
        assert dict(_assert_probe_reads_pruned(
            spark, "t_app_idx", new_probe)) == got_new
        # state parity: same rows in both stores
        for suffix in ("", "_sets"):
            assert (
                spark.table(f"t_app_idx{suffix}").count()
                == spark.table(f"t_reb_idx{suffix}").count()
            ), suffix
    finally:
        for t in ("t_app_idx", "t_app_idx_sets", "t_reb_idx",
                  "t_reb_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_embedding_store_probe_contract(spark, sf_dir, tmp_path, capsys):
    """The persisted embedding index + online probe (embedding_store):
    a vector probes to ITSELF at cos 1.0; the probe's pure-Python
    signature fold is bit-identical to the corpus-side Spark banding
    (EVERY fixture vector, both directions); the band-index read is
    bucket-pruned (SelectedBucketsCount — never a scan); and the CLI
    `embedding-probe` prints the same rows from a re-registered
    catalog."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_embedding_dedup,
        probe_vector_bands,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    try:
        build_embedding_index(
            spark, sf_dir, "t_emb_idx", str(tmp_path / "eidx")
        )
        emb = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in load(spark, sf_dir, "embeddings").collect()
        }
        assert len(emb) > 100

        # cross-engine derivation pin, both directions over the corpus
        spark_bands: dict[int, set] = {}
        for r in spark.table("t_emb_idx").collect():
            spark_bands.setdefault(r.vec_id, set()).add((r.g, r.bucket))
        for vid, vec in emb.items():
            assert set(probe_vector_bands(vec)) == spark_bands.get(
                vid, set()
            ), vid

        probe = probe_embedding_dedup(spark, "t_emb_idx", emb[7])
        got = [(r.vec_id, r.cos) for r in probe.collect()]
        assert got and got[0] == (7, 1.0), got
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan

        rc = cli.main(
            ["--sf-dir", sf_dir, "embedding-probe", str(tmp_path / "eidx"),
             "--vec-id", "7", "--table", "t_emb_idx"]
        )
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        assert [
            (int(a), float(b)) for a, b in (ln.split("\t") for ln in out)
        ] == got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_emb_idx")
        spark.sql("DROP TABLE IF EXISTS t_emb_idx_vecs")


def _py_dot(a, b):
    """Sequential left-to-right double fold — the Spark `dot` twin."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_embedding_probe_decisions_match_j85(spark, sf_dir, tmp_path):
    """The decision-level pin the text side carries (dedup_store ↔ j84)
    applied to vectors: per-vector ONLINE probe decisions over a
    corpus-only index must equal j85's BATCH-delta decisions for the
    same vectors.  Corpus partners come from Spark probes of the
    persisted store; within-batch partners from the probe's own
    pure-Python banding + cosine (both bit-identical to the batch
    pipeline's derivations) — exactly the 'every decision computable
    from the vector's own probes' claim in j85's docstring, executed.
    Equivalence domain: no bucket over _BUCKET_CAP (fixture max 33;
    guard state observable via j83)."""
    import hashlib
    import math

    from bdt_enwikisearch_hadoop_spark.functions.ann import (
        _J78_THETA,
        _NBE_SEED,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_embedding_dedup,
        probe_vector_bands,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    def is_batch(vid: int) -> bool:
        h = hashlib.md5(f"{_NBE_SEED}{vid}".encode()).hexdigest()[0]
        return h in ("0", "1", "2", "3")

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    batch_ids = sorted(v for v in emb if is_batch(v))
    corpus_ids = [v for v in emb if not is_batch(v)]
    assert 30 < len(batch_ids) < len(corpus_ids)

    try:
        build_embedding_index(
            spark, sf_dir, "t_delta_eidx", str(tmp_path / "deidx"),
            emb=load(spark, sf_dir, "embeddings").filter(
                ~F.col("vec_id").isin(batch_ids)
            ),
        )
        # within-batch candidate partners via the probe's OWN banding
        buckets: dict[tuple, list] = {}
        for vid in batch_ids:
            for gb in probe_vector_bands(emb[vid]):
                buckets.setdefault(gb, []).append(vid)

        def pycos(a, b):
            return _py_dot(a, b) / (
                math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
            )

        batch_dup: dict[int, int] = {}
        for members in buckets.values():
            for i, d in enumerate(members):
                for p in members[:i] + members[i + 1:]:
                    if p < d and pycos(emb[p], emb[d]) >= _J78_THETA:
                        batch_dup[d] = min(batch_dup.get(d, p), p)

        decisions = {}
        for vid in batch_ids:
            cand = probe_embedding_dedup(
                spark, "t_delta_eidx", emb[vid]
            ).collect()
            if cand:
                decisions[vid] = (
                    "drop_corpus_dup", min(r.vec_id for r in cand),
                )
            elif vid in batch_dup:
                decisions[vid] = ("drop_batch_dup", batch_dup[vid])
            else:
                decisions[vid] = ("keep", None)

        want = {
            r.vec_id: (r.decision, r.dup_of)
            for r in QUERIES["j85_incremental_embedding_dedup"](
                spark, sf_dir
            ).collect()
        }
        assert decisions == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_delta_eidx")
        spark.sql("DROP TABLE IF EXISTS t_delta_eidx_vecs")


def test_append_embedding_index_equals_rebuild(spark, sf_dir, tmp_path):
    """Vector-side index maintenance: build over 80% of the fixture +
    append the other 20% must serve probes identically to a full
    rebuild — including a probe whose only near-dup (itself, cos 1.0)
    arrives in the appended batch."""
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    emb_df = load(spark, sf_dir, "embeddings")
    base = emb_df.filter(F.col("vec_id") % 5 != 0)
    batch = emb_df.filter(F.col("vec_id") % 5 == 0)
    emb = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb_df.collect()
    }
    try:
        build_embedding_index(
            spark, sf_dir, "t_eapp_idx", str(tmp_path / "eappidx"),
            emb=base,
        )
        append_embedding_index(spark, "t_eapp_idx", batch)
        # idempotence: a replayed shard is anti-joined to a no-op
        append_embedding_index(spark, "t_eapp_idx", batch)
        build_embedding_index(
            spark, sf_dir, "t_ereb_idx", str(tmp_path / "erebidx"),
            emb=emb_df,
        )
        for vid in (0, 5, 7, 42):  # 0/5 appended, 7/42 base
            got = [
                (r.vec_id, r.cos)
                for r in probe_embedding_dedup(
                    spark, "t_eapp_idx", emb[vid]
                ).collect()
            ]
            want = [
                (r.vec_id, r.cos)
                for r in probe_embedding_dedup(
                    spark, "t_ereb_idx", emb[vid]
                ).collect()
            ]
            assert got == want, (vid, got, want)
            # self-cos is 1.0 up to the fold's last-ulp rounding
            assert any(
                v == vid and abs(c - 1.0) < 1e-12 for v, c in got
            ), (vid, got)
        for suffix in ("", "_vecs"):
            assert (
                spark.table(f"t_eapp_idx{suffix}").count()
                == spark.table(f"t_ereb_idx{suffix}").count()
            ), suffix
    finally:
        for t in ("t_eapp_idx", "t_eapp_idx_vecs", "t_ereb_idx",
                  "t_ereb_idx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_register_external_store_restores_bucketing(spark, sf_dir,
                                                    tmp_path):
    """The FRESH-PROCESS path of register_external_store — the branch a
    new CLI process actually takes: drop the builder session's catalog
    entries, re-register from the _meta.json sidecars, and the probe
    must return identical rows WITH bucket pruning restored (only the
    probe's bucket files opened — the CLUSTERED BY DDL carried the
    bucketing spec across the catalog loss).  Also pins the no-sidecar fallback:
    a plain external table still answers identically, just unpruned."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    path = str(tmp_path / "ridx")
    try:
        build_dedup_index(spark, sf_dir, "t_reg_idx", path)
        doc = (
            load(spark, sf_dir, "documents").filter("doc_id = 42").collect()
        )[0]
        want = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_reg_idx", doc.text).collect()
        ]
        assert want

        # simulate the fresh process: catalog loses the tables
        spark.sql("DROP TABLE t_reg_idx")
        spark.sql("DROP TABLE t_reg_idx_sets")
        register_external_store(spark, "t_reg_idx", path)
        register_external_store(spark, "t_reg_idx_sets", f"{path}_sets")
        q = probe_dedup(spark, "t_reg_idx", doc.text)
        got = [(r.doc_id, r.jaccard) for r in q.collect()]
        assert got == want
        assert _assert_probe_reads_pruned(spark, "t_reg_idx",
                                          doc.text) == want

        # no-sidecar fallback: plain external table, same rows
        import os

        spark.sql("DROP TABLE t_reg_idx")
        spark.sql("DROP TABLE t_reg_idx_sets")
        os.rename(f"{path}_meta.json", f"{path}_meta.hidden")
        try:
            register_external_store(spark, "t_reg_idx", path)
            register_external_store(spark, "t_reg_idx_sets", f"{path}_sets")
            fallback = [
                (r.doc_id, r.jaccard)
                for r in probe_dedup(spark, "t_reg_idx", doc.text).collect()
            ]
            assert fallback == want
        finally:
            os.rename(f"{path}_meta.hidden", f"{path}_meta.json")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_reg_idx")
        spark.sql("DROP TABLE IF EXISTS t_reg_idx_sets")


def test_probe_vector_bands_rejects_wrong_dimension(spark, sf_dir,
                                                    tmp_path, capsys):
    """A wrong-dimension probe must be an EXPLICIT error, never a
    silent empty result: zip() truncation would compute meaningless
    buckets and the verify's zip_with null-padding would drop every
    candidate — indistinguishable from 'no duplicates' in a serving
    decision.  Pins the library raise and both CLI error paths."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_vector_bands,
    )

    with _pytest.raises(ValueError, match="64"):
        probe_vector_bands([1.0, 2.0])
    with _pytest.raises(ValueError, match="64"):
        probe_vector_bands([0.5] * 128)

    try:
        build_embedding_index(
            spark, sf_dir, "t_dim_idx", str(tmp_path / "dimidx")
        )
        rc = cli.main(
            ["embedding-probe", str(tmp_path / "dimidx"),
             "--vec", "1.0,2.0", "--table", "t_dim_idx"]
        )
        err = capsys.readouterr().err
        assert rc == 2 and "64" in err, (rc, err)
        rc = cli.main(
            ["embedding-probe", str(tmp_path / "dimidx"),
             "--vec", "", "--table", "t_dim_idx"]
        )
        err = capsys.readouterr().err
        assert rc == 2 and "comma-separated" in err, (rc, err)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_dim_idx")
        spark.sql("DROP TABLE IF EXISTS t_dim_idx_vecs")


def test_compact_store_one_file_per_bucket_same_probes(spark, sf_dir,
                                                       tmp_path):
    """Store COMPACTION: every append adds one file per bucket (a year
    of daily shards = ~365 file opens per probe bucket), and
    compact_store rewrites the accumulated layout back to one file per
    bucket from the PERSISTED rows — probes identical before/after,
    bucket spec and meta sidecar carried over (probes still open only
    their bucket files, table_buckets unchanged), immutable swap to a
    new path.  Exercised on both modalities."""
    import glob

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        compact_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        table_buckets,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    def nfiles(path):
        return len(glob.glob(f"{path}/*.parquet"))

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    try:
        # text store: base + two appended shards
        build_dedup_index(
            spark, "unused", "t_cmp_idx", str(tmp_path / "cidx"),
            docs=docs.filter(F.col("doc_id") % 3 == 0), buckets=4,
        )
        for m in (1, 2):
            append_dedup_index(
                spark, "t_cmp_idx", docs.filter(F.col("doc_id") % 3 == m)
            )
        assert nfiles(str(tmp_path / "cidx")) > 4  # appends accumulated
        doc = docs.filter("doc_id = 42").collect()[0]
        want = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_cmp_idx", doc.text).collect()
        ]
        compact_dedup_index(spark, "t_cmp_idx", str(tmp_path / "cidx2"))
        assert nfiles(str(tmp_path / "cidx2")) == 4  # one per bucket
        assert table_buckets(spark, "t_cmp_idx") == 4
        q = probe_dedup(spark, "t_cmp_idx", doc.text)
        assert [(r.doc_id, r.jaccard) for r in q.collect()] == want
        assert _assert_probe_reads_pruned(spark, "t_cmp_idx",
                                          doc.text) == want

        # embedding store: same loop
        build_embedding_index(
            spark, sf_dir, "t_cmp_eidx", str(tmp_path / "ceidx"),
            emb=emb.filter(F.col("vec_id") % 2 == 0), buckets=4,
        )
        append_embedding_index(
            spark, "t_cmp_eidx", emb.filter(F.col("vec_id") % 2 == 1)
        )
        assert nfiles(str(tmp_path / "ceidx")) > 4
        vec = [float(x) for x in emb.filter("vec_id = 7").collect()[0].embedding]
        ewant = [
            (r.vec_id, r.cos)
            for r in probe_embedding_dedup(spark, "t_cmp_eidx", vec).collect()
        ]
        compact_embedding_index(spark, "t_cmp_eidx", str(tmp_path / "ceidx2"))
        assert nfiles(str(tmp_path / "ceidx2")) == 4
        got = [
            (r.vec_id, r.cos)
            for r in probe_embedding_dedup(spark, "t_cmp_eidx", vec).collect()
        ]
        assert got == ewant and ewant

        # CLI compact, FRESH-PROCESS path: catalog dropped, --path
        # re-registers from the (compaction-written) sidecar first
        from bdt_enwikisearch_hadoop_spark import cli

        spark.sql("DROP TABLE t_cmp_eidx")
        spark.sql("DROP TABLE t_cmp_eidx_vecs")
        rc = cli.main(
            ["compact-embedding-index", str(tmp_path / "ceidx3"),
             "--table", "t_cmp_eidx", "--path", str(tmp_path / "ceidx2")]
        )
        assert rc == 0
        assert nfiles(str(tmp_path / "ceidx3")) == 4
        got3 = [
            (r.vec_id, r.cos)
            for r in probe_embedding_dedup(spark, "t_cmp_eidx", vec).collect()
        ]
        assert got3 == ewant
    finally:
        for t in ("t_cmp_idx", "t_cmp_idx_sets", "t_cmp_idx_compact_tmp",
                  "t_cmp_idx_sets_compact_tmp", "t_cmp_eidx",
                  "t_cmp_eidx_vecs", "t_cmp_eidx_compact_tmp",
                  "t_cmp_eidx_vecs_compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_spark_hash_port_matches_spark_bucket_layout(spark, tmp_path):
    """Tripwire for the in-place probe route's dependency on Spark's
    bucket layout: index_store.spark_hash must equal Spark's ``hash()``
    on random ASCII and non-ASCII strings of every length 0–9 (every
    UTF-8 tail length) and on longs including negatives and the ±2⁶³
    bounds; and in a bucketed table every row must sit in the
    file whose ``_0000N`` suffix is pmod(hash, nb).  If Spark changes
    its hash, seed or file naming, this fails before a probe silently
    reads the wrong files."""
    import glob
    import os
    import random
    import re

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        spark_hash,
    )

    rnd = random.Random(20261020)
    alphabet = "abcXYZ019 _-|" + "éßøñ" + "ЖЯ" + "日本語" + "😀🧪"
    strs = [
        "".join(rnd.choice(alphabet) for _ in range(n))
        for n in range(10) for _ in range(25)
    ]
    longs = [0, 1, -1, 2**63 - 1, -2**63, 2**32, -2**32, 2**31, -2**31 - 1]
    longs += [rnd.randint(-2**63, 2**63 - 1) for _ in range(200)]
    for vals, dtype in ((strs, "string"), (longs, "bigint")):
        got = spark.createDataFrame(
            [(v,) for v in vals], f"v {dtype}"
        ).select("v", F.hash("v").alias("h")).collect()
        bad = [(r.v, r.h) for r in got if spark_hash(r.v, dtype) != r.h]
        assert len(got) == len(vals) and not bad, (dtype, bad[:5])

    nb = 5
    rows = [(i, s) for i, s in enumerate(strs)]
    for col, dtype in (("k", "string"), ("id", "bigint")):
        t = f"t_hash_layout_{col}"
        path = str(tmp_path / t)
        try:
            (
                spark.createDataFrame(rows, "id bigint, k string")
                .write.option("path", path).bucketBy(nb, col).sortBy(col)
                .saveAsTable(t)
            )
            seen = 0
            for f in glob.glob(os.path.join(path, "*.parquet")):
                m = re.match(r".*_(\d{5})\.c\d{3}\..*parquet$",
                             os.path.basename(f))
                assert m, f
                for v in pq.read_table(f, columns=[col]).column(col).to_pylist():
                    assert spark_hash(v, dtype) % nb == int(m[1]), (f, v)
                    seen += 1
            assert seen == len(rows), (col, seen)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_dedup_cost_contract_two_store_sizes(spark, tmp_path):
    """probe_dedup's cost class is 'the probe': at two store sizes a
    warm probe starts 0 Spark jobs and opens only its band keys' and
    its candidates' bucket files (files opened ⊆ the probe's buckets),
    so the number of files it opens does not grow with the store; a
    store with deletions probes with 0 jobs too, reading the tombstone
    table's own files, and never returns a deleted id."""
    import os
    import random
    import re

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        delete_from_dedup_index,
    )

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rnd.choice(vocab) for _ in range(30))
             for _ in range(240)]
    texts[200] = texts[3]  # an exact copy in the larger store
    probe = texts[3]
    near = probe.split(" ")
    near[15] = "zzz"
    near = " ".join(near)
    opened_per_size = []
    try:
        for n in (40, 240):
            t = f"t_probe_cost_{n}"
            build_dedup_index(
                spark, "unused", t, str(tmp_path / t), buckets=4,
                docs=spark.createDataFrame(
                    list(enumerate(texts[:n])), "doc_id long, text string"),
            )
            rows = _assert_probe_reads_pruned(spark, t, probe)
            assert [d for d, _ in rows] == ([3, 200] if n > 200 else [3])
            assert all(j == 1.0 for _, j in rows), rows
            assert 3 in dict(_assert_probe_reads_pruned(spark, t, near))
            opened_per_size.append(len({
                (os.path.dirname(f),
                 re.match(r".*_(\d+)\.c\d+", os.path.basename(f))[1])
                for f in _probe_cost(spark, t, probe)[2]
            }))
        # buckets opened: |bands| band buckets + the candidates' _sets
        # buckets, whatever the store size or files per bucket
        assert max(opened_per_size) <= 4 + 2, opened_per_size

        t = "t_probe_cost_240"
        delete_from_dedup_index(spark, t, [3])
        assert [d for d, _ in _assert_probe_reads_pruned(
            spark, t, probe)] == [200]
    finally:
        for n in (40, 240):
            for suf in ("", "_sets", "_tombs"):
                spark.sql(f"DROP TABLE IF EXISTS t_probe_cost_{n}{suf}")


def _zipf_texts(n: int, seed: int, vocab: int = 300) -> list[str]:
    """``n`` texts of 5–40 tokens drawn from ``vocab`` words ``t0x``,
    ``t1x``, … with Zipfian popularity, so head terms span many docs."""
    import random

    rnd = random.Random(seed)
    words = [f"t{i}x" for i in range(vocab)]
    weights = [1 / (i + 1) for i in range(vocab)]
    return [" ".join(rnd.choices(words, weights, k=rnd.randint(5, 40)))
            for _ in range(n)]


def test_read_by_key_reads_mixed_nested_nullability(spark, tmp_path):
    """A compaction fold writes postings with a nullable ``max(tf)``
    while builds and appends write ``tf not null``; after compact →
    append a term's bucket holds both, and the in-place reader must
    read them under one schema (stores already on disk mix both, so
    the reader, not the writer, is where this is settled)."""
    import os

    from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    t = "t_rbk_null"
    try:
        ix.build_tf_index(spark, docs([(1, "a b c"), (2, "c d")]), t,
                          str(tmp_path / "s"), buckets=4)
        ix.append_tf_index(spark, t, docs([(3, "c e c")]))
        ix.compact_tf_index(spark, t, str(tmp_path / "s2"))
        loc = ix.table_location(spark, t)
        before = set(os.listdir(loc))
        ix.append_tf_index(spark, t, docs([(4, "c f")]))
        # list the append's non-null files first, whatever their uuids:
        # a reader that adopts the first file's schema then cannot
        # read the compacted nullable file
        for f in set(os.listdir(loc)) - before:
            if f.endswith(".parquet"):
                os.rename(os.path.join(loc, f), os.path.join(loc, f"a{f}"))
        ix.refresh_store(spark, t, ("", "_docs"))
        got = ix.read_by_key(spark, t, "term", ["c"], ["term", "postings"])
        assert sorted(
            (p["doc_id"], p["tf"])
            for ps in got.column("postings").to_pylist() for p in ps
        ) == [(1, 1), (2, 1), (3, 2), (4, 1)]
        assert [(r.doc_id, r.score) for r in ix.search_tf_index(
            spark, t, ("c",)).collect()] == [(1, 0.0), (2, 0.0), (3, 0.0),
                                             (4, 0.0)]
    finally:
        for suf in ("", "_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_search_cost_contract_two_store_sizes(spark, tmp_path):
    """The ranked searches' cost class is 'the query': at two store
    sizes a warm search_index (OR and AND), search_index_vsm and
    search_tf_index start 0 Spark jobs and open only the query terms'
    bucket files (VSM: plus the hit ids' _norms buckets), so the
    buckets opened do not grow with the store.  On the segmented
    store the same holds after an append (more files per bucket) and
    after a deletion (the tombstone table's files are read too, and no
    deleted id is returned); a fresh segmented store serves exactly
    the weighted store's answers."""
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

    texts = _zipf_texts(360, seed=11)
    queries = [("t0x",), ("t1x", "t4x"), ("t0x", "t2x", "t9x")]
    tables = []

    def buckets_opened(kind, t, terms):
        search = {"tf": ix.search_tf_index, "index": ix.search_index}[kind]
        opened = _call_cost(spark, lambda: search(spark, t, terms))[2]
        return {(os.path.dirname(f),
                 re.match(r".*_(\d+)\.c\d+", os.path.basename(f))[1])
                for f in opened}

    try:
        for n in (60, 360):
            sf = str(tmp_path / f"c{n}")
            os.makedirs(sf)
            pq.write_table(pa.table({
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts[:n]),
            }), os.path.join(sf, "documents.parquet"))
            w, tf = f"t_sc_w{n}", f"t_sc_tf{n}"
            tables += [w, tf]
            ix.build_index(spark, sf, w, str(tmp_path / w), buckets=4)
            ix.build_tf_index(
                spark, spark.read.parquet(os.path.join(sf, "documents.parquet")),
                tf, str(tmp_path / tf), buckets=4)
            for q in queries:
                for conj in (True, False):
                    want = _assert_search_reads_pruned(
                        spark, w, q, "index", conjunctive=conj)
                    assert want, (n, q, conj)
                    assert _assert_search_reads_pruned(
                        spark, tf, q, conjunctive=conj) == want
                assert _assert_search_reads_pruned(spark, w, q, "vsm")
                for kind, t in (("index", w), ("tf", tf)):
                    assert len(buckets_opened(kind, t, q)) <= len(q)

        tf = "t_sc_tf360"
        ix.append_tf_index(spark, tf, spark.createDataFrame(
            [(1000 + i, s) for i, s in enumerate(_zipf_texts(30, seed=12))],
            "doc_id long, text string"))
        gone = [d for d, _ in _assert_search_reads_pruned(
            spark, tf, ("t0x",), conjunctive=False)][:3]
        ix.delete_from_tf_index(spark, tf, gone)
        for q in queries:
            for conj in (True, False):
                rows = _assert_search_reads_pruned(spark, tf, q,
                                                   conjunctive=conj)
                assert rows and not {d for d, _ in rows} & set(gone)
    finally:
        for t in tables:
            for suf in ("", "_docs", "_norms", "_tombs"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_search_tf_index_cross_session_reader_sees_one_view(spark,
                                                           tmp_path):
    """A serving session's search_tf_index answers from ONE view of the
    store: after another session appends a batch, the reader serves
    exactly the pre-append answer until it runs refresh_store, and
    exactly the post-append answer (equal to a rebuild over both
    batches) after it — never the new postings scored with the old,
    memoized N.  The writer registers the same files under its own
    name, as another process would; its batch frame belongs to the
    reader's session (foreachBatch's shape), and the writer still
    serves its own append at once."""
    from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

    texts = _zipf_texts(140, seed=21)

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, texts[i]) for i in range(lo, hi)], "doc_id long, text string")

    queries = [("t0x",), ("t1x", "t3x"), ("t2x", "t5x", "t8x")]

    def answers(session, t):
        return {(q, conj): [(r.doc_id, r.score) for r in ix.search_tf_index(
            session, t, q, conjunctive=conj).collect()]
            for q in queries for conj in (True, False)}

    path = str(tmp_path / "xs")
    tables = ["t_xs_tf", "t_xs_pre", "t_xs_post", "t_xs_w"]
    try:
        ix.build_tf_index(spark, docs(0, 100), "t_xs_tf", path, buckets=4)
        ix.build_tf_index(spark, docs(0, 100), "t_xs_pre",
                          str(tmp_path / "pre"), buckets=4)
        ix.build_tf_index(spark, docs(0, 140), "t_xs_post",
                          str(tmp_path / "post"), buckets=4)
        pre, post = answers(spark, "t_xs_pre"), answers(spark, "t_xs_post")
        assert pre != post
        assert answers(spark, "t_xs_tf") == pre

        writer = spark.newSession()
        for suf in ("", "_docs"):
            ix.register_external_store(writer, f"t_xs_w{suf}", f"{path}{suf}")
        ix.append_tf_index(writer, "t_xs_w", docs(100, 140))
        assert answers(writer, "t_xs_w") == post
        assert answers(spark, "t_xs_tf") == pre
        ix.refresh_store(spark, "t_xs_tf", ("", "_docs"))
        assert answers(spark, "t_xs_tf") == post
    finally:
        for t in tables:
            for suf in ("", "_docs"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_spark_rounding_ports_match_spark(spark):
    """The in-place searches round in Python; the ports must agree
    exactly with Spark's ``round(x, 4)`` (HALF_UP on the double's
    decimal string) and the VSM ``floor(x * 10000) / 10000`` on random
    doubles and on exact decimal ties — a Spark change to either fails
    here, as the hash-layout test does for bucketing."""
    import math
    import random

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        spark_floor4,
        spark_round4,
    )

    rnd = random.Random(13)
    ties = [0.00005, 1.23445, 2.50005, 0.00015, 12.34565, 7.77775,
            1e-05, 0.99995, 123.45675]
    xs = (ties + [-x for x in ties] + [0.0, 0.1 + 0.2, 1 / 3, 2 / 3]
          + [rnd.uniform(-50, 50) for _ in range(300)]
          + [rnd.uniform(0, 1e-3) for _ in range(100)]
          + [round(rnd.uniform(0, 100), 5) for _ in range(300)])
    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", F.round("x", 4).alias("r"),
        (F.floor(F.col("x") * 10000) / 10000).alias("f"),
    ).collect()
    assert len(got) == len(xs)
    for row in got:
        r, f = spark_round4(row.x), spark_floor4(row.x)
        assert r == row.r and math.copysign(1, r) == math.copysign(1, row.r), (
            row.x, r, row.r)
        assert f == row.f, (row.x, f, row.f)


def test_store_report_tracks_append_and_compact(spark, tmp_path, capsys):
    """store_report's dials move the way the ops story says: files per
    bucket grows by one per append (the per-probe file-open cost) and
    compaction resets it to one; row/key occupancy is exact.  The CLI
    `store-report` resolves the bucket column from the _meta.json
    sidecar and prints the same numbers."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        store_report,
    )

    filler = "quite unrelated filler words here " * 6
    base = spark.createDataFrame(
        [(1, _boundary_pair(0)[0]), (2, filler)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(5, _boundary_pair(1)[0])], "doc_id long, text string"
    )
    try:
        build_dedup_index(
            spark, "unused", "t_rep_idx", str(tmp_path / "ridx"),
            docs=base, buckets=4,
        )
        # files exist only for non-empty buckets, so counts are pinned
        # RELATIVE: append grows the file count, compact shrinks it
        # back to at most one per (populated) bucket
        r0 = store_report(spark, "t_rep_idx", "bk")
        assert r0["n_buckets"] == 4
        assert r0["n_rows"] == 2 * 4  # 2 docs x 4 bands
        append_dedup_index(spark, "t_rep_idx", batch)
        r1 = store_report(spark, "t_rep_idx", "bk")
        assert r1["n_rows"] == 3 * 4
        assert r1["n_files"] > r0["n_files"]
        compact_dedup_index(spark, "t_rep_idx", str(tmp_path / "ridx2"))
        r2 = store_report(spark, "t_rep_idx", "bk")
        assert r2["n_rows"] == 3 * 4
        assert r2["n_files"] < r1["n_files"]
        assert r2["n_files"] <= r2["n_buckets"]
        assert r2["n_keys"] == r1["n_keys"]

        rc = cli.main(
            ["store-report", str(tmp_path / "ridx2"), "--table", "t_rep_idx"]
        )
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        got = dict(ln.split("\t") for ln in out)
        assert got["n_rows"] == "12"
        assert got["n_files"] == str(r2["n_files"])
        assert got["files_per_bucket"] == f"{r2['n_files'] / 4:.1f}"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_rep_idx")
        spark.sql("DROP TABLE IF EXISTS t_rep_idx_sets")
        spark.sql("DROP TABLE IF EXISTS t_rep_idx_compact_tmp")
        spark.sql("DROP TABLE IF EXISTS t_rep_idx_sets_compact_tmp")


def test_embedding_store_rejects_non_finite_vectors(spark, sf_dir,
                                                    tmp_path):
    """NaN hygiene at the store boundary: Spark SQL orders NaN ABOVE
    everything (NaN >= θ is TRUE), so one poisoned corpus vector would
    'match' every future probe at any threshold, and a NaN probe's
    sign fold diverges between Python (NaN >= 0 False) and Spark
    (True).  Both ingest paths and the probe must therefore REFUSE
    non-finite components explicitly."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        probe_vector_bands,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    with _pytest.raises(ValueError, match="non-finite"):
        probe_vector_bands([float("nan")] + [0.5] * 63)
    with _pytest.raises(ValueError, match="non-finite"):
        probe_vector_bands([float("inf")] + [0.5] * 63)

    emb = load(spark, sf_dir, "embeddings")
    poisoned = spark.createDataFrame(
        [(99999, [float("nan")] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    with _pytest.raises(ValueError, match="99999"):
        build_embedding_index(
            spark, sf_dir, "t_nan_idx", str(tmp_path / "nanidx"),
            emb=emb.limit(10).unionByName(poisoned),
        )
    try:
        build_embedding_index(
            spark, sf_dir, "t_nan_idx", str(tmp_path / "nanidx"),
            emb=emb.limit(10),
        )
        with _pytest.raises(ValueError, match="99999"):
            append_embedding_index(spark, "t_nan_idx", poisoned)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nan_idx")
        spark.sql("DROP TABLE IF EXISTS t_nan_idx_vecs")


def test_embedding_store_rejects_zero_vectors(spark, sf_dir, tmp_path):
    """Zero-norm hygiene at the store boundary: an all-zero corpus
    vector makes every colliding probe's cosine 0/0 — a hard
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode, so one degenerate
    row would CRASH every probe landing in its buckets (worse than a
    wrong answer: the service goes down).  Both ingest paths must
    refuse it naming the vec_id, and a zero PROBE must be an explicit
    client error before any cluster work."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        probe_vector_bands,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    with _pytest.raises(ValueError, match="all-zero"):
        probe_vector_bands([0.0] * 64)

    emb = load(spark, sf_dir, "embeddings")
    degenerate = spark.createDataFrame(
        [(88888, [0.0] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    with _pytest.raises(ValueError, match="88888"):
        build_embedding_index(
            spark, sf_dir, "t_zero_idx", str(tmp_path / "zidx"),
            emb=emb.limit(10).unionByName(degenerate),
        )
    try:
        build_embedding_index(
            spark, sf_dir, "t_zero_idx", str(tmp_path / "zidx"),
            emb=emb.limit(10),
        )
        with _pytest.raises(ValueError, match="88888"):
            append_embedding_index(spark, "t_zero_idx", degenerate)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_zero_idx")
        spark.sql("DROP TABLE IF EXISTS t_zero_idx_vecs")


def test_compact_store_refuses_same_path(spark, sf_dir, tmp_path):
    """In-place compaction must be REFUSED, not attempted: the rewrite
    reads the store lazily while writing, so targeting the directory
    the scan reads from would overwrite the only copy mid-read.  The
    guard fires before any write, and the store stays fully intact and
    probeable afterwards."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    path = str(tmp_path / "sameidx")
    try:
        build_dedup_index(spark, sf_dir, "t_same_idx", path)
        doc = (
            load(spark, sf_dir, "documents").filter("doc_id = 42").collect()
        )[0]
        want = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_same_idx", doc.text).collect()
        ]
        assert want
        with _pytest.raises(ValueError, match="fresh path"):
            compact_dedup_index(spark, "t_same_idx", path)
        # the guard compares RESOLVED paths: dot-segment and
        # trailing-slash spellings of the same directory are the same
        # catastrophe
        dotted = str(tmp_path / "x" / ".." / "sameidx")
        with _pytest.raises(ValueError, match="fresh path"):
            compact_dedup_index(spark, "t_same_idx", dotted)
        with _pytest.raises(ValueError, match="fresh path"):
            compact_dedup_index(spark, "t_same_idx", path + "/")
        # the CLI leg is a clean exit 2, never a traceback
        from bdt_enwikisearch_hadoop_spark import cli

        rc = cli.main(
            ["compact-dedup-index", path, "--table", "t_same_idx"]
        )
        assert rc == 2
        # the refused compaction left the store untouched and serving
        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_same_idx", doc.text).collect()
        ]
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_same_idx")
        spark.sql("DROP TABLE IF EXISTS t_same_idx_sets")
        spark.sql("DROP TABLE IF EXISTS t_same_idx_compact_tmp")
        spark.sql("DROP TABLE IF EXISTS t_same_idx_sets_compact_tmp")


def test_store_report_on_unbucketed_registration(spark, sf_dir, tmp_path,
                                                 capsys):
    """store_report must still serve a store registered WITHOUT its
    bucketing sidecar (the plain-external fallback): occupancy numbers
    identical, n_buckets reported as 0 — the operational flag that
    probe reads on this registration run unpruned — instead of the
    raise table_buckets() would give.  The CLI's explicit
    ``--bucket-col`` escape hatch exists precisely for this sidecar-less
    case, so it must complete too (previously it registered plain and
    then died in table_buckets)."""
    import os

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
        store_report,
    )

    path = str(tmp_path / "unbidx")
    try:
        build_dedup_index(spark, "unused", "t_unb_idx", path,
                          docs=spark.createDataFrame(
                              [(1, "some words repeated here four times"),
                               (2, "other words entirely different ones")],
                              "doc_id long, text string"),
                          buckets=4)
        bucketed = store_report(spark, "t_unb_idx", "bk")
        spark.sql("DROP TABLE t_unb_idx")
        os.rename(f"{path}_meta.json", f"{path}_meta.hidden")
        try:
            register_external_store(spark, "t_unb_idx", path)
            plain = store_report(spark, "t_unb_idx", "bk")
            rc = cli.main(
                ["store-report", path, "--table", "t_unb_idx",
                 "--bucket-col", "bk"]
            )
            out = capsys.readouterr().out.strip().splitlines()
            assert rc == 0
            got = dict(ln.split("\t") for ln in out)
            assert got["n_buckets"] == "0"
            assert got["n_rows"] == str(plain["n_rows"])
        finally:
            os.rename(f"{path}_meta.hidden", f"{path}_meta.json")
        assert plain["n_buckets"] == 0
        assert bucketed["n_buckets"] == 4
        for k in ("n_rows", "n_keys", "max_key_rows", "n_files"):
            assert plain[k] == bucketed[k], k
    finally:
        spark.sql("DROP TABLE IF EXISTS t_unb_idx")
        spark.sql("DROP TABLE IF EXISTS t_unb_idx_sets")


def test_cli_append_lanes_roundtrip(spark, sf_dir, tmp_path, capsys):
    """The serving loop's APPEND step as CLI lanes, fresh-process
    discipline (stores re-registered from their sidecars): a parquet
    shard appended via the CLI is immediately probeable via the CLI,
    replaying the same shard appends 0 (idempotence), and a shard
    missing the contract columns — or carrying an unservable vector —
    is a clean exit-2 error, never a traceback."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    # --- text lane -------------------------------------------------
    base_doc, _ = _boundary_pair(1)
    new_doc, new_probe = _boundary_pair(0)
    dpath = str(tmp_path / "cliap")
    base = spark.createDataFrame(
        [(1, base_doc), (2, "completely unrelated filler words " * 8)],
        "doc_id long, text string",
    )
    shard = str(tmp_path / "shard.parquet")
    spark.createDataFrame(
        [(5, new_doc)], "doc_id long, text string"
    ).write.parquet(shard)
    badshard = str(tmp_path / "badshard.parquet")
    spark.createDataFrame(
        [(9, "x")], "doc_id long, body string"
    ).write.parquet(badshard)
    try:
        build_dedup_index(spark, "unused", "t_cliap_idx", dpath, docs=base)
        # fresh process: catalog loses the builder session's entries
        spark.sql("DROP TABLE t_cliap_idx")
        spark.sql("DROP TABLE t_cliap_idx_sets")
        rc = cli.main(
            ["append-dedup-index", dpath, shard, "--table", "t_cliap_idx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "appended 1 new docs (2 -> 3)" in out.replace(
            "to t_cliap_idx ", ""
        ), out
        rc = cli.main(
            ["dedup-probe", dpath, new_probe, "--table", "t_cliap_idx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "5\t0.8" in out, out
        # replayed shard: idempotent no-op
        rc = cli.main(
            ["append-dedup-index", dpath, shard, "--table", "t_cliap_idx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "appended 0 new docs" in out, out
        # contract-column error path
        rc = cli.main(
            ["append-dedup-index", dpath, badshard, "--table", "t_cliap_idx"]
        )
        err = capsys.readouterr().err
        assert rc == 2 and "text" in err, (rc, err)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cliap_idx")
        spark.sql("DROP TABLE IF EXISTS t_cliap_idx_sets")

    # --- embedding lane ---------------------------------------------
    emb = load(spark, sf_dir, "embeddings")
    epath = str(tmp_path / "cliapemb")
    vshard = str(tmp_path / "vshard.parquet")
    newvecs = emb.orderBy("vec_id").limit(15).orderBy(
        F.col("vec_id").desc()
    ).limit(5)
    newvecs.select("vec_id", "embedding").write.parquet(vshard)
    new_ids = {r.vec_id for r in newvecs.select("vec_id").collect()}
    dimshard = str(tmp_path / "dimshard.parquet")
    spark.createDataFrame(
        [(77777, [1.0] * 8)], "vec_id long, embedding array<float>"
    ).write.parquet(dimshard)
    try:
        build_embedding_index(
            spark, sf_dir, "t_cliap_eidx", epath,
            emb=emb.orderBy("vec_id").limit(10),
        )
        spark.sql("DROP TABLE t_cliap_eidx")
        spark.sql("DROP TABLE t_cliap_eidx_vecs")
        rc = cli.main(
            ["append-embedding-index", epath, vshard,
             "--table", "t_cliap_eidx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "appended 5 new vectors" in out, out
        # an appended vector is immediately probeable (matches itself)
        vid = min(new_ids)
        rc = cli.main(
            ["--sf-dir", sf_dir, "embedding-probe", epath,
             "--vec-id", str(vid), "--table", "t_cliap_eidx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and any(
            ln.split("\t")[0] == str(vid) for ln in out.splitlines()
        ), out
        # replayed shard: idempotent no-op
        rc = cli.main(
            ["append-embedding-index", epath, vshard,
             "--table", "t_cliap_eidx"]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "appended 0 new vectors" in out, out
        # wrong-dimension shard: the ingest gate names the class
        rc = cli.main(
            ["append-embedding-index", epath, dimshard,
             "--table", "t_cliap_eidx"]
        )
        err = capsys.readouterr().err
        assert rc == 2 and "77777" in err and "64" in err, (rc, err)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cliap_eidx")
        spark.sql("DROP TABLE IF EXISTS t_cliap_eidx_vecs")


def test_tf_segment_index_serves_current_weights(spark, sf_dir, tmp_path):
    """The search lane's incremental SERVING story: a raw-TF index
    built over 90% of the corpus + the other 10% appended as a segment
    must serve search_tf_index results IDENTICAL to search_index over
    a full weighted rebuild — query-time weighting means the appended
    batch correctly shifts every affected score (N and df move), which
    a weighted store cannot do without rebuilding.  Also pins: replay
    idempotence, immunity to the duplicated segment a crash-replay can
    leave (per-(term,doc) max(tf), df derived from deduped postings),
    bucket-pruned term lookups with no Spark job, and the compaction
    fold back to one row per term."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        _tf_segment,
        append_tf_index,
        build_index,
        build_tf_index,
        compact_tf_index,
        search_index,
        search_tf_index,
        table_buckets,
    )
    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)

    def rows(df):
        return [(r.doc_id, r.score) for r in df.collect()]

    try:
        build_index(spark, sf_dir, "t_seg_w", str(tmp_path / "w"))
        build_tf_index(spark, base, "t_seg_tf", str(tmp_path / "tf"))
        # a query BEFORE the append primes the per-session N memo; the
        # append must invalidate it or every later score uses stale N
        pre = rows(search_tf_index(spark, "t_seg_tf", QUERY_TERMS))
        append_tf_index(spark, "t_seg_tf", delta)
        for conj in (True, False):
            want = rows(search_index(
                spark, "t_seg_w", QUERY_TERMS, conjunctive=conj))
            got = rows(search_tf_index(
                spark, "t_seg_tf", QUERY_TERMS, conjunctive=conj))
            assert want and got == want, (conj, got, want)
        assert pre != rows(
            search_tf_index(spark, "t_seg_tf", QUERY_TERMS)
        )  # the append moved N/df, so pre-append scores must differ

        # replayed shard: idempotent no-op
        nd = spark.table("t_seg_tf_docs").count()
        append_tf_index(spark, "t_seg_tf", delta)
        assert spark.table("t_seg_tf_docs").count() == nd
        # crash-replay adversary: the segment rows land twice but the
        # _docs sidecar write never happened — serving must not double
        # any score (max(tf) + derived df)
        nb = table_buckets(spark, "t_seg_tf")
        (
            _tf_segment(delta).write.mode("append")
            .bucketBy(nb, "term").sortBy("term").saveAsTable("t_seg_tf")
        )
        assert _assert_search_reads_pruned(
            spark, "t_seg_tf", QUERY_TERMS
        ) == rows(search_index(spark, "t_seg_w", QUERY_TERMS))
        # ... and a replayed segment carrying a CONFLICTING (lower) tf
        # for already-ingested doc_ids — a producer that re-sent a
        # document with different text: max(tf) keeps the ingested tf
        (
            _tf_segment(delta)
            .withColumn("postings", F.filter(
                F.transform("postings", lambda p: F.struct(
                    p["doc_id"].alias("doc_id"), (p["tf"] - 1).alias("tf"))),
                lambda p: p["tf"] > 0,
            ))
            .filter(F.size("postings") > 0)
            .write.mode("append")
            .bucketBy(nb, "term").sortBy("term").saveAsTable("t_seg_tf")
        )
        pre_compact = {
            conj: rows(search_tf_index(spark, "t_seg_tf", QUERY_TERMS,
                                       conjunctive=conj))
            for conj in (True, False)
        }

        # compaction folds segments (incl. the duplicate) to ONE row
        # per term, identical service
        compact_tf_index(spark, "t_seg_tf", str(tmp_path / "tf2"))
        idx = spark.table("t_seg_tf")
        n_rows, n_terms = idx.count(), idx.select("term").distinct().count()
        assert n_rows == n_terms
        # counters recounted from merged deduped postings
        assert idx.filter(
            F.col("df_count") != F.size("postings")
        ).count() == 0
        # every (term, doc_id) once: the conflicting tf folded away
        # instead of riding along as a second posting of the same doc
        assert idx.select(
            "term", F.explode("postings.doc_id").alias("doc_id")
        ).groupBy("term", "doc_id").count().filter("count > 1").count() == 0
        for conj, want in pre_compact.items():
            assert rows(search_tf_index(
                spark, "t_seg_tf", QUERY_TERMS, conjunctive=conj)) == want
        assert rows(search_tf_index(spark, "t_seg_tf", QUERY_TERMS)) == rows(
            search_index(spark, "t_seg_w", QUERY_TERMS)
        )
    finally:
        for t in ("t_seg_w", "t_seg_w_norms", "t_seg_tf", "t_seg_tf_docs",
                  "t_seg_tf_compact_tmp", "t_seg_tf_docs_compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_tf_index_lanes(spark, sf_dir, tmp_path, capsys):
    """The segmented index's CLI lanes, fresh-process discipline:
    build-tf-index over the corpus serves search-tf output identical
    to search-index over the weighted build; an appended shard's doc
    joins the ranking immediately; compact-tf-index keeps service
    identical from the new path."""
    from bdt_enwikisearch_hadoop_spark import cli

    tfp, wp = str(tmp_path / "ctf"), str(tmp_path / "cw")

    def run(args):
        rc = cli.main(args)
        out = capsys.readouterr().out.strip().splitlines()
        return rc, out

    try:
        rc, _ = run(["--sf-dir", sf_dir, "build-index", wp,
                     "--table", "t_ctf_w"])
        assert rc == 0
        rc, _ = run(["--sf-dir", sf_dir, "build-tf-index", tfp,
                     "--table", "t_ctf_tf"])
        assert rc == 0
        _, want = run(["search-index", wp, "spark", "join",
                       "--table", "t_ctf_w"])
        rc, got = run(["search-tf", tfp, "spark", "join",
                       "--table", "t_ctf_tf"])
        assert rc == 0 and want and got == want, (got, want)

        # a shard whose doc contains all query terms many times ranks
        # immediately after append
        shard = str(tmp_path / "tfshard.parquet")
        spark.createDataFrame(
            [(999991, "spark join " * 30)], "doc_id long, text string"
        ).write.parquet(shard)
        rc, out = run(["append-tf-index", tfp, shard, "--table", "t_ctf_tf"])
        assert rc == 0 and any("appended 1 new docs" in ln for ln in out)
        rc, got2 = run(["search-tf", tfp, "spark", "join",
                        "--table", "t_ctf_tf"])
        assert rc == 0 and got2 != want
        assert any(ln.split("\t")[0] == "999991" for ln in got2), got2

        rc, _ = run(["compact-tf-index", str(tmp_path / "ctf2"),
                     "--table", "t_ctf_tf", "--path", tfp])
        assert rc == 0
        rc, got3 = run(["search-tf", str(tmp_path / "ctf2"), "spark", "join",
                        "--table", "t_ctf_tf2"])
        assert rc == 0 and got3 == got2, (got3, got2)
    finally:
        for t in ("t_ctf_w", "t_ctf_w_norms", "t_ctf_tf", "t_ctf_tf_docs",
                  "t_ctf_tf2", "t_ctf_tf2_docs", "t_ctf_tf_compact_tmp",
                  "t_ctf_tf_docs_compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_embedding_store_rejects_null_vectors(spark, sf_dir, tmp_path):
    """NULL hygiene at the store boundary: a NULL embedding (or a NULL
    component) makes every gate predicate NULL — and filter() DROPS
    null predicates, so without an explicit nullish clause these are
    exactly the rows that would slip through, ingest with NULL
    band/norm, and serve NULL cosines as a silent 'no duplicate'.
    Both poison spellings must be refused naming the vec_id, and a
    probe with a None component is an explicit client error."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_vector_bands,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    with _pytest.raises(ValueError, match="null"):
        probe_vector_bands([None] + [0.5] * 63)

    emb = load(spark, sf_dir, "embeddings").limit(10)
    for vid, vec in ((66601, None), (66602, [None] + [0.5] * 63)):
        poisoned = spark.createDataFrame(
            [(vid, vec, 0)],
            "vec_id long, embedding array<float>, label int",
        )
        with _pytest.raises(ValueError, match=str(vid)):
            build_embedding_index(
                spark, sf_dir, "t_null_idx", str(tmp_path / f"n{vid}"),
                emb=emb.unionByName(poisoned),
            )
    spark.sql("DROP TABLE IF EXISTS t_null_idx")
    spark.sql("DROP TABLE IF EXISTS t_null_idx_vecs")


def test_tf_store_missing_docs_sidecar_is_loud(spark, sf_dir, tmp_path,
                                               capsys):
    """A segmented store whose _docs sidecar went missing (registered
    without it, crash between compaction swaps) must REFUSE to serve
    and to append — N=0 weights would make every score silently NULL,
    and an empty idempotence anti-join would double-index replays.
    Both CLI lanes exit 2 with the named cause, never a traceback."""
    import os

    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    path = str(tmp_path / "nodocs")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    shard = str(tmp_path / "ndshard.parquet")
    spark.createDataFrame(
        [(900001, "spark join words")], "doc_id long, text string"
    ).write.parquet(shard)
    try:
        build_tf_index(spark, docs, "t_nd_idx", path)
        spark.sql("DROP TABLE t_nd_idx")
        spark.sql("DROP TABLE t_nd_idx_docs")
        os.rename(f"{path}_docs", f"{path}_docs_gone")
        try:
            rc = cli.main(["search-tf", path, "spark", "--table", "t_nd2"])
            err = capsys.readouterr().err
            assert rc == 2 and "_docs" in err, (rc, err)
            rc = cli.main(
                ["append-tf-index", path, shard, "--table", "t_nd2"]
            )
            err = capsys.readouterr().err
            assert rc == 2 and "_docs" in err, (rc, err)
        finally:
            os.rename(f"{path}_docs_gone", f"{path}_docs")
    finally:
        for t in ("t_nd_idx", "t_nd_idx_docs", "t_nd2", "t_nd2_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_store_missing_sidecar_refuses_append(spark, sf_dir,
                                                    tmp_path):
    """The sidecar guard generalizes to the PROBE stores: a dedup (or
    embedding) store whose shingle/vector sidecar went missing must
    refuse appends (the sidecar is the idempotence key — an empty
    anti-join double-indexes every replayed shard), refuse PROBES (an
    empty verify join would answer every probe 'no duplicate',
    silently), and refuse COMPACTION (which would rewrite the
    corruption into a fresh-looking store)."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        compact_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    dpath = str(tmp_path / "gsets")
    base = spark.createDataFrame(
        [(1, "one document with several words here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "another document entirely different words")],
        "doc_id long, text string",
    )
    try:
        build_dedup_index(spark, "unused", "t_gs_idx", dpath, docs=base)
        spark.sql("DROP TABLE t_gs_idx")
        spark.sql("DROP TABLE t_gs_idx_sets")
        os.rename(f"{dpath}_sets", f"{dpath}_sets_gone")
        try:
            register_external_store(spark, "t_gs_idx", dpath)
            register_external_store(spark, "t_gs_idx_sets", f"{dpath}_sets")
            with _pytest.raises(ValueError, match="_sets is empty"):
                append_dedup_index(spark, "t_gs_idx", batch)
            with _pytest.raises(ValueError, match="_sets is empty"):
                probe_dedup(spark, "t_gs_idx", "one document with words")
            with _pytest.raises(ValueError, match="_sets is empty"):
                compact_dedup_index(
                    spark, "t_gs_idx", str(tmp_path / "gsets2")
                )
            # a stale memoized pass (seeded before the corruption) must
            # be SCRUBBED by a refusing check, not survive it — else a
            # later memoized serve would skip the guard on the store
            # this lane just proved corrupt
            from bdt_enwikisearch_hadoop_spark.functions.index_store import (
                _SIDECAR_OK_MEMO,
            )

            key = (spark.sparkContext.applicationId, "t_gs_idx", "_sets")
            _SIDECAR_OK_MEMO.add(key)
            with _pytest.raises(ValueError, match="_sets is empty"):
                compact_dedup_index(
                    spark, "t_gs_idx", str(tmp_path / "gsets3")
                )
            assert key not in _SIDECAR_OK_MEMO
            with _pytest.raises(ValueError, match="_sets is empty"):
                probe_dedup(spark, "t_gs_idx", "one document with words")
            # the CLI probe leg is a clean exit 2, never a traceback
            from bdt_enwikisearch_hadoop_spark import cli

            rc = cli.main(
                ["dedup-probe", dpath, "one", "document", "with",
                 "several", "words", "--table", "t_gs_idx"]
            )
            assert rc == 2
        finally:
            os.rename(f"{dpath}_sets_gone", f"{dpath}_sets")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gs_idx")
        spark.sql("DROP TABLE IF EXISTS t_gs_idx_sets")

    epath = str(tmp_path / "gvecs")
    emb = load(spark, sf_dir, "embeddings")
    try:
        build_embedding_index(
            spark, sf_dir, "t_gv_idx", epath, emb=emb.limit(5)
        )
        spark.sql("DROP TABLE t_gv_idx")
        spark.sql("DROP TABLE t_gv_idx_vecs")
        os.rename(f"{epath}_vecs", f"{epath}_vecs_gone")
        try:
            register_external_store(spark, "t_gv_idx", epath)
            register_external_store(spark, "t_gv_idx_vecs", f"{epath}_vecs")
            with _pytest.raises(ValueError, match="_vecs is empty"):
                append_embedding_index(
                    spark, "t_gv_idx",
                    emb.limit(8).select("vec_id", "embedding"),
                )
            probe_vec = [float(x) for x in emb.limit(1).collect()[0][
                "embedding"]]
            with _pytest.raises(ValueError, match="_vecs is empty"):
                probe_embedding_dedup(spark, "t_gv_idx", probe_vec)
            with _pytest.raises(ValueError, match="_vecs is empty"):
                compact_embedding_index(
                    spark, "t_gv_idx", str(tmp_path / "gvecs2")
                )
        finally:
            os.rename(f"{epath}_vecs_gone", f"{epath}_vecs")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gv_idx")
        spark.sql("DROP TABLE IF EXISTS t_gv_idx_vecs")

    # VSM serve lane: a missing _norms sidecar must raise too — the
    # empty norms join would serve zero hits silently
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_index,
        search_index_vsm,
    )

    vpath = str(tmp_path / "gnorms")
    try:
        build_index(spark, sf_dir, "t_gn_idx", vpath)
        spark.sql("DROP TABLE t_gn_idx")
        spark.sql("DROP TABLE t_gn_idx_norms")
        os.rename(f"{vpath}_norms", f"{vpath}_norms_gone")
        try:
            register_external_store(spark, "t_gn_idx", vpath)
            register_external_store(spark, "t_gn_idx_norms",
                                    f"{vpath}_norms")
            with _pytest.raises(ValueError, match="_norms is empty"):
                search_index_vsm(spark, "t_gn_idx", ("spark", "join"))
            rc = cli.main(
                ["search-vsm", vpath, "spark", "join",
                 "--table", "t_gn_idx"]
            )
            assert rc == 2
        finally:
            os.rename(f"{vpath}_norms_gone", f"{vpath}_norms")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gn_idx")
        spark.sql("DROP TABLE IF EXISTS t_gn_idx_norms")


def test_sidecar_memo_write_lanes_never_seed(spark, tmp_path):
    """Write lanes (append/compact) must not leave a memoized sidecar-OK
    behind: a mid-append write failure would otherwise hide behind the
    lane's own pre-write pass, and later probes would skip the guard on
    the exact corruption it exists to catch.  Only the pure-read serve
    path seeds the memo; append invalidates it (via refresh_store) and
    leaves it unseeded."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        _SIDECAR_OK_MEMO,
    )

    base = spark.createDataFrame(
        [(1, "first document with several distinct words")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "second document carrying other words entirely")],
        "doc_id long, text string",
    )
    key = (spark.sparkContext.applicationId, "t_memo_w", "_sets")
    try:
        build_dedup_index(
            spark, "unused", "t_memo_w", str(tmp_path / "memow"), docs=base
        )
        _SIDECAR_OK_MEMO.discard(key)
        probe_dedup(spark, "t_memo_w", "three token probe text here")
        assert key in _SIDECAR_OK_MEMO  # serve path seeds
        append_dedup_index(spark, "t_memo_w", batch)
        assert key not in _SIDECAR_OK_MEMO  # write lane leaves unseeded
        probe_dedup(spark, "t_memo_w", "three token probe text here")
        assert key in _SIDECAR_OK_MEMO  # next serve re-checks fresh
    finally:
        spark.sql("DROP TABLE IF EXISTS t_memo_w")
        spark.sql("DROP TABLE IF EXISTS t_memo_w_sets")


def test_empty_tf_store_serves_empty_results(spark, tmp_path):
    """A store built AHEAD of the first shard (empty corpus) is a
    legitimate ingestion-service state: searches return the empty
    result set — never an error — and the first append brings it
    live."""
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        append_tf_index,
        build_tf_index,
        search_tf_index,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    try:
        build_tf_index(spark, empty, "t_empty_tf", str(tmp_path / "etf"))
        assert search_tf_index(
            spark, "t_empty_tf", ("spark", "join")
        ).collect() == []
        append_tf_index(
            spark, "t_empty_tf",
            spark.createDataFrame(
                [(1, "spark join spark join")], "doc_id long, text string"
            ),
        )
        got = search_tf_index(spark, "t_empty_tf", ("spark", "join"))
        # one doc, so df == N == 1 and ln(1/1) == 0 — present, score 0
        assert [(r.doc_id, r.score) for r in got.collect()] == [(1, 0.0)]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_empty_tf")
        spark.sql("DROP TABLE IF EXISTS t_empty_tf_docs")


def test_n_docs_memo_invalidated_on_reregistration(spark, sf_dir,
                                                   tmp_path):
    """Re-pointing a table name at different files in one session must
    not serve the old store's memoized corpus count N: every score
    would use the wrong ln(N/df).  register_external_store pops the
    memo for the name and its base store."""
    from pyspark.sql import functions as F

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        _n_docs,
        build_tf_index,
        register_external_store,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") % 5 == 0)
    big = docs
    n_small, n_big = small.count(), big.count()
    assert n_small < n_big
    p_small = str(tmp_path / "msmall")
    p_big = str(tmp_path / "mbig")
    try:
        build_tf_index(spark, small, "t_memo", p_small)
        assert _n_docs(spark, "t_memo") == n_small
        build_tf_index(spark, big, "t_memo_big", p_big)
        spark.sql("DROP TABLE t_memo")
        spark.sql("DROP TABLE t_memo_docs")
        register_external_store(spark, "t_memo", p_big)
        register_external_store(spark, "t_memo_docs", f"{p_big}_docs")
        assert _n_docs(spark, "t_memo") == n_big
    finally:
        for t in ("t_memo", "t_memo_docs", "t_memo_big", "t_memo_big_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_banding_parity_on_adversarial_texts(spark):
    """The probe's pure-Python banding must stay bit-identical to the
    Spark derivation OFF the fixture distribution too — a probe service
    receives arbitrary text.  Adversarial cases: unicode case folding
    (Turkish İ, German ß, Greek Σ — Python str.lower() vs Spark
    lower()), multi-space runs and tabs (the contract splits on
    LITERAL single spaces: empty tokens and tab-joined words are
    tokens), emoji, combining accents, exactly-k tokens, repeated
    shingles (first-occurrence dedup)."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        probe_bands,
        probe_shingles,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_pipeline import (
        shingle_sets,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _text_band_table,
    )

    texts = [
        "İstanbul SHOUTED Straße ÄÖÜ words after that one two",
        "double  space   runs\tand\ttabs mixed in the middle here",
        "σ Σ ΣΙΓΜΑ ends with sigma Σ plus more words here",
        "émoji 🦆 and café naïve résumé combining accents",
        "exactly three tokens",
        "a b c a b c a b c a b c",  # repeated shingles, dedup order
        "ONE TWO THREE FOUR",
        "ß ẞ sharp s both cases ß again tokens",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    spark_bands: dict[int, set] = {}
    for r in _text_band_table(shingle_sets(docs)).collect():
        spark_bands.setdefault(r.doc_id, set()).add((r.b, r.bk))
    spark_sets = {
        r.doc_id: list(r.s) for r in shingle_sets(docs).collect()
    }
    for i, text in enumerate(texts):
        sh = probe_shingles(text)
        # shingle SETS agree element-for-element (order-insensitive:
        # the corpus side materializes a distinct set)
        assert sorted(sh) == sorted(spark_sets.get(i, [])), (i, text)
        got_py = set(probe_bands(sh)) if sh else set()
        assert got_py == spark_bands.get(i, set()), (i, text)


def test_dirty_shard_duplicate_ids_collapse(spark, sf_dir, tmp_path):
    """Intra-batch duplicate ids must NOT double-index: the idempotence
    anti-join only removes ids already in the sidecar, so before this
    fix a shard carrying doc_id 2 twice put two rows in the _sets
    sidecar and made probe_dedup return two (2, 1.0) rows.  Pins the
    dropDuplicates-before-anti-join contract on all three stores
    (dedup / embedding / tf) and on the docs-built build paths."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        append_tf_index,
        build_tf_index,
        search_tf_index,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    base = spark.createDataFrame(
        [(1, "one base document with several distinct words")],
        "doc_id long, text string",
    )
    dup_text = "the dirty shard repeats this very document twice over"
    dirty = spark.createDataFrame(
        [(2, dup_text), (2, dup_text), (3, "an unrelated third text body")],
        "doc_id long, text string",
    )
    # --- dedup store: append lane ---
    try:
        build_dedup_index(
            spark, "unused", "t_dd_idx", str(tmp_path / "ddidx"), docs=base
        )
        append_dedup_index(spark, "t_dd_idx", dirty)
        sets_rows = (
            spark.table("t_dd_idx_sets").groupBy("doc_id").count().collect()
        )
        assert all(r["count"] == 1 for r in sets_rows), sets_rows
        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_dd_idx", dup_text).collect()
        ]
        assert got == [(2, 1.0)], got
    finally:
        for t in ("t_dd_idx", "t_dd_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- dedup store: docs-built build path ---
    try:
        build_dedup_index(
            spark, "unused", "t_db_idx", str(tmp_path / "dbidx"), docs=dirty
        )
        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_db_idx", dup_text).collect()
        ]
        assert got == [(2, 1.0)], got
    finally:
        for t in ("t_db_idx", "t_db_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- embedding store: append lane + build path ---
    emb = load(spark, sf_dir, "embeddings")
    base_e = emb.filter("vec_id <= 2")
    dup_rows = emb.filter("vec_id = 7")
    dirty_e = dup_rows.unionByName(dup_rows).unionByName(
        emb.filter("vec_id = 9")
    )
    probe_vec = [float(x) for x in dup_rows.collect()[0]["embedding"]]
    try:
        build_embedding_index(
            spark, sf_dir, "t_de_idx", str(tmp_path / "deidx"), emb=base_e
        )
        append_embedding_index(spark, "t_de_idx", dirty_e)
        vec_rows = (
            spark.table("t_de_idx_vecs").groupBy("vec_id").count().collect()
        )
        assert all(r["count"] == 1 for r in vec_rows), vec_rows
        got = [
            r.vec_id
            for r in probe_embedding_dedup(
                spark, "t_de_idx", probe_vec, theta=0.999
            ).collect()
        ]
        assert got == [7], got
        # replaying the dirty shard is still a no-op
        append_embedding_index(spark, "t_de_idx", dirty_e)
        assert (
            spark.table("t_de_idx_vecs").filter("vec_id = 7").count() == 1
        )
    finally:
        for t in ("t_de_idx", "t_de_idx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        build_embedding_index(
            spark, sf_dir, "t_eb_idx", str(tmp_path / "ebidx"), emb=dirty_e
        )
        assert (
            spark.table("t_eb_idx_vecs").filter("vec_id = 7").count() == 1
        )
    finally:
        for t in ("t_eb_idx", "t_eb_idx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- tf store: a duplicated doc must not double its tf or N ---
    clean = dirty.dropDuplicates(["doc_id"])
    try:
        build_tf_index(spark, base, "t_dt_idx", str(tmp_path / "dtidx"))
        append_tf_index(spark, "t_dt_idx", dirty)
        build_tf_index(spark, clean, "t_ct_idx", str(tmp_path / "ctidx"))
        append_tf_index(spark, "t_ct_idx", base)
        ids = (
            spark.table("t_dt_idx_docs").groupBy("doc_id").count().collect()
        )
        assert all(r["count"] == 1 for r in ids), ids
        for terms in (("dirty", "shard"), ("document",), ("unrelated",)):
            got = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_dt_idx", terms
                ).collect()
            ]
            want = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_ct_idx", terms
                ).collect()
            ]
            assert got == want, (terms, got, want)
    finally:
        for t in ("t_dt_idx", "t_dt_idx_docs", "t_ct_idx", "t_ct_idx_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wiped_main_table_refuses_serve_and_maintenance(spark, sf_dir,
                                                        tmp_path):
    """The INVERSE corruption of the missing-sidecar guard: the main
    band/postings table wiped or mis-registered while the sidecar
    survives.  Before this fix every probe silently answered 'no
    duplicate' (zero candidates drawn from an empty band table) — the
    exact silent-failure class the guard exists to refuse.  Pins the
    bidirectional assert_sidecar_populated on probe / append / compact
    for the dedup store, the embedding probe, and the tf serve path."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        append_tf_index,
        build_tf_index,
        register_external_store,
        search_tf_index,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    base = spark.createDataFrame(
        [(1, "one document with several words here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "another document entirely different words")],
        "doc_id long, text string",
    )
    dpath = str(tmp_path / "wmain")
    try:
        build_dedup_index(spark, "unused", "t_wm_idx", dpath, docs=base)
        spark.sql("DROP TABLE t_wm_idx")
        spark.sql("DROP TABLE t_wm_idx_sets")
        os.rename(dpath, f"{dpath}_gone")
        try:
            register_external_store(spark, "t_wm_idx", dpath)
            register_external_store(spark, "t_wm_idx_sets", f"{dpath}_sets")
            with _pytest.raises(ValueError, match="t_wm_idx is empty"):
                probe_dedup(spark, "t_wm_idx", "one document with words")
            with _pytest.raises(ValueError, match="t_wm_idx is empty"):
                append_dedup_index(spark, "t_wm_idx", batch)
            with _pytest.raises(ValueError, match="t_wm_idx is empty"):
                compact_dedup_index(
                    spark, "t_wm_idx", str(tmp_path / "wmain2")
                )
        finally:
            os.rename(f"{dpath}_gone", dpath)
    finally:
        for t in ("t_wm_idx", "t_wm_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # embedding probe twin
    epath = str(tmp_path / "wemb")
    emb = load(spark, sf_dir, "embeddings")
    probe_vec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    try:
        build_embedding_index(
            spark, sf_dir, "t_we_idx", epath, emb=emb.limit(5)
        )
        spark.sql("DROP TABLE t_we_idx")
        spark.sql("DROP TABLE t_we_idx_vecs")
        os.rename(epath, f"{epath}_gone")
        try:
            register_external_store(spark, "t_we_idx", epath)
            register_external_store(spark, "t_we_idx_vecs", f"{epath}_vecs")
            with _pytest.raises(ValueError, match="t_we_idx is empty"):
                probe_embedding_dedup(spark, "t_we_idx", probe_vec)
        finally:
            os.rename(f"{epath}_gone", epath)
    finally:
        for t in ("t_we_idx", "t_we_idx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # tf serve twin: wiped postings dir with surviving _docs ids
    tpath = str(tmp_path / "wtf")
    try:
        build_tf_index(spark, base, "t_wt_idx", tpath)
        spark.sql("DROP TABLE t_wt_idx")
        spark.sql("DROP TABLE t_wt_idx_docs")
        os.rename(tpath, f"{tpath}_gone")
        try:
            register_external_store(spark, "t_wt_idx", tpath)
            register_external_store(spark, "t_wt_idx_docs", f"{tpath}_docs")
            with _pytest.raises(ValueError, match="t_wt_idx is empty"):
                search_tf_index(spark, "t_wt_idx", ("document",))
            with _pytest.raises(ValueError, match="t_wt_idx is empty"):
                append_tf_index(spark, "t_wt_idx", batch)
        finally:
            os.rename(f"{tpath}_gone", tpath)
    finally:
        for t in ("t_wt_idx", "t_wt_idx_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_register_external_store_validates_sidecar(spark, tmp_path):
    """A corrupted (or attacker-written) _meta.json sidecar must raise
    a named ValueError instead of interpolating into CREATE TABLE as
    arbitrary SQL: the sidecar is positioned as a cross-process /
    object-store format, so its trust surface is wider than the local
    builder.  Pins: non-identifier bucket_col (the SQL-injection
    vector), non-int buckets, unparseable schema, bucket_col absent
    from the schema — and that a failed registration leaves NO table
    behind; the untampered sidecar still registers with bucketing."""
    import json as _json

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
        register_external_store,
        table_buckets,
    )

    docs = spark.createDataFrame(
        [(1, "a few words of text")], "doc_id long, text string"
    )
    path = str(tmp_path / "valmeta")
    mp = f"{path}_meta.json"
    try:
        build_tf_index(spark, docs, "t_vm_idx", path)
        spark.sql("DROP TABLE t_vm_idx")
        spark.sql("DROP TABLE t_vm_idx_docs")
        good = _json.load(open(mp))
        evil = [
            # SQL injection through bucket_col
            {**good, "bucket_col":
             "term) INTO 1 BUCKETS LOCATION '/x'; DROP TABLE y; --"},
            # non-int buckets
            {**good, "buckets": "16; DROP TABLE y"},
            # unparseable schema
            {**good, "schema": "term string) ; DROP TABLE y; --"},
            # bucket_col not a schema field
            {**good, "bucket_col": "nope"},
            # missing key
            {k: v for k, v in good.items() if k != "buckets"},
        ]
        for bad in evil:
            _json.dump(bad, open(mp, "w"))
            with _pytest.raises(ValueError, match="corrupt store sidecar"):
                register_external_store(spark, "t_vm_evil", path)
            assert not spark.catalog.tableExists("t_vm_evil"), bad
        # a backtick-quoted field name that parses but is not a plain
        # identifier must also be refused, not re-interpolated
        _json.dump(
            {**good, "schema": "`term x` string, df_count bigint, "
             "postings array<struct<doc_id:bigint,tf:bigint>>"},
            open(mp, "w"),
        )
        with _pytest.raises(ValueError, match="corrupt store sidecar"):
            register_external_store(spark, "t_vm_evil", path)
        _json.dump(good, open(mp, "w"))
        register_external_store(spark, "t_vm_idx", path)
        assert table_buckets(spark, "t_vm_idx") == 16
    finally:
        for t in ("t_vm_idx", "t_vm_idx_docs", "t_vm_evil"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_lane_errors_exit_2_never_traceback(spark, tmp_path, capsys):
    """The CLI lane error contract is COMPLETE: an unregistered table
    (compact with --path omitted in a fresh process), a missing batch
    path (append), and a corrupt meta sidecar (serve) all print the
    message to stderr and exit 2 — AnalysisException included, never a
    traceback."""
    import json as _json

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )

    # compact on a table this session never registered (the
    # fresh-process-without---path hole): AnalysisException -> rc 2
    rc = cli.main(
        ["compact-tf-index", str(tmp_path / "cnew"),
         "--table", "t_cli_never_registered"]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "Traceback" not in err
    assert "t_cli_never_registered" in err
    # append with a nonexistent batch parquet path: rc 2
    base = spark.createDataFrame(
        [(1, "one document with several words here")],
        "doc_id long, text string",
    )
    dpath = str(tmp_path / "clierr")
    try:
        build_dedup_index(spark, "unused", "t_ce_idx", dpath, docs=base)
        rc = cli.main(
            ["append-dedup-index", dpath, str(tmp_path / "no_such.parquet"),
             "--table", "t_ce_idx"]
        )
        err = capsys.readouterr().err
        assert rc == 2
        assert "Traceback" not in err
        # serve through a corrupt sidecar: ValueError from validation
        # -> rc 2 with the named cause
        mp = f"{dpath}_meta.json"
        good = _json.load(open(mp))
        _json.dump({**good, "buckets": "evil"}, open(mp, "w"))
        try:
            spark.sql("DROP TABLE t_ce_idx")
            spark.sql("DROP TABLE t_ce_idx_sets")
            rc = cli.main(
                ["dedup-probe", dpath, "one", "document",
                 "--table", "t_ce_idx"]
            )
            err = capsys.readouterr().err
            assert rc == 2
            assert "corrupt store sidecar" in err
        finally:
            _json.dump(good, open(mp, "w"))
    finally:
        for t in ("t_ce_idx", "t_ce_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compaction_swap_atomic_under_concurrent_reader(spark, tmp_path):
    """The round-12 verdict's #1 item, made a contract: a reader
    session holding the SERVING NAME probes continuously while another
    session compacts the store.  The swap is now one ``ALTER TABLE ...
    SET LOCATION`` catalog statement (no drop→rename window), so the
    reader must observe ZERO failed probes and identical results
    before, during, and after the compaction — a stale file listing
    legitimately serves the pre-compaction snapshot (the old directory
    is immutable and still present until vacuum_store)."""
    import threading
    import time

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )

    doc = "the concurrent reader keeps asking about this document body"
    base = spark.createDataFrame(
        [(1, doc), (2, "an unrelated second text with other words")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "a third appended document with different content")],
        "doc_id long, text string",
    )
    reader = spark.newSession()
    try:
        build_dedup_index(
            spark, "unused", "t_cc_idx", str(tmp_path / "ccidx"), docs=base
        )
        append_dedup_index(spark, "t_cc_idx", batch)
        want = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(reader, "t_cc_idx", doc).collect()
        ]
        assert want and want[0][0] == 1, want

        results, errors, spans = [], [], []
        stop = threading.Event()

        def probe_loop():
            while not stop.is_set():
                t0 = time.time()
                try:
                    got = [
                        (r.doc_id, r.jaccard)
                        for r in probe_dedup(
                            reader, "t_cc_idx", doc
                        ).collect()
                    ]
                    results.append(got)
                except Exception as exc:  # noqa: BLE001 — the assertion
                    errors.append(repr(exc))
                    break
                spans.append((t0, time.time()))

        th = threading.Thread(target=probe_loop)
        th.start()
        try:
            while len(spans) < 2 and not errors:
                time.sleep(0.05)
            c0 = time.time()
            compact_dedup_index(spark, "t_cc_idx", str(tmp_path / "ccidx2"))
            c1 = time.time()
            n_after = len(spans)
            while len(spans) < n_after + 2 and not errors:
                time.sleep(0.05)
        finally:
            stop.set()
            th.join(timeout=120)
        assert not errors, errors
        assert all(got == want for got in results), (want, results[:3])
        # the probe loop genuinely overlapped the compaction window
        overlapped = [s for s in spans if s[0] < c1 and s[1] > c0]
        assert overlapped, (c0, c1, spans)
    finally:
        for t in ("t_cc_idx", "t_cc_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_store_removes_exactly_superseded(spark, tmp_path, capsys):
    """vacuum_store is the GC half of the immutable-swap discipline:
    after a compaction it deletes EXACTLY the superseded directories —
    (a) nothing younger than the safety age, (b) nothing still
    registered in the catalog (refused loudly, not skipped), (c) the
    live store untouched and probes unaffected, (d) the removed dirs'
    meta sidecars gone with them.  Also pins the CLI lane."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
        vacuum_store,
    )

    doc = "a document body the vacuum test probes before and after"
    base = spark.createDataFrame(
        [(1, doc)], "doc_id long, text string"
    )
    p1 = str(tmp_path / "vac1")
    p2 = str(tmp_path / "vac2")
    p3 = str(tmp_path / "vac3")
    try:
        build_dedup_index(spark, "unused", "t_vac_idx", p1, docs=base)
        # never compacted: no ledger, vacuums to an empty no-op
        assert vacuum_store(spark, "t_vac_idx") == {
            "removed": [], "kept": [],
        }
        compact_dedup_index(spark, "t_vac_idx", p2)
        assert os.path.exists(f"{p2}_superseded.json")
        # safety age: young entries are KEPT
        res = vacuum_store(spark, "t_vac_idx", min_age_sec=3600)
        assert res["removed"] == [] and len(res["kept"]) == 2, res
        assert os.path.exists(p1) and os.path.exists(f"{p1}_sets")
        # age 0: removes exactly the two superseded dirs + their metas
        res = vacuum_store(spark, "t_vac_idx", min_age_sec=0)
        assert sorted(res["removed"]) == sorted(
            [os.path.realpath(p1), os.path.realpath(f"{p1}_sets")]
        ), res
        assert not os.path.exists(p1)
        assert not os.path.exists(f"{p1}_sets")
        assert not os.path.exists(f"{p1}_meta.json")
        assert not os.path.exists(f"{p1}_sets_meta.json")
        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_vac_idx", doc).collect()
        ]
        assert got == [(1, 1.0)], got
        # a superseded path that is STILL REGISTERED is refused
        compact_dedup_index(spark, "t_vac_idx", p3)
        register_external_store(spark, "t_vac_pin", p2)
        with _pytest.raises(ValueError, match="CURRENT location"):
            vacuum_store(spark, "t_vac_idx", min_age_sec=0)
        assert os.path.exists(p2)
        spark.sql("DROP TABLE t_vac_pin")
        # CLI lane: same vacuum through the fresh-process surface
        rc = cli.main(
            ["vacuum-store", p3, "--table", "t_vac_idx",
             "--suffix", "_sets", "--min-age-sec", "0"]
        )
        out = capsys.readouterr().out
        assert rc == 0
        assert "2 removed" in out, out
        assert not os.path.exists(p2)
        got = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(spark, "t_vac_idx", doc).collect()
        ]
        assert got == [(1, 1.0)], got
    finally:
        for t in ("t_vac_idx", "t_vac_idx_sets", "t_vac_pin"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_shard_decisions_match_j84_and_j85(spark, sf_dir, tmp_path):
    """The probe-SHARD fold (one distributed job per shard against the
    persisted store) must emit byte-equal decisions to the registered
    batch-delta queries for the same batch split: shard_dedup_decisions
    ↔ j84 (text), shard_embedding_decisions ↔ j85 (vectors).  Store
    built over the corpus side only; the hash-seed batch plays the
    shard.  Equivalence domain: no bucket over _BUCKET_CAP (fixture
    max 33; guard state observable via j83)."""
    from bdt_enwikisearch_hadoop_spark.functions.ann import _nbe_pred_col
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        shard_dedup_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        shard_embedding_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.functions.llm_scale import (
        _nb_pred_col,
    )
    from bdt_enwikisearch_hadoop_spark.registry import QUERIES
    from bdt_enwikisearch_hadoop_spark.sources import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(~_nb_pred_col(F.col("doc_id")))
    batch = docs.filter(_nb_pred_col(F.col("doc_id")))
    try:
        build_dedup_index(
            spark, "unused", "t_sh_idx", str(tmp_path / "shidx"),
            docs=corpus,
        )
        got = [
            (r.doc_id, r.decision, r.dup_of)
            for r in shard_dedup_decisions(
                spark, "t_sh_idx", batch
            ).collect()
        ]
        want = [
            (r.doc_id, r.decision, r.dup_of)
            for r in QUERIES["j84_incremental_dedup"](
                spark, sf_dir
            ).collect()
        ]
        assert got == want
        assert any(d != "keep" for _, d, _ in got)  # not vacuous
    finally:
        for t in ("t_sh_idx", "t_sh_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = load(spark, sf_dir, "embeddings")
    try:
        build_embedding_index(
            spark, sf_dir, "t_sh_eidx", str(tmp_path / "sheidx"),
            emb=emb.filter(~_nbe_pred_col(F.col("vec_id"))),
        )
        got = [
            (r.vec_id, r.decision, r.dup_of)
            for r in shard_embedding_decisions(
                spark, "t_sh_eidx",
                emb.filter(_nbe_pred_col(F.col("vec_id"))),
            ).collect()
        ]
        want = [
            (r.vec_id, r.decision, r.dup_of)
            for r in QUERIES["j85_incremental_embedding_dedup"](
                spark, sf_dir
            ).collect()
        ]
        assert got == want
    finally:
        for t in ("t_sh_eidx", "t_sh_eidx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_probe_shard_lanes_end_to_end(spark, sf_dir, tmp_path,
                                          capsys):
    """The probe-shard CLI lanes end-to-end: build store via CLI-style
    calls, write a shard parquet, run the lane, and pin the decisions
    parquet byte-equal to the in-session fold for the same shard
    (which test_shard_decisions_match_j84_and_j85 pins to j84/j85 in
    turn).  Also: a missing batch path exits 2 under the lane error
    contract."""
    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        shard_dedup_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        shard_embedding_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    base = spark.createDataFrame(
        [(1, "a corpus document full of words to collide with"),
         (2, "a second corpus member with its own body")],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [(10, "a corpus document full of words to collide with"),
         (11, "an entirely fresh shard text nothing matches"),
         (12, "an entirely fresh shard text nothing matches at all")],
        "doc_id long, text string",
    )
    dpath = str(tmp_path / "psd")
    spath = str(tmp_path / "shard.parquet")
    opath = str(tmp_path / "decisions.parquet")
    shard.write.parquet(spath)
    try:
        build_dedup_index(spark, "unused", "t_psd_idx", dpath, docs=base)
        rc = cli.main(
            ["probe-shard-dedup", dpath, spath, opath,
             "--table", "t_psd_idx"]
        )
        out = capsys.readouterr().out
        assert rc == 0
        assert "wrote decisions for 3 doc_ids" in out, out
        got = sorted(
            (r.doc_id, r.decision, r.dup_of)
            for r in spark.read.parquet(opath).collect()
        )
        want = sorted(
            (r.doc_id, r.decision, r.dup_of)
            for r in shard_dedup_decisions(
                spark, "t_psd_idx", shard
            ).collect()
        )
        assert got == want
        assert got[0] == (10, "drop_corpus_dup", 1), got
        # lane error contract: bad batch path -> rc 2, no traceback
        rc = cli.main(
            ["probe-shard-dedup", dpath, str(tmp_path / "nope.parquet"),
             opath, "--table", "t_psd_idx"]
        )
        err = capsys.readouterr().err
        assert rc == 2 and "Traceback" not in err
    finally:
        for t in ("t_psd_idx", "t_psd_idx_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # embedding lane
    emb = load(spark, sf_dir, "embeddings")
    epath = str(tmp_path / "pse")
    espath = str(tmp_path / "eshard.parquet")
    eopath = str(tmp_path / "edecisions.parquet")
    eshard = emb.filter("vec_id >= 40").limit(20)
    eshard.write.parquet(espath)
    try:
        build_embedding_index(
            spark, sf_dir, "t_pse_idx", epath,
            emb=emb.filter("vec_id < 40"),
        )
        rc = cli.main(
            ["probe-shard-embedding", epath, espath, eopath,
             "--table", "t_pse_idx"]
        )
        out = capsys.readouterr().out
        assert rc == 0
        got = sorted(
            (r.vec_id, r.decision, r.dup_of)
            for r in spark.read.parquet(eopath).collect()
        )
        want = sorted(
            (r.vec_id, r.decision, r.dup_of)
            for r in shard_embedding_decisions(
                spark, "t_pse_idx", spark.read.parquet(espath)
            ).collect()
        )
        assert got == want
        assert len(got) == 20
    finally:
        for t in ("t_pse_idx", "t_pse_idx_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# round 13: ingest manifest + single-writer lease (VERDICT r12 items 2 & 3)
# ---------------------------------------------------------------------------


def test_manifest_refuses_total_wipe_but_serves_legit_empty(
        spark, sf_dir, tmp_path):
    """TOTAL data loss — BOTH store directories wiped while the meta/
    manifest sidecar FILES survive — used to be indistinguishable from
    the legitimate built-ahead-of-first-shard state (search_tf_index's
    own disclosed hole): emptiness agrees on both sides, so the
    bidirectional sidecar guard passes and every serve answered empty
    silently.  The ingest manifest settles it: serve/append/compact on
    a store whose manifest records more ids than the id sidecar holds
    REFUSE, naming the divergence; a legitimately EMPTY store (empty
    manifest, empty tables) still serves the empty result set."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        build_embedding_index,
        probe_embedding_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        append_tf_index,
        build_tf_index,
        compact_tf_index,
        register_external_store,
        search_tf_index,
    )
    from bdt_enwikisearch_hadoop_spark.sources import load

    docs = spark.createDataFrame(
        [(1, "one document with several words here"),
         (2, "another body of text entirely different")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "a later shard document")], "doc_id long, text string",
    )
    # --- tf store: total wipe refuses serve AND maintenance
    tpath = str(tmp_path / "twipe")
    try:
        build_tf_index(spark, docs, "t_mw_tf", tpath)
        spark.sql("DROP TABLE t_mw_tf")
        spark.sql("DROP TABLE t_mw_tf_docs")
        os.rename(tpath, f"{tpath}_gone")
        os.rename(f"{tpath}_docs", f"{tpath}_docs_gone")
        register_external_store(spark, "t_mw_tf", tpath)
        register_external_store(spark, "t_mw_tf_docs", f"{tpath}_docs")
        with _pytest.raises(ValueError, match="LOST"):
            search_tf_index(spark, "t_mw_tf", ("document",))
        with _pytest.raises(ValueError, match="LOST"):
            append_tf_index(spark, "t_mw_tf", batch)
        with _pytest.raises(ValueError, match="LOST"):
            compact_tf_index(spark, "t_mw_tf", str(tmp_path / "twipe2"))
    finally:
        for t in ("t_mw_tf", "t_mw_tf_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- dedup store: wiped probe refuses
    dpath = str(tmp_path / "dwipe")
    try:
        build_dedup_index(spark, "unused", "t_mw_dd", dpath, docs=docs)
        spark.sql("DROP TABLE t_mw_dd")
        spark.sql("DROP TABLE t_mw_dd_sets")
        os.rename(dpath, f"{dpath}_gone")
        os.rename(f"{dpath}_sets", f"{dpath}_sets_gone")
        register_external_store(spark, "t_mw_dd", dpath)
        register_external_store(spark, "t_mw_dd_sets", f"{dpath}_sets")
        with _pytest.raises(ValueError, match="LOST"):
            probe_dedup(spark, "t_mw_dd", "one document with words here")
    finally:
        for t in ("t_mw_dd", "t_mw_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- embedding store: wiped probe refuses
    epath = str(tmp_path / "ewipe")
    emb = load(spark, sf_dir, "embeddings").limit(5)
    probe_vec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    try:
        build_embedding_index(spark, sf_dir, "t_mw_em", epath, emb=emb)
        spark.sql("DROP TABLE t_mw_em")
        spark.sql("DROP TABLE t_mw_em_vecs")
        os.rename(epath, f"{epath}_gone")
        os.rename(f"{epath}_vecs", f"{epath}_vecs_gone")
        register_external_store(spark, "t_mw_em", epath)
        register_external_store(spark, "t_mw_em_vecs", f"{epath}_vecs")
        with _pytest.raises(ValueError, match="LOST"):
            probe_embedding_dedup(spark, "t_mw_em", probe_vec)
    finally:
        for t in ("t_mw_em", "t_mw_em_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # --- a legitimately EMPTY store (built ahead of its first shard:
    # empty manifest total, empty tables) serves empty, never an error
    zpath = str(tmp_path / "zempty")
    empty = spark.createDataFrame([], "doc_id long, text string")
    try:
        build_tf_index(spark, empty, "t_mw_z", zpath)
        assert search_tf_index(spark, "t_mw_z", ("anything",)).count() == 0
    finally:
        for t in ("t_mw_z", "t_mw_z_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_manifest_crash_orphan_refuses_until_repair(spark, tmp_path):
    """The OPPOSITE divergence: ids present that no manifest entry
    accounts for (a crash between the id-sidecar write and the
    manifest stamp, or a foreign writer).  Serving REFUSES with the
    named cause — never self-heals — until the explicit operator
    action (repair_manifest / CLI repair-manifest) adopts the current
    contents; after repair the store serves exactly what it served
    before the corruption was simulated."""
    import json
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        refresh_store,
        repair_manifest,
    )

    docs = spark.createDataFrame(
        [(1, "one document with several words here"),
         (2, "another body of text entirely different")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "orphan")
    try:
        build_dedup_index(spark, "unused", "t_mo_dd", path, docs=docs)
        before = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(
                spark, "t_mo_dd", "one document with several words here"
            ).collect()
        ]
        assert before  # the probe text matches doc 1
        # simulate the crashed append: shrink the manifest below the
        # sidecar's actual id count
        mp = f"{path}_manifest.json"
        with open(mp) as fh:
            entries = json.load(fh)
        entries[0]["n_rows"] -= 1
        with open(mp, "w") as fh:
            json.dump(entries, fh)
        # corruption is discovered at reader-open (refresh_store is the
        # reopen step that drops the serve memo), exactly like a fresh
        # serving process would
        refresh_store(spark, "t_mo_dd", ("", "_sets"))
        with _pytest.raises(ValueError, match="manifest accounts for 1"):
            probe_dedup(
                spark, "t_mo_dd", "one document with several words here"
            )
        # the CLI repair lane adopts the current contents...
        rc = cli.main(["repair-manifest", path, "_sets",
                       "--table", "t_mo_dd"])
        assert rc == 0
        # ...after which the store serves exactly as before
        after = [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(
                spark, "t_mo_dd", "one document with several words here"
            ).collect()
        ]
        assert after == before
        with open(mp) as fh:
            repaired = json.load(fh)
        assert sum(e["n_rows"] for e in repaired) == 2
        # a MISSING manifest on a non-empty store also refuses, naming
        # the repair lane — and the in-session repair fixes it too
        os.remove(mp)
        refresh_store(spark, "t_mo_dd", ("", "_sets"))
        with _pytest.raises(ValueError, match="NO\n?.*ingest manifest|NO "):
            probe_dedup(
                spark, "t_mo_dd", "one document with several words here"
            )
        repair_manifest(spark, "t_mo_dd", "_sets")
        assert [
            (r.doc_id, r.jaccard)
            for r in probe_dedup(
                spark, "t_mo_dd", "one document with several words here"
            ).collect()
        ] == before
    finally:
        for t in ("t_mo_dd", "t_mo_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_write_lease_single_writer(spark, tmp_path):
    """Single-writer append contract, ENFORCED (VERDICT r12 item 3):
    a second live appender refuses by name while the lease is held;
    after release the same append succeeds and the final store equals
    the sequential-append result; a crashed holder's stale lease is
    taken over (and the taker releases cleanly); a marker directory
    with no lease file (another appender mid-acquire) refuses while
    fresh."""
    import json
    import os
    import time

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        store_write_lease,
        table_location,
    )

    base = spark.createDataFrame(
        [(1, "one document with several words here")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(2, "second shard body of words")], "doc_id long, text string",
    )
    s2 = spark.createDataFrame(
        [(3, "third shard body of different words")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lease")
    try:
        build_dedup_index(spark, "unused", "t_lw_dd", path, docs=base)
        lock = f"{table_location(spark, 't_lw_dd').rstrip('/')}_lock"
        # held: the second appender refuses, naming the holder
        with store_write_lease(spark, "t_lw_dd", owner="appender-A"):
            with _pytest.raises(ValueError, match="held by appender-A"):
                append_dedup_index(spark, "t_lw_dd", s1)
        # released: the SAME append now succeeds (serial order)
        append_dedup_index(spark, "t_lw_dd", s1)
        assert spark.table("t_lw_dd_sets").count() == 2
        # crashed holder: stale lease (older than stale_sec) is taken
        # over by the next appender, which then releases cleanly
        os.mkdir(lock)
        with open(f"{lock}/lease.json", "w") as fh:
            json.dump(
                {"owner": "crashed", "token": "dead",
                 "ts": time.time() - 7200},
                fh,
            )
        append_dedup_index(spark, "t_lw_dd", s2)
        assert not os.path.exists(lock)
        assert spark.table("t_lw_dd_sets").count() == 3
        # final state = sequential appends: every doc individually
        # findable (SOME serial order always holds)
        for text, want in (
            ("one document with several words here", 1),
            ("second shard body of words", 2),
            ("third shard body of different words", 3),
        ):
            got = [
                r.doc_id
                for r in probe_dedup(spark, "t_lw_dd", text).collect()
            ]
            assert want in got, (text, got)
        # mid-acquire marker (dir exists, lease file not yet written):
        # refuse while fresh, never adopt another appender's acquire
        os.mkdir(lock)
        try:
            with _pytest.raises(ValueError, match="mid-acquire"):
                append_dedup_index(spark, "t_lw_dd", s1)
        finally:
            os.rmdir(lock)
    finally:
        for t in ("t_lw_dd", "t_lw_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_manifest_carried_through_compaction(spark, tmp_path, capsys):
    """Compaction must carry the ingest manifest to the new base path
    (COPY, not move — a reader still on the old snapshot keeps a
    consistent directory+manifest pair), and the compacted store must
    keep serving under the manifest cross-check.  store-report
    surfaces the manifest totals without refusing (it is the
    diagnostic for a store the serve lanes just refused)."""
    import json
    import os

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "one document with several words here"),
         (2, "another body of text entirely different")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "a later shard document body")], "doc_id long, text string",
    )
    old = str(tmp_path / "mc_old")
    new = str(tmp_path / "mc_new")
    try:
        build_dedup_index(spark, "unused", "t_mc_dd", old, docs=docs)
        append_dedup_index(spark, "t_mc_dd", batch, shard_id="shard-1")
        compact_dedup_index(spark, "t_mc_dd", new)
        # manifest copied next to the new base; old copy intact for
        # snapshot readers until vacuum
        for p in (f"{new}_manifest.json", f"{old}_manifest.json"):
            assert os.path.exists(p), p
        with open(f"{new}_manifest.json") as fh:
            entries = json.load(fh)
        assert sum(e["n_rows"] for e in entries) == 3
        assert entries[1]["shard_id"] == "shard-1"
        # serving keeps working through the manifest cross-check
        got = [
            r.doc_id
            for r in probe_dedup(
                spark, "t_mc_dd", "a later shard document body"
            ).collect()
        ]
        assert 3 in got
        # store-report surfaces the totals (never refuses)
        rc = cli.main(["store-report", new, "--table", "t_mc_dd"])
        out = capsys.readouterr().out
        assert rc == 0
        assert "manifest_shards\t2" in out, out
        assert "manifest_total\t3" in out, out
    finally:
        for t in ("t_mc_dd", "t_mc_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_check_store_health_lane(spark, tmp_path, capsys):
    """check-store: every serve-lane guard run together and REPORTED
    (exit 0 all-ok / exit 2 any-fail) — the operator's triage surface
    for a store the serve lanes just refused.  Healthy store: all six
    checks ok.  Wiped store (the total-loss fixture): manifest FAILs
    with the named LOST cause while the report still completes.  A
    held write lease is INFO (ok), not a failure."""
    import os

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        check_store,
        store_write_lease,
    )

    docs = spark.createDataFrame(
        [(1, "one document with several words here"),
         (2, "another body of text entirely different")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "health")
    try:
        build_dedup_index(spark, "unused", "t_hc_dd", path, docs=docs)
        rc = cli.main(["check-store", path, "_sets", "--table", "t_hc_dd"])
        out = capsys.readouterr().out
        assert rc == 0
        for check in ("meta_sidecar", "bucketing", "sidecar_agreement",
                      "manifest", "write_lease", "superseded"):
            assert f"{check}\tok" in out, (check, out)
        assert "2 ids" in out
        # a held lease reports the holder but stays ok (a running
        # append is a normal state, not a fault)
        with store_write_lease(spark, "t_hc_dd", owner="appender-X"):
            checks = check_store(spark, "t_hc_dd", "_sets")
        assert checks["write_lease"]["ok"]
        assert "appender-X" in checks["write_lease"]["detail"]
        # total wipe: manifest check FAILs by name, lane exits 2,
        # the other checks still report
        spark.sql("DROP TABLE t_hc_dd")
        spark.sql("DROP TABLE t_hc_dd_sets")
        os.rename(path, f"{path}_gone")
        os.rename(f"{path}_sets", f"{path}_sets_gone")
        rc = cli.main(["check-store", path, "_sets", "--table", "t_hc_dd"])
        out = capsys.readouterr().out
        assert rc == 2
        assert "manifest\tFAIL" in out
        assert "LOST" in out
        assert "sidecar_agreement\tok" in out  # both empty: agree
    finally:
        for t in ("t_hc_dd", "t_hc_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_build_refuses_live_lease_and_bad_table_names(spark, tmp_path):
    """Two follow-on closures of the round-13 hardening: (a) a REBUILD
    over a store path whose write lease is live refuses (builds run
    outside the lease, but overwriting the directories a live appender
    is mid-write into is the same interleaving hazard); a STALE marker
    is cleared and the rebuild proceeds.  (b) register_external_store
    validates the table NAME like it validates sidecar contents — a
    CLI argument is interpolated into CREATE TABLE, so a non-identifier
    refuses instead of reaching DDL."""
    import json
    import os
    import time

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )

    docs = spark.createDataFrame(
        [(1, "one document with several words here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "blease")
    lock = f"{path}_lock"
    try:
        # live lease at the target path: build refuses by holder name
        os.mkdir(lock)
        with open(f"{lock}/lease.json", "w") as fh:
            json.dump({"owner": "live-appender", "token": "t",
                       "ts": time.time()}, fh)
        with _pytest.raises(ValueError, match="live-appender"):
            build_dedup_index(spark, "unused", "t_bl_dd", path, docs=docs)
        # stale lease: cleared, rebuild proceeds
        with open(f"{lock}/lease.json", "w") as fh:
            json.dump({"owner": "crashed", "token": "t",
                       "ts": time.time() - 7200}, fh)
        build_dedup_index(spark, "unused", "t_bl_dd", path, docs=docs)
        assert not os.path.exists(lock)
        assert spark.table("t_bl_dd_sets").count() == 1
    finally:
        for t in ("t_bl_dd", "t_bl_dd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # table-name validation: never reaches DDL
    with _pytest.raises(ValueError, match="not a plain SQL identifier"):
        register_external_store(
            spark, "x; DROP TABLE y", str(tmp_path / "nope")
        )


def test_delete_tombstones_dedup_store(spark, tmp_path, capsys):
    """The tombstone-delete lane on the dedup store — takedown without
    rebuild (index_store.py's tombstone section):

    (a) after delete_from_dedup_index, probe_dedup never returns the
        deleted doc and shard_dedup_decisions no longer anchors a drop
        on it, while other documents' results are untouched;
    (b) the reconciliation counts are exact and a replayed takedown
        list is idempotent (already_deleted, never a second tombstone);
    (c) appending a batch that carries a tombstoned id REFUSES by name
        (the anti-join must not silently swallow it);
    (d) compaction applies the tombstones PHYSICALLY: sidecar/band rows
        gone, tombstone table retired into the vacuum ledger, manifest
        stamped with the negative delta so every serve guard stays
        green, and the id is FREED for re-ingest;
    (e) the CLI lane prints the counts and a fresh registration path
        serves the exclusion.
    """
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        probe_dedup,
        shard_dedup_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        check_store,
        tombstones_df,
        vacuum_store,
    )

    doc, probe = _boundary_pair(3)
    filler = "completely unrelated filler words " * 8
    docs = spark.createDataFrame(
        [(1, doc), (2, filler)], "doc_id long, text string"
    )
    path = str(tmp_path / "tdel")
    try:
        build_dedup_index(spark, "unused", "t_del_d", path, docs=docs)
        assert [
            r.doc_id for r in probe_dedup(spark, "t_del_d", probe).collect()
        ] == [1]
        # (a)+(b) delete, with one never-ingested id in the list
        counts = delete_from_dedup_index(spark, "t_del_d", [1, 99])
        assert counts == {"requested": 2, "deleted": 1,
                          "already_deleted": 0, "not_indexed": 1}, counts
        assert probe_dedup(spark, "t_del_d", probe).collect() == []
        # the untouched document still serves
        assert [
            r.doc_id
            for r in probe_dedup(spark, "t_del_d", filler).collect()
        ] == [2]
        # replayed takedown list: idempotent
        again = delete_from_dedup_index(spark, "t_del_d", [1])
        assert again["deleted"] == 0 and again["already_deleted"] == 1
        # shard decisions: the deleted corpus doc no longer anchors
        shard = spark.createDataFrame(
            [(7, probe)], "doc_id long, text string"
        )
        dec = {
            r.doc_id: r.decision
            for r in shard_dedup_decisions(spark, "t_del_d", shard).collect()
        }
        assert dec == {7: "keep"}, dec
        # (c) appending the tombstoned id refuses by name
        with _pytest.raises(ValueError, match="tombstoned id"):
            append_dedup_index(
                spark, "t_del_d",
                spark.createDataFrame(
                    [(1, doc)], "doc_id long, text string"
                ),
            )
        # (e) CLI: counts printed, fresh-registration exclusion served
        rc = cli.main(
            ["delete-from-dedup-index", path, "1,99",
             "--table", "cli_t_del_d"]
        )
        out = capsys.readouterr().out
        assert rc == 0
        assert "already_deleted\t1" in out and "not_indexed\t1" in out, out
        # the CLI leg registered the same files under its own name;
        # drop those registrations so the post-compaction vacuum's
        # live-reader refusal doesn't (correctly) fire on them
        for t in ("cli_t_del_d", "cli_t_del_d_sets", "cli_t_del_d_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        # (d) compaction applies + frees
        p2 = str(tmp_path / "tdel2")
        compact_dedup_index(spark, "t_del_d", p2)
        assert tombstones_df(spark, "t_del_d") is None
        assert spark.table("t_del_d_sets").count() == 1
        assert [
            r.doc_id
            for r in spark.table("t_del_d_sets").select("doc_id").collect()
        ] == [2]
        ck = check_store(spark, "t_del_d", "_sets")
        assert all(v["ok"] for v in ck.values()), ck
        # freed: the id re-ingests and serves again
        append_dedup_index(
            spark, "t_del_d",
            spark.createDataFrame([(1, doc)], "doc_id long, text string"),
        )
        assert [
            r.doc_id for r in probe_dedup(spark, "t_del_d", probe).collect()
        ] == [1]
        # the retired tombstone dir is in the vacuum ledger and GC'd
        res = vacuum_store(spark, "t_del_d", min_age_sec=0.0)
        assert any(p.endswith("_tombs") for p in res["removed"]), res
    finally:
        for t in ("t_del_d", "t_del_d_sets", "t_del_d_tombs",
                  "cli_t_del_d", "cli_t_del_d_sets", "cli_t_del_d_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_delete_tombstones_embedding_store(spark, tmp_path):
    """The tombstone-delete lane on the VECTOR store: probe exclusion,
    shard-decision neutralization, append refusal, deleting compaction
    that frees the id — dedup_store's contract, vec_id side."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.embedding_store import (
        append_embedding_index,
        build_embedding_index,
        compact_embedding_index,
        delete_from_embedding_index,
        probe_embedding_dedup,
        shard_embedding_decisions,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        tombstones_df,
    )

    dim = 64
    v1 = [1.0] + [0.0] * (dim - 1)
    v2 = [0.0, 1.0] + [0.0] * (dim - 2)
    emb = spark.createDataFrame(
        [(1, v1), (2, v2)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "edel")
    try:
        build_embedding_index(spark, "unused", "t_del_e", path, emb=emb)
        assert [
            r.vec_id
            for r in probe_embedding_dedup(spark, "t_del_e", v1).collect()
        ] == [1]
        counts = delete_from_embedding_index(spark, "t_del_e", [1])
        assert counts["deleted"] == 1, counts
        assert probe_embedding_dedup(spark, "t_del_e", v1).collect() == []
        # the untouched vector still serves
        assert [
            r.vec_id
            for r in probe_embedding_dedup(spark, "t_del_e", v2).collect()
        ] == [2]
        shard = spark.createDataFrame(
            [(9, v1)], "vec_id long, embedding array<double>"
        )
        dec = {
            r.vec_id: r.decision
            for r in shard_embedding_decisions(
                spark, "t_del_e", shard
            ).collect()
        }
        assert dec == {9: "keep"}, dec
        with _pytest.raises(ValueError, match="tombstoned id"):
            append_embedding_index(
                spark, "t_del_e",
                spark.createDataFrame(
                    [(1, v1)], "vec_id long, embedding array<double>"
                ),
            )
        compact_embedding_index(spark, "t_del_e", str(tmp_path / "edel2"))
        assert tombstones_df(spark, "t_del_e") is None
        assert spark.table("t_del_e_vecs").count() == 1
        append_embedding_index(
            spark, "t_del_e",
            spark.createDataFrame(
                [(1, v1)], "vec_id long, embedding array<double>"
            ),
        )
        assert [
            r.vec_id
            for r in probe_embedding_dedup(spark, "t_del_e", v1).collect()
        ] == [1]
    finally:
        for t in ("t_del_e", "t_del_e_vecs", "t_del_e_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tf_delete_serves_exact_rebuild_parity(spark, tmp_path):
    """The segmented raw-TF store serves deletions EXACTLY without
    compaction: tombstoned docs are anti-joined out of the looked-up
    postings (which corrects each queried term's df, since df is
    derived from those rows at query time) and N = ingested −
    tombstoned — so every query equals a fresh rebuild over the
    surviving corpus, scores included.  This is the capability the
    weighted store deliberately does NOT offer (its weights bake in
    build-time N/df; module docstring), and the reason the segmented
    store is the serving index when takedowns are in scope.  Also
    pins: the deleting compaction physically drops the rows, keeps
    parity, keeps every store guard green."""
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
        check_store,
        compact_tf_index,
        delete_from_tf_index,
        search_tf_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark join shuffle"), (2, "spark window"),
         (3, "join filter spark"), (4, "window agg join")],
        "doc_id long, text string",
    )
    queries = [("spark",), ("join",), ("spark", "join"), ("window",),
               ("agg", "window")]
    try:
        build_tf_index(spark, docs, "t_del_tf", str(tmp_path / "tf"))
        delete_from_tf_index(spark, "t_del_tf", [2, 4])
        build_tf_index(
            spark, docs.filter("doc_id in (1, 3)"), "t_del_tf_ref",
            str(tmp_path / "tfref"),
        )
        for terms in queries:
            got = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_del_tf", terms, conjunctive=False
                ).collect()
            ]
            want = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_del_tf_ref", terms, conjunctive=False
                ).collect()
            ]
            assert got == want, (terms, got, want)
        # compaction: physical removal, same parity, guards green
        compact_tf_index(spark, "t_del_tf", str(tmp_path / "tf2"))
        assert spark.table("t_del_tf_docs").count() == 2
        for terms in queries:
            got = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_del_tf", terms, conjunctive=False
                ).collect()
            ]
            want = [
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, "t_del_tf_ref", terms, conjunctive=False
                ).collect()
            ]
            assert got == want, (terms, got, want)
        ck = check_store(spark, "t_del_tf", "_docs")
        assert all(v["ok"] for v in ck.values()), ck
    finally:
        for t in ("t_del_tf", "t_del_tf_docs", "t_del_tf_tombs",
                  "t_del_tf_ref", "t_del_tf_ref_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tf_crashed_deleting_compaction_serves_exact_after_repair(
    spark, tmp_path, monkeypatch
):
    """A deleting compaction that crashes after its repoint but before
    it retires the tombstones (apply_tombstones_in_compaction) leaves
    actual < manifest: serving refuses "LOST" naming repair-manifest,
    and after that repair the store must serve EXACTLY a fresh rebuild
    over the live documents.  The leftover tombstones name ids already
    physically gone, so N must count the _docs ids not tombstoned (not
    "ingested − tombstoned", which undercounts N by the deleted ids),
    and the session's N memo must not survive the failed compaction
    (a search would refuse "holds 40 ids" when _docs holds 35).
    Checked with and without the refresh_store a serving session runs
    between the crash and the repair."""
    import random

    import pytest

    from bdt_enwikisearch_hadoop_spark.functions import index_store

    rnd = random.Random(3)
    vocab = ["a", "r", "bx", "q", "zz", "k", "m", "n", "p", "t", "u", "v"]
    texts = [" ".join(rnd.choice(vocab) for _ in range(rnd.randint(4, 14)))
             for _ in range(40)]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    queries = [("bx", "a", "r"), ("zz",), ("q", "k")]

    def rows(table, terms):
        return [(r.doc_id, r.score) for r in index_store.search_tf_index(
            spark, table, terms, conjunctive=False).collect()]

    def boom(*a, **k):
        raise RuntimeError("crash before the tombstones are retired")

    tables = ["t_ccr_ref"]
    try:
        index_store.build_tf_index(spark, docs.filter("doc_id >= 5"),
                                   "t_ccr_ref", str(tmp_path / "ref"),
                                   buckets=4)
        want = {q: rows("t_ccr_ref", q) for q in queries}
        assert all(want.values())
        for refresh in (True, False):
            t = f"t_ccr_{int(refresh)}"
            tables.append(t)
            index_store.build_tf_index(spark, docs, t, str(tmp_path / t),
                                       buckets=4)
            index_store.delete_from_tf_index(spark, t, range(5))
            assert {q: rows(t, q) for q in queries} == want
            with monkeypatch.context() as m:
                m.setattr(index_store, "apply_tombstones_in_compaction", boom)
                with pytest.raises(RuntimeError, match="crash"):
                    index_store.compact_tf_index(spark, t,
                                                 str(tmp_path / f"{t}c"))
            if refresh:
                index_store.refresh_store(spark, t, ("", "_docs"))
                with pytest.raises(ValueError, match="LOST") as e:
                    rows(t, queries[0])
                assert "repair-manifest" in str(e.value)
            index_store.repair_manifest(spark, t, "_docs")
            assert {q: rows(t, q) for q in queries} == want, refresh
    finally:
        for t in tables:
            for suf in ("", "_docs", "_tombs"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_rebuild_clears_inherited_tombstones(spark, tmp_path):
    """A FULL rebuild at the same name/path must not inherit a previous
    store's tombstones — otherwise the new corpus's legitimately
    ingested documents would be phantom-deleted (the tombstone twin of
    the stale-manifest hole reset_manifest closes).  Pinned on the
    dedup store; clear_tombstones is called by all three builds."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        delete_from_dedup_index,
        probe_dedup,
    )

    doc, probe = _boundary_pair(4)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    path = str(tmp_path / "reb")
    try:
        build_dedup_index(spark, "unused", "t_reb_tomb", path, docs=docs)
        delete_from_dedup_index(spark, "t_reb_tomb", [1])
        assert probe_dedup(spark, "t_reb_tomb", probe).collect() == []
        # rebuild over the same path: doc 1 is a live member again
        build_dedup_index(spark, "unused", "t_reb_tomb", path, docs=docs)
        assert [
            r.doc_id
            for r in probe_dedup(spark, "t_reb_tomb", probe).collect()
        ] == [1]
    finally:
        for t in ("t_reb_tomb", "t_reb_tomb_sets", "t_reb_tomb_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tombstone_lifecycle_random_sequence_model(spark, tmp_path):
    """Model-checked random walk over the tombstone lifecycle on the
    raw-TF store — the interleavings the directed tests don't reach
    (delete after append after delete, replayed takedown lists mixed
    with unknown ids, refusal mid-sequence, compaction mid-history):
    a seeded RNG drives delete / append / compact ops against the
    store while a pure-Python model tracks (ingested, tombstoned);
    after EVERY op the reconciliation counts must match the model
    exactly and the served ranking must equal a fresh rebuild over the
    model's live set — the strongest statement of 'tombstones are
    invisible everywhere except the reconciliation counts'."""
    import random

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
        compact_tf_index,
        delete_from_tf_index,
        search_tf_index,
    )

    rng = random.Random(13)
    words = ["spark", "join", "window", "agg", "filter", "scan"]

    def text_for(i):
        r = random.Random(i * 977)
        return " ".join(r.choice(words) for _ in range(6))

    texts = {i: text_for(i) for i in range(1, 31)}
    ingested = set(range(1, 13))
    tombstoned: set[int] = set()
    next_id = 13
    ncompact = 0

    def df_of(ids):
        return spark.createDataFrame(
            [(i, texts[i]) for i in sorted(ids)],
            "doc_id long, text string",
        )

    def served(table):
        out = []
        for t in words:
            out.append([
                (r.doc_id, r.score)
                for r in search_tf_index(
                    spark, table, (t,), conjunctive=False
                ).collect()
            ])
        return out

    def check_parity(tag):
        build_tf_index(
            spark, df_of(ingested - tombstoned), "t_rng_ref",
            str(tmp_path / f"ref{tag}"),
        )
        assert served("t_rng_tf") == served("t_rng_ref"), tag

    try:
        build_tf_index(spark, df_of(ingested), "t_rng_tf",
                       str(tmp_path / "rng0"))
        for step in range(8):
            op = rng.choice(["delete", "append", "append_doomed",
                             "compact", "delete"])
            mutated = True
            if op == "delete":
                req = set(rng.sample(range(1, next_id + 3),
                                     rng.randint(1, 4)))
                counts = delete_from_tf_index(spark, "t_rng_tf",
                                              sorted(req))
                want_deleted = req & ingested - tombstoned
                want_already = req & tombstoned
                want_unknown = req - ingested
                assert counts == {
                    "requested": len(req),
                    "deleted": len(want_deleted),
                    "already_deleted": len(want_already),
                    "not_indexed": len(want_unknown),
                }, (step, counts)
                tombstoned |= want_deleted
            elif op == "append":
                new = {next_id, next_id + 1}
                next_id += 2
                for i in new:
                    texts[i] = text_for(i)
                from bdt_enwikisearch_hadoop_spark.functions.index_store import (  # noqa: E501
                    append_tf_index,
                )

                append_tf_index(spark, "t_rng_tf", df_of(new))
                ingested |= new
            elif op == "append_doomed" and tombstoned:
                # a batch carrying a tombstoned id refuses and leaves
                # the store (and the model) untouched
                from bdt_enwikisearch_hadoop_spark.functions.index_store import (  # noqa: E501
                    append_tf_index,
                )

                doomed = rng.choice(sorted(tombstoned))
                fresh = next_id
                texts[fresh] = text_for(fresh)
                with _pytest.raises(ValueError, match="tombstoned id"):
                    append_tf_index(
                        spark, "t_rng_tf", df_of({doomed, fresh})
                    )
                mutated = False  # refusal leaves store + model as-is
            elif op == "compact":
                ncompact += 1
                compact_tf_index(spark, "t_rng_tf",
                                 str(tmp_path / f"rngc{ncompact}"))
                # physical state: ids freed, docs sidecar = live set
                assert (
                    spark.table("t_rng_tf_docs").count()
                    == len(ingested - tombstoned)
                )
                ingested -= tombstoned
                tombstoned = set()
            else:
                mutated = False  # append_doomed with nothing tombstoned
            if mutated:
                check_parity(step)
    finally:
        for t in ("t_rng_tf", "t_rng_tf_docs", "t_rng_tf_tombs",
                  "t_rng_ref", "t_rng_ref_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cross_session_takedown_visibility(spark, tmp_path):
    """A takedown issued by ANOTHER session becomes visible to a
    serving session: session B (its own catalog, its own file-listing
    caches) registers the store from its sidecars and tombstones a
    doc; the serving session A — which had already probed the store
    and gotten a hit — must exclude the doc from its next probe.  The
    tombstone table is discovered from the ``{base}_tombs`` directory
    (A never registered it), which is what makes a takedown effective
    across the fleet without every reader being told."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        delete_from_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        refresh_store,
        register_external_store,
    )

    doc, probe = _boundary_pair(5)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    path = str(tmp_path / "xsess")
    reader_tables = []
    try:
        build_dedup_index(spark, "unused", "t_xs_tomb", path, docs=docs)
        assert [
            r.doc_id
            for r in probe_dedup(spark, "t_xs_tomb", probe).collect()
        ] == [1]
        other = spark.newSession()
        for t, p in (("xs_writer", path),
                     ("xs_writer_sets", f"{path}_sets")):
            register_external_store(other, t, p)
            reader_tables.append(t)
        counts = delete_from_dedup_index(other, "xs_writer", [1])
        assert counts["deleted"] == 1, counts
        # the serving session reopens the reader (the cross-session
        # freshness contract every long-lived server follows) and the
        # takedown is in effect
        refresh_store(spark, "t_xs_tomb", ("", "_sets"))
        assert probe_dedup(spark, "t_xs_tomb", probe).collect() == []
    finally:
        for t in ("t_xs_tomb", "t_xs_tomb_sets", "t_xs_tomb_tombs",
                  "xs_writer", "xs_writer_sets", "xs_writer_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lease_spans_compaction_repoint(spark, tmp_path):
    """Review fix: the write lease anchors at the table's CURRENT
    location, which compact_store repoints mid-lease — so compaction
    lanes hold the lease at BOTH the old and the new base
    (extra_paths), and a writer computing its lock dir from either
    location refuses for the compaction's whole extent.  Pins the
    multi-anchor acquire/release: both markers exist while held, a
    second acquire at either path refuses by holder name, a failed
    later acquire releases the earlier marker, and release frees
    both."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        store_write_lease,
    )

    doc, probe = _boundary_pair(6)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "span1")
    p2 = str(tmp_path / "span2")
    try:
        build_dedup_index(spark, "unused", "t_span_l", p1, docs=docs)
        with store_write_lease(spark, "t_span_l", owner="compactor",
                               extra_paths=(p2,)):
            assert os.path.isdir(f"{p1}_lock")
            assert os.path.isdir(f"{p2}_lock")
            # a writer anchored at EITHER location refuses
            for p in (p1, p2):
                with _pytest.raises(ValueError, match="compactor"):
                    with store_write_lease(spark, "t_span_l"):
                        pass
            # the append lane itself (which computes the lock from the
            # current location) refuses too
            with _pytest.raises(ValueError, match="compactor"):
                append_dedup_index(spark, "t_span_l", docs)
        # release freed both markers
        assert not os.path.exists(f"{p1}_lock")
        assert not os.path.exists(f"{p2}_lock")
        # a failed LATER acquire releases the earlier marker: hold p2
        # externally, acquire with extra_paths=(p2,) must refuse AND
        # leave no marker at p1
        os.mkdir(f"{p2}_lock")
        import json as _json
        import time as _time

        with open(f"{p2}_lock/lease.json", "w") as fh:
            _json.dump({"owner": "other", "token": "t",
                        "ts": _time.time()}, fh)
        with _pytest.raises(ValueError, match="other"):
            with store_write_lease(spark, "t_span_l",
                                   extra_paths=(p2,)):
                pass
        assert not os.path.exists(f"{p1}_lock")
        os.remove(f"{p2}_lock/lease.json")
        os.rmdir(f"{p2}_lock")
        # a real compaction still works end-to-end and leaves no locks
        compact_dedup_index(spark, "t_span_l", p2)
        assert not os.path.exists(f"{p1}_lock")
        assert not os.path.exists(f"{p2}_lock")
        assert [
            r.doc_id
            for r in probe_dedup(spark, "t_span_l", probe).collect()
        ] == [1]
    finally:
        for t in ("t_span_l", "t_span_l_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_build_refuses_live_lease_at_current_location(spark, tmp_path):
    """Review fix: a rebuild to a FRESH path still DROPs the serving
    table, so a live appender working at the table's CURRENT location
    must refuse the rebuild — checking only the target path missed
    exactly the rebuild-to-a-fresh-path discipline the repo itself
    promotes."""
    import json as _json
    import os
    import time as _time

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )

    doc, _ = _boundary_pair(7)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "cur1")
    p2 = str(tmp_path / "cur2")
    try:
        build_dedup_index(spark, "unused", "t_bll_cur", p1, docs=docs)
        os.mkdir(f"{p1}_lock")
        with open(f"{p1}_lock/lease.json", "w") as fh:
            _json.dump({"owner": "live-appender", "token": "t",
                        "ts": _time.time()}, fh)
        with _pytest.raises(ValueError, match="live-appender"):
            build_dedup_index(spark, "unused", "t_bll_cur", p2,
                              docs=docs)
        # stale lease at the current location: cleared, rebuild runs
        with open(f"{p1}_lock/lease.json", "w") as fh:
            _json.dump({"owner": "crashed", "token": "t",
                        "ts": _time.time() - 7200}, fh)
        build_dedup_index(spark, "unused", "t_bll_cur", p2, docs=docs)
        assert spark.table("t_bll_cur_sets").count() == 1
    finally:
        for t in ("t_bll_cur", "t_bll_cur_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reregistration_invalidates_tombstone_memo(spark, tmp_path):
    """Review fix: re-pointing a store NAME at different files must
    drop the memoized 'no tombstones' verdict — otherwise a serving
    session that had probed a deletion-free store would skip the
    takedown anti-join after re-registering the name at a path whose
    _tombs directory records deletions."""
    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        delete_from_dedup_index,
        probe_dedup,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )

    doc, probe = _boundary_pair(8)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "rr1")
    p2 = str(tmp_path / "rr2")
    try:
        # store A (no deletions): probe memoizes 'no tombstones'
        build_dedup_index(spark, "unused", "t_rr_tomb", p1, docs=docs)
        assert [
            r.doc_id
            for r in probe_dedup(spark, "t_rr_tomb", probe).collect()
        ] == [1]
        # store B at p2 with doc 1 tombstoned
        build_dedup_index(spark, "unused", "t_rr_other", p2, docs=docs)
        delete_from_dedup_index(spark, "t_rr_other", [1])
        for t in ("t_rr_tomb", "t_rr_tomb_sets", "t_rr_tomb_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        # re-point the SAME name at p2's files: the takedown applies
        register_external_store(spark, "t_rr_tomb", p2)
        register_external_store(spark, "t_rr_tomb_sets", f"{p2}_sets")
        assert probe_dedup(spark, "t_rr_tomb", probe).collect() == []
    finally:
        for t in ("t_rr_tomb", "t_rr_tomb_sets", "t_rr_tomb_tombs",
                  "t_rr_other", "t_rr_other_sets", "t_rr_other_tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sidecar_nested_field_names_validated(spark, tmp_path):
    """Review fix: _validated_meta must hold the identifier rule at
    EVERY nesting level — simpleString() does not quote nested field
    names, so a crafted name inside a struct would re-emit as
    DIFFERENT schema text than was parsed (two int fields where one
    crafted field went in), defeating the 'safe to interpolate'
    contract while the top-level check passed."""
    import json as _json
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )

    p = str(tmp_path / "nested")
    os.makedirs(p, exist_ok=True)
    with open(f"{p}_meta.json", "w") as fh:
        _json.dump({
            "buckets": 4,
            "bucket_col": "a",
            "schema": "a int, b struct<`x:int,y`:int>",
        }, fh)
    with _pytest.raises(ValueError, match="not a plain SQL identifier"):
        register_external_store(spark, "t_nested_meta", p)
    assert not spark.catalog.tableExists("t_nested_meta")


def test_search_index_refuses_wiped_weighted_store(spark, sf_dir,
                                                   tmp_path):
    """Review fix: search_index (the non-VSM weighted serve lane) gets
    the same wipe guard + manifest cross-check as search_index_vsm — a
    wiped postings directory used to serve zero hits with exit 0,
    the silent-total-loss class every other serve lane refuses."""
    import os
    import shutil

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_index,
        search_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.text_search import (
        QUERY_TERMS,
    )

    path = str(tmp_path / "widx")
    try:
        build_index(spark, sf_dir, "t_wipe_w", path)
        assert search_index(spark, "t_wipe_w", QUERY_TERMS).count() > 0
        # wipe the postings directory, keep norms + manifest sidecars
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            (shutil.rmtree if os.path.isdir(fp) else os.remove)(fp)
        from bdt_enwikisearch_hadoop_spark.functions.index_store import (
            refresh_store,
        )

        refresh_store(spark, "t_wipe_w", ("", "_norms"))
        with _pytest.raises(ValueError, match="wiped or mis-registered"):
            search_index(spark, "t_wipe_w", QUERY_TERMS).collect()
    finally:
        for t in ("t_wipe_w", "t_wipe_w_norms"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corrupt_manifest_and_ledger_are_lane_errors(spark, tmp_path):
    """Review fix: a manifest or superseded-ledger file that exists
    but is not the expected JSON shape must raise the lane-contract
    ValueError (named, CLI exit 2), not a TypeError traceback — and a
    ledger we cannot parse must REFUSE the vacuum rather than risk
    deleting from garbage."""
    import json as _json

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
        search_tf_index,
        table_location,
        vacuum_store,
    )

    docs = spark.createDataFrame(
        [(1, "spark join")], "doc_id long, text string"
    )
    path = str(tmp_path / "cman")
    try:
        build_tf_index(spark, docs, "t_cman_tf", path)
        base = table_location(spark, "t_cman_tf")
        # not-a-list manifest
        with open(f"{base.rstrip('/')}_manifest.json", "w") as fh:
            _json.dump({}, fh)
        with _pytest.raises(ValueError, match="corrupt ingest manifest"):
            search_tf_index(spark, "t_cman_tf", ("spark",)).collect()
        # torn JSON manifest
        with open(f"{base.rstrip('/')}_manifest.json", "w") as fh:
            fh.write('[{"shard_id": "x", "n_ro')
        with _pytest.raises(ValueError, match="corrupt ingest manifest"):
            search_tf_index(spark, "t_cman_tf", ("spark",)).collect()
        # corrupt superseded ledger refuses the vacuum by name
        with open(f"{base.rstrip('/')}_superseded.json", "w") as fh:
            _json.dump([1, 2], fh)
        with _pytest.raises(ValueError,
                            match="corrupt superseded ledger"):
            vacuum_store(spark, "t_cman_tf", min_age_sec=0.0)
    finally:
        for t in ("t_cman_tf", "t_cman_tf_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_failed_removal_stays_in_ledger(spark, tmp_path,
                                               monkeypatch):
    """Review fix: a directory whose deletion FAILS (held handle,
    permissions, transient FS error) must stay in the ledger for a
    future vacuum to retry — dropping it while reporting 'removed'
    leaks the directory forever with a clean report."""
    import os

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        vacuum_store,
    )

    doc, _ = _boundary_pair(9)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "vfl1")
    p2 = str(tmp_path / "vfl2")
    try:
        build_dedup_index(spark, "unused", "t_vfl_d", p1, docs=docs)
        compact_dedup_index(spark, "t_vfl_d", p2)
        import shutil as _shutil

        monkeypatch.setattr(_shutil, "rmtree",
                            lambda *a, **k: None)
        res = vacuum_store(spark, "t_vfl_d", min_age_sec=0.0)
        monkeypatch.undo()
        # nothing actually deleted: everything reported kept, ledger
        # intact, directories still on disk
        assert res["removed"] == [], res
        assert os.path.isdir(p1)
        assert any(p.rstrip("/").endswith("vfl1") for p in res["kept"]), res
        # the retry (real rmtree) succeeds and empties the ledger
        res2 = vacuum_store(spark, "t_vfl_d", min_age_sec=0.0)
        assert any(p.rstrip("/").endswith("vfl1") for p in res2["removed"])
        assert not os.path.exists(p1)
    finally:
        for t in ("t_vfl_d", "t_vfl_d_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_respects_other_database_registration(spark, tmp_path):
    """Review fix: the 'still referenced' set spans EVERY database —
    register_external_store supports dotted db.table names, so an old
    snapshot served under another database must block its directory's
    deletion just like a default-database registration."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
        vacuum_store,
    )

    doc, _ = _boundary_pair(10)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "vdb1")
    p2 = str(tmp_path / "vdb2")
    try:
        build_dedup_index(spark, "unused", "t_vdb_d", p1, docs=docs)
        compact_dedup_index(spark, "t_vdb_d", p2)
        spark.sql("CREATE DATABASE IF NOT EXISTS vac_other_db")
        register_external_store(spark, "vac_other_db.old_snap", p1)
        with _pytest.raises(ValueError, match="CURRENT location"):
            vacuum_store(spark, "t_vdb_d", min_age_sec=0.0)
        spark.sql("DROP TABLE vac_other_db.old_snap")
        res = vacuum_store(spark, "t_vdb_d", min_age_sec=0.0)
        assert any(p.rstrip("/").endswith("vdb1") for p in res["removed"])
    finally:
        for t in ("t_vdb_d", "t_vdb_d_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql("DROP TABLE IF EXISTS vac_other_db.old_snap")
        spark.sql("DROP DATABASE IF EXISTS vac_other_db")


def test_sql_unsafe_path_and_missing_id_column_refused(spark, tmp_path):
    """Review fixes: (a) a store path that cannot sit inside a SQL
    string literal verbatim (quote/backslash/newline) refuses by name
    before any DDL — the no-silent-quoting discipline applied to the
    paths in CREATE/ALTER LOCATION statements, not just the names;
    (b) a takedown ids frame lacking the id column refuses naming the
    lane, instead of a raw AnalysisException downstream."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
    )

    with _pytest.raises(ValueError, match="refusing to interpolate"):
        register_external_store(
            spark, "t_q_path", str(tmp_path / "o'brien")
        )
    doc, _ = _boundary_pair(11)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    path = str(tmp_path / "qdel")
    try:
        build_dedup_index(spark, "unused", "t_q_del", path, docs=docs)
        with _pytest.raises(ValueError, match="refusing to interpolate"):
            compact_dedup_index(spark, "t_q_del",
                                str(tmp_path / "new'path"))
        bad = spark.createDataFrame([(1,)], "wrong_col long")
        with _pytest.raises(
            ValueError, match="delete_from_dedup_index.*doc_id"
        ):
            delete_from_dedup_index(spark, "t_q_del", bad)
    finally:
        for t in ("t_q_del", "t_q_del_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lease_infrastructure_failures_are_clean(spark, tmp_path):
    """Second-review fixes on the lease mechanics: (a) an
    infrastructure failure acquiring a LATER anchor (missing parent
    directory for a yet-to-be-created target) surfaces as the
    lane-contract ValueError AND releases the base marker already
    taken — a leaked lease write-blocks the store for an hour; (b) a
    stray .lease.*.tmp from a crashed claimant no longer wedges
    release into leaving a lease-less marker that refuses every
    acquire as 'mid-acquire'."""
    import json as _json
    import os
    import time as _time

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        store_write_lease,
    )

    doc, _ = _boundary_pair(12)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "infra1")
    try:
        build_dedup_index(spark, "unused", "t_infra_l", p1, docs=docs)
        missing_parent = str(tmp_path / "no" / "such" / "dir" / "t2")
        with _pytest.raises(ValueError,
                            match="cannot create write-lease marker"):
            with store_write_lease(spark, "t_infra_l",
                                   extra_paths=(missing_parent,)):
                pass
        # the base marker was released, store not write-blocked
        assert not os.path.exists(f"{p1}_lock")
        with store_write_lease(spark, "t_infra_l"):
            pass
        # (b) stray tmp file from a crashed claimant: release sweeps it
        with store_write_lease(spark, "t_infra_l"):
            with open(f"{p1}_lock/.lease.deadbeef.tmp", "w") as fh:
                _json.dump({"owner": "crashed", "token": "x",
                            "ts": _time.time()}, fh)
        assert not os.path.exists(f"{p1}_lock")
    finally:
        for t in ("t_infra_l", "t_infra_l_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_build_holds_lease_for_duration(spark, tmp_path):
    """Second-review fix: builds HOLD the write lease (check-then-act
    asserted absence at t0 and then ran minutes of unguarded work).
    Pinned via the mechanism: while a build's lease is held, the
    append lane's acquire refuses by the build's name; after the
    build, the marker is gone and appends proceed."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        append_dedup_index,
        build_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_write_lease,
    )

    doc, _ = _boundary_pair(13)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, doc + " tail")], "doc_id long, text string"
    )
    p1 = str(tmp_path / "bhold")
    try:
        build_dedup_index(spark, "unused", "t_bhold", p1, docs=docs)
        with build_write_lease(spark, "t_bhold", p1, "build_dedup_index"):
            assert os.path.isdir(f"{p1}_lock")
            with _pytest.raises(ValueError, match="build_dedup_index"):
                append_dedup_index(spark, "t_bhold", batch)
        assert not os.path.exists(f"{p1}_lock")
        append_dedup_index(spark, "t_bhold", batch)
        assert spark.table("t_bhold_sets").count() == 2
    finally:
        for t in ("t_bhold", "t_bhold_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_two_phase_and_fail_closed(spark, tmp_path, monkeypatch):
    """Second-review fixes on vacuum: (a) the live-set validation runs
    over EVERY ledger entry BEFORE any deletion — a live entry later
    in the ledger used to abort the loop after earlier entries were
    already rmtree'd, leaving their stale records in a never-rewritten
    ledger (path reuse would then get a live store GC'd); (b) a
    DESCRIBE failure while building the live set REFUSES the vacuum
    (fail closed) instead of silently shrinking the protected set."""
    import os

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions.dedup_store import (
        build_dedup_index,
        compact_dedup_index,
    )
    from bdt_enwikisearch_hadoop_spark.functions import index_store
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        register_external_store,
        vacuum_store,
    )

    doc, _ = _boundary_pair(14)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    p1 = str(tmp_path / "v2p1")
    p2 = str(tmp_path / "v2p2")
    p3 = str(tmp_path / "v2p3")
    try:
        build_dedup_index(spark, "unused", "t_v2p", p1, docs=docs)
        compact_dedup_index(spark, "t_v2p", p2)
        compact_dedup_index(spark, "t_v2p", p3)
        # ledger now [p1, p2] (oldest first); register p2 as a live
        # snapshot so it trips the guard AFTER p1 would have been
        # deleted under the old one-pass loop
        register_external_store(spark, "t_v2p_snap", p2)
        with _pytest.raises(ValueError, match="CURRENT location"):
            vacuum_store(spark, "t_v2p", min_age_sec=0.0)
        # phase-1 discipline: NOTHING was deleted
        assert os.path.isdir(p1) and os.path.isdir(p2)
        spark.sql("DROP TABLE t_v2p_snap")
        # (b) fail closed on a DESCRIBE failure
        real = index_store._describe_meta

        def boom(spark_, name):
            if name.endswith("t_v2p_sets"):
                raise RuntimeError("metastore hiccup")
            return real(spark_, name)

        monkeypatch.setattr(index_store, "_describe_meta", boom)
        with _pytest.raises(ValueError, match="incomplete live set"):
            vacuum_store(spark, "t_v2p", min_age_sec=0.0)
        monkeypatch.undo()
        assert os.path.isdir(p1)
        res = vacuum_store(spark, "t_v2p", min_age_sec=0.0)
        assert not os.path.exists(p1) and not os.path.exists(p2)
        assert len(res["removed"]) >= 2
    finally:
        for t in ("t_v2p", "t_v2p_sets", "t_v2p_snap"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_report_lanes_survive_corrupt_sidecars(spark, tmp_path, capsys):
    """Second-review fixes on the diagnostic lanes: store-report and
    check-store are the tools you run on a store the serve lanes just
    refused — a corrupt manifest or superseded ledger must be
    REPORTED (CORRUPT / ok=False) there, never crash the report with
    a traceback or abort the remaining checks."""
    import json as _json

    from bdt_enwikisearch_hadoop_spark import cli
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        build_tf_index,
        check_store,
        table_location,
    )

    docs = spark.createDataFrame(
        [(1, "spark join")], "doc_id long, text string"
    )
    path = str(tmp_path / "crpt")
    try:
        build_tf_index(spark, docs, "t_crpt_tf", path)
        base = table_location(spark, "t_crpt_tf")
        with open(f"{base.rstrip('/')}_manifest.json", "w") as fh:
            fh.write("{not json")
        with open(f"{base.rstrip('/')}_superseded.json", "w") as fh:
            _json.dump({"not": "a list"}, fh)
        rc = cli.main(["store-report", path, "--table", "t_crpt_tf"])
        out = capsys.readouterr().out
        assert rc == 0
        assert "manifest_shards\tCORRUPT" in out, out
        checks = check_store(spark, "t_crpt_tf", "_docs")
        assert checks["superseded"]["ok"] is False
        assert "corrupt superseded ledger" in checks["superseded"]["detail"]
        # the OTHER checks still reported (the report was not aborted)
        assert "meta_sidecar" in checks and "bucketing" in checks
        assert checks["manifest"]["ok"] is False
    finally:
        for t in ("t_crpt_tf", "t_crpt_tf_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reserved_bare_number_refused():
    """Second-review fix: the reserved-number guard's regex demanded a
    trailing underscore, so registering the BARE number ('c28')
    bypassed the refusal."""
    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.registry import query

    with _pytest.raises(ValueError, match="reserved"):
        query("c28")(lambda spark, sf_dir: None)
    with _pytest.raises(ValueError, match="reserved"):
        query("j41_new_semantics")(lambda spark, sf_dir: None)


def test_store_lifecycle_joint_model(spark, tmp_path, monkeypatch):
    """VERDICT r13 item 5: the FULL store lifecycle model-checked
    JOINTLY — append / delete / compact / vacuum interleaved with
    lease acquisition (live holder refuses, stale crashed holder is
    taken over) and a crash injected between the sidecar write and the
    manifest stamp (every lane then refuses by name until the explicit
    repair-manifest adoption).  Invariant after every NON-REFUSED
    mutation: the served ranking equals a rebuild-from-scratch over
    the pure-Python model's live set; refused ops leave both the store
    and the model untouched (re-checked).  The scripted op order
    guarantees each lifecycle edge fires; the RNG varies the
    payloads."""
    import json
    import os
    import random
    import shutil
    import time as _time

    import pytest as _pytest

    from bdt_enwikisearch_hadoop_spark.functions import index_store
    from bdt_enwikisearch_hadoop_spark.functions.index_store import (
        append_tf_index,
        build_tf_index,
        compact_tf_index,
        delete_from_tf_index,
        repair_manifest,
        search_tf_index,
        table_location,
        vacuum_store,
    )

    rng = random.Random(41)
    words = ["spark", "join", "window", "agg", "filter", "scan"]

    def text_for(i):
        r = random.Random(i * 977)
        return " ".join(r.choice(words) for _ in range(6))

    texts = {i: text_for(i) for i in range(1, 9)}
    ingested = set(range(1, 9))
    tombstoned: set[int] = set()
    next_id = 9
    nref = 0

    def df_of(ids):
        return spark.createDataFrame(
            [(i, texts[i]) for i in sorted(ids)],
            "doc_id long, text string",
        )

    def served(table):
        return [
            [(r.doc_id, r.score)
             for r in search_tf_index(spark, table, (t,),
                                      conjunctive=False).collect()]
            for t in words
        ]

    def check_parity(tag):
        nonlocal nref
        nref += 1
        build_tf_index(spark, df_of(ingested - tombstoned), "t_jm_ref",
                       str(tmp_path / f"jref{nref}"))
        assert served("t_jm_tf") == served("t_jm_ref"), tag

    def fresh_ids(n):
        nonlocal next_id
        new = set(range(next_id, next_id + n))
        next_id += n
        for i in new:
            texts[i] = text_for(i)
        return new

    def lock_dir():
        return table_location(spark, "t_jm_tf").rstrip("/") + "_lock"

    def plant_lease(age_sec):
        d = lock_dir()
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/lease.json", "w") as fh:
            json.dump({"owner": "other-writer", "token": "theirs",
                       "ts": _time.time() - age_sec}, fh)
        return d

    script = [
        "append", "delete", "lease_refuse", "append", "compact",
        "vacuum", "delete", "lease_stale_takeover", "crash_stamp",
        "refuse_then_repair", "append", "compact", "vacuum", "delete",
    ]
    ncompact = 0
    try:
        build_tf_index(spark, df_of(ingested), "t_jm_tf",
                       str(tmp_path / "jm0"))
        for step, op in enumerate(script):
            if op == "append":
                new = fresh_ids(rng.randint(1, 3))
                append_tf_index(spark, "t_jm_tf", df_of(new))
                ingested |= new
            elif op == "delete":
                live = sorted(ingested - tombstoned)
                req = set(rng.sample(live, min(2, len(live))))
                req.add(next_id + 50)  # one unknown id every time
                counts = delete_from_tf_index(spark, "t_jm_tf",
                                              sorted(req))
                want = req & ingested - tombstoned
                assert counts["deleted"] == len(want), (step, counts)
                tombstoned |= want
            elif op == "lease_refuse":
                # a LIVE concurrent writer holds the lease: the append
                # refuses by name and mutates nothing
                d = plant_lease(age_sec=1.0)
                doomed = fresh_ids(1)
                with _pytest.raises(ValueError,
                                    match="write lease held by"):
                    append_tf_index(spark, "t_jm_tf", df_of(doomed))
                shutil.rmtree(d)  # the live holder releases
                # model untouched: the doomed ids never landed
            elif op == "lease_stale_takeover":
                # a CRASHED writer's leftover lease (past stale_sec):
                # the next append takes it over and proceeds
                plant_lease(age_sec=7200.0)
                new = fresh_ids(2)
                append_tf_index(spark, "t_jm_tf", df_of(new))
                ingested |= new
                assert not os.path.exists(lock_dir()), (
                    "takeover must release the adopted lease"
                )
            elif op == "crash_stamp":
                # crash BETWEEN the sidecar write and the manifest
                # stamp: rows are in the store, the manifest doesn't
                # know — actual > manifest from here on
                real = index_store.stamp_manifest

                def boom(*a, **k):
                    raise RuntimeError("injected crash before stamp")

                monkeypatch.setattr(index_store, "stamp_manifest", boom)
                new = fresh_ids(2)
                with _pytest.raises(RuntimeError, match="injected"):
                    append_tf_index(spark, "t_jm_tf", df_of(new))
                monkeypatch.setattr(index_store, "stamp_manifest", real)
                ingested |= new  # the rows DID land; manifest lags
                # the crashed writer's process is gone — a fresh
                # serving/writing session has no consistency memo
                index_store._MANIFEST_OK_MEMO.clear()
                continue  # every lane refuses until repair (next op)
            elif op == "refuse_then_repair":
                with _pytest.raises(ValueError, match="crashed append"):
                    append_tf_index(spark, "t_jm_tf",
                                    df_of(fresh_ids(1)))
                with _pytest.raises(ValueError, match="crashed append"):
                    search_tf_index(spark, "t_jm_tf", ("spark",),
                                    conjunctive=False).collect()
                out = repair_manifest(spark, "t_jm_tf", "_docs")
                assert out["adopted_rows"] == len(ingested)
            elif op == "compact":
                ncompact += 1
                compact_tf_index(spark, "t_jm_tf",
                                 str(tmp_path / f"jmc{ncompact}"))
                ingested -= tombstoned
                tombstoned = set()
                assert (spark.table("t_jm_tf_docs").count()
                        == len(ingested))
            elif op == "vacuum":
                # min_age 0: reclaim every superseded dir immediately;
                # the live location must never be touched
                res = vacuum_store(spark, "t_jm_tf", min_age_sec=0.0)
                assert res["removed"], (step, res)
                for d in res["removed"]:
                    assert not os.path.exists(d), d
                live = table_location(spark, "t_jm_tf")
                assert os.path.exists(live.replace("file:", ""))
            check_parity((step, op))
    finally:
        for t in ("t_jm_tf", "t_jm_tf_docs", "t_jm_tf_tombs",
                  "t_jm_ref", "t_jm_ref_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
