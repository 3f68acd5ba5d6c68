"""Approximate nearest-neighbor search (j13-j14): the scale paths that
replace brute-force vector scans at 100 TB (BASELINE.json:6 similarity
search; j3 is the brute-force baseline these approximate).

Scale notes (100 TB):

* ``j13`` IVF (inverted-file) search: a coarse quantizer (here the
  per-label centroids of j5 — in production, k-means cells) partitions
  the corpus into cells; a query scores the ~k cell centroids (tiny),
  picks ``nprobe`` cells, and scans ONLY those cells' vectors.  With
  the corpus stored partitioned-by-cell, the scan is partition-pruned:
  cost drops from O(N) to O(N · nprobe / n_cells) with no shuffle —
  the candidate scan is a filtered read + per-row fold + top-k heap.
* The quantizer uses the FLOOR-truncated exact-decimal centroids of
  j5, so cell assignment is bit-identical across engines/runs —
  approximate search stays deterministic (a requirement for
  reproducible training-data pipelines).
* ``j14`` winnowing fingerprint: the 1-hash limit of MinHash — one
  md5-min over a doc's shingles — the cheapest content fingerprint
  (linear, map-side only) used for fast candidate blocking before
  exact dedup.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ..registry import query
from ..sources import load, materialized, rebalance
from .llm_pipeline import (
    _SHINGLE_CTE,
    _duck_cos,
    dot,
    j5_label_centroids,
    shingles,
    vec_double,
)

_NPROBE = 3

# DuckDB CTEs: exact-decimal centroids (j5's oracle), probe dims,
# centroid scores, top-nprobe cells.
_IVF_CTES = f"""
    cent AS (
        SELECT label, CAST(t.i - 1 AS INT) AS dim,
               FLOOR(CAST(SUM(CAST(CAST(list_extract(embedding, CAST(t.i AS INT)) AS DOUBLE)
                                  AS DECIMAL(38,15))) AS DOUBLE)
                     / COUNT(*) * 10000) / 10000 AS c
        FROM embeddings, range(1, 65) t(i)
        GROUP BY label, t.i
    ),
    probe AS (
        SELECT CAST(t.i - 1 AS INT) AS dim,
               CAST(list_extract(embedding, CAST(t.i AS INT)) AS DOUBLE) AS p
        FROM embeddings, range(1, 65) t(i)
        WHERE vec_id = 0
    ),
    cellscore AS (
        SELECT label,
               SUM(c * p) / (SQRT(SUM(c * c)) * SQRT(SUM(p * p))) AS cos
        FROM cent JOIN probe USING (dim)
        GROUP BY label
    ),
    cells AS (
        SELECT label FROM cellscore
        QUALIFY ROW_NUMBER() OVER (ORDER BY ROUND(cos, 4) DESC, label) <= {_NPROBE}
    )
"""


_J13_ORACLE = f"WITH {_IVF_CTES}, " + f"""
    pe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = 0),
    scores AS (
        SELECT e.vec_id, {_duck_cos('e.embedding', 'p.pemb')} AS cos
        FROM embeddings e
        JOIN cells USING (label)
        CROSS JOIN pe p
        CROSS JOIN range(1, 65) t(i)
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id
    )
    SELECT vec_id, ROUND(cos, 4) AS score
    FROM scores
    ORDER BY ROUND(cos, 4) DESC, vec_id
    LIMIT 10
    """


def _cell_shortlist(spark, sf_dir) -> DataFrame:
    """(label): the top-nprobe centroid cells for the fixed probe
    (vec_id=0) — score the ~10 cell centroids, keep the best few via
    TakeOrdered (centroid rows are O(n_cells), never a global window
    over data)."""
    emb = load(spark, sf_dir, "embeddings")
    cent = j5_label_centroids(spark, sf_dir)  # (label, dim, centroid) exact
    probe_dims = emb.filter(F.col("vec_id") == 0).select(
        F.posexplode(vec_double(F.col("embedding"))).alias("dim", "p")
    )
    cellscore = (
        cent.join(probe_dims, "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("centroid") * F.col("p"))
                / (
                    F.sqrt(F.sum(F.col("centroid") * F.col("centroid")))
                    * F.sqrt(F.sum(F.col("p") * F.col("p")))
                )
            ).alias("cos")
        )
    )
    return (
        cellscore.orderBy(F.round(F.col("cos"), 4).desc(), F.col("label"))
        .limit(_NPROBE)
        .select("label")
    )


@query("j13_ann_ivf", oracle=_J13_ORACLE)
def j13_ann_ivf(spark, sf_dir) -> DataFrame:
    """IVF approximate top-10 for the fixed probe (vec_id=0): score the
    10 cell centroids, scan only the best {nprobe} cells (module
    docstring — partition-pruned at scale), exact cosine within them."""
    emb = load(spark, sf_dir, "embeddings")
    cells = _cell_shortlist(spark, sf_dir)
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            vec_double(F.col("embedding")).alias("pemb")
        )
    )
    cand = (
        emb.join(F.broadcast(cells), "label")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", vec_double(F.col("embedding")).alias("ve"))
    )
    scored = cand.crossJoin(probe).select(
        "vec_id",
        F.round(
            dot(F.col("ve"), F.col("pemb"))
            / (
                F.sqrt(dot(F.col("ve"), F.col("ve")))
                * F.sqrt(dot(F.col("pemb"), F.col("pemb")))
            ),
            4,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(10)


def assign_ivf_cells(spark, sf_dir) -> DataFrame:
    """(vec_id, embedding, cell): every vector assigned to its nearest
    j5 centroid by cosine — the coarse-quantizer pass that precedes
    writing the corpus partitioned-by-cell.  Deterministic (exact-
    decimal centroids + FLOOR-truncated scores, label tiebreak), so
    the same corpus always lands in the same files."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    cent = j5_label_centroids(spark, sf_dir)  # (label, dim, centroid) — 640 rows
    dims = emb.select(
        "vec_id", F.posexplode(vec_double(F.col("embedding"))).alias("dim", "x")
    )
    scores = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label")
        .agg(
            (
                F.sum(F.col("centroid") * F.col("x"))
                / (
                    F.sqrt(F.sum(F.col("centroid") * F.col("centroid")))
                    * F.sqrt(F.sum(F.col("x") * F.col("x")))
                )
            ).alias("cos")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("cos"), 4).desc(), F.col("label")
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("cell"))
    )
    return emb.select("vec_id", "embedding").join(best, "vec_id")


def build_ivf_store(spark, sf_dir, path: str) -> None:
    """Sink the corpus PARTITIONED BY cell: at 100 TB each IVF cell is
    its own directory, so an nprobe-cell search is a file-level
    partition-pruned scan (PartitionFilters in the scan node) that
    never opens the other cells' files — the storage half of the IVF
    design j13 executes in-plan."""
    assign_ivf_cells(spark, sf_dir).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def search_ivf_store(
    spark, path: str, cells: list[int], probe, k: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k over ONLY the given cells of a partitioned
    store.  ``cells`` is the nprobe centroid shortlist — O(n_cells)
    driver-side values (a bounded, metadata-sized list, NOT a corpus
    collect), inlined as literals so Catalyst prunes partitions at
    plan time."""
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin([int(c) for c in cells])
    )
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    cand = cand.select("vec_id", vec_double(F.col("embedding")).alias("ve"))
    pe = F.broadcast(probe.select(vec_double(F.col("embedding")).alias("pemb")))
    scored = cand.crossJoin(pe).select(
        "vec_id",
        F.round(
            dot(F.col("ve"), F.col("pemb"))
            / (
                F.sqrt(dot(F.col("ve"), F.col("ve")))
                * F.sqrt(dot(F.col("pemb"), F.col("pemb")))
            ),
            4,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


@query("j21_ann_ivf_store", oracle=_J13_ORACLE)
def j21_ann_ivf_store(spark, sf_dir) -> DataFrame:
    """j13's IVF search served from PERSISTED partitionBy(cell)
    storage — the build-once/serve-many layout a real vector corpus
    uses at 100 TB.  ``cell`` is the j5 label cell (the same coarse
    quantizer j13 scans), so the result is bit-identical to j13 and
    shares its oracle; the difference is physical: the candidate scan
    opens ONLY the nprobe cells' files (PartitionFilters — pruning
    physically verified in tests/test_plans.py).  The cell shortlist
    is an O(n_cells) driver-side collect of centroid scores — bounded
    metadata, not corpus data.

    Build-once means build ONCE: the store is written on the first call
    per (session, sf) and every later call serves reads from the existing
    layout — a second invocation does zero store writes (asserted in
    tests/test_plans.py).  The dir is removed at interpreter exit so a
    session doesn't leak a corpus copy in /tmp."""
    import atexit
    import os
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    # keyed by applicationId so concurrent sessions (e.g. a driver run
    # next to a pytest run) never clobber each other's store mid-read
    store = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivf_store_{spark.sparkContext.applicationId}"
        f"_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    # _SUCCESS marks a complete write: a dir without it is a crashed
    # half-write and gets rebuilt rather than served
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        emb.select(
            "vec_id", "embedding", F.col("label").alias("cell")
        ).write.mode("overwrite").partitionBy("cell").parquet(store)
        atexit.register(shutil.rmtree, store, ignore_errors=True)
    cells = [int(r["label"]) for r in _cell_shortlist(spark, sf_dir).collect()]
    probe = emb.filter(F.col("vec_id") == 0)
    return search_ivf_store(spark, store, cells, probe, k=10, exclude_vec_id=0)


# ---------------------------------------------------------------------------
# j22 — random-hyperplane LSH ANN (the third leg of the similarity-search
# surface: j3 brute force, j13/j21 IVF, j22 LSH)
# ---------------------------------------------------------------------------

_LSH_BITS = 16   # signature width
_LSH_BANDS = 4   # 4 bands x 4 bits: candidate iff ANY band bucket matches

#: hex digits with even value — md5-parity coin flip shared by Python
#: (hashlib), Spark SQL and DuckDB (both engines' md5 return the same hex)
_EVEN_HEX = "02468ace"


def _lsh_coefs(nbits: int = _LSH_BITS) -> list[list[float]]:
    """±1 hyperplane coefficients, bit b x dim d, derived from
    md5('lsh{b}_{d}') first-hex-digit parity — deterministic,
    engine-independent, and reproducible from the seed string alone
    (no RNG state to ship to 1000 executors).  j22 uses the first 16
    bits; j78's wide banded signature uses all 64 bits of the same
    family (``_J78_BANDS`` × ``_J78_BAND_BITS`` below — bit b is
    identical whichever width requests it, so the two signatures agree
    on their shared prefix; the oracle re-derives them with md5() IN
    SQL, so the two engines share coefficients by construction, not by
    literal)."""
    return [
        [
            1.0
            if hashlib.md5(f"lsh{b}_{d}".encode()).hexdigest()[0] in _EVEN_HEX
            else -1.0
            for d in range(64)
        ]
        for b in range(nbits)
    ]


#: the full 64-bit coefficient family, computed once at import — rows
#: 0..15 are exactly j22's 16-bit signature (family rows are
#: independent of the requested width).
_COEFS64 = _lsh_coefs(64)


def _coef_sql(b: int) -> str:
    """Bit b's ±1 coefficients as a SQL list literal (64 values)."""
    return "[" + ",".join(
        "1.0" if c > 0 else "-1.0" for c in _COEFS64[b]
    ) + "]"


def _duck_bit(b: int) -> str:
    """DuckDB: bit b's sign as a SEQUENTIAL left-to-right double fold —
    list_reduce folds in list order, the same order as Spark's
    F.aggregate, so the IEEE-double sum (and hence the sign) is
    bit-identical across engines without decimal arithmetic."""
    return (
        f"(list_reduce(list_transform(list_zip(e.embedding, {_coef_sql(b)}),"
        f" z -> CAST(z[1] AS DOUBLE) * z[2]), (a, t) -> a + t) >= 0)"
    )


def _duck_band(g: int, bits: int = 4) -> str:
    """DuckDB: band g's ``bits``-bit bucket value (band g owns signature
    bits [g·bits, (g+1)·bits))."""
    return " + ".join(
        f"(CASE WHEN {_duck_bit(bits * g + i)} THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


_J22_ORACLE = (
    """
    WITH sig AS (
        SELECT e.vec_id, e.embedding,
    """
    + ",\n".join(f"({_duck_band(g)}) AS band{g}" for g in range(_LSH_BANDS))
    + """
        FROM embeddings e
    ),
    probe AS (
        SELECT embedding AS pemb, band0 AS p0, band1 AS p1,
               band2 AS p2, band3 AS p3
        FROM sig WHERE vec_id = 0
    ),
    cand AS (
        SELECT s.vec_id
        FROM sig s, probe p
        WHERE s.vec_id <> 0
          AND (s.band0 = p.p0 OR s.band1 = p.p1
               OR s.band2 = p.p2 OR s.band3 = p.p3)
    ),
    scores AS (
        SELECT e.vec_id, {cos} AS cos
        FROM embeddings e
        JOIN cand USING (vec_id)
        CROSS JOIN probe p
        CROSS JOIN range(1, 65) t(i)
        GROUP BY e.vec_id
    )
    SELECT vec_id, ROUND(cos, 4) AS score
    FROM scores
    ORDER BY ROUND(cos, 4) DESC, vec_id
    LIMIT 10
    """
).format(cos=_duck_cos("e.embedding", "p.pemb"))


#: parsed coefficient-matrix Column per (applicationId, nbits) — the
#: Column is a pure expression tree, so one parse serves every
#: signature invocation of the session (see _coef_matrix_col).  Like
#: _PQ_META/_MATERIALIZED, entries for stopped applications are not
#: evicted: the cache is bounded at one small entry per
#: (application, width) and a CLI/driver process runs one application.
_COEF_COL_CACHE: dict = {}


def _coef_matrix_col(spark, nbits: int):
    """The first ``nbits`` rows of the ±1 coefficient family as ONE
    nested-array literal Column, built from a single SQL string.

    Emitting the matrix as ``F.array(F.array(F.lit(c) …))`` costs one
    py4j round trip per element — 4096 driver calls ≈ 2.4 s rebuilt on
    EVERY invocation at the 64-bit geometry (measured; it dwarfed the
    0.2 s the signature itself executes in).  One ``F.expr`` over a
    pre-rendered ``array(array(…))`` string is a single round trip and
    one parse (~0.8 s), and the parsed Column is a session-independent
    expression tree, so it is cached per (applicationId, nbits) and
    every later invocation pays ~0.  The literal VALUES are unchanged
    — analysis resolves the same nested double-array literal the F.lit
    form produced, so plans, codegen, and results are byte-identical."""
    key = (spark.sparkContext.applicationId, nbits)
    got = _COEF_COL_CACHE.get(key)
    if got is None:
        sql = "array(" + ",".join(
            "array("
            + ",".join(
                "1.0D" if c > 0 else "-1.0D" for c in _COEFS64[b]
            )
            + ")"
            for b in range(nbits)
        ) + ")"
        got = _COEF_COL_CACHE[key] = F.expr(sql)
    return got


def band_signature(
    df: DataFrame,
    vec,
    bands: int = _LSH_BANDS,
    bits_per_band: int = _LSH_BITS // _LSH_BANDS,
    keep: list | None = None,
) -> DataFrame:
    """``keep`` columns + the ``bands`` band-bucket columns of
    ``vec``'s LSH signature (``bands × bits_per_band`` sign bits of the
    shared coefficient family), computed entirely in-row: each sign bit
    is a SEQUENTIAL double fold of ±embedding components (zip_with +
    aggregate — no explode, no shuffle).

    TWO-STEP projection, and that structure is load-bearing: the nbits
    sign bits are computed ONCE per row by a single transform-loop
    expression over a 2-D coefficient literal (one loop the codegen
    compiles once, not nbits inlined fold trees — the 64-expression
    form measured 4.0 s vs 1.0 s for this form at sf0.1), materialized
    as an intermediate array column, and the band buckets then fold
    slices of it (emitting band cols that each re-embed the bit
    expression defeats subexpression elimination and re-pays the whole
    signature per band — measured 5.6 s).

    Cross-engine determinism: the oracle folds the same doubles in the
    same left-to-right order via list_reduce, and IEEE double addition
    is deterministic given the order, so the sign is bit-identical
    without decimal arithmetic (Spark's extra leading 0.0 + x is exact
    for every x).  At throughput scale the same signature is one numpy
    sign(X @ C.T) per Arrow batch — the fold form is the
    oracle-checkable reference semantics."""
    nbits = bands * bits_per_band
    keep = list(keep) if keep is not None else [F.col("vec_id")]
    mat = _coef_matrix_col(df.sparkSession, nbits)
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(nbits)),
        lambda b: F.when(
            F.aggregate(
                F.zip_with(vec, F.element_at(mat, b), lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    weights = F.array(*[F.lit(1 << i) for i in range(bits_per_band)])
    step1 = df.select(*keep, bits.alias("_sig_bits"))
    named = [c for c in step1.columns if c != "_sig_bits"]
    return step1.select(
        *named,
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col("_sig_bits"), g * bits_per_band + 1,
                        bits_per_band,
                    ),
                    weights,
                    lambda b, w: b * w,
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias(f"band{g}")
            for g in range(bands)
        ],
    )


@query("j22_ann_lsh", oracle=_J22_ORACLE)
def j22_ann_lsh(spark, sf_dir) -> DataFrame:
    """Random-hyperplane LSH approximate top-10 for the fixed probe
    (vec_id=0): 16 sign-bit hashes → 4 bands of 4 bits; a vector is a
    candidate iff ANY band bucket equals the probe's, then exact cosine
    + top-k over candidates only.

    100 TB shape: the signature is a narrow zero-shuffle map pass
    (in-row folds, see band_signature), the probe row is a broadcast,
    and the band match prunes the exact-scoring set to ~N/2^4 per band
    — no all-pairs, no corpus shuffle; the only wide op is the final
    TakeOrdered top-k.  At scale the signature columns are written once
    with the corpus (or bucketed by band) so repeated queries skip the
    signature pass entirely — same build-once/serve-many split as
    j21's IVF store."""
    emb = load(spark, sf_dir, "embeddings")
    ve = vec_double(F.col("embedding"))
    sig = band_signature(emb, ve, keep=[F.col("vec_id"), ve.alias("ve")])
    probe = F.broadcast(
        sig.filter(F.col("vec_id") == 0).select(
            F.col("ve").alias("pemb"),
            *[F.col(f"band{g}").alias(f"p{g}") for g in range(_LSH_BANDS)],
        )
    )
    match_any = None
    for g in range(_LSH_BANDS):
        cond = F.col(f"band{g}") == F.col(f"p{g}")
        match_any = cond if match_any is None else (match_any | cond)
    scored = (
        sig.filter(F.col("vec_id") != 0)
        .crossJoin(probe)
        .filter(match_any)
        .select(
            "vec_id",
            F.round(
                dot(F.col("ve"), F.col("pemb"))
                / (
                    F.sqrt(dot(F.col("ve"), F.col("ve")))
                    * F.sqrt(dot(F.col("pemb"), F.col("pemb")))
                ),
                4,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(10)


@query(
    "j14_fingerprint_winnow",
    oracle=f"WITH {_SHINGLE_CTE} "
    """
    SELECT doc_id,
           MIN(md5(shingle)) AS fingerprint,
           COUNT(*) AS n_shingles
    FROM sh
    GROUP BY doc_id
    """,
)
def j14_fingerprint_winnow(spark, sf_dir) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum shingle hash
    per document (MinHash with one family) — a map-side-aggregated,
    fully linear content fingerprint for candidate blocking."""
    sh = shingles(load(spark, sf_dir, "documents"))
    return sh.groupBy("doc_id").agg(
        F.min(F.md5(F.col("shingle"))).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# j35 — IVF-PQ: product-quantized codes + asymmetric distance + re-rank
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64 dims → 8 × 8)
_PQ_SUBDIM = 8
_PQ_CODES = 16  # codebook entries per subspace → 4-bit codes
_PQ_SHORTLIST = 100  # ADC survivors that get the exact re-rank

#: driver-side (codebook, probe, LUT) per (applicationId, sf_dir) —
#: bounded metadata (M×K×subdim + dim + M×K doubles), collected once.
_PQ_META: dict = {}


@query("j35_ann_ivfpq")  # rows-only: PQ codes are a learned/derived
# artifact with no compact SQL form; the exact re-rank IS checkable and
# is property-tested against j13 (recall) in tests/test_properties.py
def j35_ann_ivfpq(spark, sf_dir) -> DataFrame:
    """IVF-PQ approximate top-10 for the fixed probe (vec_id=0) — the
    public Jégou et al. 'Product Quantization for Nearest Neighbor
    Search' construction, Spark-first: coarse cells prune the corpus
    (j13's IVF shortlist), PRODUCT-QUANTIZED 4-bit codes rank the
    surviving cells by asymmetric distance (probe side stays exact,
    database side is 8 codebook lookups per vector), and only the
    ADC shortlist gets the exact-cosine re-rank.

    Determinism without a training loop: codebooks are the subvectors
    of the 16 lowest vec_ids (a fixed, data-derived codebook — the
    fixture mirror of a trained k-means codebook; j29 is the training
    step a production build iterates).  All vectors are L2-normalized
    first so squared-L2 ADC ranks identically to cosine.

    100 TB shape: the codebook is M×K×subdim floats (KB) and the probe
    LUT is M×K floats — both DRIVER-side artifacts (FAISS trains and
    ships its codebook centrally; same bounded-metadata discipline as
    the O(n_cells) nprobe shortlist above), shipped as one broadcast
    row so encode + ADC is ONE narrow map pass over the pruned cells:
    per vector, argmin over K in-row subspace distances per m, LUT
    lookup, running sum — no explode, no join, no window, no shuffle;
    the only wide ops are the two TakeOrdered heaps (shortlist, final
    top-10), each keeping ≤ k rows per task.  In THIS fused
    expression the ADC pass reads the raw vectors anyway (encode and
    rank in one projection), so the candidate's own vector rides its
    heap row to spare a second corpus pass; a true PQ deployment
    persists the ~N×M 4-bit codes at index-build time (the 16×
    compression is why PQ exists: the scan that ranks 100 TB of
    vectors reads ~6 GB of codes), heaps scalar (id, adist) rows, and
    id-joins the shortlist back to the vector store so only
    shortlist×dim bytes of raw vectors are ever fetched for the
    re-rank.  Cell pruning composes in front exactly as in j13
    (partition-pruned at scale)."""
    emb = load(spark, sf_dir, "embeddings")
    cells = _cell_shortlist(spark, sf_dir)

    def normed(df):
        v = vec_double(F.col("embedding"))
        d = df.withColumn("nrm", F.sqrt(dot(v, v)))
        return d.withColumn(
            "ven", F.transform(v, lambda x: x / F.col("nrm"))
        ).drop("nrm")

    # codebook + probe are collected AS SPARK-NORMALIZED doubles so the
    # values are the engine's own; the LUT reproduces the in-row
    # (x-y)² left-to-right fold in Python doubles — identical IEEE ops
    # in identical order, so every distance is bit-equal to the
    # expression form it replaced.  Cached per (session, sf) like every
    # other bounded-metadata artifact: the codebook is a build-time
    # constant, not a per-query read.
    ck = (spark.sparkContext.applicationId, sf_dir)
    cached = _PQ_META.get(ck)
    if cached is None:
        cb_rows = {
            int(r["vec_id"]): list(r["ven"])
            for r in normed(emb.filter(F.col("vec_id") < _PQ_CODES))
            .select("vec_id", "ven")
            .collect()
        }
        # train on whatever rows exist below the id bound (a sparse or
        # filtered corpus yields fewer codes, like the join-based form
        # this replaced — never a KeyError); code index order follows
        # ascending vec_id, the old (d, code_id) window tie-break.
        codes = sorted(cb_rows)
        if not codes:
            raise ValueError("j35: no codebook rows (vec_id < %d) in corpus"
                             % _PQ_CODES)
        cb = [
            [
                cb_rows[k][m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
                for k in codes
            ]
            for m in range(_PQ_M)
        ]
        probe_rows = (
            normed(emb.filter(F.col("vec_id") == 0)).select("ven").collect()
        )
        if not probe_rows:
            raise ValueError("j35: probe row vec_id=0 missing from corpus")
        pv = list(probe_rows[0]["ven"])
        lut = []
        for m in range(_PQ_M):
            psub = pv[m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
            row = []
            for k in range(len(codes)):
                s = 0.0
                for x, y in zip(psub, cb[m][k]):
                    s += (x - y) * (x - y)
                row.append(s)
            lut.append(row)
        cached = _PQ_META[ck] = (cb, pv, lut)
    cb, pv, lut = cached
    n_codes = len(cb[0])

    cand = normed(
        emb.join(F.broadcast(cells), "label").filter(F.col("vec_id") != 0)
    )

    # TWO-STEP like band_signature (one transform loop fills an
    # intermediate distance array; argmin + LUT then read slices of
    # it), with the codebook/LUT/probe arriving as ONE broadcast row
    # rather than inlined literals: an M×K×subdim literal tree costs
    # Catalyst ~1.5 s of ANALYSIS per invocation (measured — the
    # dominant cost at fixture scale, size-independent), while a
    # broadcast row keeps the plan tree tiny and the data identical.
    meta = F.broadcast(
        spark.createDataFrame(
            [
                (
                    [cb[m][k] for m in range(_PQ_M) for k in range(n_codes)],
                    [lut[m][k] for m in range(_PQ_M) for k in range(n_codes)],
                    pv,
                )
            ],
            "_cb array<array<double>>, _lut array<double>, _pe array<double>",
        )
    )
    dists = F.transform(
        F.sequence(F.lit(1), F.lit(_PQ_M * n_codes)),
        lambda i: F.aggregate(
            F.zip_with(
                F.slice(
                    F.col("ven"),
                    ((i - 1) / n_codes).cast("int") * _PQ_SUBDIM + 1,
                    _PQ_SUBDIM,
                ),
                F.element_at(F.col("_cb"), i),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    step1 = cand.crossJoin(meta).select(
        "vec_id", "ven", "_lut", dists.alias("_d")
    )

    # per-subspace code = argmin over the K codeword distances;
    # array_position takes the FIRST minimum, i.e. the lowest code_id —
    # the same tie-break the old orderBy(d, code_id) window applied.
    adist = None
    for m in range(_PQ_M):
        dm = F.slice("_d", m * n_codes + 1, n_codes)
        code = F.array_position(dm, F.array_min(dm)).cast("int")
        term = F.element_at(F.col("_lut"), code + m * n_codes)
        adist = term if adist is None else adist + term

    # the ADC heap carries (vec_id, ven, adist) — the candidate's OWN
    # vector rides along because the fused encode+ADC pass already has
    # it in hand (re-joining the corpus for the re-rank would execute
    # the scan+normalize subtree twice; measured ~2× the key's warm
    # cost), but the CONSTANT columns (_pe, _lut: identical on every
    # row) are dropped before the heap and the probe re-attaches to
    # the 100 survivors via the same one-row meta broadcast.
    # TakeOrdered keeps ≤ shortlist rows per task, so per-task heap
    # memory is shortlist × dim doubles regardless of corpus size; a
    # true PQ deployment scans CODES (no raw vectors in flight) and
    # re-ranks via an id-join against the vector store — that form is
    # the join-back this fused expression deliberately avoids locally.
    shortlist = (
        step1.select("vec_id", "ven", adist.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    return (
        shortlist.crossJoin(meta.select("_pe"))
        .select(
            "vec_id",
            F.round(dot(F.col("ven"), F.col("_pe")), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# j78 — embedding-cosine near-duplicate PAIRS via banded hyperplane LSH
# (the vector-space analogue of j8's MinHash-LSH text near-dedup: band
# collision proposes candidates, exact cosine verifies — never all-pairs)
# ---------------------------------------------------------------------------

_J78_THETA = 0.45  # near-dup threshold; fixture max pairwise cos ~0.60

#: j78 band geometry: 8 bands × 8 bits = all 64 bits of the coefficient
#: family.  8-bit bands give 256 buckets/band, so the uniform-data
#: candidate expectation is L·C(N,2)/2^b = N²/64 pairs vs N²/8 under
#: the old 4×4-bit geometry (measured on the sf0.1 fixture: 72 762
#: candidates vs 459 129 — 6.3× fewer; asserted ≪ all-pairs in
#: tests/test_properties.py).
#:
#: RECALL is the other side of that trade, and the θ regime decides
#: whether any geometry wins: SRP-LSH's per-bit collision probability
#: is p(θ) = 1 − arccos(θ)/π, so an L-band × b-bit signature recalls
#: 1 − (1 − p^b)^L.  At production embedding-dedup thresholds the 8×8
#: geometry's per-pair candidate probability is 0.935 at exactly
#: cos = 0.90, 0.961 at 0.92, and ≥ 0.988 from 0.95 up — so a real
#: duplicate population (θ = 0.9 cut, cosine mass concentrated near 1)
#: recalls ≥ 0.95 with the N²/64 candidate floor, while pairs sitting
#: exactly on the 0.90 boundary are caught at ≈ 0.94.  MEASURED, not
#: just closed-form: planted-pair sets driven through the full
#: guarded_band_pairs path (tests/test_properties.py::
#: test_j78_planted_pair_recall_at_production_theta) measure 0.940 on
#: 300 boundary pairs at cos = 0.90 (closed form 0.935 — the ±1
#: Rademacher family tracks the Gaussian SRP law at d = 64) and 0.977
#: on 300 pairs uniform in cos ∈ [0.90, 1.0].  THIS FIXTURE's θ = 0.45 (its synthetic 64-dim
#: vectors top out at cos ≈ 0.60) sits at a 63.7° angle where
#: p = 0.649 and the amplification exponent ρ = ln p₁ / ln p₂ ≈ 0.63
#: — there, EVERY band geometry is either low-recall or
#: near-quadratic (8×8 measures 0.26 full-corpus / 0.55 stratum
#: recall; the old 4×4 bought 0.51 recall only by generating half of
#: all pairs as candidates).  That is a property of hyperplane LSH,
#: not a tuning miss: below θ ≈ 0.8 the right tools are the exact
#: block-pair grid (j12) or clustering-based SemDeDup (j34), and
#: j80's sampled certification exists precisely to MEASURE the
#: operating recall so a pipeline owner sees which regime they are in
#: before trusting the pair table (its fixture floor is pinned in
#: tests/test_properties.py).  The geometry is a LIBRARY parameter
#: (``_embedding_near_dup_pairs(bands=, bits_per_band=)``): the
#: registered key pins 8×8 so its oracle replicates the exact band
#: predicate, and a production corpus sizes bits_per_band ≈
#: log2(N / target_occupancy) so bucket cardinality GROWS with the
#: corpus and expected occupancy — hence candidate count per vector —
#: stays constant.
_J78_BANDS = 8
_J78_BAND_BITS = 8

#: per-(band, bucket) occupancy cap — the skew guard.  A bucket with
#: more than _BUCKET_CAP members (a degenerate hyperplane cell: e.g.
#: a corpus slice of identical vectors) would contribute O(occ²)
#: within-bucket pairs; above the cap the bucket DEGRADES TO A CHAIN —
#: consecutive members in vec_id order — so its candidate cost is
#: O(occ) while connectivity is preserved: for a bucket of true
#: duplicates every chain edge passes the exact-cosine verify, so j79's
#: component closure still collapses the whole group (dedup needs the
#: component, not the complete pairwise clique).  Fixture maxima are 33
#: (embeddings, sf0.1) and 4 (text bands), so the guard never fires at
#: oracle scale; the adversarial identical-vector test in
#: tests/test_properties.py drives it directly.  Worst-case candidate
#: volume with the guard: O(L·N·CAP) — linear in N.
_BUCKET_CAP = 64


def embedding_band_buckets(
    emb: DataFrame,
    bands: int = _J78_BANDS,
    bits_per_band: int = _J78_BAND_BITS,
) -> DataFrame:
    """Long-form (vec_id, g, bucket) band-bucket table of the embedding
    LSH signature — the input shape :func:`guarded_band_pairs` consumes
    and the occupancy the guard report (j83) audits.  Extracted from
    the pair builder so the report measures EXACTLY the bucket table
    the candidate generator runs on.

    rebalance BEFORE the signature pass: a single-file corpus scan
    otherwise pins the whole sig → bucket chain (the nbits×dim fold per
    row is the CPU-heavy narrow stage) onto ONE task — measured 6.9 s →
    2.5 s warm for the full pair build."""
    ve = vec_double(F.col("embedding"))
    sig = band_signature(rebalance(emb), ve, bands, bits_per_band)
    return sig.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"band{g}") for g in range(bands)])
        ).alias("g", "bucket"),
    )


def guarded_band_pairs(
    bucketed: DataFrame,
    band_cols: list[str],
    id_col: str,
    cap: int = _BUCKET_CAP,
) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from a long-form bucket
    table (one row per (band-key..., member id)) with the occupancy
    skew guard — the SHARED candidate generator of the embedding
    (j78/j79/j80: band_cols=(g, bucket), id=vec_id) and text
    (j8/j32/j72: band_cols=(b, bk), id=doc_id) LSH dedup pipelines.

    * bucket occupancy ≤ ``cap``: the full within-bucket clique
      (equi-join on the band key, id_a < id_b);
    * bucket occupancy > ``cap``: the consecutive-member CHAIN in id
      order — O(occ) edges instead of O(occ²), and for a bucket of
      true duplicates every chain edge survives the exact verify, so
      the component closure (j20/j79) still collapses the whole group.

    The occupancy aggregate and its join back both key on the band
    columns — the SAME key as the clique self-join — so the guard adds
    no new shuffle key; worst-case candidate volume is O(rows·cap)."""
    from pyspark.sql import Window

    occ = bucketed.groupBy(*band_cols).agg(F.count(F.lit(1)).alias("occ"))
    guarded = bucketed.join(occ, list(band_cols))
    small = guarded.filter(F.col("occ") <= cap)
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in band_cols] + [
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    ]
    clique = small.alias("a").join(small.alias("b"), cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    w = Window.partitionBy(*band_cols).orderBy(id_col)
    chain = (
        guarded.filter(F.col("occ") > cap)
        .withColumn("nxt", F.lead(id_col).over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col(id_col).alias("id_a"), F.col("nxt").alias("id_b")
        )
    )
    return clique.unionAll(chain).distinct()


def _duck_seq_dot(a: str, b: str) -> str:
    """DuckDB sequential left-to-right double dot product — list_reduce
    folds in list order, the same order as Spark's F.aggregate, so the
    IEEE sum is bit-identical across engines (Spark's extra leading
    0.0 + x is exact for every x)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),"
        f" (acc, x) -> acc + x)"
    )


def _j78_ctes() -> str:
    """The shared j78/j79/j80 CTE chain over the full embeddings table:
    signature (+ per-vector norm, computed ONCE) → per-(band, bucket)
    occupancy → guarded band-collision candidates (all-pairs below
    _BUCKET_CAP, consecutive-chain above it) → exact cosine → verified
    pair list (j78 reports it; j79 closes it transitively; j80 filters
    its pairs to the sampled stratum next to the exact ground truth).
    Always over the full embeddings table — built once into the
    module-level _J78_CTES."""
    band_case = "CASE t.g " + " ".join(
        f"WHEN {g} THEN band{g}" for g in range(_J78_BANDS)
    ) + " END"
    return (
        f"""
    sig AS (
        SELECT e.vec_id, e.embedding,
               SQRT({_duck_seq_dot('e.embedding', 'e.embedding')}) AS nrm,
    """
        + ",\n".join(
            f"({_duck_band(g, _J78_BAND_BITS)}) AS band{g}"
            for g in range(_J78_BANDS)
        )
        + f"""
        FROM embeddings e
    ),
    bkt AS (
        SELECT vec_id, CAST(t.g AS INT) AS g, ({band_case}) AS bucket
        FROM sig CROSS JOIN range(0, {_J78_BANDS}) t(g)
    ),
    occ AS (
        SELECT g, bucket, COUNT(*) AS occ FROM bkt GROUP BY g, bucket
    ),
    bkt2 AS (
        SELECT b.vec_id, b.g, b.bucket, o.occ,
               LEAD(b.vec_id) OVER (
                   PARTITION BY b.g, b.bucket ORDER BY b.vec_id
               ) AS nxt
        FROM bkt b JOIN occ o USING (g, bucket)
    ),
    cand AS (
        SELECT DISTINCT ia, ib FROM (
            SELECT a.vec_id AS ia, b.vec_id AS ib
            FROM bkt2 a JOIN bkt2 b
              ON a.g = b.g AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
            WHERE a.occ <= {_BUCKET_CAP} AND b.occ <= {_BUCKET_CAP}
            UNION ALL
            SELECT vec_id AS ia, nxt AS ib
            FROM bkt2
            WHERE occ > {_BUCKET_CAP} AND nxt IS NOT NULL
        )
    ),
    scored AS (
        SELECT c.ia, c.ib,
               {_duck_seq_dot('a.embedding', 'b.embedding')}
                   / (a.nrm * b.nrm) AS cos
        FROM cand c
        JOIN sig a ON a.vec_id = c.ia
        JOIN sig b ON b.vec_id = c.ib
    ),
    pairs AS (
        SELECT ia, ib, cos FROM scored WHERE cos >= {_J78_THETA}
    )
    """
    )


_J78_CTES = _j78_ctes()

_J78_ORACLE = f"""
    WITH {_J78_CTES}
    SELECT ia, ib, ROUND(cos, 4) AS score
    FROM pairs
    ORDER BY ia, ib
    """


@query("j78_embedding_near_dup", oracle=_J78_ORACLE)
def j78_embedding_near_dup(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= {theta}) with
    banded random-hyperplane LSH candidates: two vectors are a
    candidate iff ANY of the 8 band buckets (8 sign bits each — all 64
    bits of j22's coefficient family) collide; only candidates get the
    exact-cosine verify.

    This closes the dedup-method matrix next to j1 (exact hash), j8
    (MinHash-LSH on shingles), j9 (SimHash) and j2 (n-gram Jaccard):
    the semantic/embedding-space near-dup that catches paraphrases
    exact text hashing cannot.

    100 TB shape: the signature is a narrow zero-shuffle map pass; the
    candidate generator is ONE shuffle on (band, bucket) — ~N·8 rows of
    (int, int) keys — followed by a pair-distinct; the exact verify
    joins the (small) candidate pair list back to the corpus on vec_id
    (shuffle-free when the corpus is bucketed by vec_id, j21's store
    layout).  The within-bucket blowup is bounded twice: 8-bit bands
    keep expected occupancy at N/256 per bucket (candidates ≈ N²/64
    on uniform data — measured 6.3× below the old 4×4-bit geometry,
    asserted ≪ all-pairs in tests/test_properties.py), and the
    _BUCKET_CAP occupancy guard degrades any degenerate bucket to a
    consecutive-member chain (O(occ) edges, connectivity preserved for
    j79's closure), capping worst-case candidate volume at O(L·N·CAP).
    A production corpus additionally grows bits_per_band with log2(N)
    (see _J78_BANDS) so expected occupancy stays constant.  The oracle
    replicates the band predicate AND the guard, so the check is exact
    equivalence of the approximate operator, not a recall claim —
    recall certification against exact ground truth is j80's job
    (j72's sampled-stratum pattern on the embedding side)."""
    pairs = embedding_near_dup_pair_table(spark, sf_dir)
    return pairs.select(
        "ia", "ib", F.round(F.col("cos"), 4).alias("score")
    ).orderBy("ia", "ib")


def embedding_bucket_table(spark, sf_dir: str) -> DataFrame:
    """MATERIALIZED (vec_id, g, bucket) band-bucket table at the pinned
    8×8 geometry — the 64-bit signature fold runs ONCE per session and
    both consumers read the result: the pair builder's candidate
    self-join and the j83 occupancy audit."""
    return materialized(
        spark,
        sf_dir,
        "embedding_band_buckets",
        lambda: embedding_band_buckets(load(spark, sf_dir, "embeddings")),
    )


def embedding_near_dup_pair_table(spark, sf_dir: str) -> DataFrame:
    """MATERIALIZED verified embedding near-dup pair table (ia, ib,
    cos) — built once per (session, scale factor), served to j78 (pair
    report) and j79 (component closure), same build-once/serve-many
    boundary as the text-side ``lsh_pair_table``."""
    return materialized(
        spark,
        sf_dir,
        "embedding_near_dup_pairs",
        lambda: _embedding_near_dup_pairs(spark, sf_dir),
    )


def _embedding_near_dup_pairs(
    spark,
    sf_dir,
    bands: int = _J78_BANDS,
    bits_per_band: int = _J78_BAND_BITS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """(ia, ib, cos): verified embedding near-dup pairs — guarded
    band-collision candidates, pair-distinct, exact-cosine verify at θ
    (j78's body, shared with j79's component closure; j80 certifies the
    MATERIALIZED output of this function, and the adversarial /
    planted-pair property tests drive it directly via ``emb``).

    The band geometry is a parameter: the registered keys pin
    ``_J78_BANDS × _J78_BAND_BITS`` (8×8 — see the constants' rationale)
    so their oracles replicate the exact predicate; a production corpus
    sizes ``bits_per_band ≈ log2(N / target_occupancy)``.

    Candidate generation is occupancy-guarded (the skew guard j8's text
    pipeline shares): per-(band, bucket) counts are joined back to the
    bucket table — the SAME (g, bucket) key as the self-join, so the
    exchange is reused — and a bucket above ``_BUCKET_CAP`` emits only
    the consecutive-member chain in vec_id order (O(occ) edges, the
    connectivity j79 needs) instead of its O(occ²) clique.

    Two measured plan decisions (sf0.1, 2 000 vectors):

    * per-vector norms are computed ONCE in the vector pass and joined
      alongside the vectors, so the per-candidate verify is a single
      dot fold instead of three (the 2/3 cut that keeps the verify
      from dominating the candidate join);
    * the candidate table is REBALANCED before the vectors attach —
      AQE coalesces the pair-distinct output by its (int, int) byte
      size to a few partitions, but the next projection widens every
      row by 2×64 doubles, so without the explicit round-robin the
      whole verify runs ~3-wide on a 32-core cluster (measured 9.5 s
      → 1.6 s warm at the old 4×4 geometry)."""
    if emb is None:
        emb = load(spark, sf_dir, "embeddings")
        # fixture path: the signature/bucket pass is a session-shared
        # materialized artifact (the pair builder and the j83 audit
        # read the same table instead of each re-paying the
        # nbits×dim-fold signature stage)
        buckets = embedding_bucket_table(spark, sf_dir)
    else:
        buckets = embedding_band_buckets(emb, bands, bits_per_band)
    ve = vec_double(F.col("embedding"))
    vecs = emb.select(
        "vec_id",
        ve.alias("v"),
        F.sqrt(dot(ve, ve)).alias("nrm"),
    )
    cand = guarded_band_pairs(buckets, ["g", "bucket"], "vec_id").select(
        F.col("id_a").alias("ia"), F.col("id_b").alias("ib")
    )
    ea = vecs.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    eb = vecs.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # NO broadcast hint on ea/eb: they are CORPUS-sized (every vector +
    # its norm) — a forced broadcast is an OOM at any corpus beyond
    # executor memory.  Locally AQE broadcasts them anyway (the
    # embeddings table is far under the auto-broadcast threshold); at
    # 100 TB the candidate list joins back to the vec_id-bucketed
    # corpus shuffle-free, exactly as the docstring states.
    return (
        rebalance(cand)
        .join(ea, "ia")
        .join(eb, "ib")
        .withColumn(
            "cos",
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos") >= F.lit(_J78_THETA))
        .select("ia", "ib", "cos")
    )


@query(
    "j79_embedding_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_J78_CTES},
    edges AS (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    )
    SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def j79_embedding_dedup_components(spark, sf_dir) -> DataFrame:
    """SemDeDup-style keeper selection over the j78 embedding near-dup
    pair graph: connected components by min-label propagation to a
    fixed point, so a paraphrase CHAIN (A≈B≈C with A,C below θ)
    still collapses to one representative — the embedding-space twin of
    j20's text-shingle closure, completing the j78 pipeline the way
    j32 completes j8's.

    100 TB shape: the edge set (verified near-dup pairs) is orders of
    magnitude smaller than the corpus; the iteration is j20's pointer-
    doubled min-propagation (Kiveris et al. hash-to-min family) with
    per-round localCheckpoint lineage truncation — cost scales with
    |edges|, never corpus size.  The oracle is the same closure as a
    DuckDB recursive CTE over the identical band-candidate pair SQL."""
    from .llm_scale import _connected_components

    pairs = embedding_near_dup_pair_table(spark, sf_dir)
    edges = pairs.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    labels, _rounds = _connected_components(edges)
    return labels.select(F.col("node").alias("vec_id"), "component")


# ---------------------------------------------------------------------------
# j80 — SAMPLED-STRATUM embedding-LSH recall certification (j72's pattern
# applied to the vector side: j78's oracle proves band-predicate
# equivalence; THIS key measures recall against exact ground truth at a
# cost a 100 TB pipeline can afford)
# ---------------------------------------------------------------------------

#: deterministic ~25% vector stratum by vec_id content hash — j72's
#: sampler on the embedding corpus.  A PAIR survives iff BOTH endpoints
#: land in the stratum, so stratum pair counts are unbiased 1/16
#: estimators of full-corpus pair counts (Horvitz-Thompson).  The
#: stratum rate lives in exactly TWO symbols — _STRATUM_HEX (both
#: predicate spellings) and _J80_INV_PAIR — change them together.
_STRATUM_HEX = ("0", "1", "2", "3")
_J80_INV_PAIR = 16  # 1 / (0.25 * 0.25)


def _j80_pred(col: str) -> str:
    """SQL spelling of the stratum predicate on an arbitrary column."""
    quoted = ",".join(f"'{h}'" for h in _STRATUM_HEX)
    return f"substr(md5(CAST({col} AS VARCHAR)), 1, 1) IN ({quoted})"


def _j80_pred_col(col):
    """Column spelling of the same predicate (shared by the stratum
    loader and j80's pair-endpoint filters, so the rate can never
    drift between Spark call sites)."""
    return F.substring(F.md5(col.cast("string")), 1, 1).isin(*_STRATUM_HEX)


#: the certified artifact is the PRODUCTION pair table (full-corpus
#: CTE chain — geometry, occupancy cap, verify — exactly as j78 ships
#: it), restricted to pairs whose BOTH endpoints fall in the stratum;
#: the exact side is the stratum's all-pairs ground truth.
_J80_ORACLE = f"""
    WITH {_J78_CTES},
    spairs AS (
        SELECT ia, ib FROM pairs
        WHERE {_j80_pred('ia')} AND {_j80_pred('ib')}
    ),
    exact_pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               {_duck_seq_dot('a.embedding', 'b.embedding')}
                   / (a.nrm * b.nrm) AS cos
        FROM sig a JOIN sig b ON a.vec_id < b.vec_id
        WHERE {_j80_pred('a.vec_id')} AND {_j80_pred('b.vec_id')}
    )
    SELECT
      CAST((SELECT COUNT(*) FROM exact_pairs WHERE cos >= {_J78_THETA})
           AS BIGINT) AS n_exact_stratum,
      CAST((SELECT COUNT(*) FROM spairs) AS BIGINT) AS n_found_stratum,
      CASE WHEN (SELECT COUNT(*) FROM exact_pairs
                 WHERE cos >= {_J78_THETA}) = 0
           THEN 1.0
           ELSE ((SELECT COUNT(*) FROM spairs) * 10000
                 // (SELECT COUNT(*) FROM exact_pairs
                     WHERE cos >= {_J78_THETA})) / 10000.0
      END AS recall,
      CAST((SELECT COUNT(*) FROM exact_pairs WHERE cos >= {_J78_THETA})
           * {_J80_INV_PAIR} AS BIGINT) AS est_full_pairs
    """


def _j80_stratum_emb(spark, sf_dir) -> DataFrame:
    """The ~25% embedding stratum (content-hashed on vec_id — identical
    membership on any engine/partitioning).  Unmemoized so the plan
    guard can assert every embeddings scan below the certification's
    joins carries the stratum predicate."""
    return load(spark, sf_dir, "embeddings").filter(
        _j80_pred_col(F.col("vec_id"))
    )


def _j80_exact_stratum_pairs(spark, sf_dir) -> DataFrame:
    """(ia, ib, cos) for EVERY stratum pair — the exact all-pairs
    ground truth, affordable precisely because the quadratic join
    touches only stratum vectors (~1/16 of the full pair work; at
    100 TB this is the only place an embedding all-pairs ever runs).
    The cosine is the identical norms-precomputed sequential-dot form
    the j78 verify uses, so LSH-found and exact pairs agree bit-for-bit
    at the θ boundary."""
    vs = _j80_stratum_emb(spark, sf_dir)
    ve = vec_double(F.col("embedding"))
    vecs = vs.select(
        "vec_id", ve.alias("v"), F.sqrt(dot(ve, ve)).alias("nrm")
    )
    # rebalance the STREAM side: the nested-loop pair join parallelizes
    # by the left side's partitions, and a single-file stratum scan
    # would otherwise run the |stratum|²/2 cosine folds one task wide.
    a = rebalance(
        vecs.select(
            F.col("vec_id").alias("ia"), F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
    )
    b = vecs.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )


@query("j80_embedding_lsh_recall_sampled", oracle=_J80_ORACLE)
def j80_embedding_lsh_recall_sampled(spark, sf_dir) -> DataFrame:
    """j78's SHIPPED near-dup pair table restricted to a deterministic
    ~25% vector stratum NEXT TO the stratum's exact all-pairs ground
    truth, reporting the stratum recall at θ and the
    inverse-probability (Horvitz-Thompson) extrapolation of the
    full-corpus near-dup pair count — the embedding-side twin of j72's
    text-LSH certification, and the key that turns j78's 'oracle
    proves predicate equivalence' into a measured recall number a
    pipeline owner can gate on.

    100 TB shape: the exact side is quadratic ONLY in the stratum
    (P(pair survives) = 1/16 — the knob that makes ground truth
    affordable at any corpus size); the LSH side is the PRODUCTION
    pair table itself (j78's materialized artifact — geometry, skew
    cap, verify, exactly as shipped) restricted to pairs with both
    endpoints in the stratum.  Certifying the shipped table, rather
    than re-running LSH on a stratum-sized corpus, measures the recall
    of the run that downstream dedup actually consumed — including
    whatever the occupancy cap did at full-corpus bucket load — and
    costs one filter over the checkpoint instead of a second full
    build.  (Signatures are per-vector, so candidate collisions among
    stratum members are identical either way; only cap decisions can
    differ, and the production table's decisions are the ones worth
    certifying.)  Determinism: content-hashed stratum, sequential-fold
    cosines shared with the oracle, BIGINT counts, floor-division
    recall at 4dp."""
    lsh = embedding_near_dup_pair_table(spark, sf_dir).filter(
        _j80_pred_col(F.col("ia")) & _j80_pred_col(F.col("ib"))
    )
    exact = materialized(
        spark,
        sf_dir,
        "stratum_embedding_exact",
        lambda: _j80_exact_stratum_pairs(spark, sf_dir),
    )
    n_exact = exact.filter(F.col("cos") >= _J78_THETA).agg(
        F.count(F.lit(1)).alias("n_exact_stratum")
    )
    n_found = lsh.agg(F.count(F.lit(1)).alias("n_found_stratum"))
    return (
        n_exact.crossJoin(n_found)
        .select(
            "n_exact_stratum",
            "n_found_stratum",
            # a zero-duplicate stratum is a PERFECT run, not a failed
            # one: recall degenerates to 1.0 (found ⊆ exact forces
            # found = 0 too), so a pipeline gate on recall ≥ x never
            # fires on a clean corpus.
            # 1.0D / the double division keep the column DOUBLE — bare
            # float literals inside Spark SQL text are DECIMAL.
            F.expr(
                "CASE WHEN n_exact_stratum = 0 THEN 1.0D"
                " ELSE CAST(n_found_stratum * 10000 DIV n_exact_stratum"
                " AS DOUBLE) / 10000.0D END"
            ).alias("recall"),
            (F.col("n_exact_stratum") * _J80_INV_PAIR)
            .cast("long")
            .alias("est_full_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Shared delta-dedup machinery (j84 text / j85 embedding): ONE batch
# predicate family and ONE greedy-pairwise decision fold, parameterized
# by seed and id column so the two modalities can never fork semantics.
# ---------------------------------------------------------------------------

#: deterministic ~25% "new batch" hex bucket — shared by every delta
#: seed (the seed string, not the bucket set, keeps batches independent)
_BATCH_HEX = ("0", "1", "2", "3")


def batch_pred_col(col, seed: str):
    """Column spelling of the hash-batch membership predicate."""
    return F.substring(
        F.md5(F.concat(F.lit(seed), col.cast("string"))), 1, 1
    ).isin(*_BATCH_HEX)


def batch_pred_sql(col: str, seed: str) -> str:
    """SQL spelling of the SAME predicate (oracle side)."""
    quoted = ",".join(f"'{h}'" for h in _BATCH_HEX)
    return (
        f"substr(md5('{seed}' || CAST({col} AS VARCHAR)), 1, 1)"
        f" IN ({quoted})"
    )


def delta_dedup_decisions(
    universe: DataFrame,
    id_name: str,
    dup: DataFrame,
    a_col: str,
    b_col: str,
    seed: str,
) -> DataFrame:
    """(id, decision, dup_of) greedy-pairwise delta-dedup decisions —
    the SHARED body of j84 (text) and j85 (embedding).  ``universe``
    is the full id domain, ``dup`` the verified near-dup pair list;
    every batch member (hash-batch predicate on ``seed``) is dropped
    behind its min corpus partner, else its min smaller-id batch
    partner, else kept — each decision computable from the item's own
    candidate probes alone (the streamable property; transitive
    closure stays the batch job, j20/j79)."""

    def pred(c):
        return batch_pred_col(c, seed)

    edges = dup.select(
        F.col(a_col).alias("d"), F.col(b_col).alias("p")
    ).unionAll(
        dup.select(F.col(b_col).alias("d"), F.col(a_col).alias("p"))
    )
    agg = (
        edges.filter(pred(F.col("d")))
        .groupBy("d")
        .agg(
            F.min(F.when(~pred(F.col("p")), F.col("p"))).alias("corpus_dup"),
            F.min(
                F.when(
                    pred(F.col("p")) & (F.col("p") < F.col("d")),
                    F.col("p"),
                )
            ).alias("batch_dup"),
        )
    )
    new_items = universe.select(id_name).filter(pred(F.col(id_name)))
    return (
        new_items.join(agg, F.col(id_name) == F.col("d"), "left")
        .select(
            id_name,
            F.when(F.col("corpus_dup").isNotNull(), "drop_corpus_dup")
            .when(F.col("batch_dup").isNotNull(), "drop_batch_dup")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("corpus_dup", "batch_dup").alias("dup_of"),
        )
        .orderBy(id_name)
    )


def delta_decisions_sql(
    seed: str, universe: str, id_col: str, dup_select: str
) -> str:
    """The oracle-side twin of :func:`delta_dedup_decisions`:
    CTE chunk + final SELECT, given a ``dup_select`` yielding columns
    (a, b).  Shared by j84's and j85's oracles so the two engines AND
    the two modalities all share one spelling of the semantics."""

    def pred(c):
        return batch_pred_sql(c, seed)

    return f"""
    dup AS ({dup_select}),
    edges AS (
        SELECT a AS d, b AS p FROM dup
        UNION ALL
        SELECT b, a FROM dup
    ),
    agg AS (
        SELECT d,
               MIN(CASE WHEN NOT {pred('p')} THEN p END) AS corpus_dup,
               MIN(CASE WHEN {pred('p')} AND p < d THEN p END) AS batch_dup
        FROM edges
        WHERE {pred('d')}
        GROUP BY d
    )
    SELECT {id_col},
           CASE WHEN corpus_dup IS NOT NULL THEN 'drop_corpus_dup'
                WHEN batch_dup IS NOT NULL THEN 'drop_batch_dup'
                ELSE 'keep' END AS decision,
           COALESCE(corpus_dup, batch_dup) AS dup_of
    FROM {universe}
    LEFT JOIN agg ON agg.d = {universe}.{id_col}
    WHERE {pred(f'{universe}.{id_col}')}
    ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# j85 — incremental (delta) EMBEDDING dedup: j84's decision shape on the
# vector side, over the same materialized pair table j78/j79 serve from
# ---------------------------------------------------------------------------

#: j85's batch seed ('nbe:' — independent of j80's certification
#: stratum and j84's text batch 'nb:')
_NBE_SEED = "nbe:"


def _nbe_pred_col(col):
    return batch_pred_col(col, _NBE_SEED)


_J85_ORACLE = f"""
    WITH {_J78_CTES},
    {delta_decisions_sql(
        _NBE_SEED, "embeddings", "vec_id",
        "SELECT ia AS a, ib AS b FROM pairs",
    )}
    """


@query("j85_incremental_embedding_dedup", oracle=_J85_ORACLE)
def j85_incremental_embedding_dedup(spark, sf_dir) -> DataFrame:
    """j84's incremental-dedup decision shape on the EMBEDDING side,
    completing the delta-dedup matrix (text MinHash / vector cosine):
    a deterministic ~25% of vectors plays the new batch; each new
    vector is dropped if a verified cosine-≥θ near-dup already exists
    in the corpus (min partner recorded), dropped behind a smaller-id
    batch near-dup, else kept.  The same greedy-pairwise rule — every
    decision computable from the vector's own candidate probes alone —
    keeps the delta job streamable; j79's transitive closure remains
    the batch-job semantics.

    100 TB shape: identical to j84's — the delta run signs ONLY the
    new batch (one zero-shuffle fold pass), probes the persisted
    band-bucket index (j21's store layout on (g, bucket)) and verifies
    against the vec_id-keyed corpus store; locally the probe + verify
    stages are served pre-composed from the materialized verified pair
    table (embedding_near_dup_pair_table — the same artifact j78/j79
    read), which is decision-equivalent because the band predicate and
    verify are identical on both sides of the batch boundary."""
    return delta_dedup_decisions(
        load(spark, sf_dir, "embeddings"),
        "vec_id",
        embedding_near_dup_pair_table(spark, sf_dir),
        "ia",
        "ib",
        _NBE_SEED,
    )
