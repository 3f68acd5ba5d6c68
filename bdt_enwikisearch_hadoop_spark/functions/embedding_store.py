"""Persisted embedding near-dup index + ONLINE probe — dedup_store's
build-once/serve-many pattern on the VECTOR side, completing j85's
incremental story the way dedup_store completes j84's: an ingestion
service asks "is this vector a near-duplicate of anything already
ingested?" by banding ONLY the probe vector (pure-Python, driver-side —
one signature fold, no job) and reading the probe's |bands| bucket rows
from the persisted hyperplane-band index, then exact-cosine-verifying
the handful of candidates against the persisted vector sidecar.  The
corpus is never rescanned per probe.

Two tables per index:

* ``{table}``       — (vec_id, g, bucket) band-bucket rows at the
  pinned 8×8 SRP geometry (ann.py's ``_J78_BANDS × _J78_BAND_BITS``),
  bucketed + sorted by ``bucket`` so a probe's lookup is a
  bucket-pruned read (``SelectedBucketsCount: |bands| out of n``)
  instead of a scan;
* ``{table}_vecs``  — (vec_id, v array<double>, nrm) the widened
  vectors + L2 norms for the exact-cosine verify — the SAME
  (vector, norm) projection the batch pair builder computes, persisted
  (j21's store discipline on the embedding side).

Cross-engine derivation contract (dedup_store.py:20's discipline,
applied to ann.py's banding): the probe's Python signature fold MUST be
bit-identical to the corpus-side Spark banding — same ±1 md5-parity
coefficient family (``_COEFS64``), same sequential left-to-right IEEE
double fold starting at 0.0, same ``Σ bitᵢ·2ⁱ`` bucket packing — pinned
by a property test that recomputes EVERY fixture vector's band set in
Python and compares it against the Spark bucket table, and by a
decision-level pin: per-vector probe decisions over a corpus-only index
equal j85's batch-delta decisions for the same vectors.

Equivalence domain: the batch pair table's candidates pass through the
``_BUCKET_CAP`` occupancy guard (a >cap bucket degrades to a chain);
the probe reads ALL members of its buckets.  The two coincide exactly
while no bucket exceeds the cap (fixture max occupancy 33 < 64; the
guard state is observable via j83 / the CLI ``audit`` lane) — past the
cap the probe is strictly MORE complete than the batch table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sources import load
from .ann import (
    _COEFS64,
    _J78_BAND_BITS,
    _J78_BANDS,
    _J78_THETA,
    embedding_band_buckets,
    embedding_bucket_table,
)
from .index_store import (
    SegmentedStore,
    assert_manifest_consistent,
    assert_sidecar_populated,
    build_write_lease,
    clear_tombstones,
    reset_manifest,
    segmented_append,
    segmented_compact,
    segmented_delete,
    tombstones_df,
    write_store_meta,
)
from .llm_pipeline import dot, vec_double


def _vec_sidecar(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) — the widened-vector + norm projection the
    batch pair builder (`_embedding_near_dup_pairs`) computes, so the
    probe's verify runs over byte-identical doubles."""
    ve = vec_double(F.col("embedding"))
    return emb.select(
        "vec_id", ve.alias("v"), F.sqrt(dot(ve, ve)).alias("nrm")
    )


def _assert_ingestable(emb: DataFrame, what: str) -> None:
    """Ingest hygiene gate: refuse vectors the index cannot serve.
    Four poison classes: NULL vectors/components (every predicate —
    banding, verify cosine — goes NULL and null-filters away as a
    silent "no duplicate"), NON-FINITE components (a NaN cosine "matches"
    every future probe — Spark SQL orders NaN ABOVE everything, so
    ``NaN >= θ`` is TRUE), ALL-ZERO vectors (norm 0 makes every
    colliding probe's cosine a division by zero — a hard
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode, so one degenerate
    row would crash every probe that lands in its buckets), and
    WRONG-DIMENSION vectors (``zip_with`` against the 64-component
    coefficient arrays null-pads, so the banding silently mis-buckets
    the row and the verify's dot comes back NULL — which ``>= θ``
    filters out as a silent "no duplicate"; the mirror of the probe's
    explicit dimension raise).

    Deliberately a SEPARATE validation pass over the batch being
    ingested rather than a raise_error column riding the writes: the
    gate must fail BEFORE the first table write (the band table writes
    first — an in-write error would leave a half-ingested store), and
    it names the offending vec_ids.  Batch-sized for appends; one
    corpus-sized read for a full build (j43's dq-constraint discipline
    applied to the store boundary)."""
    ve = vec_double(F.col("embedding"))
    # NULL first, explicitly: every other predicate evaluates to NULL
    # on a NULL array or NULL component (exists with no TRUE element,
    # size(NULL)), and filter() DROPS null predicates — without this
    # clause the nullish rows would be exactly the ones that slip
    # through the gate
    nullish = F.col("embedding").isNull() | F.exists(
        ve, lambda x: x.isNull()
    )
    nonfinite = F.exists(
        ve, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    zero = ~F.exists(ve, lambda x: x != 0.0)
    wrongdim = F.size(F.col("embedding")) != len(_COEFS64[0])
    bad = (
        emb.filter(nullish | nonfinite | zero | wrongdim)
        .select("vec_id").limit(3).collect()
    )
    if bad:
        ids = [r.vec_id for r in bad]
        raise ValueError(
            f"{what}: null, non-finite, all-zero, or wrong-dimension "
            f"embedding (vec_ids {ids}…) — a NULL or wrong-width vector "
            "mis-buckets and serves NULL cosines as silent 'no "
            "duplicate'; NaN matches every probe under Spark's NaN "
            "ordering; a zero norm divides by zero under ANSI mode; "
            f"the index bands exactly {len(_COEFS64[0])} components"
        )


def build_embedding_index(spark, sf_dir: str, table: str, path: str,
                          buckets: int = 16,
                          emb: DataFrame | None = None) -> None:
    """Persist the hyperplane band index + vector sidecar for online
    probing.  Without ``emb`` the band table is served from the
    session's MATERIALIZED artifact (embedding_bucket_table), so a
    session whose batch pipeline already ran pays only the writes — the
    64-bit signature pass is never recomputed here.  ``emb`` (a
    (vec_id, embedding) frame) builds over a custom corpus instead.

    Each table gets a ``_meta.json`` sidecar so a fresh process can
    re-register the files with the full bucketing spec
    (index_store.register_external_store)."""
    with build_write_lease(spark, table, path, "build_embedding_index"):
        if emb is None:
            emb = load(spark, sf_dir, "embeddings")
            _assert_ingestable(emb, "build_embedding_index")
            band = embedding_bucket_table(spark, sf_dir)
        else:
            # a vec_id occurring twice in the build frame would double its
            # sidecar/band rows (duplicating every future probe hit):
            # collapse to one arbitrary representative — same contract as
            # the append lane
            emb = emb.dropDuplicates(["vec_id"])
            _assert_ingestable(emb, "build_embedding_index")
            band = embedding_band_buckets(emb)
        vecs = _vec_sidecar(emb)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            band.write.mode("overwrite")
            .option("path", path)
            .bucketBy(buckets, "bucket")
            .sortBy("bucket")
            .saveAsTable(table)
        )
        write_store_meta(band, path, buckets, "bucket")
        spark.sql(f"DROP TABLE IF EXISTS {table}_vecs")
        (
            vecs.write.mode("overwrite")
            .option("path", f"{path.rstrip('/')}_vecs")
            .bucketBy(buckets, "vec_id")
            .sortBy("vec_id")
            .saveAsTable(f"{table}_vecs")
        )
        write_store_meta(vecs, f"{path.rstrip('/')}_vecs", buckets, "vec_id")
        clear_tombstones(spark, table, path)
        reset_manifest(spark, table, spark.table(f"{table}_vecs").count())


#: The embedding store's lane constants: band rows bucketed by
#: ``bucket``, ids + vectors in ``{table}_vecs``; every batch passes the
#: ingest gate before anything is written.
EMBEDDING_STORE = SegmentedStore(
    id_col="vec_id",
    id_suffix="_vecs",
    bucket_col="bucket",
    rows=lambda emb: (embedding_band_buckets(emb), _vec_sidecar(emb)),
    check=_assert_ingestable,
)


def append_embedding_index(spark, table: str, emb: DataFrame,
                           shard_id: str | None = None,
                           lease_stale_sec: float = 3600.0) -> None:
    """Append a NEW batch's band rows + vectors into the persisted
    index — j85's daily-shard lane made true across days: the delta run
    signs ONLY the batch (one zero-shuffle fold pass per write) and the
    corpus tables roll forward without a rebuild.  Probe-equivalence
    with a full rebuild is pinned by
    test_append_embedding_index_equals_rebuild.  The batch passes
    :func:`_assert_ingestable` before any write; a replayed vector
    would duplicate probe result rows, which the lane's sidecar
    anti-join prevents.  Protocol (idempotence, single writer,
    manifest, crash windows): :func:`index_store.segmented_append`."""
    segmented_append(spark, EMBEDDING_STORE, table, emb, shard_id,
                     lease_stale_sec, "append_embedding_index")


def compact_embedding_index(spark, table: str, new_path: str) -> None:
    """One-file-per-bucket rewrite of an append-accumulated embedding
    store (immutable swap to ``new_path`` — see
    index_store.compact_store).  Reads the persisted band/vector rows;
    nothing is re-signed.  Protocol:
    :func:`index_store.segmented_compact`."""
    segmented_compact(spark, EMBEDDING_STORE, table, new_path,
                      "compact_embedding_index")


def delete_from_embedding_index(spark, table: str, ids,
                                lease_stale_sec: float = 3600.0) -> dict:
    """Tombstone vectors in a persisted embedding store (takedown /
    contamination removal without a rebuild — index_store.py's
    tombstone section): ``probe_embedding_dedup`` and
    ``shard_embedding_decisions`` never return a deleted vec_id from
    the next call on, appends of a tombstoned id REFUSE (compaction
    frees it), and the next ``compact_embedding_index`` removes the
    rows physically and retires the tombstones.  ``ids`` is an
    iterable of vec_ids or a DataFrame with a ``vec_id`` column.
    Protocol: :func:`index_store.segmented_delete`."""
    return segmented_delete(spark, EMBEDDING_STORE, table, ids,
                            lease_stale_sec, "delete_from_embedding_index")


def shard_embedding_decisions(spark, table: str, emb: DataFrame,
                              theta: float = _J78_THETA) -> DataFrame:
    """(vec_id, decision, dup_of) for EVERY vector of a shard against
    the persisted store — dedup_store.shard_dedup_decisions's fold on
    the VECTOR side (j85's greedy-pairwise rule: drop behind the min
    corpus near-dup, else the min smaller-id batch near-dup, else
    keep), one distributed job per shard (``probe-shard-embedding``
    in the CLI writes it as a decisions parquet).
    ``probe_embedding_dedup`` is the one-vector interactive twin;
    decision parity with j85's batch output is pinned in tests.

    Plan shape: the shard is banded ONCE (the same zero-shuffle
    signature fold the store writes); corpus candidates come from a
    (g, bucket) equi-join into the band table, within-shard
    candidates from a band self-join; both verify via the exact
    cosine against the persisted (v, nrm) sidecar projections — the
    corpus is never rescanned.  A replayed shard excludes each
    vector's own store row (``p != d``)."""
    assert_sidecar_populated(spark, table, "_vecs",
                             "shard_embedding_decisions")
    assert_manifest_consistent(spark, table, "_vecs",
                               "shard_embedding_decisions")
    _assert_ingestable(emb, "shard_embedding_decisions")
    emb = emb.dropDuplicates(["vec_id"])
    band = embedding_band_buckets(emb)
    vecs = _vec_sidecar(emb)
    nband = band.select(F.col("vec_id").alias("d"), "g", "bucket")
    cand = (
        nband.join(
            spark.table(table).select(
                F.col("vec_id").alias("p"), "g", "bucket"
            ),
            ["g", "bucket"],
        )
        .filter(F.col("p") != F.col("d"))
        .select("d", "p")
        .distinct()
    )
    tombs = tombstones_df(spark, table)
    if tombs is not None:
        # a tombstoned corpus vector must not anchor a drop decision
        cand = cand.join(
            tombs.select(F.col("vec_id").alias("p")), "p", "left_anti"
        )
    dv = vecs.select(
        F.col("vec_id").alias("d"),
        F.col("v").alias("dvec"),
        F.col("nrm").alias("dn"),
    )
    pv = spark.table(f"{table}_vecs").select(
        F.col("vec_id").alias("p"),
        F.col("v").alias("pvec"),
        F.col("nrm").alias("pn"),
    )
    cos = dot(F.col("dvec"), F.col("pvec")) / (F.col("dn") * F.col("pn"))
    corpus_min = (
        cand.join(dv, "d")
        .join(pv, "p")
        .filter(cos >= theta)
        .groupBy("d")
        .agg(F.min("p").alias("corpus_dup"))
    )
    bcand = (
        nband.join(
            band.select(F.col("vec_id").alias("p"), "g", "bucket"),
            ["g", "bucket"],
        )
        .filter(F.col("p") < F.col("d"))
        .select("d", "p")
        .distinct()
    )
    batch_min = (
        bcand.join(dv, "d")
        .join(
            dv.select(
                F.col("d").alias("p"),
                F.col("dvec").alias("pvec"),
                F.col("dn").alias("pn"),
            ),
            "p",
        )
        .filter(cos >= theta)
        .groupBy("d")
        .agg(F.min("p").alias("batch_dup"))
    )
    return (
        emb.select("vec_id")
        .join(corpus_min, F.col("vec_id") == corpus_min["d"], "left")
        .drop("d")
        .join(batch_min, F.col("vec_id") == batch_min["d"], "left")
        .drop("d")
        .select(
            "vec_id",
            F.when(F.col("corpus_dup").isNotNull(), "drop_corpus_dup")
            .when(F.col("batch_dup").isNotNull(), "drop_batch_dup")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("corpus_dup", "batch_dup").alias("dup_of"),
        )
        .orderBy("vec_id")
    )


def probe_vector_bands(
    vec: list[float],
    bands: int = _J78_BANDS,
    bits_per_band: int = _J78_BAND_BITS,
) -> list[tuple[int, int]]:
    """(g, bucket) band keys of ONE probe vector — pure-Python
    replication of ``band_signature``'s derivation: per-bit sign of a
    SEQUENTIAL left-to-right double fold of ±components (Python floats
    ARE IEEE doubles and ``acc += x*c`` is the same correctly-rounded
    op chain as Spark's ``aggregate(zip_with(..), 0.0, acc+x)``, so the
    sign — and hence every bucket — is bit-identical by construction,
    and pinned against the Spark bucket table over the whole fixture
    corpus in tests/test_properties.py)."""
    dim = len(_COEFS64[0])
    if any(x is None for x in vec):
        # a None component would TypeError mid-fold; make it the same
        # explicit client error the other poison classes get
        raise ValueError("probe vector has null components")
    if len(vec) != dim:
        # zip() would silently truncate against the coefficient rows
        # and produce meaningless buckets — a wrong-dimension probe
        # must be an explicit error, never a silent "no duplicates"
        raise ValueError(
            f"probe vector has {len(vec)} components, index expects {dim}"
        )
    if any(x != x or x in (float("inf"), float("-inf")) for x in vec):
        # NaN poisons the fold AND diverges across engines: Python says
        # NaN >= 0 is False while Spark SQL orders NaN above everything
        # (NaN >= θ is TRUE — a NaN cosine would "match" every θ cut),
        # so a non-finite probe must be an explicit error
        raise ValueError("probe vector has non-finite components")
    if all(x == 0.0 for x in vec):
        # a zero probe's cosine is 0/0 — a hard DIVIDE_BY_ZERO under
        # ANSI mode on the first candidate row, so reject it up front
        raise ValueError("probe vector is all-zero (cosine undefined)")
    nbits = bands * bits_per_band
    bits = []
    for b in range(nbits):
        coefs = _COEFS64[b]
        acc = 0.0
        for x, c in zip(vec, coefs):
            acc += x * c
        bits.append(1 if acc >= 0 else 0)
    return [
        (
            g,
            sum(
                bits[g * bits_per_band + i] << i
                for i in range(bits_per_band)
            ),
        )
        for g in range(bands)
    ]


def probe_embedding_dedup(spark, table: str, vec: list[float],
                          theta: float = _J78_THETA) -> DataFrame:
    """(vec_id, cos) of every indexed vector whose exact cosine with
    ``vec`` is ≥ theta, candidates drawn ONLY from the probe's band
    buckets — the j78 contract served online.

    Plan: the band-index read carries a ``bucket IN (probe's buckets)``
    conjunct — the shape Spark's bucket-pruning extractor recognizes —
    plus the (g, bucket) disjunction as the exact residual filter; the
    candidate vec_ids then key a join into the vector sidecar; the
    verify is one in-row dot fold against the probe's array literal
    (norms: the sidecar's persisted ``nrm`` × the probe's, computed
    with the same fold, so the cosine is bit-identical to the batch
    pair table's).

    Threshold contract: keep/drop applies to the exact (unrounded)
    cosine and the emitted ``cos`` column is that same value — the
    displayed number can never disagree with the theta cut
    (dedup_store.probe_dedup's contract, vector side).  A store
    whose _vecs sidecar went missing raises instead of answering
    'no duplicate' silently (assert_sidecar_populated)."""
    bands = probe_vector_bands(vec)
    assert_sidecar_populated(spark, table, "_vecs", "probe_embedding_dedup")
    assert_manifest_consistent(spark, table, "_vecs",
                               "probe_embedding_dedup")
    idx = spark.table(table)
    hit = None
    for g, bucket in bands:
        c = (F.col("g") == g) & (F.col("bucket") == bucket)
        hit = c if hit is None else (hit | c)
    prune = F.col("bucket").isin(*[b for _, b in bands])
    cand = idx.filter(prune & hit).select("vec_id").distinct()
    tombs = tombstones_df(spark, table)
    if tombs is not None:
        # deleted vectors never surface as near-dups (the candidate
        # set is probe-small, so the anti-join is serve-cheap)
        cand = cand.join(tombs.select("vec_id"), "vec_id", "left_anti")
    vecs = spark.table(f"{table}_vecs").join(cand, "vec_id")
    plit = F.array(*[F.lit(float(x)) for x in vec])
    cos = dot(F.col("v"), plit) / (F.col("nrm") * F.sqrt(dot(plit, plit)))
    return (
        vecs.withColumn("cos", cos)
        .filter(F.col("cos") >= theta)
        .select("vec_id", "cos")
        .orderBy(F.col("cos").desc(), "vec_id")
    )
