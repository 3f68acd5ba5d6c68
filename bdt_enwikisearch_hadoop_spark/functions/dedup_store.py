"""Persisted near-dup index + ONLINE probe — the dedup-side
build-once/serve-many artifact (index_store.py's postings pattern
applied to j8's MinHash-LSH pipeline, completing j84's incremental
story): an ingestion service asks "is this document a near-duplicate
of anything already ingested?" by banding ONLY the probe text
(pure-Python, driver-side — one document, no job), reading the probe's
|bands| bucket files of the persisted band index in place, and
exact-verifying the handful of candidates against their shingle-set
sidecar rows.  A probe starts no Spark job and never rescans the
corpus (:func:`probe_dedup`).

Two tables per index:

* ``{table}``       — (b, bk, doc_id) band-bucket rows, bucketed +
  sorted by bk, so a probe's lookup opens one bucket file per band
  (per append segment until compaction) instead of scanning;
* ``{table}_sets``  — (doc_id, s) the distinct-shingle arrays for the
  exact-Jaccard verify (the same persisted sidecar the batch pipeline
  writes — j21's store discipline on the text side), bucketed by
  doc_id so the verify opens only its candidates' bucket files.

The in-place reads depend on Spark's bucket layout: bucket
``pmod(Murmur3_x86_32(key, seed 42), nb)`` in files named
``…_{bucket:05d}.c000….parquet`` (index_store's in-place bucket reads;
a property test fails loudly if that layout changes).

Cross-engine derivation contract: the probe's Python banding MUST be
bit-identical to the corpus-side Spark banding (same lowercase /
single-space split / 3-token shingles / ``md5("{i}:" + shingle)``
minhash family / ``md5("|".join(band rows))`` bucket keys) — pinned by
a property test that recomputes EVERY fixture document's band set in
Python and compares it against the Spark band table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ..sources import rebalance
from .index_store import (
    _TOMBS_SUFFIX,
    SegmentedStore,
    assert_manifest_consistent,
    assert_sidecar_populated,
    build_write_lease,
    clear_tombstones,
    read_by_key,
    reset_manifest,
    segmented_append,
    segmented_compact,
    segmented_delete,
    tombstones_df,
    write_store_meta,
)
from .llm_pipeline import shingle_sets
from .llm_scale import (
    _N_BANDS,
    _N_HASH,
    _ROWS_PER_BAND,
    _text_band_table,
    doc_shingle_sets,
    text_band_table,
)


def build_dedup_index(spark, sf_dir: str, table: str, path: str,
                      buckets: int = 16,
                      docs: DataFrame | None = None) -> None:
    """Persist the MinHash band index + shingle-set sidecar for online
    probing.  Without ``docs`` both inputs are served from the
    session's MATERIALIZED artifacts (text_band_table /
    doc_shingle_sets), so a session whose batch pipeline already ran
    pays only the two writes — the 16-md5 signature pass is never
    recomputed here; at 100 TB this is the artifact the dedup job
    already writes.  ``docs`` (a (doc_id, text) frame) builds over a
    custom corpus instead — the property tests' entry point.

    Each table also gets a ``_meta.json`` sidecar so a FRESH process
    (the CLI) can re-register the files with the full bucketing spec
    instead of a plain external table (see register_external_store)."""
    with build_write_lease(spark, table, path, "build_dedup_index"):
        if docs is None:
            band = text_band_table(spark, sf_dir)
            sets = doc_shingle_sets(spark, sf_dir)
        else:
            # a doc_id occurring twice in the build frame would double its
            # sidecar/band rows (duplicating every future probe hit):
            # collapse to one arbitrary representative — same contract as
            # the append lane
            sets = shingle_sets(rebalance(docs.dropDuplicates(["doc_id"])))
            band = _text_band_table(sets)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            band.write.mode("overwrite")
            .option("path", path)
            .bucketBy(buckets, "bk")
            .sortBy("bk")
            .saveAsTable(table)
        )
        write_store_meta(band, path, buckets, "bk")
        spark.sql(f"DROP TABLE IF EXISTS {table}_sets")
        (
            sets.write.mode("overwrite")
            .option("path", f"{path.rstrip('/')}_sets")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(f"{table}_sets")
        )
        write_store_meta(sets, f"{path.rstrip('/')}_sets", buckets, "doc_id")
        clear_tombstones(spark, table, path)
        reset_manifest(spark, table, spark.table(f"{table}_sets").count())


def _dedup_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A batch's (band rows, shingle-set rows) — the two tables one
    append writes."""
    sets = shingle_sets(rebalance(docs))
    return _text_band_table(sets), sets


#: The near-dup store's lane constants: band rows bucketed by ``bk``,
#: ids and shingle sets in ``{table}_sets``.
DEDUP_STORE = SegmentedStore(
    id_col="doc_id", id_suffix="_sets", bucket_col="bk", rows=_dedup_rows,
)


def compact_dedup_index(spark, table: str, new_path: str) -> None:
    """One-file-per-bucket rewrite of an append-accumulated dedup store
    (immutable swap to ``new_path`` — see index_store.compact_store).
    Reads the persisted band/shingle rows; the corpus is never
    re-signed.  Protocol: :func:`index_store.segmented_compact`."""
    segmented_compact(spark, DEDUP_STORE, table, new_path,
                      "compact_dedup_index")


def append_dedup_index(spark, table: str, docs: DataFrame,
                       shard_id: str | None = None,
                       lease_stale_sec: float = 3600.0) -> None:
    """Append a NEW batch's band rows + shingle sets into the persisted
    index tables — the index-maintenance half of the incremental story:
    j84 decides a daily shard against the corpus without rescanning it,
    and this makes the index itself roll forward at batch-sized cost
    (sign ONLY the batch, two bucketed appends) instead of a rebuild.
    Probe-equivalence with a full rebuild is pinned by
    test_append_dedup_index_equals_rebuild.

    The batch is signed twice (once per table write) — batch-sized
    work, and keeping the two writer plans independent beats a
    checkpoint for shards that fit the daily-ingest budget.  A replayed
    document would duplicate probe result rows (probe_dedup's candidate
    set is distinct but its sidecar read is not), which the lane's
    sidecar anti-join prevents.  Protocol (idempotence, single writer,
    manifest, crash windows): :func:`index_store.segmented_append`."""
    segmented_append(spark, DEDUP_STORE, table, docs, shard_id,
                     lease_stale_sec, "append_dedup_index")


def delete_from_dedup_index(spark, table: str, ids,
                            lease_stale_sec: float = 3600.0) -> dict:
    """Tombstone documents in a persisted dedup store (takedown /
    contamination removal without a rebuild — index_store.py's
    tombstone section): from the next call on, ``probe_dedup`` and
    ``shard_dedup_decisions`` never return a deleted doc_id (their
    candidate sets anti-join the tombstones), appends of a tombstoned
    id REFUSE (compaction frees it), and the next
    ``compact_dedup_index`` removes the rows physically and retires
    the tombstones.  ``ids`` is an iterable of doc_ids or a DataFrame
    with a ``doc_id`` column.  Protocol:
    :func:`index_store.segmented_delete`."""
    return segmented_delete(spark, DEDUP_STORE, table, ids,
                            lease_stale_sec, "delete_from_dedup_index")


def shard_dedup_decisions(spark, table: str, docs: DataFrame,
                          theta: float = 0.8) -> DataFrame:
    """(doc_id, decision, dup_of) for EVERY document of a shard against
    the persisted store — j84's greedy-pairwise delta fold
    (ann.delta_dedup_decisions's rule: drop behind the min corpus
    near-dup, else the min smaller-id batch near-dup, else keep)
    served from the store as ONE distributed job, the shape an
    ingestion service actually runs (``probe-shard-dedup`` in the
    CLI writes the result as a decisions parquet).  ``probe_dedup``
    is the one-document interactive twin; decision parity of this
    fold with j84's batch output is pinned in tests.

    Plan shape: the shard is banded ONCE (batch-sized, the same
    Spark derivation the store was built with); corpus candidates
    come from a (b, bk) equi-join into the band table (the store
    side rides its bk bucketing; the shard side shuffles
    batch-sized rows); within-shard candidates from a band
    self-join (batch²-bounded by bucket collisions, not all
    pairs); both verify via exact shingle Jaccard ≥ theta against
    the respective shingle sets.  The corpus is never rescanned —
    only its colliding band rows and the candidates' sidecar rows
    are read.  A replayed shard (ids already ingested) excludes
    each document's OWN store row (``p != d``); its decisions are
    then what the original ingest would have produced."""
    assert_sidecar_populated(spark, table, "_sets",
                             "shard_dedup_decisions")
    assert_manifest_consistent(spark, table, "_sets",
                               "shard_dedup_decisions")
    docs = docs.dropDuplicates(["doc_id"])
    sets = shingle_sets(rebalance(docs))
    band = _text_band_table(sets)
    nband = band.select(F.col("doc_id").alias("d"), "b", "bk")
    cand = (
        nband.join(
            spark.table(table).select(
                F.col("doc_id").alias("p"), "b", "bk"
            ),
            ["b", "bk"],
        )
        .filter(F.col("p") != F.col("d"))
        .select("d", "p")
        .distinct()
    )
    tombs = tombstones_df(spark, table)
    if tombs is not None:
        # a tombstoned corpus document must not anchor a drop decision
        cand = cand.join(
            tombs.select(F.col("doc_id").alias("p")), "p", "left_anti"
        )
    dsets = sets.select(F.col("doc_id").alias("d"), F.col("s").alias("ds"))
    psets = spark.table(f"{table}_sets").select(
        F.col("doc_id").alias("p"), F.col("s").alias("ps")
    )
    inter = F.size(F.array_intersect("ds", "ps"))
    jac = inter / (F.size("ds") + F.size("ps") - inter)
    corpus_min = (
        cand.join(dsets, "d")
        .join(psets, "p")
        .filter(jac >= theta)
        .groupBy("d")
        .agg(F.min("p").alias("corpus_dup"))
    )
    bcand = (
        nband.join(
            band.select(F.col("doc_id").alias("p"), "b", "bk"),
            ["b", "bk"],
        )
        .filter(F.col("p") < F.col("d"))
        .select("d", "p")
        .distinct()
    )
    batch_min = (
        bcand.join(dsets, "d")
        .join(
            dsets.select(
                F.col("d").alias("p"), F.col("ds").alias("ps")
            ),
            "p",
        )
        .filter(jac >= theta)
        .groupBy("d")
        .agg(F.min("p").alias("batch_dup"))
    )
    return (
        docs.select("doc_id")
        .join(corpus_min, F.col("doc_id") == corpus_min["d"], "left")
        .drop("d")
        .join(batch_min, F.col("doc_id") == batch_min["d"], "left")
        .drop("d")
        .select(
            "doc_id",
            F.when(F.col("corpus_dup").isNotNull(), "drop_corpus_dup")
            .when(F.col("batch_dup").isNotNull(), "drop_batch_dup")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("corpus_dup", "batch_dup").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


def probe_shingles(text: str, k: int = 3) -> list[str]:
    """The probe's DISTINCT k-token shingles — pure-Python replication
    of ``shingle_sets``'s derivation (lowercase, literal single-space
    split, k-grams joined by single spaces, first-occurrence dedup)."""
    toks = text.lower().split(" ")
    if len(toks) < k:
        return []
    return list(dict.fromkeys(
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    ))


def probe_bands(shingles: list[str]) -> list[tuple[int, str]]:
    """(b, bk) band keys of a probe's shingle set — pure-Python
    replication of ``_text_band_table``'s minhash/band derivation.
    Hex md5 strings compare identically under Python ``min`` and
    Spark's UTF-8 string MIN (both lexicographic over ASCII)."""
    mh = [
        min(
            hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in shingles
        )
        for i in range(_N_HASH)
    ]
    return [
        (
            b,
            hashlib.md5(
                "|".join(
                    mh[b * _ROWS_PER_BAND + r] for r in range(_ROWS_PER_BAND)
                ).encode()
            ).hexdigest(),
        )
        for b in range(_N_BANDS)
    ]


def probe_dedup(spark, table: str, text: str,
                theta: float = 0.8) -> DataFrame:
    """(doc_id, jaccard) of every indexed document whose exact shingle
    Jaccard with ``text`` is ≥ theta, candidates drawn ONLY from the
    probe's band buckets — the j8 contract served online.

    Plan: no Spark job.  The probe is banded in Python; the band
    index's ``bk`` bucket files that hold the probe's |bands| keys are
    read in place with pyarrow (:func:`index_store.read_by_key`) and
    the exact (b, bk) matches are the candidates; tombstoned ids are
    dropped (read from the tombstone table's own files); the
    candidates' ``_sets`` rows are read from their ``doc_id`` bucket
    files the same way and verified in Python.  The answer is returned
    as a DataFrame built from an Arrow table (``doc_id bigint, jaccard
    double``; a local relation, so collecting it starts no job either).
    A probe's work is the occupancy of its own band keys: the files of
    |bands| buckets plus the candidates' sidecar buckets, never the
    corpus.  Each part's location is resolved at call time, so a probe
    sees other sessions' committed appends without ``refresh_store``
    and reads a complete directory during a compaction's repoint.  A
    probe that is too short to shingle, or whose buckets are all
    empty, returns an empty DataFrame — never an error.  A store whose
    _sets SIDECAR went missing, however, raises: every probe would
    otherwise answer 'no duplicate' silently (assert_sidecar_populated).

    Threshold contract: keep/drop applies to the EXACT (unrounded)
    Jaccard — the same ``j >= theta`` cut j8's batch pipeline declares —
    and the emitted ``jaccard`` column is that same unrounded value, so
    the displayed number can never disagree with the cut at the
    boundary (a pair at true J = 0.79996 is dropped and would have
    shown as 0.79996, not a rounded 0.8; pinned by the boundary-J
    fixture in tests/test_properties.py)."""
    import pyarrow as pa

    sh = probe_shingles(text)
    hits: list[tuple[float, int]] = []
    if sh:
        assert_sidecar_populated(spark, table, "_sets", "probe_dedup")
        assert_manifest_consistent(spark, table, "_sets", "probe_dedup")
        bands = set(probe_bands(sh))
        rows = read_by_key(spark, table, "bk", sorted({bk for _, bk in bands}),
                           ["b", "bk", "doc_id"]).to_pydict()
        cand = {
            d for b, bk, d in zip(rows["b"], rows["bk"], rows["doc_id"])
            if (b, bk) in bands
        }
        if cand and tombstones_df(spark, table) is not None:
            # deleted documents never surface as near-dups
            cand -= set(read_by_key(spark, f"{table}{_TOMBS_SUFFIX}",
                                    "doc_id", sorted(cand),
                                    ["doc_id"]).column("doc_id").to_pylist())
        sets = read_by_key(spark, f"{table}_sets", "doc_id", sorted(cand),
                           ["doc_id", "s"]).to_pydict()
        probe = set(sh)
        for d, s in zip(sets["doc_id"], sets["s"]):
            inter = len(probe.intersection(s))
            j = inter / (len(s) + len(sh) - inter)
            if j >= theta:
                hits.append((-j, d))
        hits.sort()
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array([d for _, d in hits], pa.int64()),
        "jaccard": pa.array([-j for j, _ in hits], pa.float64()),
    }))
