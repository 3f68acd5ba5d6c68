"""Persisted inverted index: build once, serve many (the reference's
actual operating mode — its MR chain wrote the index to HDFS and the
query program read it back; SURVEY §2.I/§3.1).

Scale notes (100 TB):

* The index is written **bucketed by term**: query-time term lookups
  join against the bucket files without shuffling the index (verified
  shuffle-free in tests/test_plans.py for bucketed joins), and the
  bucket count is the only knob that needs to grow with corpus size.
  Size it to MATCH the consumer's join parallelism
  (spark.sql.shuffle.partitions): on a bucket/partition mismatch the
  planner disables the bucketed scan entirely and re-shuffles both
  sides ("Bucketed: false (disabled by query planner)" — observed and
  pinned in test_incremental_index_merge_equals_rebuild).
* Index rows carry (term, df_count, postings[(doc_id, weight)]) — the
  postings array keeps each term's data contiguous, so a k-term query
  reads exactly k rows' worth of bytes plus bucket metadata.
* Rebuilds are append-free full swaps (write to a new table/path, then
  repoint) — the same immutable-artifact discipline as the reference's
  HDFS output directories.
"""

from __future__ import annotations

import json
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..sources import load
from .text_search import term_freq, tfidf_w, tokenize


def write_store_meta(df: DataFrame, path: str, buckets: int,
                     bucket_col: str) -> None:
    """Persist a ``{path}_meta.json`` sidecar (schema DDL + bucketing
    spec) next to a store table's files.  The bucketBy metadata written
    by ``saveAsTable`` lives only in the building session's catalog; a
    fresh process re-registering the files as a plain external table
    silently loses bucket pruning and shuffle-free joins — the sidecar
    is what lets :func:`register_external_store` re-issue the full
    ``CLUSTERED BY`` DDL.  Local-filesystem write; an object-store
    deployment writes the same JSON next to the table files."""
    meta = {
        "buckets": buckets,
        "bucket_col": bucket_col,
        "schema": ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
        ),
    }
    with open(f"{path.rstrip('/')}_meta.json", "w") as fh:
        json.dump(meta, fh)


#: SQL-identifier shape every sidecar-sourced name must match before it
#: is interpolated into DDL — the stores only ever write plain
#: lowercase names, so anything else is corruption (or an attacker's
#: sidecar: the _meta.json format is positioned as a cross-process /
#: object-store artifact, wider trust surface than the local builder).
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _assert_sql_safe_path(path: str, what: str) -> None:
    """Refuse a filesystem path that cannot be interpolated into a SQL
    string literal verbatim — the same no-silent-quoting discipline the
    table names and sidecar fields get.  Quotes and backslashes are
    legal POSIX filename bytes but change the meaning of
    ``LOCATION '{path}'`` / ``SET LOCATION '{path}'``; a store path is
    operator-chosen, so a named refusal beats an escaping scheme whose
    output then disagrees with every sidecar path derived by plain
    f-string concatenation."""
    if "'" in path or "\\" in path or "\n" in path:
        raise ValueError(
            f"{what}: store path {path!r} contains a quote, backslash "
            "or newline — refusing to interpolate it into SQL; choose "
            "a plain path"
        )


def _validated_meta(mp: str) -> tuple[str, str, int]:
    """Parse + validate a ``_meta.json`` sidecar into (schema_ddl,
    bucket_col, buckets) that are SAFE to interpolate into a CREATE
    TABLE statement: buckets must be a positive int, the bucket column
    and every field name must be plain SQL identifiers, and the schema
    must round-trip through ``StructType.fromDDL`` (a corrupted or
    malicious sidecar fails the parse instead of becoming arbitrary
    SQL in the session).  The DDL is re-emitted from the PARSED struct,
    never from the raw sidecar string."""
    from pyspark.sql.types import StructType

    with open(mp) as fh:
        m = json.load(fh)
    try:
        buckets = int(m["buckets"])
        bucket_col = m["bucket_col"]
        schema = StructType.fromDDL(m["schema"])
    except (KeyError, TypeError, ValueError) as exc:
        raise ValueError(f"corrupt store sidecar {mp}: {exc}") from exc
    except Exception as exc:  # fromDDL parse errors (ParseException)
        raise ValueError(
            f"corrupt store sidecar {mp}: unparseable schema "
            f"{m.get('schema')!r}: {exc}"
        ) from exc
    if buckets <= 0:
        raise ValueError(f"corrupt store sidecar {mp}: buckets={buckets}")
    names = schema.fieldNames()

    def _all_field_names(dt):
        # EVERY field name at EVERY nesting level: simpleString() does
        # not quote nested names, so a crafted name like 'x:int,y'
        # inside a struct would re-emit as DIFFERENT schema text than
        # was parsed — the identifier rule must hold recursively for
        # the parse→re-emit round-trip to be faithful
        from pyspark.sql.types import ArrayType, MapType
        from pyspark.sql.types import StructType as _ST

        if isinstance(dt, _ST):
            for f in dt.fields:
                yield f.name
                yield from _all_field_names(f.dataType)
        elif isinstance(dt, ArrayType):
            yield from _all_field_names(dt.elementType)
        elif isinstance(dt, MapType):
            yield from _all_field_names(dt.keyType)
            yield from _all_field_names(dt.valueType)

    for name in [bucket_col, *_all_field_names(schema)]:
        if not isinstance(name, str) or not _IDENT_RE.match(name):
            raise ValueError(
                f"corrupt store sidecar {mp}: {name!r} is not a plain "
                "SQL identifier — refusing to interpolate it into DDL"
            )
    if bucket_col not in names:
        raise ValueError(
            f"corrupt store sidecar {mp}: bucket_col {bucket_col!r} "
            f"not in schema fields {names}"
        )
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    return ddl, bucket_col, buckets


def register_external_store(spark, table: str, path: str) -> None:
    """Register a persisted store's files in a fresh session's catalog,
    restoring the build-time bucketing spec from the ``_meta.json``
    sidecar (Spark's ``CREATE TABLE ... CLUSTERED BY`` requires an
    explicit column list, hence the schema in the sidecar).  Without a
    sidecar this degrades to a plain external table — correct answers,
    but probe reads lose bucket pruning.  No-op if ``table`` already
    exists.  Sidecar contents are VALIDATED before they touch DDL
    (:func:`_validated_meta`) — a corrupted sidecar raises a named
    ValueError instead of executing as SQL — and so is the table NAME
    itself (every dot-segment must be a plain SQL identifier: the name
    arrives from CLI arguments and is interpolated into CREATE TABLE;
    same refusal discipline, no silent quoting)."""
    for seg in table.split("."):
        if not _IDENT_RE.match(seg):
            raise ValueError(
                f"store table name {table!r} is not a plain SQL "
                "identifier — refusing to interpolate it into DDL"
            )
    _assert_sql_safe_path(path, "register_external_store")
    if spark.catalog.tableExists(table):
        return
    # re-pointing a name at (possibly different) files changes N and
    # the sidecar state: drop anything memoized under this name, its
    # base-store name, or any of its sidecar suffixes
    app = spark.sparkContext.applicationId
    _N_DOCS_MEMO.pop((app, table), None)
    _MANIFEST_OK_MEMO.discard((app, table))
    # re-pointing the BASE table can also change which _tombs
    # directory sits next to it — a stale "no tombstones" verdict
    # would skip the takedown anti-join on the new registration
    _TOMBS_PRESENT_MEMO.pop((app, table), None)
    if table.endswith("_docs"):
        _N_DOCS_MEMO.pop((app, table[: -len("_docs")]), None)
        _MANIFEST_OK_MEMO.discard((app, table[: -len("_docs")]))
    for suf in ("_sets", "_vecs", "_norms"):
        if table.endswith(suf):
            _MANIFEST_OK_MEMO.discard((app, table[: -len(suf)]))
    if table.endswith(_TOMBS_SUFFIX):
        base = table[: -len(_TOMBS_SUFFIX)]
        _TOMBS_PRESENT_MEMO.pop((app, base), None)
        _N_DOCS_MEMO.pop((app, base), None)
    _SIDECAR_OK_MEMO.difference_update(
        {
            k for k in _SIDECAR_OK_MEMO
            if k[0] == app and (k[1] == table or f"{k[1]}{k[2]}" == table)
        }
    )
    mp = f"{path.rstrip('/')}_meta.json"
    if os.path.exists(mp):
        ddl, bucket_col, buckets = _validated_meta(mp)
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({bucket_col}) "
            f"SORTED BY ({bucket_col}) "
            f"INTO {buckets} BUCKETS LOCATION '{path}'"
        )
    else:
        spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{path}'")


def _describe_meta(spark, table: str) -> dict:
    """One DESCRIBE EXTENDED collect, shared by every metadata lookup."""
    return {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }


def table_buckets(spark, table: str) -> int:
    """Bucket count of a catalog table (DESCRIBE EXTENDED — works for
    both builder-session tables and sidecar-registered ones)."""
    meta = _describe_meta(spark, table)
    if "Num Buckets" not in meta:
        raise ValueError(f"{table} is not bucketed")
    return int(meta["Num Buckets"])


def compact_store(spark, table: str, new_path: str,
                  parts: list[tuple[str, str]],
                  transforms: dict | None = None) -> None:
    """Rewrite a store's accumulated append files into a fresh
    one-file-per-bucket layout WITHOUT re-deriving anything (reads the
    persisted rows, never the corpus) — the small-files remedy after
    many ``append_*_index`` batches: every append adds one file per
    bucket, and at daily-shard cadence a year of appends turns each
    probe's bucket read into ~365 file opens.

    Immutable swap, never in place: each table writes to a NEW path
    (same-path compaction is REFUSED — overwriting the directory the
    lazy source scan reads from would corrupt the only copy) under a
    temp catalog name, then the SERVING table is repointed with ONE
    ``ALTER TABLE ... SET LOCATION`` statement.  Both swaps are
    atomic: the new files are complete before any catalog change, and
    the repoint is a single catalog statement — a concurrent reader
    holding the serving name NEVER observes a missing table (the
    drop→rename window earlier revisions documented is gone; pinned
    by the concurrent-reader test, which probes continuously through
    a compaction with zero failures).  A reader session whose file
    listing predates the repoint keeps reading the OLD directory —
    which still exists (nothing is deleted here; see
    :func:`vacuum_store`) — i.e. snapshot isolation, not an error.
    ``parts`` lists the store's (suffix, bucket_col) pairs, e.g.
    dedup: ``[("", "bk"), ("_sets", "doc_id")]``; embedding:
    ``[("", "bucket"), ("_vecs", "vec_id")]``.  Bucket counts and meta
    sidecars carry over, so registered consumers keep their pruned
    plans.

    The superseded directories are recorded (with a wall-clock stamp)
    in a ``{new_path}_superseded.json`` ledger — any ledger next to
    the old base directory is carried forward first — so
    :func:`vacuum_store` can later delete exactly the directories no
    serving table references anymore, after a safety age.

    ``transforms`` optionally maps a suffix to a row-set rewrite
    applied during the copy — how a SEGMENTED store (the raw-TF
    search index) folds its per-append segment rows back into one row
    per key while compacting, LSM-style; plain stores omit it and the
    copy is row-preserving."""
    import time

    _assert_sql_safe_path(new_path, "compact_store")
    superseded: list[dict] = []
    base_old: str | None = None
    for suffix, col in parts:
        t = f"{table}{suffix}"
        p = f"{new_path.rstrip('/')}{suffix}"
        meta = _describe_meta(spark, t)
        if "Num Buckets" not in meta:
            raise ValueError(f"{t} is not bucketed")
        nb = int(meta["Num Buckets"])
        if "Location" not in meta:
            raise ValueError(f"{t} has no location")
        cur = meta["Location"].removeprefix("file:")
        # realpath BOTH sides: a relative, trailing-slash, dot-segment
        # or symlinked new_path that RESOLVES to the store's directory
        # is the same catastrophe spelled differently
        if os.path.realpath(cur) == os.path.realpath(p):
            raise ValueError(
                f"compact_store: new_path resolves to {t}'s current "
                f"location ({cur}) — in-place compaction would overwrite "
                "the files being read; pass a fresh path"
            )
        if suffix == "":
            base_old = cur
        tmp = f"{t}_compact_tmp"
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        df = spark.table(t)
        if transforms and suffix in transforms:
            df = transforms[suffix](df)
        (
            df.write.mode("overwrite")
            .option("path", p)
            .bucketBy(nb, col)
            .sortBy(col)
            .saveAsTable(tmp)
        )
        write_store_meta(df, p, nb, col)
        # the atomic repoint: one catalog statement, serving name never
        # absent; the tmp entry is external, so dropping it leaves the
        # new files in place
        spark.sql(f"ALTER TABLE {t} SET LOCATION '{p}'")
        spark.sql(f"DROP TABLE {tmp}")
        spark.sql(f"REFRESH TABLE {t}")
        superseded.append({"path": os.path.realpath(cur),
                           "ts": time.time()})
    ledger = list(superseded)
    if base_old is not None:
        prior = f"{base_old.rstrip('/')}_superseded.json"
        if os.path.exists(prior):
            with open(prior) as fh:
                ledger = json.load(fh) + ledger
            os.remove(prior)
        # carry the ingest manifest forward (COPY, not move: a reader
        # whose file listing predates the repoint keeps a consistent
        # (old dir, old manifest) snapshot; vacuum removes the old copy
        # with its directory)
        man = f"{base_old.rstrip('/')}_manifest.json"
        if os.path.exists(man):
            import shutil

            shutil.copyfile(man, f"{new_path.rstrip('/')}_manifest.json")
    with open(f"{new_path.rstrip('/')}_superseded.json", "w") as fh:
        json.dump(ledger, fh)


def _catalog_locations(spark) -> set[str]:
    """Realpaths of every catalog table's location across EVERY
    database — the 'still referenced' set vacuum_store refuses to
    touch.  All databases, not just the current one:
    register_external_store explicitly supports dotted ``db.table``
    names, so a served old snapshot registered under another database
    must still block its directory's deletion.  One DESCRIBE per
    table; store catalogs are small (a few tables per store), so this
    is a metadata-only pass."""
    live = set()
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if t.tableType in ("VIEW", "TEMPORARY"):
                continue
            name = (
                f"{t.namespace[0]}.{t.name}" if t.namespace
                else f"{db.name}.{t.name}"
            )
            try:
                meta = _describe_meta(spark, name)
            except Exception as exc:
                # FAIL CLOSED: this set is the only thing standing
                # between vacuum_store and rmtree'ing a directory a
                # registered table still serves — a DESCRIBE failure
                # (transient metastore error, exotic table) must
                # refuse the vacuum, not silently shrink the
                # protected set
                raise ValueError(
                    f"vacuum_store: cannot resolve the location of "
                    f"catalog table {name} ({exc}) — refusing to "
                    "vacuum with an incomplete live set; retry when "
                    "the catalog answers"
                ) from exc
            if "Location" in meta:
                live.add(
                    os.path.realpath(meta["Location"].removeprefix("file:"))
                )
    return live


def vacuum_store(spark, table: str, min_age_sec: float = 86400.0) -> dict:
    """Garbage-collect the directories :func:`compact_store` superseded
    — the missing GC half of the immutable-swap discipline (every
    compaction repoints the serving table and leaves the old
    directory behind forever; at daily-compaction cadence that is an
    unbounded 2× storage leak).

    Reads the ``_superseded.json`` ledger next to the CURRENT base
    directory (compact_store carries it forward across compactions)
    and deletes exactly the ledger's entries that are (a) older than
    ``min_age_sec`` — the safety age that protects readers whose file
    listing still points at the pre-compaction snapshot; size it to
    the longest reader session you run — and (b) not the current
    location of ANY catalog table.  A ledger entry that IS still
    registered somewhere raises (a corrupt ledger, or a reader
    deliberately serving the old snapshot — deleting under it would
    fail its every read); entries younger than the safety age are
    kept for the next vacuum.  Each removed directory's ``_meta.json``
    / ``_manifest.json`` sidecar files go with it.  Returns
    ``{"removed": [...], "kept": [...]}``; a store that was never
    compacted (no ledger) vacuums to an empty result, never an
    error."""
    import shutil
    import time

    base = table_location(spark, table)
    lp = f"{base.rstrip('/')}_superseded.json"
    if not os.path.exists(lp):
        return {"removed": [], "kept": []}
    with open(lp) as fh:
        try:
            ledger = json.load(fh)
        except ValueError as exc:
            raise ValueError(
                f"vacuum_store: corrupt superseded ledger {lp}: {exc}"
            ) from exc
    if not isinstance(ledger, list) or not all(
        isinstance(e, dict)
        and isinstance(e.get("path"), str)
        and isinstance(e.get("ts"), (int, float))
        for e in ledger
    ):
        raise ValueError(
            f"vacuum_store: corrupt superseded ledger {lp}: expected "
            "a list of {path, ts} entries — fix or remove the ledger "
            "before vacuuming (deleting directories from a ledger we "
            "cannot parse is how a live store gets GC'd)"
        )
    live = _catalog_locations(spark)
    now = time.time()
    # phase 1: validate EVERY entry against the live set BEFORE any
    # deletion — raising halfway through a deleting loop would leave
    # already-deleted paths in a ledger that then never gets
    # rewritten, and a later vacuum would rmtree a path a NEW store
    # may have reused since
    for entry in ledger:
        p = os.path.realpath(entry["path"])
        if p in live:
            raise ValueError(
                f"vacuum_store: superseded ledger entry {p} is the "
                "CURRENT location of a registered table — refusing to "
                "delete under a live reader; drop that registration "
                "(or fix the ledger) first"
            )
    # phase 2: delete aged entries; the ledger is persisted in a
    # finally, so even an unexpected mid-loop failure records exactly
    # the entries that were NOT removed (a removed path must never
    # survive in the ledger — path reuse would make the next vacuum
    # delete a live store's directory)
    removed: list[str] = []
    kept: list[dict] = []
    try:
        for entry in ledger:
            p = os.path.realpath(entry["path"])
            if now - entry["ts"] < min_age_sec:
                kept.append(entry)
                continue
            shutil.rmtree(p, ignore_errors=True)
            if os.path.exists(p):
                # deletion FAILED (held handle, permissions, transient
                # FS error): keep the entry so a future vacuum retries
                # — reporting it removed while dropping it from the
                # ledger would leak the directory forever
                kept.append(entry)
                continue
            for side in (f"{p}_meta.json", f"{p}_manifest.json"):
                if os.path.exists(side):
                    try:
                        os.remove(side)
                    except OSError:
                        pass
            removed.append(p)
    finally:
        decided = {id(e) for e in kept}
        gone = set(removed)
        residual = [
            e for e in ledger
            if id(e) not in decided
            and os.path.realpath(e["path"]) not in gone
        ]
        with open(lp, "w") as fh:
            json.dump(kept + residual, fh)
    return {"removed": removed, "kept": [e["path"] for e in kept]}


# ---------------------------------------------------------------------------
# ingest manifest — the "was data lost?" ground truth
# ---------------------------------------------------------------------------
#
# assert_sidecar_populated refuses a store where ONE table went missing,
# but TOTAL loss (both directories wiped, meta sidecars surviving) is
# indistinguishable from the legitimate built-ahead-of-first-shard
# state — search_tf_index's docstring disclosed exactly that hole.  The
# manifest closes it: every build/append stamps (shard_id, n_rows, ts)
# into a ``{base}_manifest.json`` sidecar AFTER its table writes, so the
# sum of manifest rows is the number of ids the store MUST hold; every
# serve/append/compact lane cross-checks that sum against the id
# sidecar's actual count and REFUSES on divergence with a named cause.
# A legitimately empty store (empty manifest, empty tables) still
# serves empty.  Write ordering makes the loss direction trustworthy:
# tables first, manifest last — the manifest never claims rows that
# were not durably written; the opposite divergence (ids present that
# no manifest entry accounts for: a crash between the sidecar write
# and the stamp, or a foreign writer) also refuses, naming
# :func:`repair_manifest` as the explicit operator action.

#: (applicationId, table) pairs that passed the manifest cross-check —
#: one count job per reader-open, same memo discipline and
#: invalidation events as _SIDECAR_OK_MEMO.
_MANIFEST_OK_MEMO: set = set()


def _manifest_path(spark, table: str) -> str:
    return f"{table_location(spark, table).rstrip('/')}_manifest.json"


def read_manifest(spark, table: str) -> list[dict] | None:
    """The manifest entries of ``table``'s CURRENT base location, or
    None when the store has no manifest (pre-manifest build, or the
    sidecar file itself was lost).  A manifest file that EXISTS but is
    not a list of shard entries with integer ``n_rows`` (torn by a
    foreign writer, hand-edited) raises the lane-contract ValueError —
    treating it as 'no manifest' would silently drop the loss
    protection, and letting the shape error surface later breaks the
    CLI's never-a-traceback contract (_validated_meta's discipline,
    applied to the manifest sidecar)."""
    mp = _manifest_path(spark, table)
    if not os.path.exists(mp):
        return None
    with open(mp) as fh:
        try:
            entries = json.load(fh)
        except ValueError as exc:
            raise ValueError(
                f"corrupt ingest manifest {mp}: {exc}; repair-manifest "
                "re-stamps it from the store's current contents"
            ) from exc
    if not isinstance(entries, list) or not all(
        isinstance(e, dict) and isinstance(e.get("n_rows"), int)
        for e in entries
    ):
        raise ValueError(
            f"corrupt ingest manifest {mp}: expected a list of shard "
            "entries with integer n_rows; repair-manifest re-stamps it "
            "from the store's current contents"
        )
    return entries


def _write_manifest(spark, table: str, entries: list[dict]) -> None:
    """Atomic manifest replace (tmp + rename) next to the current base
    location — a crash mid-write leaves the previous manifest intact,
    never a torn JSON file."""
    mp = _manifest_path(spark, table)
    tmp = f"{mp}.tmp"
    with open(tmp, "w") as fh:
        json.dump(entries, fh)
    os.replace(tmp, mp)


def reset_manifest(spark, table: str, n_rows: int,
                   shard_id: str = "build") -> None:
    """Fresh single-entry manifest — what every full build stamps after
    its table writes (overwriting any manifest a previous store at the
    same path left behind)."""
    import time

    _write_manifest(
        spark, table,
        [{"shard_id": shard_id, "n_rows": int(n_rows), "ts": time.time()}],
    )
    _MANIFEST_OK_MEMO.discard(
        (spark.sparkContext.applicationId, table)
    )


def stamp_manifest(spark, table: str, actual: int,
                   shard_id: str | None = None) -> None:
    """Record an append: one entry whose ``n_rows`` is the DELTA between
    the id sidecar's post-write count and the manifest's prior total —
    so a replayed shard (anti-joined to zero new ids) stamps an honest
    ``n_rows: 0`` entry and the running total stays equal to the store,
    whatever mix of fresh and replayed shards arrived."""
    import time

    entries = read_manifest(spark, table) or []
    prior = sum(e["n_rows"] for e in entries)
    entries.append({
        "shard_id": shard_id or f"append-{len(entries)}",
        "n_rows": int(actual) - prior,
        "ts": time.time(),
    })
    _write_manifest(spark, table, entries)
    _MANIFEST_OK_MEMO.discard(
        (spark.sparkContext.applicationId, table)
    )


def assert_manifest_consistent(spark, table: str, id_suffix: str,
                               what: str, actual: int | None = None,
                               use_memo: bool = True) -> None:
    """REFUSE a store whose id sidecar count diverges from the ingest
    manifest's running total — the wiped-vs-empty disambiguation
    (VERDICT r12 item 2).  Three refusal causes, each named:

    * ``actual < manifest`` — data loss: directories wiped or the
      table mis-registered while the manifest survived (includes TOTAL
      loss, which the emptiness-agreement guard cannot see) — or a
      deleting compaction that crashed before its stamp
      (:func:`apply_tombstones_in_compaction`), which
      :func:`repair_manifest` resolves;
    * ``actual > manifest`` — unaccounted ids: a crash between the id
      sidecar write and the manifest stamp, or a foreign writer;
      :func:`repair_manifest` is the explicit operator action;
    * ``no manifest`` while the store has rows — a pre-manifest store
      or a lost manifest file; repair_manifest stamps it.

    A legitimately empty store — empty manifest (or none) AND zero
    rows — passes: built ahead of its first shard, serves empty.
    ``actual`` lets a caller that already counted the id table (the tf
    serve path's N) avoid a second count job; otherwise one count of
    the id sidecar, memoized per (session, table) on the serve paths
    (``use_memo=True``) with the same invalidation events as the
    sidecar memo.  Write lanes pass ``use_memo=False`` and never seed
    the memo."""
    key = (spark.sparkContext.applicationId, table)
    if use_memo and key in _MANIFEST_OK_MEMO:
        return
    _MANIFEST_OK_MEMO.discard(key)
    entries = read_manifest(spark, table)
    if actual is None:
        actual = spark.table(f"{table}{id_suffix}").count()
    if entries is None:
        if actual > 0:
            raise ValueError(
                f"{what}: {table} has {actual} ingested ids but NO "
                "ingest manifest next to its base location — a "
                "pre-manifest store or a lost manifest sidecar; run "
                "repair-manifest to stamp the current contents as the "
                "baseline"
            )
        return
    total = sum(e["n_rows"] for e in entries)
    if actual < total:
        raise ValueError(
            f"{what}: ingest manifest records {total} ids but "
            f"{table}{id_suffix} holds only {actual} — store data was "
            "LOST (directories wiped or table mis-registered) — unless "
            "a deleting compaction crashed before stamping its deletes "
            "(tombstones still recorded), which repair-manifest "
            "resolves by adopting the compacted contents; otherwise "
            "rebuild the store (or re-register the real files) before "
            "serving; a legitimately empty store has an empty manifest"
        )
    if actual > total:
        raise ValueError(
            f"{what}: {table}{id_suffix} holds {actual} ids but the "
            f"ingest manifest accounts for {total} — a crashed append "
            "(stamped after the id write) or a foreign writer; run "
            "repair-manifest to adopt the current contents"
        )
    if use_memo:
        _MANIFEST_OK_MEMO.add(key)


def repair_manifest(spark, table: str, id_suffix: str) -> dict:
    """The explicit operator action after a crashed append or for a
    pre-manifest store: re-stamp the manifest to a single entry
    adopting the id sidecar's CURRENT count.  Deliberately an opt-in
    lane (CLI ``repair-manifest``), never an automatic fallback — the
    serve paths must refuse, not self-heal, because 'adopt whatever is
    there' is exactly the wrong reflex against actual data loss."""
    import time

    actual = spark.table(f"{table}{id_suffix}").count()
    _write_manifest(
        spark, table,
        [{"shard_id": f"repair@{time.time():.0f}", "n_rows": int(actual),
          "ts": time.time()}],
    )
    _MANIFEST_OK_MEMO.discard(
        (spark.sparkContext.applicationId, table)
    )
    return {"table": table, "adopted_rows": int(actual)}


# ---------------------------------------------------------------------------
# tombstones — delete without rebuild
# ---------------------------------------------------------------------------
#
# The operation a 100 TB serving store cannot live without: takedown
# requests, discovered benchmark contamination, and license revocations
# all require REMOVING documents, and a full rebuild per takedown is a
# corpus-sized job for a request-sized change.  The stores' files are
# immutable (bucketed parquet, append-only segments), so deletion is
# LOGICAL first, PHYSICAL later — the LSM discipline the append lanes
# already follow, pointed the other way:
#
# * ``delete_from_*`` records the ids in a small ``{table}_tombs``
#   parquet table next to the store (request-sized write, under the
#   single-writer lease);
# * every serve path anti-joins its CANDIDATES against the tombstone
#   set — probe/shard results never contain a deleted id, and the
#   segmented raw-TF search stays EXACT (df is already derived from
#   the looked-up postings at query time, so the anti-join corrects it
#   per term for free, and N counts the ingested ids not tombstoned)
#   — rebuild parity without touching the other 100 TB;
# * appends REFUSE a batch carrying a tombstoned id (re-ingesting it
#   would resurrect the old rows' visibility the moment the tombstone
#   clears) — compaction frees the id;
# * compaction applies the tombstones PHYSICALLY (each part anti-joins
#   the ids during its rewrite), stamps the resulting NEGATIVE delta
#   into the ingest manifest, and retires the tombstone table into the
#   superseded ledger for :func:`vacuum_store`.
#
# The WEIGHTED stores (build_index's tfidf postings + norms) are
# deliberately excluded: their weights bake the build-time N and df
# into every row, so a post-delete serve would score the survivors
# with stale globals — the exact staleness the segmented raw-TF store
# exists to avoid.  Deleting from a weighted store = rebuild it; no
# delete lane is offered there.

_TOMBS_SUFFIX = "_tombs"

#: (applicationId, table) -> bool: does the store have a tombstone
#: table?  Skips a DESCRIBE per serve call on the (overwhelmingly
#: common) store that never saw a delete.  Same staleness contract as
#: the file-listing cache: another session's NEW deletions become
#: visible at refresh_store (the reader-reopen step).
_TOMBS_PRESENT_MEMO: dict = {}


def tombstones_df(spark, table: str) -> DataFrame | None:
    """The store's tombstone set as a one-id-column DataFrame, or None
    when no deletion was ever recorded.  A fresh process serving a
    store another session deleted from picks the table up from the
    ``{base}_tombs`` directory automatically (registered via
    :func:`register_external_store` — tombstone tables are small and
    unbucketed, so the no-sidecar plain registration is the intended
    path)."""
    app = spark.sparkContext.applicationId
    key = (app, table)
    if _TOMBS_PRESENT_MEMO.get(key) is False:
        return None
    t = f"{table}{_TOMBS_SUFFIX}"
    if spark.catalog.tableExists(t):
        _TOMBS_PRESENT_MEMO[key] = True
        return spark.table(t)
    d = f"{table_location(spark, table).rstrip('/')}{_TOMBS_SUFFIX}"
    if os.path.isdir(d):
        register_external_store(spark, t, d)
        _TOMBS_PRESENT_MEMO[key] = True
        return spark.table(t)
    _TOMBS_PRESENT_MEMO[key] = False
    return None


def _invalidate_tombs_memo(spark, table: str) -> None:
    # the live-id count N depends on the tombstone set too
    app = spark.sparkContext.applicationId
    _TOMBS_PRESENT_MEMO.pop((app, table), None)
    _N_DOCS_MEMO.pop((app, table), None)


def clear_tombstones(spark, table: str, path: str) -> None:
    """Drop any tombstone state a PREVIOUS store at the same name/path
    left behind — every full build calls this: a rebuild re-derives
    the store from its corpus, so inherited tombstones would silently
    delete documents the new corpus legitimately contains (the
    phantom-deletion twin of the stale-manifest hole reset_manifest
    closes)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}{_TOMBS_SUFFIX}")
    shutil.rmtree(f"{path.rstrip('/')}{_TOMBS_SUFFIX}",
                  ignore_errors=True)
    _invalidate_tombs_memo(spark, table)


def record_tombstones(spark, table: str, id_suffix: str, id_col: str,
                      ids, what: str) -> dict:
    """The shared body of every ``delete_from_*`` lane: normalize the
    requested ids, intersect with the store's ingested ids (deleting a
    never-ingested id is a no-op, reported), drop ids already
    tombstoned (idempotent replay of a takedown list), append the rest
    to the ``{table}_tombs`` table.  Returns the reconciliation the
    operator needs: ``{"requested", "deleted", "already_deleted",
    "not_indexed"}``.

    Caller contract: runs INSIDE the store's write lease with the
    sidecar/manifest guards already passed (a deleter is a writer —
    and tombstoning ids against a store that already lost data would
    mask the loss).  ``ids`` is a Python iterable of ids or a
    DataFrame with ``id_col``; the ids are cast to long (every store's
    id column).  The new tombstones are STAGED to a scratch parquet
    before the append — the newly-deleted frame anti-joins the
    tombstone table itself, and appending a table into a plan that
    reads it is exactly the self-overwrite hazard the compaction lane
    refuses.  The staging directory is a SIBLING of the store
    (``{base}_tombs_staging_<token>``), not a driver-local temp dir:
    Spark's writers and readers run on executors, so the path must
    live on the filesystem the store lives on — a local temp path
    works in local mode and silently breaks on a real cluster."""
    import shutil
    import uuid

    if isinstance(ids, DataFrame):
        if id_col not in ids.columns:
            raise ValueError(
                f"{what}: ids frame lacks column {id_col!r} "
                f"(has {ids.columns})"
            )
        req = ids.select(F.col(id_col).cast("long").alias(id_col))
    else:
        req = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    req = req.filter(F.col(id_col).isNotNull()).dropDuplicates([id_col])
    n_req = req.count()
    indexed = req.join(
        spark.table(f"{table}{id_suffix}").select(id_col),
        id_col, "semi",
    )
    tombs = tombstones_df(spark, table)
    newly = indexed if tombs is None else indexed.join(
        tombs.select(id_col), id_col, "left_anti"
    )
    n_indexed = indexed.count()
    t = f"{table}{_TOMBS_SUFFIX}"
    d = f"{table_location(spark, table).rstrip('/')}{_TOMBS_SUFFIX}"
    if tombs is None:
        newly.write.mode("overwrite").option("path", d).saveAsTable(t)
        spark.sql(f"REFRESH TABLE {t}")
        n_new = spark.table(t).count()
    else:
        staging = f"{d}_staging_{uuid.uuid4().hex}"
        try:
            newly.write.mode("overwrite").parquet(staging)
            staged = spark.read.parquet(staging)
            n_new = staged.count()
            if n_new:
                staged.write.mode("append").saveAsTable(t)
                spark.sql(f"REFRESH TABLE {t}")
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    _invalidate_tombs_memo(spark, table)
    return {
        "requested": n_req,
        "deleted": n_new,
        "already_deleted": n_indexed - n_new,
        "not_indexed": n_req - n_indexed,
    }


def assert_batch_not_tombstoned(spark, table: str, id_col: str,
                                batch: DataFrame, what: str) -> None:
    """Refuse an append whose batch carries a TOMBSTONED id: the old
    physical rows are still in the store, so re-ingesting the id would
    double-index it the moment compaction clears the tombstone — and
    silently resurrect content someone ordered removed.  Compaction
    (which applies the tombstones physically) frees the id for
    re-ingest; the refusal names that path."""
    tombs = tombstones_df(spark, table)
    if tombs is None:
        return
    hit = (
        batch.select(id_col)
        .join(tombs.select(id_col), id_col, "semi")
        .limit(3).collect()
    )
    if hit:
        ids = [r[id_col] for r in hit]
        raise ValueError(
            f"{what}: batch carries tombstoned id(s) {ids}… — re-"
            "ingesting a deleted id would resurrect its old rows when "
            "the tombstone clears; compact the store (which applies "
            "deletions physically and frees the ids), then re-append"
        )


def append_superseded(new_path: str, dirs: list[str]) -> None:
    """Add directories to the ``{new_path}_superseded.json`` vacuum
    ledger — how a retired tombstone table's directory joins the same
    GC path as compaction-superseded store directories."""
    import time

    lp = f"{new_path.rstrip('/')}_superseded.json"
    ledger = []
    if os.path.exists(lp):
        with open(lp) as fh:
            ledger = json.load(fh)
    ledger += [
        {"path": os.path.realpath(p), "ts": time.time()} for p in dirs
    ]
    with open(lp, "w") as fh:
        json.dump(ledger, fh)


def apply_tombstones_in_compaction(spark, table: str, id_suffix: str,
                                   new_path: str) -> None:
    """The post-swap half of a deleting compaction
    (:func:`segmented_compact`): retire the tombstone table (drop the
    catalog entry, ledger its directory for :func:`vacuum_store` — other
    sessions' registrations keep reading it, where the anti-join of
    already-physically-removed ids is a no-op: snapshot isolation),
    and stamp the ingest manifest with the NEGATIVE delta the physical
    delete produced, so the manifest's running total keeps equalling
    the id sidecar and every serve-lane cross-check stays green.
    Caller contract: runs inside the compaction's write lease, after
    ``compact_store`` returned (the rewrite transforms READ the
    tombstone table — it must outlive them).

    Crash windows REFUSE, never serve wrong: a crash after the
    catalog repoint but before the manifest stamp leaves
    actual < manifest, which every serve/append/compact lane refuses
    by name ("LOST … a deleting compaction crashed …") until the
    operator runs ``repair-manifest``, which adopts the compacted
    contents; the leftover tombstone entries then name ids that are
    already physically gone — a no-op for every serve path, including
    ``search_tf_index``'s N, which counts the ``_docs`` ids not
    tombstoned — until the next compaction retires them."""
    t = f"{table}{_TOMBS_SUFFIX}"
    tomb_dir = table_location(spark, t)
    spark.sql(f"DROP TABLE {t}")
    append_superseded(new_path, [tomb_dir])
    _invalidate_tombs_memo(spark, table)
    spark.sql(f"REFRESH TABLE {table}{id_suffix}")
    stamp_manifest(
        spark, table, spark.table(f"{table}{id_suffix}").count(),
        shard_id="deletes-applied",
    )


def delete_from_tf_index(spark, table: str, ids,
                         lease_stale_sec: float = 3600.0) -> dict:
    """Tombstone documents in a segmented raw-TF index — serving is
    EXACT from the next query on (no compaction needed for
    correctness): :func:`search_tf_index` drops the tombstoned ids
    from the looked-up postings (which corrects each queried
    term's df for free, since df is derived from those very rows) and
    weights with N = the ingested ids not tombstoned, so results
    equal a fresh rebuild over the surviving corpus — pinned by
    test_tf_delete_serves_exact_rebuild_parity.  Physical reclamation
    and freeing the ids for re-ingest happen at the next
    :func:`compact_tf_index`.  Protocol: :func:`segmented_delete`."""
    return segmented_delete(spark, TF_STORE, table, ids, lease_stale_sec,
                            "delete_from_tf_index")


# ---------------------------------------------------------------------------
# single-writer append lease
# ---------------------------------------------------------------------------


import contextlib  # noqa: E402


def _acquire_lock(path: str, table: str, ident: dict,
                  stale_sec: float) -> str:
    """One marker-directory acquire (the mkdir is the atomic step);
    returns the lock dir it took.  Shared by :func:`store_write_lease`
    for each of its anchor paths.  Every infrastructure failure (a
    missing parent directory for a yet-to-be-created target path,
    permissions, the marker vanishing between the EEXIST and the stat
    because its holder just released) surfaces as the lane-contract
    ValueError or a clean retry — never a raw OSError, which would
    both escape the CLI's never-a-traceback contract and, in
    :func:`store_write_lease`'s multi-anchor loop, skip the release
    of markers already taken."""
    import json as _json
    import time

    lock_dir = f"{path.rstrip('/')}_lock"
    lease_file = os.path.join(lock_dir, "lease.json")
    for _attempt in range(3):
        try:
            os.mkdir(lock_dir)
            break
        except FileExistsError:
            holder = None
            try:
                with open(lease_file) as fh:
                    holder = _json.load(fh)
            except (FileNotFoundError, ValueError):
                holder = None
            if holder is not None:
                age = time.time() - holder.get("ts", 0.0)
                if age < stale_sec:
                    raise ValueError(
                        f"{table}: write lease held by "
                        f"{holder.get('owner')} "
                        f"for {age:.0f}s (stale after {stale_sec:.0f}s) — "
                        "single-writer append contract; wait for it to "
                        "finish, or take over a crashed holder by raising "
                        "stale_sec"
                    ) from None
                break  # stale lease: take it over
            try:
                age = time.time() - os.stat(lock_dir).st_mtime
            except FileNotFoundError:
                continue  # holder released between EEXIST and stat
            if age < stale_sec:
                raise ValueError(
                    f"{table}: write-lease marker present but its lease "
                    "file is unreadable — another appender mid-acquire "
                    f"(marker {age:.0f}s old); retry shortly"
                ) from None
            break  # stale empty marker: take it over
        except OSError as exc:
            raise ValueError(
                f"{table}: cannot create write-lease marker {lock_dir}: "
                f"{exc} — does the target's parent directory exist and "
                "allow writes?"
            ) from exc
    tmp = os.path.join(lock_dir, f".lease.{ident['token']}.tmp")
    try:
        with open(tmp, "w") as fh:
            _json.dump(ident, fh)
        os.replace(tmp, lease_file)
    except OSError as exc:
        # marker vanished under us (released/GC'd) or became unwritable:
        # we hold nothing — fail clean, leave nothing behind
        _release_lock(lock_dir, ident["token"])
        raise ValueError(
            f"{table}: could not write the lease file in {lock_dir}: "
            f"{exc}; retry shortly"
        ) from exc
    return lock_dir


def _release_lock(lock_dir: str, token: str) -> None:
    import glob as _glob
    import json as _json

    try:
        lease_file = os.path.join(lock_dir, "lease.json")
        with open(lease_file) as fh:
            cur = _json.load(fh)
        if cur.get("token") == token:
            os.remove(lease_file)
            # a claimant that crashed between its tmp write and the
            # replace leaves a .lease.*.tmp behind; without this sweep
            # the rmdir fails ENOTEMPTY and the lease-less marker
            # refuses every acquire as 'mid-acquire' for stale_sec
            for stray in _glob.glob(os.path.join(lock_dir, ".lease.*.tmp")):
                try:
                    os.remove(stray)
                except OSError:
                    pass
            os.rmdir(lock_dir)
    except (FileNotFoundError, ValueError, OSError):
        pass  # taken over, or marker already gone — not ours to free


@contextlib.contextmanager
def store_write_lease(spark, table: str, owner: str | None = None,
                      stale_sec: float = 3600.0,
                      extra_paths: tuple = ()):
    """SINGLE-WRITER append contract, enforced (VERDICT r12 item 3):
    every append/compact lane runs inside this lease, so two live
    appenders interleaving refresh→anti-join→write — whose outcome was
    previously undefined — can no longer run concurrently: the second
    acquirer gets a named ValueError identifying the holder and its
    age, and the store state is always SOME serial order of appends.

    Mechanics: ``os.mkdir`` of a ``{base}_lock`` marker directory is
    the atomic acquire (POSIX mkdir is atomic on local and NFS
    filesystems; an object-store deployment swaps this for a
    conditional put); a ``lease.json`` inside names the holder, its
    token and acquire time.  A lease older than ``stale_sec`` is taken
    over by atomically replacing the lease file — takeover among
    SIMULTANEOUS claimants is last-writer-wins, which is acceptable
    because takeover is the rare crash-recovery path, not the
    concurrency control (the mkdir is).  A marker directory whose
    lease file is missing refuses while the directory is younger than
    ``stale_sec`` (another appender mid-acquire) and is adopted past
    it (a claimant that crashed between mkdir and write).  Release
    deletes each marker only if the lease token is still ours — a
    holder that was taken over must NOT free the new holder's lease.
    The lock paths are captured at acquire time, so a compaction that
    repoints the base location mid-lease still releases the markers it
    actually took.

    ``extra_paths`` anchors the SAME lease at additional locations —
    how a compaction keeps mutual exclusion across its own repoint:
    the serving table's location changes to ``new_path`` partway
    through the swap, so a writer acquiring AFTER the repoint computes
    its lock dir from the NEW base; without a marker already sitting
    there it would acquire successfully and interleave with the
    still-running compaction.  Compaction lanes therefore pass
    ``extra_paths=(new_path,)``, holding both anchors for the lease's
    whole extent (pinned by
    test_lease_spans_compaction_repoint).  Acquisition is base-first;
    a failure on a later anchor releases every marker already taken,
    so a refused acquire never leaves partial state."""
    import time
    import uuid

    base = table_location(spark, table)
    token = uuid.uuid4().hex
    ident = {
        "owner": owner or f"pid={os.getpid()}",
        "token": token,
        "ts": time.time(),
    }
    taken: list[str] = []
    seen: set[str] = set()
    try:
        for p in (base, *extra_paths):
            # dedupe by resolved lock path: an extra anchor that IS the
            # base (same-path compaction — refused downstream with its
            # own named error) must not collide with our own fresh lease
            rp = os.path.realpath(f"{p.rstrip('/')}_lock")
            if rp in seen:
                continue
            seen.add(rp)
            taken.append(_acquire_lock(p, table, ident, stale_sec))
    except BaseException:
        # ANY failure on a later anchor (refusal, infrastructure
        # error, KeyboardInterrupt) must free the markers already
        # taken — a leaked lease write-blocks the store for stale_sec
        for d in taken:
            _release_lock(d, token)
        raise
    try:
        yield
    finally:
        for d in taken:
            _release_lock(d, token)


@contextlib.contextmanager
def build_write_lease(spark, table: str, path: str, what: str,
                      stale_sec: float = 3600.0):
    """Builds HOLD the write lease for their whole duration — the
    earlier check-then-act guard (assert marker absence at t0, then
    run a corpus-sized derivation for minutes) let an appender acquire
    AFTER the check and interleave its refresh→anti-join→write→stamp
    with the rebuild's DROP TABLE + overwrite writes.  Two anchors,
    deduped by resolved lock path: the rebuild's TARGET path, and the
    serving table's CURRENT location when the table already exists —
    a rebuild to a fresh path (the repo's own immutable-swap
    discipline) still drops the registration out from under a live
    appender anchored at the old base.  A STALE marker is taken over
    rather than refused: the rebuild re-derives everything, so
    adopting a crashed writer's partial state is not a concern the
    way it is for appends.  Refusals and releases follow
    :func:`store_write_lease`'s contract (all-or-nothing acquire,
    every failure frees the markers already taken)."""
    import time
    import uuid

    token = uuid.uuid4().hex
    ident = {
        "owner": f"{what} pid={os.getpid()}",
        "token": token,
        "ts": time.time(),
    }
    anchors = [path]
    if spark.catalog.tableExists(table):
        try:
            anchors.append(table_location(spark, table))
        except ValueError:
            pass
    taken: list[str] = []
    seen: set[str] = set()
    try:
        for p in anchors:
            rp = os.path.realpath(f"{p.rstrip('/')}_lock")
            if rp in seen:
                continue
            seen.add(rp)
            taken.append(_acquire_lock(p, table, ident, stale_sec))
    except BaseException:
        for d in taken:
            _release_lock(d, token)
        raise
    try:
        yield
    finally:
        for d in taken:
            _release_lock(d, token)


#: (applicationId, table, suffix) triples that passed the sidecar
#: check — the check is a LIMIT-1 Spark job per table, so a serving
#: session pays it once per reader-open, not once per probe call;
#: invalidated at the same events as _N_DOCS_MEMO (refresh_store,
#: re-registration).
_SIDECAR_OK_MEMO: set = set()


def assert_sidecar_populated(spark, table: str, suffix: str, what: str,
                             use_memo: bool = True) -> None:
    """Refuse serving or maintenance on a store ONE of whose tables
    went missing — the check is BIDIRECTIONAL (emptiness must agree):

    * sidecar empty while the main table has rows (a registration
      without the sidecar, or a crash between compaction swaps): the
      sidecar is both the idempotence key (an empty anti-join would
      double-index every replayed shard) and the probe/serve verify
      source (an empty join would answer every probe 'no duplicate' /
      NULL score, silently);
    * main table empty while the sidecar has rows (the band/postings
      directory wiped or mis-registered): every probe would draw ZERO
      candidates and answer 'no duplicate' silently — the exact
      failure class the guard exists to refuse.  One deliberate
      casualty: a store built over documents that ALL tokenize/shingle
      to nothing (ids ingested, zero index rows) is indistinguishable
      from a wiped main table and is refused too — rebuild over a
      servable corpus; blocking is the safe side.

    With ``use_memo`` (the PURE-READ serve paths: probes, VSM), a pass
    is memoized per (session, table, suffix) — probes pay the LIMIT-1
    check once per reader-open, and refresh_store / re-registration
    (the events that can change the answer) invalidate it.  WRITE lanes
    (append/compact) must pass ``use_memo=False``: they are about to
    CHANGE the store, so their own pre-write pass must not satisfy a
    later serve call — a mid-append write failure would otherwise hide
    behind the stale OK — and their rare fresh LIMIT-1 check is cheap.

    Deliberate corner: if the very FIRST append into an EMPTY base
    crashed between the two table writes, the orphan segment trips this
    guard on replay — rebuild instead (the store holds at most that one
    shard); distinguishing that state from a lost sidecar is not
    possible from the tables alone, and blocking is the safe side."""
    key = (spark.sparkContext.applicationId, table, suffix)
    if use_memo and key in _SIDECAR_OK_MEMO:
        return
    # scrub any earlier pass BEFORE checking: a refusal below must not
    # leave a stale OK behind (a later memoized serve would skip the
    # guard on the store this call just proved corrupt)
    _SIDECAR_OK_MEMO.discard(key)
    side_empty = spark.table(f"{table}{suffix}").isEmpty()
    main_empty = spark.table(table).isEmpty()
    if side_empty and not main_empty:
        raise ValueError(
            f"{what}: {table}{suffix} is empty while {table} has rows — "
            "the sidecar is missing or incomplete; re-register it (or "
            "rebuild the store) first"
        )
    if main_empty and not side_empty:
        raise ValueError(
            f"{what}: {table} is empty while {table}{suffix} has rows — "
            "the main table was wiped or mis-registered; every probe "
            "would silently answer 'no duplicate'; re-register it (or "
            "rebuild the store) first"
        )
    if use_memo:
        _SIDECAR_OK_MEMO.add(key)


#: (applicationId, table) -> {live?: id count}, so a serving session
#: pays the _docs sidecar count ONCE, not per query (at 1e9 docs the
#: count is a corpus-sized column scan — fine per refresh, wrong per
#: query).  Invalidated by refresh_store (the reader-reopen step) and
#: by same-session appends, compactions and tombstone changes, the
#: only events that change N.
_N_DOCS_MEMO: dict = {}


def _n_docs(spark, table: str, tombs: DataFrame | None = None) -> int:
    """Distinct ids in ``{table}_docs`` — only those not in ``tombs``
    when it is given (the live corpus count N)."""
    memo = _N_DOCS_MEMO.setdefault(
        (spark.sparkContext.applicationId, table), {}
    )
    live = tombs is not None
    if live not in memo:
        ids = spark.table(f"{table}_docs").select("doc_id").distinct()
        memo[live] = drop_tombstoned(ids, tombs, "doc_id").count()
    return memo[live]


def refresh_store(spark, table: str,
                  suffixes: tuple[str, ...] = ("",)) -> None:
    """Pick up files appended by ANOTHER session — the Lucene
    "reopen the reader" step: Spark caches a catalog table's file
    listing per session, so a long-lived serving session keeps
    answering from the files it first listed until ``REFRESH TABLE``,
    no matter how many segments other processes appended (measured:
    a foreachBatch appender's writes were invisible to the outer
    session's count until refresh).  Same-session appends invalidate
    the cache automatically; only cross-session readers need this.
    Every ``append_*_index`` calls it first so the idempotence
    anti-join never runs against a stale id list."""
    for s in suffixes:
        spark.sql(f"REFRESH TABLE {table}{s}")
    app = spark.sparkContext.applicationId
    if spark.catalog.tableExists(f"{table}{_TOMBS_SUFFIX}"):
        spark.sql(f"REFRESH TABLE {table}{_TOMBS_SUFFIX}")
    _TOMBS_PRESENT_MEMO.pop((app, table), None)
    _N_DOCS_MEMO.pop((app, table), None)
    _MANIFEST_OK_MEMO.discard((app, table))
    _SIDECAR_OK_MEMO.difference_update(
        {k for k in _SIDECAR_OK_MEMO if k[0] == app and k[1] == table}
    )


def table_location(spark, table: str) -> str:
    """Filesystem location of a catalog table (DESCRIBE EXTENDED)."""
    meta = _describe_meta(spark, table)
    if "Location" not in meta:
        raise ValueError(f"{table} has no location")
    return meta["Location"].removeprefix("file:")


# ---------------------------------------------------------------------------
# in-place bucket reads — key-small lookups with no Spark job
# ---------------------------------------------------------------------------
#
# A bucketed write puts row r in bucket pmod(hash(r.key), nb), where
# hash is Spark's Murmur3_x86_32 with seed 42, and names the file
# ``part-…_{bucket:05d}.c000….parquet``.  Porting the hash lets a
# key-small lookup open only its keys' bucket files with pyarrow, the
# same files Spark's bucket pruning would scan, without scheduling a
# job.  This ties the engine to Spark's bucket file naming and hash
# seed; tests/test_properties.py's hash-layout test fails if either
# changes.

_M32 = 0xFFFFFFFF
#: Spark's BucketingUtils.bucketIdRegex
_BUCKET_FILE_RE = re.compile(r".*_(\d+)(?:\..*)?$")


def _mix_k1(k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    return (k * 0x1B873593) & _M32


def _mix_h1(h: int, k: int) -> int:
    h ^= k
    h = ((h << 13) | (h >> 19)) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def spark_hash(value: str | int, dtype: str = "string") -> int:
    """Spark's ``hash(value)`` of one non-null ``string`` or ``bigint``
    value: Murmur3_x86_32, seed 42.  Strings hash their UTF-8 bytes
    with Spark's own tail rule (each byte past the last whole 4-byte
    word is mixed alone as a sign-extended int, not packed as in the
    reference algorithm)."""
    h = 42
    if dtype == "string":
        data = value.encode()
        n = len(data)
        tail = n - n % 4
        for i in range(0, tail, 4):
            h = _mix_h1(h, _mix_k1(int.from_bytes(data[i:i + 4], "little")))
        for byte in data[tail:]:
            h = _mix_h1(h, _mix_k1((byte - 256 if byte > 127 else byte)
                                   & _M32))
    else:
        n = 8
        v = value & 0xFFFFFFFFFFFFFFFF
        h = _mix_h1(h, _mix_k1(v & _M32))
        h = _mix_h1(h, _mix_k1(v >> 32))
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _listed_layout(spark, table: str, col: str):
    """(files, ``col``'s type, bucket count or None) of ``table`` as
    THIS session's relation lists it: the file listing Spark caches
    when the session first resolves the table and renews at
    ``refresh_store`` and at the session's own writes — the listing a
    Spark scan in this session would read.  Walks the analyzed plan's
    ``HadoopFsRelation`` through py4j: no job, no DESCRIBE."""
    from urllib.parse import unquote, urlparse

    rel = (spark.table(table)._jdf.queryExecution().analyzed().child()
           .relation())
    uris = spark._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        rel.location().inputFiles()).mkString("\n")
    files = []
    for uri in filter(None, uris.split("\n")):
        u = urlparse(uri)
        if u.scheme != "file":
            raise ValueError(f"{table}: {uri} is not a local file — "
                             "in-place reads need a local filesystem")
        files.append(unquote(u.path))
    spec = rel.bucketSpec()
    nb = (spec.get().numBuckets() if spec.isDefined()
          and spec.get().bucketColumnNames().mkString("\n") == col
          else None)
    return (sorted(files),
            rel.dataSchema().apply(col).dataType().simpleString(), nb)


def _current_layout(spark, table: str, col: str):
    """:func:`_listed_layout`'s triple from the catalog NOW: one
    DESCRIBE and a listing of the table's current location."""
    import glob

    meta = _describe_meta(spark, table)
    if "Location" not in meta:
        raise ValueError(f"{table} has no location")
    loc = meta["Location"].removeprefix("file:")
    nb = (int(meta["Num Buckets"])
          if meta.get("Bucket Columns") == f"[`{col}`]" else None)
    files = sorted(glob.glob(os.path.join(loc, "*.parquet")))
    return files, meta.get(col), nb


def _all_nullable(t):
    """pyarrow type ``t`` with every nested field nullable."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _all_nullable(f.type)) for f in t])
    if pa.types.is_list(t):
        return pa.list_(pa.field(t.value_field.name,
                                 _all_nullable(t.value_type)))
    return t


def read_by_key(spark, table: str, col: str, keys, columns: list[str],
                as_listed: bool = False):
    """``table``'s rows whose ``col`` is in ``keys``, as a pyarrow
    Table of ``columns`` — read in place, no Spark job.  On a table
    bucketed by ``col`` only the keys' bucket files are opened; any
    other registration (unbucketed, bucketed by another column, a key
    type the hash port does not cover) reads every file with the same
    filter — correct answers, unpruned, which is what a Spark scan of
    that registration reads too.

    Which files: by default the ones in the table's location NOW (one
    DESCRIBE, a directory listing), so a reader sees another session's
    committed appends without ``refresh_store`` and, during a
    compaction's repoint, reads either the old or the new complete
    directory.  ``as_listed`` reads the files this session's relation
    lists instead (:func:`_listed_layout`): another session's appends
    stay invisible until ``refresh_store``, so the rows agree with
    anything the session memoized from its Spark view of the store
    (the ranked searches' N).

    Files written with different nested nullability (a compaction
    fold's nullable ``max(tf)`` next to an append's non-null ``tf``)
    are read under one all-nullable schema.  Local-filesystem locations
    only, like the stores' ``_meta.json`` sidecars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = list(keys)
    files, dtype, nb = (_listed_layout if as_listed else _current_layout)(
        spark, table, col)
    if nb and dtype in ("string", "bigint"):
        want = {spark_hash(k, dtype) % nb for k in keys}
        files = [
            f for f in files
            if (m := _BUCKET_FILE_RE.match(os.path.basename(f))) is None
            or int(m.group(1)) in want
        ]
    if not keys or not files:
        return pa.table({c: [] for c in columns})
    schema = pa.schema([pa.field(f.name, _all_nullable(f.type))
                        for f in pq.read_schema(files[0])])
    return pq.read_table(files, columns=columns, schema=schema,
                         filters=[(col, "in", keys)])


def store_report(spark, table: str, bucket_col: str) -> dict:
    """Operational stats of a persisted store table — the 'when to
    compact / when to widen buckets' dials an index owner reads:

    * ``n_rows`` / ``n_keys`` / ``max_key_rows`` — logical occupancy of
      the bucket COLUMN (a max_key_rows far above n_rows/n_keys means a
      skewed key: the probe path's O(occ) degradation domain);
    * ``n_buckets`` (the spec; 0 for a table registered WITHOUT its
      bucketing sidecar — the report still serves, flagging that probe
      reads on this registration are unpruned) and ``n_files`` —
      physical layout: files_per_bucket ≈ n_files/n_buckets grows by
      one per append, and is exactly the per-probe file-open cost, so
      it is the compaction trigger (compact_store resets it to 1).

    One Spark aggregate over the store (store-sized, never the corpus)
    plus one DESCRIBE and a filesystem listing."""
    import glob

    agg = (
        spark.table(table)
        .groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_key_rows"),
        )
        .collect()[0]
    )
    meta = _describe_meta(spark, table)
    if "Location" not in meta:
        raise ValueError(f"{table} has no location")
    loc = meta["Location"].removeprefix("file:")
    n_files = len(glob.glob(f"{loc}/*.parquet"))
    return {
        "table": table,
        "n_rows": agg["n_rows"],
        "n_keys": agg["n_keys"],
        "max_key_rows": agg["max_key_rows"],
        "n_buckets": int(meta.get("Num Buckets", 0)),
        "n_files": n_files,
    }


def check_store(spark, table: str, id_suffix: str) -> dict:
    """One-pass health check of a persisted store — every guard the
    serve/append/compact lanes enforce, run together and REPORTED
    instead of raised (the operator's pre-flight / incident triage
    surface; CLI ``check-store``).  Returns ``{check: {"ok": bool,
    "detail": str}}`` for:

    * ``meta_sidecar`` — both parts' ``_meta.json`` present and valid
      (:func:`_validated_meta` — the corrupt-sidecar refusal);
    * ``bucketing`` — both parts registered WITH their bucket spec
      (a plain-external registration serves correct answers but
      unpruned probes);
    * ``sidecar_agreement`` — the bidirectional emptiness guard
      (:func:`assert_sidecar_populated`);
    * ``manifest`` — ingest-manifest total vs actual id count
      (:func:`assert_manifest_consistent`, the wiped-vs-empty
      disambiguation);
    * ``write_lease`` — free, or held by whom for how long;
    * ``superseded`` — directories awaiting :func:`vacuum_store`.

    Never raises on a failing check (the whole point is diagnosing a
    store the serve lanes just refused); unexpected infrastructure
    errors (unregistered table, dead metastore) do propagate."""
    import time

    out: dict[str, dict] = {}
    base = table_location(spark, table)
    side_loc = table_location(spark, f"{table}{id_suffix}")
    # meta sidecars
    details = []
    ok = True
    for loc, part in ((base, table), (side_loc, f"{table}{id_suffix}")):
        mp = f"{loc.rstrip('/')}_meta.json"
        if not os.path.exists(mp):
            details.append(f"{part}: no _meta.json")
            ok = False
            continue
        try:
            _validated_meta(mp)
            details.append(f"{part}: ok")
        except ValueError as exc:
            details.append(f"{part}: {exc}")
            ok = False
    out["meta_sidecar"] = {"ok": ok, "detail": "; ".join(details)}
    # bucketing registered
    details, ok = [], True
    for part in (table, f"{table}{id_suffix}"):
        meta = _describe_meta(spark, part)
        nb = int(meta.get("Num Buckets", 0))
        if nb <= 0:
            details.append(f"{part}: UNBUCKETED registration")
            ok = False
        else:
            details.append(f"{part}: {nb} buckets")
    out["bucketing"] = {"ok": ok, "detail": "; ".join(details)}
    # emptiness agreement
    try:
        assert_sidecar_populated(spark, table, id_suffix, "check_store",
                                 use_memo=False)
        out["sidecar_agreement"] = {"ok": True, "detail": "agree"}
    except ValueError as exc:
        out["sidecar_agreement"] = {"ok": False, "detail": str(exc)}
    # manifest cross-check
    try:
        assert_manifest_consistent(spark, table, id_suffix, "check_store",
                                   use_memo=False)
        entries = read_manifest(spark, table) or []
        out["manifest"] = {
            "ok": True,
            "detail": f"{len(entries)} shard(s), "
            f"{sum(e['n_rows'] for e in entries)} ids",
        }
    except ValueError as exc:
        out["manifest"] = {"ok": False, "detail": str(exc)}
    # write lease
    lock_dir = f"{base.rstrip('/')}_lock"
    if not os.path.exists(lock_dir):
        out["write_lease"] = {"ok": True, "detail": "free"}
    else:
        try:
            with open(os.path.join(lock_dir, "lease.json")) as fh:
                holder = json.load(fh)
            age = time.time() - holder.get("ts", 0.0)
            out["write_lease"] = {
                "ok": True,
                "detail": f"held by {holder.get('owner')} for {age:.0f}s",
            }
        except (FileNotFoundError, ValueError):
            out["write_lease"] = {
                "ok": True, "detail": "marker present, lease mid-acquire"
            }
    # superseded directories awaiting vacuum — a corrupt ledger is
    # REPORTED, never raised: aborting the health report on the exact
    # corruption it exists to triage would defeat its contract
    lp = f"{base.rstrip('/')}_superseded.json"
    if os.path.exists(lp):
        try:
            with open(lp) as fh:
                ledger = json.load(fh)
            if not isinstance(ledger, list):
                raise ValueError("not a list of entries")
            out["superseded"] = {
                "ok": True,
                "detail": f"{len(ledger)} dir(s) awaiting vacuum",
            }
        except ValueError as exc:
            out["superseded"] = {
                "ok": False,
                "detail": f"corrupt superseded ledger {lp}: {exc}",
            }
    else:
        out["superseded"] = {"ok": True, "detail": "none"}
    # tombstones awaiting physical reclamation
    tombs = tombstones_df(spark, table)
    if tombs is None:
        out["tombstones"] = {"ok": True, "detail": "none"}
    else:
        n = tombs.count()
        out["tombstones"] = {
            "ok": True,
            "detail": f"{n} deleted id(s) awaiting compaction",
        }
    return out


# ---------------------------------------------------------------------------
# segmented-store lifecycle — one append, one compaction, one delete lane
# ---------------------------------------------------------------------------
#
# The raw-TF, near-dup (dedup_store) and embedding (embedding_store)
# stores are each a main table bucketed by its lookup key plus an id
# sidecar bucketed by id; each supplies a SegmentedStore constant and
# shares the three lanes below.


class SegmentedStore(NamedTuple):
    """What differs between the segmented stores, as per-store
    constants (never caller options):

    * ``id_col`` / ``id_suffix`` — the id column and the id sidecar
      ``{table}{id_suffix}`` (bucketed by ``id_col``);
    * ``bucket_col`` — the main table's bucket column;
    * ``rows`` — deduped, anti-joined batch → (main-table rows, sidecar
      rows), the two row sets one append writes;
    * ``check`` — an optional ``(batch, what)`` refusal gate run on the
      raw batch before anything is written;
    * ``folds`` — optional suffix → ``(part, tombstones or None)``
      rewrites for parts whose compaction FOLDS rows instead of copying
      them; a fold applies the tombstones itself."""

    id_col: str
    id_suffix: str
    bucket_col: str
    rows: Callable[[DataFrame], tuple[DataFrame, DataFrame]]
    check: Callable[[DataFrame, str], None] | None = None
    folds: dict | None = None


def drop_tombstoned(df: DataFrame, tombs: DataFrame | None,
                    id_col: str) -> DataFrame:
    """``df`` minus its tombstoned ids; ``df`` itself when the store has
    no tombstones, so a store that never saw a delete keeps its plan."""
    if tombs is None:
        return df
    return df.join(tombs.select(id_col), id_col, "left_anti")


def compaction_transforms(store: SegmentedStore,
                          tombs: DataFrame | None) -> dict:
    """The per-part rewrites :func:`segmented_compact` hands to
    :func:`compact_store`: each part's fold when the store declares
    one, else the tombstone anti-join when tombstones exist, else
    nothing (a row-preserving copy)."""
    folds = store.folds or {}
    out = {}
    for suffix in ("", store.id_suffix):
        if suffix in folds:
            out[suffix] = lambda df, f=folds[suffix]: f(df, tombs)
        elif tombs is not None:
            out[suffix] = lambda df: drop_tombstoned(df, tombs, store.id_col)
    return out


def segmented_append(spark, store: SegmentedStore, table: str,
                     batch: DataFrame, shard_id: str | None,
                     lease_stale_sec: float, what: str) -> None:
    """The one append lane of every segmented store: write a NEW batch
    as one more segment of the main table plus its ids into the id
    sidecar, at batch-sized cost.  Nothing rewrites the base; appended
    files land in the tables' existing bucket layout (the writer's
    spec must match the table's or Spark refuses), so lookups stay
    bucket-pruned across build ∪ append.

    IDEMPOTENT on replayed ids: intra-batch duplicate ids collapse to
    one arbitrary representative FIRST (the anti-join only removes ids
    already in the sidecar, so an id occurring twice in one shard would
    otherwise be indexed twice and land twice in the sidecar), then
    ids already in the sidecar are anti-joined out (batch-sized work —
    the sidecar is id-bucketed, read in place), so re-ingesting a shard
    never double-indexes.  A TOMBSTONED id refuses before that
    anti-join (:func:`assert_batch_not_tombstoned`).

    SINGLE-WRITER: the whole refresh→anti-join→write→stamp sequence
    runs under :func:`store_write_lease` — a second live appender
    refuses with the holder's name instead of interleaving (crashed
    holders are taken over after ``lease_stale_sec``).  The sidecar
    guard and the ingest manifest are checked BEFORE the writes
    (refusing to append into a store that already lost data), and the
    manifest is stamped with this shard's NEW id count after them.

    Crash windows: the main-table rows write FIRST and the sidecar
    second — a crash between the two re-appends the segment on replay
    (the sidecar never saw its ids), which each store's serve path
    absorbs; a crash between the sidecar write and the stamp leaves
    actual > manifest, which every lane refuses by name until
    ``repair-manifest`` adopts it."""
    nb = table_buckets(spark, table)
    ids = f"{table}{store.id_suffix}"
    with store_write_lease(spark, table, stale_sec=lease_stale_sec):
        refresh_store(spark, table, ("", store.id_suffix))
        assert_sidecar_populated(spark, table, store.id_suffix, what,
                                 use_memo=False)
        assert_manifest_consistent(spark, table, store.id_suffix, what,
                                   use_memo=False)
        if store.check is not None:
            store.check(batch, what)
        existing = spark.table(ids).select(store.id_col)
        batch = batch.dropDuplicates([store.id_col])
        # BEFORE the idempotence anti-join: a tombstoned id is still
        # physically in the sidecar, so the anti-join would silently
        # swallow it instead of surfacing the refusal
        assert_batch_not_tombstoned(spark, table, store.id_col, batch, what)
        main, side = store.rows(batch.join(existing, store.id_col,
                                           "left_anti"))
        (
            main.write.mode("append")
            .bucketBy(nb, store.bucket_col).sortBy(store.bucket_col)
            .saveAsTable(table)
        )
        (
            side.write.mode("append")
            .bucketBy(nb, store.id_col).sortBy(store.id_col)
            .saveAsTable(ids)
        )
        # this session must SEE the writes just made: when the batch
        # frame belongs to another session (foreachBatch's clone), the
        # writes land via that session and this one's cached file
        # listings are stale — refresh both, or the stamp's count
        # under-records the shard (the NEXT append refuses) and this
        # session's searches score stale postings with the new N
        for t in (table, ids):
            spark.sql(f"REFRESH TABLE {t}")
        stamp_manifest(spark, table, spark.table(ids).count(), shard_id)


def segmented_compact(spark, store: SegmentedStore, table: str,
                      new_path: str, what: str) -> None:
    """The one compaction lane: :func:`compact_store`'s one-file-per-
    bucket immutable swap to ``new_path`` with the store's
    :func:`compaction_transforms`.  Reads the persisted rows; the
    corpus is never re-derived.  Refuses a store whose sidecar is
    missing or whose ingest manifest diverges — compaction would
    otherwise rewrite the corruption into a fresh-looking store with
    new meta sidecars.  Runs under the single-writer lease (a compactor
    IS a writer), anchored at BOTH the current and the new base so the
    mid-swap repoint can't let a second writer in.  A DELETING
    compaction (tombstones exist) drops the tombstoned ids from every
    part during the rewrite, then retires the tombstone table and
    stamps the negative delta (:func:`apply_tombstones_in_compaction`)."""
    with store_write_lease(spark, table, extra_paths=(new_path,)):
        assert_sidecar_populated(spark, table, store.id_suffix, what,
                                 use_memo=False)
        assert_manifest_consistent(spark, table, store.id_suffix, what,
                                   use_memo=False)
        tombs = tombstones_df(spark, table)
        compact_store(
            spark, table, new_path,
            [("", store.bucket_col), (store.id_suffix, store.id_col)],
            transforms=compaction_transforms(store, tombs),
        )
        if tombs is not None:
            apply_tombstones_in_compaction(spark, table, store.id_suffix,
                                           new_path)


def segmented_delete(spark, store: SegmentedStore, table: str, ids,
                     lease_stale_sec: float, what: str) -> dict:
    """The one delete lane: tombstone ``ids`` (an iterable of ids or a
    DataFrame with the store's id column) under the single-writer lease
    with the store guards — a deleter is a writer, and tombstoning ids
    against a store that already lost data would mask the loss.  Serve
    paths exclude the ids from the next call on, appends of them
    refuse, and the next compaction removes their rows physically.
    Returns :func:`record_tombstones`' reconciliation counts
    (requested / deleted / already_deleted / not_indexed)."""
    with store_write_lease(spark, table, stale_sec=lease_stale_sec):
        refresh_store(spark, table, ("", store.id_suffix))
        assert_sidecar_populated(spark, table, store.id_suffix, what,
                                 use_memo=False)
        assert_manifest_consistent(spark, table, store.id_suffix, what,
                                   use_memo=False)
        return record_tombstones(spark, table, store.id_suffix,
                                 store.id_col, ids, what)


def build_index(spark, sf_dir: str, table: str, path: str, buckets: int = 16) -> None:
    """Compute TF-IDF postings from the corpus and persist them as a
    parquet table bucketed+sorted by term, PLUS the per-document
    L2 norms as ``{table}_norms`` — the artifact i17's docstring
    prescribes: norms change only when a document changes, so VSM
    cosine serving reads |Q| postings rows + a doc-keyed norm column
    instead of re-aggregating the corpus-wide weight table per query.

    This WEIGHTED store is rebuild-only: no append lane (weights bake
    in the corpus-global N and df) and no delete lane (post-delete
    serving would score survivors with stale globals) — when ingest
    rolls forward or takedowns are in scope, serve from the segmented
    raw-TF store (:func:`build_tf_index` family), whose query-time
    weighting makes both exact."""
    with build_write_lease(spark, table, path, "build_index"):
        w = tfidf_w(spark, sf_dir)
        index = w.groupBy("term").agg(
            F.count(F.lit(1)).alias("df_count"),
            F.array_sort(
                F.collect_list(F.struct(F.col("doc_id"), F.col("wt")))
            ).alias("postings"),
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            index.write.mode("overwrite")
            .option("path", path)
            .bucketBy(buckets, "term")
            .sortBy("term")
            .saveAsTable(table)
        )
        write_store_meta(index, path, buckets, "term")
        norms = w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}_norms")
        (
            norms.write.mode("overwrite")
            .option("path", f"{path.rstrip('/')}_norms")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(f"{table}_norms")
        )
        write_store_meta(norms, f"{path.rstrip('/')}_norms", buckets, "doc_id")
        reset_manifest(spark, table, spark.table(f"{table}_norms").count())


def _query_postings(spark, table: str, terms, value: str) -> dict:
    """{term: {doc_id: value}} for the query ``terms``: their postings
    rows read in place from the bucket files this session lists for
    ``table`` (:func:`read_by_key` with ``as_listed``; no Spark job),
    folded with per-(term, doc_id) ``max(value)`` — :func:`posting_rows`'
    rule for the duplicates replayed segments carry.  A head term's
    postings row is held whole in the driver here, as one Spark task
    held it on the distributed plan (ROADMAP direction 11)."""
    import pyarrow.compute as pc

    rows = read_by_key(spark, table, "term", sorted(set(terms)),
                       ["term", "postings"], as_listed=True)
    out: dict = {}
    if not rows.num_rows:
        return out
    posts = rows.column("postings").combine_chunks()
    flat = pc.list_flatten(posts)
    for t, d, v in zip(
        pc.take(rows.column("term"), pc.list_parent_indices(posts)).to_pylist(),
        pc.struct_field(flat, "doc_id").to_pylist(),
        pc.struct_field(flat, value).to_pylist(),
    ):
        ps = out.setdefault(t, {})
        if d not in ps or v > ps[d]:
            ps[d] = v
    return out


def _summed(weights: dict, n_terms: int, conjunctive: bool) -> dict:
    """doc_id → its weights summed over the query terms; conjunctive
    keeps the docs matching ``n_terms`` distinct terms (a query that
    repeats a term matches nothing, as it always has)."""
    acc: dict = {}
    hits: dict = {}
    for ws in weights.values():
        for d, w in ws.items():
            acc[d] = acc.get(d, 0.0) + w
            hits[d] = hits.get(d, 0) + 1
    if conjunctive:
        return {d: s for d, s in acc.items() if hits[d] == n_terms}
    return acc


_4DP = Decimal("0.0001")


def spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` of a double: HALF_UP on the double's
    decimal string (``BigDecimal(Double.toString(x))``), so the tie
    ``1.23445`` goes up although the double lies below it."""
    # + 0.0: BigDecimal has no negative zero
    return float(Decimal(repr(x)).quantize(_4DP, ROUND_HALF_UP)) + 0.0


def spark_floor4(x: float) -> float:
    """Spark's ``floor(x * 10000) / 10000`` of a double (VSM scores)."""
    return math.floor(x * 10000) / 10000


def _top_k(spark, scores: dict, k: int) -> DataFrame:
    """The ``k`` best (doc_id, score) by score desc then doc_id, as a
    DataFrame built from an Arrow table: a local relation, so neither
    the call nor its collect starts a job."""
    import heapq

    import pyarrow as pa

    top = heapq.nsmallest(k, scores.items(), key=lambda r: (-r[1], r[0]))
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array([d for d, _ in top], pa.int64()),
        "score": pa.array([s for _, s in top], pa.float64()),
    }))


def search_index(
    spark, table: str, terms: tuple[str, ...], k: int = 10, conjunctive: bool = True
) -> DataFrame:
    """Ranked retrieval served from the persisted index: score = the
    query terms' stored weights summed per doc, 4dp round, score-desc
    doc_id tiebreak, top k.  No Spark job: the |Q| postings rows are
    read in place from their term buckets (:func:`_query_postings`)
    and ranked in Python (:func:`_top_k`) — never the corpus.  Same
    serve-lane guards as the VSM path: a store whose postings or norms
    table was wiped/mis-registered, or whose ingest-manifest total
    diverges from the norms count (TOTAL wipe with surviving sidecar
    files), refuses instead of serving zero hits silently."""
    assert_sidecar_populated(spark, table, "_norms", "search_index")
    assert_manifest_consistent(spark, table, "_norms", "search_index")
    summed = _summed(_query_postings(spark, table, terms, "wt"),
                     len(terms), conjunctive)
    return _top_k(spark, {d: spark_round4(s) for d, s in summed.items()},
                  k)


def search_index_vsm(
    spark, table: str, terms: tuple[str, ...], k: int = 10
) -> DataFrame:
    """i17's VSM cosine ranking served from the PERSISTED index + norms
    (conjunctive, 4dp-floored score, doc_id tiebreak — identical output
    contract to the live i17).  No Spark job: the |Q| postings rows
    are read in place (:func:`_query_postings`), the hit set (docs
    containing all |Q| terms) is formed in Python, and only the hit
    ids' ``_norms`` buckets are read for their norms — the
    corpus-sized norms column is never scanned.
    A store whose _norms sidecar went missing raises — the empty norms
    lookup would serve zero hits silently (assert_sidecar_populated) —
    and so does a store whose ingest-manifest total diverges from the
    norms count (TOTAL wipe with surviving sidecar files:
    assert_manifest_consistent)."""
    assert_sidecar_populated(spark, table, "_norms", "search_index_vsm")
    assert_manifest_consistent(spark, table, "_norms", "search_index_vsm")
    qdot = _summed(_query_postings(spark, table, terms, "wt"), len(terms),
                   True)
    norms = read_by_key(spark, f"{table}_norms", "doc_id", sorted(qdot),
                        ["doc_id", "nrm"], as_listed=True).to_pydict()
    return _top_k(spark, {
        d: spark_floor4(qdot[d] / n)
        for d, n in zip(norms["doc_id"], norms["nrm"])
    }, k)


# ---------------------------------------------------------------------------
# incremental index maintenance
# ---------------------------------------------------------------------------
#
# TF-IDF *weights* depend on the corpus-global N and df, so a weighted
# index can only be rebuilt.  The incrementally-maintainable artifact is
# the RAW-TF postings index: tf is doc-local (new documents never change
# an existing posting), so ingesting a delta corpus touches only the
# delta's own terms; N and df are derivable (df from the postings, N
# from the _docs sidecar) and the tf*ln(N/df) weighting is applied
# query-time.  Two roll-forward shapes, both shipped:
#
# * merge_tf_delta — delta-sized COMPUTE, full-index WRITE: one
#   full-outer join on term producing the complete merged index for an
#   immutable swap.  At 100 TB the base's term buckets are read in
#   place (asserted comparatively in tests: bucketed base ⇒ one fewer
#   hash Exchange than an unbucketed copy of the same merge).
# * append_tf_index + search_tf_index — delta-sized WRITE, LSM-style:
#   each batch appends segment rows into the same bucket layout and
#   the server folds segments at query time over just the |Q| looked-up
#   terms; compact_tf_index folds segments back to one row per term
#   when the per-lookup row count grows.  This is the ingestion-service
#   shape (a year of daily shards never rewrites the base).


def _tf_segment(docs: DataFrame) -> DataFrame:
    """(term, df_count, postings[(doc_id, tf)]) rows for ONE batch of
    documents — the unit both the full build and every append write."""
    tf = term_freq(tokenize(docs))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_count"),
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id"), F.col("tf")))
        ).alias("postings"),
    )


def build_tf_index(
    spark, docs: DataFrame, table: str, path: str, buckets: int = 16
) -> None:
    """Persist the raw-TF postings index (term, df_count,
    postings[(doc_id, tf)]) bucketed+sorted by term, PLUS the
    ``{table}_docs`` sidecar of ingested doc_ids (doc_id-bucketed) —
    the corpus count N for query-time weighting and the idempotence
    key for :func:`append_tf_index`.  Intra-batch duplicate doc_ids
    are collapsed to one arbitrary representative first (a duplicated
    row would DOUBLE every tf for that document and double-count it in
    N; a batch carrying conflicting texts for one id is a producer bug
    this boundary does not adjudicate)."""
    with build_write_lease(spark, table, path, "build_tf_index"):
        docs = docs.dropDuplicates(["doc_id"])
        index = _tf_segment(docs)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            index.write.mode("overwrite")
            .option("path", path)
            .bucketBy(buckets, "term")
            .sortBy("term")
            .saveAsTable(table)
        )
        write_store_meta(index, path, buckets, "term")
        ids = docs.select("doc_id")
        spark.sql(f"DROP TABLE IF EXISTS {table}_docs")
        (
            ids.write.mode("overwrite")
            .option("path", f"{path.rstrip('/')}_docs")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(f"{table}_docs")
        )
        write_store_meta(ids, f"{path.rstrip('/')}_docs", buckets, "doc_id")
        clear_tombstones(spark, table, path)
        reset_manifest(spark, table, spark.table(f"{table}_docs").count())
        _N_DOCS_MEMO.pop((spark.sparkContext.applicationId, table), None)


def posting_rows(index: DataFrame,
                 tombs: DataFrame | None = None) -> DataFrame:
    """(term, doc_id, tf) — one row per (term, doc_id) of a segmented
    index's postings, tombstoned doc_ids dropped when tombstones exist.
    Per-(term, doc_id) ``max(tf)`` collapses the duplicates segments
    can carry (a replayed segment after a crash, or a replay with a
    conflicting tf for an already-ingested doc), so df derived from
    these rows never double-counts a document.  The compaction fold
    (:func:`fold_postings`) reads postings through it; the serve path
    (:func:`search_tf_index`) reads its |Q| rows in place and applies
    the same max(tf) rule in Python (:func:`_query_postings`)."""
    posts = (
        index.select("term", F.explode("postings").alias("p"))
        .select(
            "term",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
        )
    )
    posts = drop_tombstoned(posts, tombs, "doc_id")
    return posts.groupBy("term", "doc_id").agg(F.max("tf").alias("tf"))


def fold_postings(index: DataFrame,
                  tombs: DataFrame | None = None) -> DataFrame:
    """Segments → ONE (term, df_count, postings) row per term:
    :func:`posting_rows` re-collected, df_count = size(postings).
    Linear in postings (explode + hash aggregate); a term whose
    postings all died with the tombstones disappears with its group."""
    return (
        posting_rows(index, tombs)
        .groupBy("term")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("postings")
        )
        .select(
            "term",
            F.size("postings").cast("bigint").alias("df_count"),
            "postings",
        )
    )


#: The raw-TF store's lane constants: postings bucketed by term, ids in
#: ``{table}_docs``; compaction folds the segments per term and reduces
#: ``_docs`` to distinct ids.
TF_STORE = SegmentedStore(
    id_col="doc_id",
    id_suffix="_docs",
    bucket_col="term",
    rows=lambda docs: (_tf_segment(docs), docs.select("doc_id")),
    folds={
        "": fold_postings,
        "_docs": lambda df, tombs: drop_tombstoned(
            df.distinct(), tombs, "doc_id"
        ),
    },
)


def merge_tf_delta(spark, base_table: str, delta_docs: DataFrame) -> DataFrame:
    """The merged index plan: base postings full-outer-joined with the
    delta corpus's TF aggregate on term; postings concatenate (disjoint
    doc_ids), df counts add.  Returns the DataFrame — callers persist
    it as a new bucketed table (immutable swap, module docstring)."""
    base = spark.table(base_table)
    delta = _tf_segment(delta_docs).select(
        "term",
        F.col("df_count").alias("d_df"),
        F.col("postings").alias("d_postings"),
    )
    empty = F.array().cast("array<struct<doc_id:bigint,tf:bigint>>")
    return (
        base.join(delta, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df_count"), F.lit(0))
                + F.coalesce(F.col("d_df"), F.lit(0))
            ).alias("df_count"),
            F.array_sort(
                F.concat(
                    F.coalesce(F.col("postings"), empty),
                    F.coalesce(F.col("d_postings"), empty),
                )
            ).alias("postings"),
        )
    )


def append_tf_index(spark, table: str, docs: DataFrame,
                    shard_id: str | None = None,
                    lease_stale_sec: float = 3600.0) -> None:
    """Append a NEW batch as a SEGMENT of the raw-TF index — the
    search lane's index roll-forward at batch-sized cost, LSM-style: a
    term that appears in several batches owns several (term, df_count,
    postings) rows, and the serving path (:func:`search_tf_index`)
    folds segments at query time over just the |Q| looked-up terms.

    Protocol (idempotence, single writer, manifest, crash windows):
    :func:`segmented_append`.  A crash between the segment write and
    the ``_docs`` write re-appends the segment on replay; serving
    collapses such duplicates by construction (:func:`posting_rows`;
    df derived from the deduped postings, never from the stored
    counters).  Between the crash and the replay the orphan segment's
    docs count toward df but not N — scores are mildly deflated until
    the shard is replayed, never NULL or doubled."""
    segmented_append(spark, TF_STORE, table, docs, shard_id,
                     lease_stale_sec, "append_tf_index")
    _N_DOCS_MEMO.pop((spark.sparkContext.applicationId, table), None)


def search_tf_index(
    spark, table: str, terms: tuple[str, ...], k: int = 10,
    conjunctive: bool = True,
) -> DataFrame:
    """Ranked retrieval served from the SEGMENTED raw-TF index with
    QUERY-TIME weighting — identical output contract to
    :func:`search_index` (wt = tf·ln(N/df) summed per doc, 4dp round,
    score-desc doc_id tiebreak), but the index underneath can roll
    forward via :func:`append_tf_index`: because weights are applied
    at query time from the CURRENT N and df, an appended batch
    correctly shifts every affected score (a weighted store would
    serve stale global weights until rebuilt; parity with a full
    weighted rebuild is pinned in tests).

    No Spark job per query: the |Q| query terms' segment rows are read
    in place from their term buckets and folded in Python
    (:func:`_query_postings`, :func:`_top_k`).  The corpus count N
    comes from the ``_docs`` sidecar, memoized per (session, table) so
    serving pays the count once per reader-open, not per query
    (invalidated by refresh_store / append / compaction / delete).
    The segment rows are read from the files this session's relation
    lists, which the same events renew, so N and the postings always
    come from one view of the store: another session's append changes
    neither until ``refresh_store``.  A sidecar-less store (postings without ids) raises;
    a store empty on BOTH sides serves the empty result set — note
    this makes TOTAL data loss (both directories wiped, meta sidecars
    surviving) indistinguishable from the legitimate
    built-ahead-of-first-shard state: ``store_report``'s n_rows is the
    operational check for that.  df per term
    is derived from the DEDUPED postings (count of distinct doc_ids),
    not by trusting the per-segment ``df_count`` counters — this makes
    serving immune to the replayed-segment duplicates the append
    ordering can leave behind.  The per-(doc,term) weight expression
    is the same op chain as ``_tfidf_from`` (double division, log,
    multiply) and the 4dp round is Spark's (:func:`spark_round4`), so
    scores match the weighted store's.

    DELETIONS are exact here without compaction: tombstoned doc_ids
    (:func:`delete_from_tf_index`) are dropped from the looked-up
    postings (the tombstone table's files are read for the hit ids) — which corrects each queried term's df for
    free, since df is derived from those very rows — and N counts the
    ingested ids that are not tombstoned, so results equal a
    fresh rebuild over the surviving corpus (pinned by
    test_tf_delete_serves_exact_rebuild_parity).  This is why the
    segmented store is the one to use when takedowns are in scope:
    the weighted store's baked-in N/df can only be rebuilt.

    Serve-side wipe guard: the memoized bidirectional
    assert_sidecar_populated refuses a store whose POSTINGS table is
    empty while ``_docs`` has ids (wiped or mis-registered postings
    dir — every query would silently return zero hits); the inline
    n_docs check below covers the opposite registration hole with the
    weighting-specific message."""
    assert_sidecar_populated(spark, table, "_docs", "search_tf_index")
    n_docs = _n_docs(spark, table)
    # TOTAL-loss disambiguation: both directories wiped with sidecar
    # files surviving used to be indistinguishable from the legitimate
    # built-ahead-of-first-shard state (this docstring's own disclosed
    # hole) — the ingest manifest now settles it: an empty store with
    # ingested shards on record REFUSES instead of serving empty
    assert_manifest_consistent(spark, table, "_docs", "search_tf_index",
                               actual=n_docs)
    if n_docs <= 0 and not spark.table(table).isEmpty():
        # postings with no ingested ids = the _docs sidecar is missing
        # (a registration without it): ln(0/df) would NULL every score
        # silently.  A store that is empty on BOTH sides is a
        # legitimate state (built ahead of the first shard) and serves
        # the empty result set, never an error.
        raise ValueError(
            f"{table}_docs is empty while {table} has postings — was "
            "the store registered without its _docs sidecar?"
        )
    tombs = tombstones_df(spark, table)
    posts = _query_postings(spark, table, terms, "tf")
    if tombs is not None:
        # N counts the _docs ids that are not tombstoned, never
        # "ingested minus tombstoned": a deleting compaction that
        # crashed before retiring its tombstones leaves ids in the set
        # that are already physically gone
        n_docs = _n_docs(spark, table, tombs)
        dead = set(read_by_key(
            spark, f"{table}{_TOMBS_SUFFIX}", "doc_id",
            sorted({d for ps in posts.values() for d in ps}), ["doc_id"],
            as_listed=True,
        ).column("doc_id").to_pylist())
        # with every ingested id tombstoned nothing live is left to
        # rank (what postings remain are a crashed append's orphans)
        posts = {t: {d: tf for d, tf in ps.items() if d not in dead}
                 for t, ps in posts.items() if n_docs > 0}
    # df = the surviving doc_ids; wt = tf·ln(N/df), Spark's op chain
    summed = _summed({
        t: {d: tf * math.log(n_docs / len(ps)) for d, tf in ps.items()}
        for t, ps in posts.items()
    }, len(terms), conjunctive)
    return _top_k(spark, {d: spark_round4(s) for d, s in summed.items()},
                  k)


def compact_tf_index(spark, table: str, new_path: str) -> None:
    """Fold the accumulated segments back to ONE row per term
    (:func:`fold_postings` — the same per-(term, doc_id) max(tf)
    collapse the serve path applies, so replay duplicates disappear
    here too and df_count is recounted from the merged postings) and
    the ``_docs`` sidecar to distinct ids, while rewriting to one file
    per bucket.
    Protocol (guards, lease, tombstones): :func:`segmented_compact`."""
    try:
        segmented_compact(spark, TF_STORE, table, new_path,
                          "compact_tf_index")
    finally:
        # a compaction that fails after its repoint has changed _docs
        _N_DOCS_MEMO.pop((spark.sparkContext.applicationId, table), None)


def _merged_index_df(spark, sf_dir: str) -> DataFrame:
    """Session-staged incremental refresh: persist a bucketed base
    index over 90% of the corpus once per (session, sf) — c17's
    build-once economics, applicationId-keyed names so a stale
    metastore entry can never serve a dead path — then merge the
    remaining 10% as a delta batch."""
    import re as _re

    docs = load(spark, sf_dir, "documents")
    base_docs = docs.filter(F.col("doc_id") % 10 != 0)
    delta_docs = docs.filter(F.col("doc_id") % 10 == 0)
    import os
    import tempfile

    tag = _re.sub(
        r"[^a-z0-9]", "_",
        f"{spark.sparkContext.applicationId}_{os.path.basename(sf_dir.rstrip('/'))}".lower(),
    )
    table = f"bdt_i26_base_{tag}"
    if not spark.catalog.tableExists(table):
        path = os.path.join(tempfile.gettempdir(), table)
        build_tf_index(spark, base_docs, table, path, buckets=8)
        import atexit
        import shutil

        atexit.register(shutil.rmtree, path, ignore_errors=True)
        atexit.register(shutil.rmtree, f"{path}_docs", ignore_errors=True)
    return merge_tf_delta(spark, table, delta_docs)


from ..registry import query  # noqa: E402
from .text_search import _TOK_CTE  # noqa: E402


@query(
    "i26_index_refresh",
    oracle=f"WITH {_TOK_CTE},"
    """
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df_count FROM tf GROUP BY term)
    SELECT tf.term, df_count, tf.doc_id, tf.tf
    FROM tf JOIN dfreq USING (term)
    """,
)
def i26_index_refresh(spark, sf_dir) -> DataFrame:
    """Incremental index refresh as a DECLARED query: a bucketed base
    index over 90% of the corpus (persisted once per session) is
    merged with the other 10% as a delta batch — postings concatenate,
    df counts add — and the result, exploded back to (term, df_count,
    doc_id, tf) rows, must equal the ORACLE'S full-corpus rebuild.
    This is the reference archetype's nightly-rebuild replaced by
    k19's mergeable-state algebra: postings lists and df counts are
    associative, so refresh cost is delta-sized.

    100 TB shape: the merge is ONE full-outer join on term that reads
    the base's buckets in place (comparative-Exchange property pinned
    in test_plans); the delta TF aggregate is delta-sized; nothing
    rescans the 90%.  The streaming twin
    (run_streaming_index_merge_smoke) drives the same merge from a
    file-source stream via foreachBatch."""
    merged = _merged_index_df(spark, sf_dir)
    return merged.select(
        "term",
        "df_count",
        F.explode("postings").alias("p"),
    ).select(
        "term",
        "df_count",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
    )
