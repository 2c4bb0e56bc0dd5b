"""Sinks: append-ignore, merge-upsert, surrogate keys, quarantine
(SURVEY.md §2.A A6-A8, §2.I I1).

The reference's sinks are row-at-a-time psycopg2 `INSERT ... ON CONFLICT`
loops (loaders/__init__.py:77-101, 253-273 and siblings). On Spark + plain
Parquet there is no transactional upsert, so the engine implements MERGE as
read → full-outer merge → atomic overwrite (temp dir + rename), which keeps
the reference's two core guarantees:

- idempotent re-runs (README.md:12) — replaying the same batch is a no-op;
- all-or-nothing per table (loaders/__init__.py:108-113) — a crashed write
  never leaves a half-table behind.

Tables merged partition by partition, or read by version, are manifest
tables (`merge_upsert_manifest` and the verbs beside it): a MERGE rewrites
only the partitions its batch touches and commits them all with one atomic
manifest creation. On a real deployment the same dataflow drops into
Delta/Iceberg `MERGE INTO` unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse
import uuid
from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from f1_data_pipeline_spark.operators.partitioning import (
    DERIVED_COL,
    apply_transform,
    parse_partition_spec,
    partition_column_name,
    prune_partition_keys,
)
from f1_data_pipeline_spark.operators.relational import (
    anti_join_existing,
    merge_upsert_frames,
)


# ---------------------------------------------------------------------------
# atomic table writes (I4 — txn commit/rollback analog)
# ---------------------------------------------------------------------------

def _table_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS")) or (
        os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path))
    )


def read_table(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Read a sink table; empty-but-typed frame if it doesn't exist yet."""
    if _table_exists(path):
        return spark.read.parquet(path)
    if schema is None:
        raise FileNotFoundError(f"table does not exist and no schema given: {path}")
    return spark.createDataFrame([], schema)


def write_atomic(df: DataFrame, path: str, partition_by: Sequence[str] | None = None) -> None:
    """Write df to `path` with temp-dir + rename so readers never observe a
    partial table (reference: one transaction per table load)."""
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    backup = None
    if os.path.exists(path):
        backup = f"{path}.__old__{uuid.uuid4().hex[:8]}"
        os.rename(path, backup)
    os.rename(tmp, path)
    if backup:
        shutil.rmtree(backup, ignore_errors=True)


def _link_tree(src: str, dst: str) -> None:
    """Hardlink every data file under src into dst, preserving relative
    layout (metadata-only: no bytes copied; falls back to copy across
    filesystems)."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out_dir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out_dir, exist_ok=True)
        for f in files:
            if f.startswith(("_", ".")):
                continue  # markers/CRCs regenerate; only data files matter
            s, d = os.path.join(root, f), os.path.join(out_dir, f)
            try:
                os.link(s, d)
            except OSError:  # pragma: no cover — cross-device fallback
                shutil.copy2(s, d)


def append_atomic(df: DataFrame, path: str) -> None:
    """Append df's rows to the table at `path` with the same all-or-nothing
    visibility as `write_atomic`: new files are staged in a side directory,
    a successor table directory is assembled from hardlinks to the current
    files plus the staged ones (metadata-only, no data rewritten), and the
    directory is swapped in with one rename. A crash at any point leaves
    either the old table or the fully-appended one — never a partial batch
    (a plain `mode("append")` exposes partially-committed task files to
    directory-listing readers if the job dies mid-commit)."""
    stage = f"{path}.__append__{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(stage)
    try:
        if not _table_exists(path):
            os.rename(stage, path)
            return
        nxt = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
        _link_tree(path, nxt)
        batch_id = uuid.uuid4().hex[:8]
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.link(os.path.join(stage, f), os.path.join(nxt, f"app-{batch_id}-{f}"))
        open(os.path.join(nxt, "_SUCCESS"), "w").close()
        backup = f"{path}.__old__{uuid.uuid4().hex[:8]}"
        os.rename(path, backup)
        os.rename(nxt, path)
        shutil.rmtree(backup, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# ---------------------------------------------------------------------------
# A6 — insert-ignore (ON CONFLICT DO NOTHING)
# ---------------------------------------------------------------------------

def insert_ignore(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[Column] | None = None,
) -> int:
    """Append rows whose keys don't exist yet; duplicate keys within the
    batch keep the first row by `order_by` (loaders/__init__.py:70-101).

    Returns the number of rows actually appended. New rows land via
    `append_atomic` (hardlink-assembled successor directory + rename — no
    existing data rewritten, and readers never observe a partial batch) —
    conflict detection is a left-anti join that AQE broadcasts when the key
    side is small.
    """
    existing = read_table(spark, path, new_rows.schema)
    batch = new_rows
    if order_by is not None:
        w = Window.partitionBy(*keys).orderBy(*order_by)
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        batch = batch.dropDuplicates(list(keys))
    to_insert = anti_join_existing(batch, existing, keys).persist()
    n = to_insert.count()
    if n:
        append_atomic(to_insert, path)
    to_insert.unpersist()
    return n


# ---------------------------------------------------------------------------
# A7 — merge-upsert (ON CONFLICT DO UPDATE)
# ---------------------------------------------------------------------------

def _align_schema(
    existing: DataFrame, updates: DataFrame, schema_evolution: bool = False
) -> DataFrame:
    """Align the existing table to the update batch for the merge.

    Shared columns cast to the batch's types (parquet partition-column
    inference can drift a read-back type — e.g. a string `day` written as
    partition dirs reads back as DATE; merging unaligned frames would
    silently change the table's schema). Table columns the batch OMITS are
    kept — `merge_upsert_frames` passes them through untouched, so a
    partial-column batch never nulls a column out. Columns the batch adds
    require `schema_evolution=True` (the Delta `mergeSchema` analog):
    existing rows backfill NULL; without the flag they raise."""
    new_cols = [c for c in updates.columns if c not in existing.columns]
    if new_cols and not schema_evolution:
        raise ValueError(
            f"update batch has columns the table lacks: {new_cols} — pass "
            "schema_evolution=True to evolve the table schema"
        )
    # stable table-schema order: existing columns keep their positions
    # (cast to the batch's types where shared), new columns append
    upd_types = {f.name: f.dataType for f in updates.schema.fields}
    cols = [
        F.col(f.name).cast(upd_types[f.name]).alias(f.name)
        if f.name in upd_types
        else F.col(f.name)
        for f in existing.schema.fields
    ]
    cols += [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in updates.schema.fields
        if f.name not in existing.columns
    ]
    return existing.select(cols)


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    schema_evolution: bool = False,
) -> int:
    """MERGE `updates` into the table at `path` keyed on `keys`.

    Update rows win per-column; unmatched update rows insert; untouched rows
    are preserved. Deterministic and idempotent (H7). Returns update count.

    `schema_evolution=True` admits update batches with NEW columns: the
    table's schema widens, existing rows backfill NULL (the full-rewrite
    path makes this safe for plain parquet — every file gets the new
    schema in one atomic swap). Batches that OMIT existing columns leave
    them untouched in either mode.
    """
    existing = _align_schema(
        read_table(spark, path, updates.schema), updates, schema_evolution
    )
    merged = merge_upsert_frames(existing, updates, keys)
    # applied-row count = distinct update keys (merge_upsert_frames collapses
    # duplicate-keyed update rows — updates.count() would over-report)
    n = updates.select(*keys).distinct().count()
    write_atomic(merged, path, partition_by)
    return n


# ---------------------------------------------------------------------------
# A8/§7.5 — surrogate key allocation (SERIAL fidelity)
# ---------------------------------------------------------------------------

def allocate_surrogate_keys(
    new_rows: DataFrame,
    existing: DataFrame,
    id_col: str,
    order_by: Sequence[Column],
) -> DataFrame:
    """new_id = max(existing.id) + row_number() over a declared natural-key
    order — deterministic, collision-free, idempotent with the anti-join.

    Reference: Postgres SERIAL + setval(max(id)) (loaders/__init__.py:103-106).
    The max() is one scalar from a column-pruned scan (cheap at any scale);
    row_number runs on a single-partition window over *new rows only*, which
    is fine because ingest batches are bounded (one round), never fact-sized.
    """
    max_id = (
        existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m")).collect()[0]["m"]
    )
    w = Window.orderBy(*order_by)
    return new_rows.withColumn(
        id_col, (F.lit(max_id) + F.row_number().over(w)).cast("int")
    )


# ---------------------------------------------------------------------------
# I1 — row-level quarantine (per-row SAVEPOINT analog)
# ---------------------------------------------------------------------------

def quarantine(
    df: DataFrame, rules: Sequence[tuple[str, Column]]
) -> tuple[DataFrame, DataFrame]:
    """Split df into (valid, rejected) by quality rules.

    `rules` is [(rule_name, predicate_that_must_hold)]. Rejected rows carry a
    `_violations` column naming every failed rule — richer than the
    reference, which only knows "some constraint fired" per row
    (loaders/__init__.py:87-101). One projection, no shuffle; the two sides
    share the scan.
    """
    viol = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
                for name, pred in rules
            ]
        )
    )
    tagged = df.withColumn("_violations", viol)
    valid = tagged.filter(F.size("_violations") == 0).drop("_violations")
    rejected = tagged.filter(F.size("_violations") > 0)
    return valid, rejected


def not_null_rule(col: str) -> tuple[str, Column]:
    return (f"not_null:{col}", F.col(col).isNotNull())


def enum_rule(col: str, allowed: Sequence[str]) -> tuple[str, Column]:
    return (f"enum:{col}", F.col(col).isin(list(allowed)) | F.col(col).isNull())


def range_rule(col: str, lo, hi) -> tuple[str, Column]:
    return (f"range:{col}", F.col(col).between(lo, hi) | F.col(col).isNull())


def fk_violations(fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
    """C5 — referential-integrity check: fact rows whose FK misses the dim
    (left-anti join; count()==0 ⇔ constraint holds)."""
    return fact.filter(F.col(fk).isNotNull()).join(
        dim.select(F.col(pk).alias(fk)), [fk], "left_anti"
    )


# ---------------------------------------------------------------------------
# bucketed tables — co-located joins without a shuffle (§4.1 access-path
# tuning: the reference's secondary indexes become bucketing/clustering)
# ---------------------------------------------------------------------------

def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table.

    Two tables bucketed on their join key with the same bucket count join
    with NO exchange on either side (proven in tests/test_skew_bucketing.py)
    — at 100 TB this is the difference between re-shuffling the fact table
    every query and reading co-located buckets. Bucket count is a layout
    decision: pick ≈ (table size / healthy partition size) and keep it
    stable across writers so joins stay aligned.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


# ---------------------------------------------------------------------------
# small-file compaction — append sinks (A6) and foreachBatch streams create
# one file batch per write; at 100 TB the resulting file-count explosion
# dominates scan planning time and NameNode/listing pressure
# ---------------------------------------------------------------------------

def _detect_partition_cols(path: str) -> list[str]:
    """Infer a hive-style `name=value` directory layout's partition columns
    by walking the first directory chain under `path`."""
    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            e
            for e in sorted(os.listdir(cur))
            if "=" in e
            and not e.startswith(("_", "."))
            and os.path.isdir(os.path.join(cur, e))
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Rewrite a parquet table into ≈target-sized files (atomic swap).

    File count = ceil(current bytes / target); coalesce when shrinking
    (no shuffle — narrow dependency), repartition only if the table has
    too few files to split. A partitionBy-laid-out table is detected from
    its `name=value` directories and its layout preserved even when
    `partition_by` is not passed (a flat rewrite would keep the data but
    destroy the directory scheme — and with it partition pruning).
    Returns {files_before, files_after, bytes, partition_by}.
    """
    import glob as _glob

    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, -(-total // target_file_bytes))  # ceil
    detected = _detect_partition_cols(path)
    if partition_by is None and detected:
        partition_by = detected
    elif partition_by is not None and detected and list(partition_by) != detected:
        raise ValueError(
            f"table at {path} is laid out by {detected} but compact was "
            f"asked to partition by {list(partition_by)}"
        )
    df = spark.read.parquet(path)
    out = df.coalesce(n_target) if n_target <= len(files) else df.repartition(n_target)
    write_atomic(out, path, partition_by)
    after = len(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
        "partition_by": list(partition_by) if partition_by else None,
    }


# ---------------------------------------------------------------------------
# manifest-committed tables — the engine's one format for tables merged
# partition by partition or read by version (the whole-table overwrite
# writers above rewrite everything on every write and keep no history). It
# is the Iceberg/Delta commit model, reduced to its minimum:
#
#   <path>/_commits/vNNNNNNNN.json        numbered manifests = table state
#   <path>/data/<part>/<snap>/*.parquet   immutable prefixes, never rewritten
#
# A MERGE writes the touched partitions' merged data to FRESH prefixes that
# no manifest references yet, then commits by atomically creating the next
# numbered manifest object — one commit for every touched partition, so a
# batch is all-or-nothing across partitions and no committed data file is
# ever renamed (object-store safe). A crash at ANY earlier point leaves only
# unreferenced garbage prefixes that `vacuum_manifest` reclaims; readers
# resolving the manifest see wholly-old or wholly-new state, never a torn
# partition. Every retained manifest is a snapshot: `read_manifest_table
# (version=)` time-travels, `restore_manifest` rolls back by metadata only.
#
# The partition column is kept as a REGULAR data column (parquet RLE makes
# the duplication ~free) and its per-partition value recorded in the
# manifest: readers do ONE multi-path parquet scan over the referenced
# prefixes — no per-prefix union plan — and partition pruning happens at the
# manifest level (`partition_values=`), before Spark ever lists a file,
# exactly how table formats prune from metadata at 100 TB.
#
# DATA SKIPPING (the Iceberg manifest-stats half of the format): every
# commit also records, per data file, the parquet footer's row count and
# per-column min/max/null-count (read driver-side from the footers of the
# files THIS commit wrote — metadata-only, cost ∝ files written, the same
# write-side work Iceberg does to build its manifests). Readers passing
# `predicates=` prune at TWO metadata levels before any file is listed or
# opened: partitions whose key is excluded, then files whose recorded
# bounds exclude the predicate. Clustered layouts (compact_manifest
# cluster_by= / z-order, operators/layout.py) make those bounds tight, so
# point/range predicates on NON-partition columns skip most files — see
# tests/test_sinks.py::test_manifest_file_stats_pruning for the measured
# skip. Stats live in the manifest JSON; at 100 TB-scale file counts a
# production format shards them into manifest-list files — the protocol
# here is the same, reduced to one object.
#
# Commit protocol (the Delta-log shape, reduced to its minimum): table
# state is a sequence of numbered manifest objects `_commits/vNNNNNNNN.json`
# and THE commit is an atomic create-if-absent of the NEXT number —
# `os.link` locally, a conditional PUT (If-None-Match: *) on S3/GCS. Two
# writers racing to the same version: exactly one wins; the loser REBASES
# (Iceberg-style optimistic concurrency, `_commit_with_rebase`) when the
# winner's commit touched disjoint partitions — its data files are already
# final, so the retry is metadata-only — and surfaces ConcurrentWriteError
# only when the same partition was changed under it (the merge must then
# re-read + re-run). No lost updates, ever. Readers resolve the highest
# committed version (or any retained older one: free time travel).
# ---------------------------------------------------------------------------

_COMMITS_DIR = "_commits"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this manifest version first — re-read the
    table state and retry the merge (its input is still intact)."""


class ConstraintViolationError(ValueError):
    """A write would commit rows that violate a table CHECK constraint —
    nothing was committed; fix the batch (or drop the constraint)."""


_TS_CONF_LOCK = __import__("threading").Lock()
_TS_CONF_STATE: dict = {}  # per-session {id: {"depth", "prev"}}


def _timestamp_stats_conf(spark: SparkSession):
    """Context manager pinning parquet timestamp output to
    TIMESTAMP_MICROS for a manifest data write. Spark's default is
    INT96, and INT96 columns carry NO parquet min/max statistics — every
    per-file bound the manifest records for a timestamp column would be
    null, so time-range file skipping (and the migration verb's
    bounds-within-period proof) could never engage. Micros footers carry
    real bounds; readers handle both encodings transparently, so tables
    mixing INT96 (pre-round-7) and micros files read identically — only
    the skipping improves.

    The conf is session-global, so entries are REFERENCE-COUNTED per
    session: overlapping writes (two streaming foreachBatch sinks on one
    SparkSession) set the conf on the first enter and restore the
    original value only when the last writer exits — without the count,
    the first exit would strip the conf from under the second writer's
    in-flight write and its files would silently lose their bounds."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        key = "spark.sql.parquet.outputTimestampType"
        sid = id(spark)
        with _TS_CONF_LOCK:
            st = _TS_CONF_STATE.setdefault(sid, {"depth": 0, "prev": None})
            if st["depth"] == 0:
                st["prev"] = spark.conf.get(key, None)
                spark.conf.set(key, "TIMESTAMP_MICROS")
            st["depth"] += 1
        try:
            yield
        finally:
            with _TS_CONF_LOCK:
                st = _TS_CONF_STATE[sid]
                st["depth"] -= 1
                if st["depth"] == 0:
                    prev = st.pop("prev")
                    del _TS_CONF_STATE[sid]
                    if prev is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, prev)

    return _cm()


def _time_rule_stamp(partition_col: str) -> dict:
    """Manifest fields recording the time-key derivation rule for
    days()/months()/years() tables: {"time_key_rule": "utc"} — UTC epoch
    arithmetic, session-zone independent (partitioning.derived_column).
    Stamped at table creation and carried forward by every commit, so a
    future derivation change can recognize which rule wrote a table's
    existing keys instead of guessing. Tables created before the UTC fix
    (round 6) lack the stamp: their keys may have been rendered in the
    writer's session zone — reads stay exact through the ±1-period
    pruning slack, but an upsert near a period boundary can derive a
    different key for an existing row and be rejected by the moved-keys
    check; `migrate_time_partition_keys` rewrites such tables onto the
    UTC vocabulary and stamps them. Identity/bucket/truncate/date-source
    tables need no rule (their derivations are zone-free) but get the
    stamp too when time-transformed over dates — harmless and uniform."""
    pt = parse_partition_spec(partition_col)
    if pt.kind in ("days", "months", "years"):
        return {"time_key_rule": "utc"}
    return {}


def _enc_part(v) -> str:
    """Stable string encoding of a partition value for manifest keys and
    prefix names. None → 'null'; a non-NULL value whose str() would
    collide with the NULL sentinel (the literal string 'null', a common
    upstream sentinel) — or with the escape itself — gets an '=' prefix,
    so two distinct partitions can never share a manifest key."""
    if v is None:
        return "null"
    s = str(v)
    return "=" + s if s == "null" or s.startswith("=") else s


def _commit_path(path: str, version: int) -> str:
    return os.path.join(path, _COMMITS_DIR, f"v{version:08d}.json")


def numbered_json_versions(d: str) -> list[int]:
    """Version numbers of the `vNNNNNNNN.json` objects in a directory —
    the shared scan half of the numbered-commit primitive (manifest logs,
    streaming summary states)."""
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:9])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def commit_numbered_json(d: str, version: int, obj: dict, what: str = "version") -> None:
    """THE shared commit primitive: atomically create `vNNNNNNNN.json`,
    failing if it already exists (`os.link` is atomic create-if-absent on
    POSIX; on an object store this is one conditional PUT). Losing the
    race raises ConcurrentWriteError — every numbered-JSON state in this
    engine (manifest commit logs, streaming summary states) goes through
    this one function so collision behavior cannot drift between them."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    try:
        os.link(tmp, os.path.join(d, f"v{version:08d}.json"))
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{what} {version} at {d} was committed by another writer — "
            "re-read the state and retry"
        ) from None
    finally:
        os.unlink(tmp)


def manifest_versions(path: str) -> list[int]:
    return numbered_json_versions(os.path.join(path, _COMMITS_DIR))


def read_manifest(path: str, version: int | str | None = None) -> dict | None:
    """Resolve the committed manifest (highest version, a retained
    historical `version` — time travel — or a TAG NAME pinned with
    `manifest_tag`: every reader that takes `version=` accepts a tag)."""
    versions = manifest_versions(path)
    if not versions:
        return None
    version = resolve_manifest_ref(path, version)
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"manifest version {v} not retained at {path}")
    with open(_commit_path(path, v)) as fh:
        return json.load(fh)


def manifest_history(path: str) -> list[dict]:
    """The table's commit log, oldest first (DESCRIBE HISTORY): one row per
    retained version with its commit time (from the immutable commit
    object's mtime — set once at the atomic create, never rewritten),
    partition count, file count, row count (None when any entry predates
    file stats), and the partitions changed vs the previous retained
    version. Metadata-only."""
    out: list[dict] = []
    prev: dict | None = None
    for v in manifest_versions(path):
        m = read_manifest(path, v)
        entries = m["partitions"]
        n_files = rows = 0
        rows_known = True
        for e in entries.values():
            files = e.get("files")
            if files is None:
                rows_known = False
                continue
            n_files += len(files)
            rows += sum(f["rows"] for f in files)
        if prev is None:
            changed = sorted(entries)
        else:
            p_prev = prev["partitions"]
            changed = sorted(
                {
                    k
                    for k, e in entries.items()
                    if k not in p_prev or e["prefix"] != p_prev[k]["prefix"]
                }
                | (set(p_prev) - set(entries))
            )
        out.append(
            {
                "version": v,
                "committed_at": os.path.getmtime(_commit_path(path, v)),
                # which verb wrote this version ("merge", "delete",
                # "update", "replace", "compact", "restore:vN",
                # "add_constraint", ... — None for pre-op-tag commits)
                "op": m.get("op"),
                "partitions": len(entries),
                "files": n_files,
                "rows": rows if rows_known else None,
                "changed_partitions": changed,
            }
        )
        prev = m
    return out


def _commit_manifest(path: str, manifest: dict) -> None:
    """The table commit point (see `commit_numbered_json` for the
    primitive). Everything before this call is invisible to readers;
    losing the race raises ConcurrentWriteError with all data
    garbage-collectable."""
    commit_numbered_json(
        os.path.join(path, _COMMITS_DIR),
        manifest["version"],
        manifest,
        what=f"manifest version (table {path})",
    )


def _stat_norm(v):
    """Normalize a stats bound / predicate value into the JSON-safe,
    order-preserving space the manifest stores: numbers stay numbers,
    strings stay strings, date/datetime → naive-UTC ISO-8601 text
    (lexicographic order == chronological order for a fixed type).
    Timezone-AWARE datetimes are CONVERTED to UTC before the tz info is
    dropped (parquet timestamp stats are UTC-normalized instants, so UTC
    text is the comparison space); naive datetimes are taken as already
    UTC — `_pred_bounds` pads predicate literals to absorb reader-session
    zone skew. Unsupported types → None (never pruned on)."""
    import datetime as _dt
    import decimal as _dec
    import math as _math

    if isinstance(v, bool) or isinstance(v, int) or isinstance(v, str):
        return v
    if isinstance(v, float):
        return None if _math.isnan(v) else v
    if isinstance(v, _dec.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _pred_bounds(raw):
    """(lo, hi) — the normalized range a predicate literal's TRUE
    comparison value can occupy. Exact (v, v) for everything except a
    NAIVE datetime, which is padded ±14 h (the widest session-zone
    offset): Spark interprets a naive timestamp literal in the READER's
    session zone while stored bounds are UTC instants, so the literal's
    instant is only known up to the zone offset. Timezone-aware
    datetimes convert to UTC exactly and stay unpadded."""
    import datetime as _dt

    if isinstance(raw, _dt.datetime) and raw.tzinfo is None:
        pad = _dt.timedelta(hours=14)
        return _stat_norm(raw - pad), _stat_norm(raw + pad)
    v = _stat_norm(raw)
    return v, v


def _decimal_raw_bounds(st) -> tuple:
    """(min, max) for footer stats pyarrow's logical cast refuses
    (ArrowNotImplementedError): INT32/INT64-physical DECIMAL columns —
    Spark's layout for precision ≤ 18 — carry the unscaled integer in
    min_raw/max_raw, so value = raw · 10^-scale exactly. Returns
    (None, None) for every other refused shape (recorded as "not
    prunable on")."""
    import decimal as _dec
    import json as _json

    try:
        lt = st.logical_type
        info = _json.loads(lt.to_json()) if hasattr(lt, "to_json") else {}
        if info.get("Type") != "Decimal":
            return None, None
        scale = int(info.get("scale", 0))
        mn_raw, mx_raw = st.min_raw, st.max_raw
        if not isinstance(mn_raw, int) or not isinstance(mx_raw, int):
            return None, None  # FLBA decimals cast fine via st.min anyway
        q = _dec.Decimal(10) ** -scale
        return (
            _stat_norm(_dec.Decimal(mn_raw) * q),
            _stat_norm(_dec.Decimal(mx_raw) * q),
        )
    except Exception:
        return None, None


def _collect_file_stats(full_dir: str) -> list[dict]:
    """Per-file footer stats for every parquet data file under `full_dir`:
    [{"name", "rows", "stats": {col: {"min", "max", "nulls"}}}].

    Driver-side, metadata-only (pyarrow footer reads — no data pages
    touched); called once per freshly-written prefix at commit time, so the
    cost is ∝ files written by THIS commit, never table size. Footer reads
    within a prefix fan out over a thread pool (they're independent
    filesystem reads and pyarrow releases the GIL for I/O), so a wide
    backfill commit writing many files per prefix no longer serializes
    on the driver — on top of the existing prefix-level pool of 8.
    Bounds whose type doesn't normalize (binary, nested) or that any row
    group omits are recorded as null = "not prunable on" (readers keep
    the file)."""
    import concurrent.futures as _fut
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(full_dir, "*.parquet")))
    if not files:
        return []
    if len(files) == 1:
        metas = [pq.ParquetFile(files[0]).metadata]
    else:
        with _fut.ThreadPoolExecutor(
            max_workers=min(8, len(files))
        ) as pool:
            metas = list(pool.map(lambda f: pq.ParquetFile(f).metadata, files))

    out: list[dict] = []
    for f, md in zip(files, metas):
        acc: dict[str, dict] = {}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaf — not a top-level column
                    continue
                cur = acc.setdefault(
                    name,
                    {"min": None, "max": None, "nulls": 0,
                     "bounds_ok": True, "nulls_ok": True},
                )
                st = col.statistics
                if st is None:
                    cur["bounds_ok"] = cur["nulls_ok"] = False
                    continue
                if st.has_null_count:
                    cur["nulls"] += st.null_count
                    nonnull = col.num_values - st.null_count
                else:
                    cur["nulls_ok"] = False
                    nonnull = None
                if st.has_min_max:
                    try:
                        mn, mx = _stat_norm(st.min), _stat_norm(st.max)
                    except NotImplementedError:
                        # pyarrow can't logically cast this type's footer
                        # bounds (ArrowNotImplementedError). The one case
                        # that matters is DECIMAL with INT32/INT64
                        # physical storage — the layout Spark writes for
                        # precision ≤ 18 — whose bounds are exactly
                        # recoverable from the raw unscaled integers;
                        # anything else records "not prunable on", never
                        # a guess. Soundness of the float-space bounds:
                        # decimal→double rounding is monotone, so a true
                        # range that intersects a predicate range still
                        # intersects after both sides normalize.
                        mn, mx = _decimal_raw_bounds(st)
                    if mn is None or mx is None:
                        cur["bounds_ok"] = False
                    else:
                        cur["min"] = mn if cur["min"] is None else min(cur["min"], mn)
                        cur["max"] = mx if cur["max"] is None else max(cur["max"], mx)
                elif nonnull != 0:
                    # stats absent but the group has (or may have) non-null
                    # values → file bounds unknowable; all-null groups
                    # legitimately carry no min/max and constrain nothing
                    cur["bounds_ok"] = False
        stats = {
            name: {
                "min": c["min"] if c["bounds_ok"] else None,
                "max": c["max"] if c["bounds_ok"] else None,
                "nulls": c["nulls"] if c["nulls_ok"] else None,
            }
            for name, c in acc.items()
        }
        out.append({
            "name": os.path.basename(f),
            "rows": md.num_rows,
            # uncompressed data size from the footer already in hand
            # (one more field, zero extra I/O): task-memory budgeting —
            # e.g. the bucket-join pair-size guard — plans from recorded
            # bytes instead of stat()ing every file at plan time, and
            # uncompressed is the number a task's Arrow buffers actually
            # occupy
            "bytes": sum(
                md.row_group(i).total_byte_size
                for i in range(md.num_row_groups)
            ),
            "stats": stats,
        })
    return out


def _pred_ops():
    import operator as _op

    return {"=": _op.eq, "==": _op.eq, "<": _op.lt, "<=": _op.le,
            ">": _op.gt, ">=": _op.ge}


def _split_top_and(s: str, skip_parens: bool = False) -> list[str]:
    """Split on top-level AND, quote-aware (no AND inside '...'),
    BETWEEN-aware (the AND that closes `col BETWEEN a AND b` belongs to
    the predicate and never splits), and CASE-aware: ANDs inside a
    `CASE ... END` expression are part of that expression — splitting
    there would isolate fragments like `fact.a = dim.b` out of a WHEN
    condition and hand the equi-join/pushdown extractors a predicate no
    output row is required to satisfy (wrong results).

    `skip_parens=True` additionally treats parenthesized spans as
    atomic (ANDs inside them never split) — required when a conjunct
    may carry a subquery (`fk IN (SELECT ... WHERE a AND b)`); kept
    opt-in because the historical call sites split pre-paren-era text
    and behave identically either way."""
    # pending BETWEEN counts are PER CASE-NESTING LEVEL (a stack): in
    # `x BETWEEN CASE WHEN a AND b THEN 1 ELSE 2 END AND 10`, the WHEN's
    # AND belongs to the inner CASE and must NOT consume the outer
    # BETWEEN's closing AND — a flat counter did exactly that, mis-
    # splitting at the real closing AND
    out, buf, i, in_q, pending, depth = [], [], 0, False, [0], 0
    up = s.upper()

    def _word_at(j: int, w: str) -> bool:
        return (
            up[j : j + len(w)] == w
            and (j == 0 or not (up[j - 1].isalnum() or up[j - 1] == "_"))
            and (
                j + len(w) >= len(s)
                or not (up[j + len(w)].isalnum() or up[j + len(w)] == "_")
            )
        )

    while i < len(s):
        c = s[i]
        if c == "'":
            in_q = not in_q
            buf.append(c)
            i += 1
        elif skip_parens and not in_q and c in "()":
            depth += 1 if c == "(" else -1
            buf.append(c)
            i += 1
        elif skip_parens and not in_q and depth > 0:
            buf.append(c)
            i += 1
        elif not in_q and _word_at(i, "BETWEEN"):
            pending[-1] += 1
            buf.append(s[i : i + 7])
            i += 7
        elif not in_q and _word_at(i, "CASE"):
            pending.append(0)
            buf.append(s[i : i + 4])
            i += 4
        elif not in_q and len(pending) > 1 and _word_at(i, "END"):
            pending.pop()  # unclosed BETWEENs inside the CASE die with it
            buf.append(s[i : i + 3])
            i += 3
        elif not in_q and _word_at(i, "AND"):
            if pending[-1]:
                pending[-1] -= 1
                buf.append(s[i : i + 3])
                i += 3
            elif len(pending) > 1:  # inside a CASE: never a split point
                buf.append(s[i : i + 3])
                i += 3
            else:
                out.append("".join(buf))
                buf = []
                i += 3
        else:
            buf.append(c)
            i += 1
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _split_top_or(s: str) -> list[str]:
    """Split on depth-0 OR, quote- AND paren-aware (unlike
    `_split_top_and`, which predates parenthesized predicates: AND
    conjuncts were historically never parenthesized, but OR branches
    routinely are — `(a AND b) OR c`). Returns [s] when no depth-0 OR
    exists."""
    out, buf, depth, in_q, i = [], [], 0, False, 0
    up = s.upper()
    while i < len(s):
        c = s[i]
        if c == "'":
            in_q = not in_q
            buf.append(c)
            i += 1
        elif not in_q and c == "(":
            depth += 1
            buf.append(c)
            i += 1
        elif not in_q and c == ")":
            depth -= 1
            buf.append(c)
            i += 1
        elif (
            not in_q
            and depth == 0
            and up[i : i + 2] == "OR"
            and (i == 0 or not (up[i - 1].isalnum() or up[i - 1] == "_"))
            and (
                i + 2 >= len(s)
                or not (up[i + 2].isalnum() or up[i + 2] == "_")
            )
        ):
            out.append("".join(buf))
            buf = []
            i += 2
        else:
            buf.append(c)
            i += 1
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _strip_outer_parens(s: str) -> str:
    """Remove ONE pair of outer parens when they enclose the whole
    expression (quote-aware pairing); otherwise return `s` stripped."""
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        return s
    depth, in_q = 0, False
    for i, c in enumerate(s):
        if c == "'":
            in_q = not in_q
        elif not in_q and c == "(":
            depth += 1
        elif not in_q and c == ")":
            depth -= 1
            if depth == 0 and i != len(s) - 1:
                return s  # `(a) OR (b)`: the first paren closes early
    return s[1:-1].strip()


_PRED_RE = None


def _parse_pred_literal(raw: str, where: str):
    """One SQL literal in predicate position: a number, a 'quoted
    string' ('' escapes a quote), TRUE/FALSE, or a date'...' /
    timestamp'...' typed literal (parsed to datetime.date /
    datetime.datetime, matching what the stats normalizer expects)."""
    import datetime as _dt

    raw = raw.strip()
    for prefix, parser in (
        ("timestamp", lambda s: _dt.datetime.fromisoformat(s)),
        ("date", lambda s: _dt.date.fromisoformat(s)),
    ):
        low = raw.lower()
        if low.startswith(prefix) and raw.endswith("'"):
            # ANSI allows whitespace between the type keyword and the
            # quote: TIMESTAMP '2022-06-01 00:00:00' and timestamp'...'
            # are the same literal
            body = raw[len(prefix):].lstrip()
            if body.startswith("'"):
                return parser(body[1:-1])
    if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
        body = raw[1:-1]
        if body.replace("''", ""). count("'"):
            # an interior unescaped quote means `raw` is NOT one string
            # literal — it's a longer expression whose first and last
            # characters happen to be quotes, e.g. the tail of
            # `day = 'a' OR day = 'b'`. Accepting it would build the
            # junk predicate day = "a' OR day = 'b", which PRUNES reads
            # (matview WHERE, COUNT fast paths, DELETE/UPDATE WHERE)
            # against a value no row holds — wrong results, silently
            # (round-13 find, latent since predicates landed).
            raise ValueError(
                f"unsupported literal {raw!r} in predicate {where!r} — "
                "interior quote; not a single string literal"
            )
        return body.replace("''", "'")
    if raw.upper() in ("TRUE", "FALSE"):
        return raw.upper() == "TRUE"
    try:
        return int(raw)
    except ValueError:
        try:
            return float(raw)
        except ValueError:
            raise ValueError(
                f"unsupported literal {raw!r} in predicate {where!r}"
            ) from None


def parse_predicates(exprs, allow_or: bool = False) -> list[tuple]:
    """Parse simple SQL predicates into the (col, op, value) tuples
    every pruning reader takes — so call sites can say
    `read_manifest_table(..., predicates=parse_predicates(
    "ts >= timestamp'2024-03-05 00:00:00' AND k = 5"))`.

    Accepts one string (split on top-level AND, quote-aware) or a
    sequence of single predicates. Supported shapes:

    - `<column> <op> <literal>` with op ∈ {=, ==, <, <=, >, >=, !=, <>}
      (`<>` normalizes to `!=`);
    - `<column> IN (<literal>, ...)` → one ("in", tuple) predicate
      (point-lookup shape: pruners keep a file/partition when ANY
      member may match, and bloom sidecars probe each member);
    - `<column> BETWEEN <literal> AND <literal>` → desugared to
      `>= AND <=` (inclusive, standard SQL);
    - `<column> IS NULL` / `<column> IS NOT NULL` → ("isnull", None) /
      ("notnull", None). These prune on the per-file `null_count`
      recorded at commit time: `IS NULL` skips every file whose
      recorded null count is zero for free, and `IS NOT NULL` skips
      all-null files — the reference's own B2 filter
      (loaders/__init__.py:73) is exactly this null-predicate shape.

    Literals are numbers, 'quoted strings' ('' escapes a quote),
    TRUE/FALSE, or date'...' / timestamp'...' typed literals.

    `allow_or=True` (round-13 verdict #2) additionally accepts ONE level
    of disjunction: a top-level `a OR b OR ...` whose every branch is a
    (parenthesizable) conjunction of the simple shapes above, and a
    fully-parenthesized `(a OR b)` appearing as an AND conjunct. A
    disjunction parses to the tuple `(None, "or", (branch, ...))` where
    each branch is a tuple of (col, op, value) triples; the pruners keep
    a file/partition when ANY branch may match, and the residual row
    filter applies the OR verbatim — same result-invariance contract as
    every other predicate. It is OPT-IN so call sites that unpack
    `(col, op, v)` positionally and use `col` (matview WHERE analysis,
    layout policies) keep their raises-on-OR behavior unchanged.

    Anything fancier (nested OR-inside-OR branches, functions, NOT IN,
    column-vs-column) raises — pruning predicates are deliberately this
    small, and the residual-filter guarantee only holds for what the
    pruners understand."""
    import re as _re

    global _PRED_RE
    if _PRED_RE is None:
        _PRED_RE = _re.compile(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(==|=|<=|>=|<>|!=|<|>)\s*(.+?)\s*$"
        )
    if allow_or and isinstance(exprs, str):
        disjuncts = _split_top_or(exprs)
        if len(disjuncts) > 1:
            return [(
                None, "or",
                tuple(
                    tuple(parse_predicates(_strip_outer_parens(d)))
                    for d in disjuncts
                ),
            )]
    if isinstance(exprs, str):
        parts = _split_top_and(exprs)
    else:
        parts = [p for e in exprs for p in _split_top_and(e)]
    if allow_or:
        # a parenthesized disjunction appearing as an AND conjunct:
        # `k = 5 AND (day = 'a' OR day = 'b')` — recurse per part (the
        # recursion's allow_or path handles the stripped inner OR; a
        # part whose parens ALSO contain top-level ANDs mis-splits above
        # and raises here, falling back at the caller — conservative)
        out: list[tuple] = []
        for p in parts:
            inner = _strip_outer_parens(p)
            if inner != p and _split_top_or(inner) != [inner.strip()]:
                out.extend(parse_predicates(inner, allow_or=True))
            else:
                out.extend(parse_predicates(p))
        return out
    out: list[tuple] = []
    for p in parts:
        m = _re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IS\s+(NOT\s+)?NULL\s*$",
            p, _re.IGNORECASE,
        )
        if m:
            out.append((m.group(1), "notnull" if m.group(2) else "isnull",
                        None))
            continue
        m = _re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\((.+)\)\s*$",
            p, _re.IGNORECASE,
        )
        if m:
            members = _split_quote_aware_commas(m.group(2))
            if not members:
                raise ValueError(f"empty IN list in predicate {p!r}")
            out.append(
                (m.group(1), "in",
                 tuple(_parse_pred_literal(x, p) for x in members))
            )
            continue
        m = _re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$",
            p, _re.IGNORECASE,
        )
        if m:
            col = m.group(1)
            out.append((col, ">=", _parse_pred_literal(m.group(2), p)))
            out.append((col, "<=", _parse_pred_literal(m.group(3), p)))
            continue
        m = _PRED_RE.match(p)
        if not m:
            raise ValueError(
                f"unsupported predicate {p!r} — expected <col> <op> "
                "<literal>, <col> IN (...), or <col> BETWEEN a AND b"
            )
        col, op, raw = m.group(1), m.group(2), m.group(3)
        if op == "<>":
            op = "!="
        out.append((col, op, _parse_pred_literal(raw, p)))
    return out


def _split_quote_aware_commas(s: str) -> list[str]:
    """Split on commas outside 'quotes' and (parens) — shared by the
    predicate IN-list parser and catalog SQL's SET/column lists (one
    splitter, so the two surfaces can't drift)."""
    out, buf, depth, in_q = [], [], 0, False
    for ch in s:
        if ch == "'":
            in_q = not in_q
            buf.append(ch)
        elif not in_q and ch == "(":
            depth += 1
            buf.append(ch)
        elif not in_q and ch == ")":
            depth -= 1
            buf.append(ch)
        elif not in_q and depth == 0 and ch == ",":
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _predicates_column(predicates: Sequence[tuple]) -> Column:
    """Conjunction of simple (col, op, value) predicates as a Spark Column —
    the residual filter that makes pruning semantically invisible."""
    ops = _pred_ops()
    out = F.lit(True)
    for col, op, v in predicates:
        if op == "or":
            # one level of disjunction (parse_predicates allow_or): each
            # branch is itself a conjunction of simple predicates
            branch_cols = [_predicates_column(br) for br in v]
            acc = branch_cols[0]
            for b in branch_cols[1:]:
                acc = acc | b
            out = out & acc
            continue
        if op == "in":
            out = out & F.col(col).isin(*[F.lit(x) for x in v])
            continue
        if op == "isnull":
            out = out & F.col(col).isNull()
            continue
        if op == "notnull":
            out = out & F.col(col).isNotNull()
            continue
        if op == "!=":
            # SQL != : NULL rows yield NULL, filtered like false —
            # matching DuckDB/ANSI and the pruners' "NULL never
            # satisfies a comparison" rule
            out = out & (F.col(col) != F.lit(v))
            continue
        if op not in ops:
            raise ValueError(f"unsupported predicate op {op!r} on {col!r} "
                             f"(supported: {sorted(ops)} + "
                             f"'in'/'!='/'isnull'/'notnull')")
        out = out & ops[op](F.col(col), F.lit(v))
    return out


def _stats_comparable(a, b) -> bool:
    """Are two normalized stats values mutually ordered in the same type
    family (bool / numeric / string)? Cross-family comparisons are never
    pruned or decided on."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, bool):
        return True
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    return isinstance(a, str) and isinstance(b, str)


def _file_maybe_matches(fmeta: dict, predicates: Sequence[tuple]) -> bool:
    """Can any row of this file satisfy the conjunction? Conservative:
    prunes ONLY when recorded bounds prove emptiness; missing / type-
    mismatched stats keep the file. NULL rows never satisfy a comparison,
    so an all-null column proves emptiness for any predicate on it; a
    zero-row file can match nothing."""
    if not fmeta.get("rows"):
        return False
    stats = fmeta.get("stats") or {}
    rows = fmeta.get("rows")
    for col, op, raw in predicates:
        if op == "or":
            # a disjunction empties the file only when EVERY branch's
            # bounds prove emptiness — the file-level OR pushdown
            # (round-13 verdict #2): keep on any possibly-matching branch
            if not any(_file_maybe_matches(fmeta, br) for br in raw):
                return False
            continue
        st = stats.get(col)
        if not st:
            continue
        if op == "isnull":
            # a recorded zero null count proves no row is NULL
            if st.get("nulls") == 0:
                return False
            continue
        if st.get("nulls") is not None and rows and st["nulls"] >= rows:
            return False  # all-null: satisfies no comparison / IS NOT NULL
        if op == "notnull":
            continue
        if op == "!=":
            lo, hi = _pred_bounds(raw)
            mn, mx = st.get("min"), st.get("max")
            if lo is None or hi is None or mn is None or mx is None:
                continue
            if not (_stats_comparable(mn, lo) and _stats_comparable(mx, hi)):
                continue
            # every non-null row equals the (exact) literal → none
            # satisfies !=, and NULL rows never satisfy a comparison
            if mn == mx == lo == hi:
                return False
            continue
        if op == "in":
            # keep the file if ANY member may match; prune only when the
            # bounds prove EVERY member absent
            if not any(
                _file_maybe_matches(
                    {"rows": rows, "stats": {col: st}}, [(col, "=", x)]
                )
                for x in raw
            ):
                return False
            continue
        lo, hi = _pred_bounds(raw)
        mn, mx = st.get("min"), st.get("max")
        if lo is None or hi is None or mn is None or mx is None:
            continue
        if not (_stats_comparable(mn, lo) and _stats_comparable(mx, hi)):
            continue
        # the true literal value sits somewhere in [lo, hi] (== the exact
        # value for everything but naive timestamps) — prune only when
        # EVERY value in that range proves emptiness
        if op in ("=", "=="):
            if hi < mn or lo > mx:
                return False
        elif op == "<":
            if mn >= hi:
                return False
        elif op == "<=":
            if mn > hi:
                return False
        elif op == ">":
            if mx <= lo:
                return False
        elif op == ">=":
            if mx < lo:
                return False
    return True


def _select_entries(
    m: dict,
    partition_values: Sequence | None,
    partition_values_encoded: bool = False,
) -> dict[str, dict]:
    """Manifest-key partition pruning: the entries surviving
    `partition_values` (all of them when None)."""
    entries = m["partitions"]
    if partition_values is None:
        return entries
    want = (set(partition_values) if partition_values_encoded
            else {_enc_part(v) for v in partition_values})
    return {k: e for k, e in entries.items() if k in want}


def _entry_scan_paths(
    path: str, entry: dict, predicates: Sequence[tuple] | None
) -> list[str]:
    """One entry's scan list after per-file stats pruning: the prefix
    DIRECTORY when every recorded file survives (snapshot prefixes are
    immutable and exclusively owned by one entry, so the directory and
    the full file list are the same scan — and PySpark marshals the path
    list to the JVM one py4j round-trip per element, ~2 ms each, so a
    thousand-file snapshot passed file-by-file costs seconds of pure
    driver chatter); exact file paths only when stats pruning actually
    drops some files; the prefix directory for pre-stats entries."""
    files = entry.get("files")
    if files is None:
        return [os.path.join(path, entry["prefix"])]
    kept = (
        [fm for fm in files if _file_maybe_matches(fm, predicates)]
        if predicates is not None
        else files
    )
    if len(kept) == len(files):
        return [os.path.join(path, entry["prefix"])]
    return [os.path.join(path, entry["prefix"], fm["name"]) for fm in kept]


def manifest_scan_files(
    path: str,
    partition_values: Sequence | None = None,
    predicates: Sequence[tuple] | None = None,
    version: int | None = None,
) -> list[str]:
    """The files `read_manifest_table` would open: every file path that
    survives manifest-level partition pruning and file-level stats
    pruning (always expanded to individual files — the real reader may
    pass whole prefix directories to Spark when nothing in them pruned,
    but introspection wants the countable file set). Prefixes predating
    per-file stats appear as their prefix directory; the live reader may
    open FEWER files still (bloom-sidecar pruning on =/IN predicates
    needs a SparkSession and is skipped here). Exposed for tests and ops
    introspection ("how much does this predicate skip?")."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    entries = _select_entries(m, partition_values, False)
    paths: list[str] = []
    for e in entries.values():
        files = e.get("files")
        if files is None:
            paths.append(os.path.join(path, e["prefix"]))
            continue
        paths.extend(
            os.path.join(path, e["prefix"], fm["name"])
            for fm in files
            if predicates is None or _file_maybe_matches(fm, predicates)
        )
    return paths


def _file_always_matches(fmeta: dict, predicates: Sequence[tuple]) -> bool:
    """Do the recorded bounds prove EVERY row of this file satisfies the
    conjunction? Requires a recorded zero null-count on each predicate
    column (NULL rows satisfy no comparison) and bounds that sit entirely
    inside the predicate's accepted range. Conservative: anything
    unknowable answers False (the file gets scanned, never miscounted)."""
    stats = fmeta.get("stats") or {}
    for col, op, raw in predicates:
        if op == "or":
            # every row satisfies a disjunction if SOME single branch is
            # proven to hold on every row (sufficient, conservative —
            # rows could also split across branches, which is unknowable
            # from bounds alone → scanned, never miscounted)
            if not any(_file_always_matches(fmeta, br) for br in raw):
                return False
            continue
        st = stats.get(col)
        if not st:
            return False
        if op == "isnull":
            rows = fmeta.get("rows")
            if rows and st.get("nulls") is not None and st["nulls"] >= rows:
                continue  # every row recorded NULL
            return False
        if st.get("nulls") != 0:
            return False
        if op == "notnull":
            continue  # zero recorded nulls: every row satisfies
        if op == "!=":
            lo, hi = _pred_bounds(raw)
            mn, mx = st.get("min"), st.get("max")
            if lo is None or hi is None or mn is None or mx is None:
                return False
            if not (_stats_comparable(mn, lo) and _stats_comparable(mx, hi)):
                return False
            if not (hi < mn or lo > mx):  # literal inside bounds: unknowable
                return False
            continue
        if op == "in":
            # every row matches only if all rows hold one single value
            # that is a member (mn == mx == some exact member)
            if not any(
                _file_always_matches(
                    {"stats": {col: st}}, [(col, "=", x)]
                )
                for x in raw
            ):
                return False
            continue
        lo, hi = _pred_bounds(raw)
        mn, mx = st.get("min"), st.get("max")
        if lo is None or hi is None or mn is None or mx is None:
            return False
        if not (_stats_comparable(mn, lo) and _stats_comparable(mx, hi)):
            return False
        # the true literal sits in [lo, hi]; "always matches" must hold
        # for EVERY possible value in that range (lo == hi for everything
        # but naive timestamp literals, where the file gets scanned)
        if op in ("=", "=="):
            ok = mn == lo == hi == mx
        elif op == "<":
            ok = mx < lo
        elif op == "<=":
            ok = mx <= lo
        elif op == ">":
            ok = mn > hi
        else:  # ">="
            ok = mn >= hi
        if not ok:
            return False
    return True


# ---------------------------------------------------------------------------
# Merge-on-read DELETE: position delete files (the Iceberg v2 / Delta
# deletion-vector shape). A copy-on-write DELETE rewrites every matching
# partition — correct, but at 100 TB erasing a handful of rows (GDPR
# takedowns, bad-crawl retractions) from a multi-TB partition rewrites
# terabytes to remove kilobytes. Merge-on-read instead WRITES what was
# deleted: a tiny parquet file of (file identity, row position) pairs,
# committed in the same atomic manifest flip. Data prefixes are untouched;
# every reader applies the delete set as an anti-join on the hidden
# _metadata (file_path, row_index) columns, so results are identical to
# the rewrite. Deletes accumulate per partition until a rewrite of that
# partition (MERGE / UPDATE / compact_manifest / CoW delete) folds them in
# and clears the list — compaction is the explicit remedy for a partition
# that has collected many delete files or a large deleted fraction.
#
# Manifest entry extension: optional "deletes": [{"prefix", "rows"}, ...]
# — each a parquet prefix under deletes/<enc>/snap-<uuid>/ with columns
# (_file string, _pos long). Delete files are scoped to the data prefix
# they were computed against: any commit that rewrites the partition's
# data prefix MUST fold + drop them (all writers here do), because
# positions are meaningless against other files. Recorded delete rows are
# unique live positions by construction (the writer anti-joins existing
# deletes before emitting new ones), so live row count = recorded rows −
# recorded deletes, exactly — metadata-only COUNT(*) survives MoR deletes.
# Per-file min/max stats are NOT rewritten (the deleted row may have held
# a bound), so bounds stay sound for pruning but stop being exact answers:
# manifest_column_bounds refuses on delete-bearing partitions.
# ---------------------------------------------------------------------------

_DELETE_FILE_SCHEMA = T.StructType(
    [
        T.StructField("_file", T.StringType(), False),
        T.StructField("_pos", T.LongType(), False),
    ]
)

# broadcast the delete side of the MoR anti-join below this many recorded
# delete rows; larger delete sets fall back to a shuffled anti-join (AQE)
_MOR_BROADCAST_MAX_ROWS = 4_000_000


def _file_id() -> Column:
    """Stable identity of the scanned parquet file:
    '<partition dir>/<snap dir>/<basename>' from the hidden _metadata
    column. All three segments are required for global uniqueness: the
    fused multi-partition write (`_write_prefixes_fused`) writes every
    touched partition in ONE job, so the SAME task basename lands in
    several partition dirs under the SAME snap name — with only
    '<snap>/<basename>' the MoR anti-join would silently erase the
    same-positioned rows of every sibling partition. The partition dir
    (URL-encoded value) disambiguates; the snap uuid disambiguates
    across commits to the same partition."""
    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws(
        "/",
        F.element_at(parts, -3),
        F.element_at(parts, -2),
        F.element_at(parts, -1),
    )


def _entry_delete_rows(entry: dict) -> int:
    return sum(d["rows"] for d in entry.get("deletes") or ())


def _read_deletes(
    spark: SparkSession, path: str, entries: Sequence[dict]
) -> DataFrame | None:
    """Union of the delete files recorded by `entries` (None when none),
    with `_file` ids normalized to the CURRENT 3-segment scheme.

    Delete records written since the fused-write change carry
    `"ids": 3` and store '<partition>/<snap>/<basename>' directly.
    Records without the marker predate it and store '<snap>/<basename>'
    — those are upgraded AT READ TIME by prepending the owning
    partition's directory (exact: a delete record is scoped to the one
    data prefix it was computed against, and that prefix's partition
    dir is the entry's encoded value), so pre-existing MoR tables keep
    reading correctly instead of silently resurrecting deleted rows."""
    new_dirs: list[str] = []
    legacy: list[tuple[str, str]] = []  # (partition dir, delete dir)
    for e in entries:
        for d in e.get("deletes") or ():
            full = os.path.join(path, d["prefix"])
            if d.get("ids") == 3:
                new_dirs.append(full)
            else:
                legacy.append(
                    (urllib.parse.quote(e["value"], safe=""), full)
                )
    frames = []
    if new_dirs:
        frames.append(
            spark.read.schema(_DELETE_FILE_SCHEMA).parquet(*new_dirs)
        )
    for part_dir, full in legacy:
        frames.append(
            spark.read.schema(_DELETE_FILE_SCHEMA)
            .parquet(full)
            .select(
                F.concat(F.lit(part_dir + "/"), F.col("_file")).alias(
                    "_file"
                ),
                "_pos",
            )
        )
    if not frames:
        return None
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _tag_positions(df: DataFrame) -> DataFrame:
    """Attach the (__f, __p) position-identity columns the MoR anti-join
    keys on. Must be called directly on a parquet-scan frame (the hidden
    _metadata column does not survive joins/projections)."""
    return df.withColumn("__f", _file_id()).withColumn(
        "__p", F.col("_metadata.row_index")
    )


def _apply_mor_deletes(
    tagged: DataFrame, deletes: DataFrame, n_delete_rows: int
) -> DataFrame:
    """Anti-join a position-tagged data frame against a delete set. Keeps
    the __f/__p tag columns — callers select them away when done."""
    d = deletes.select(
        F.col("_file").alias("__f"), F.col("_pos").alias("__p")
    )
    if n_delete_rows <= _MOR_BROADCAST_MAX_ROWS:
        d = F.broadcast(d)
    return tagged.join(d, ["__f", "__p"], "left_anti")


def _live_partition_df(
    spark: SparkSession,
    path: str,
    entry: dict,
    stored: T.StructType | None = None,
) -> DataFrame:
    """One partition's LIVE rows (data prefix minus its recorded deletes),
    position-tagged with __f/__p — the read every partition REWRITER must
    start from, so a rewrite folds pending deletes instead of resurrecting
    deleted rows. Output columns: PHYSICAL-named data columns + __f + __p
    (rewriters write files back under physical names, so staying physical
    end-to-end keeps stats/bloom/name invariants with zero hops; callers
    needing logical names — e.g. UPDATE applying user expressions — hop
    with `_to_logical`/`_to_physical` at their own boundary)."""
    scan = _scan_schema(stored)
    reader = spark.read.schema(scan) if scan is not None else spark.read
    tagged = _tag_positions(reader.parquet(os.path.join(path, entry["prefix"])))
    dels = _read_deletes(spark, path, [entry])
    if dels is None:
        return tagged
    return _apply_mor_deletes(tagged, dels, _entry_delete_rows(entry))


def manifest_count(
    spark: SparkSession,
    path: str,
    partition_values: Sequence | None = None,
    predicates: Sequence[tuple] | None = None,
    version: int | None = None,
) -> dict:
    """Exact COUNT(*) answered from manifest metadata wherever possible.

    Three-way file triage against the recorded per-file stats: files whose
    bounds prove EVERY row matches contribute their recorded row count
    (zero I/O), files whose bounds prove NO row matches contribute zero
    (zero I/O), and only the undecided remainder — typically the boundary
    files of a clustered layout — is scanned with the residual predicate.
    With no predicate the count is pure metadata (the Iceberg
    `SELECT COUNT(*)` fast path): at 100 TB that is the difference between
    a metadata read and a full-table scan.

    Returns {"count", "files_metadata", "files_scanned", "prefixes_scanned"}
    — the provenance split is the observability hook ("how much did the
    layout let metadata answer?"). Always exact; stats quality only moves
    work between the metadata and scan buckets.

    Merge-on-read deletes: with no predicate the count stays metadata-only
    (recorded rows minus recorded delete rows — exact, because delete files
    list unique live positions by construction). With a predicate, a
    delete-bearing partition's per-file fast path is unusable (deletes are
    not attributed per file), so its stats-surviving files are scanned with
    the delete set applied — still file-pruned, never wrong."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    stored0 = (
        T.StructType.fromJson(m["schema"])
        if m.get("schema") is not None
        else None
    )
    # stats, boundary scans, and the residual filter all run in
    # physical-name space (files + footers never see a rename)
    preds = list(
        _map_predicates(predicates, _phys_map(stored0)) or ()
    ) if predicates else []
    entries = _transform_prune(
        spark, m, _select_entries(m, partition_values), preds
    )
    count = 0
    n_meta = 0
    n_pruned = 0
    scan_paths: list[str] = []
    mor_paths: list[str] = []
    mor_entries: list[dict] = []
    n_prefix = 0
    for e in entries.values():
        files = e.get("files")
        dels = e.get("deletes")
        if dels and not preds and files is not None:
            # metadata-only live count: recorded rows − recorded deletes
            count += sum(fm["rows"] for fm in files) - _entry_delete_rows(e)
            n_meta += len(files)
            continue
        if dels:
            # predicate (or pre-stats prefix) + deletes: scan the entry's
            # stats-surviving files with its delete set applied
            paths = _entry_scan_paths(path, e, preds or None)
            if not paths:
                n_pruned += len(files or ())
                continue
            mor_paths.extend(paths)
            mor_entries.append(e)
            if files is None:
                n_prefix += 1
            continue
        if files is None:
            # pre-stats entry: no per-file metadata — scan the prefix
            scan_paths.append(os.path.join(path, e["prefix"]))
            n_prefix += 1
            continue
        for fm in files:
            if preds and not _file_maybe_matches(fm, preds):
                n_pruned += 1
                continue  # proven empty — contributes 0
            if not preds or _file_always_matches(fm, preds):
                count += fm["rows"]
                n_meta += 1
            else:
                scan_paths.append(os.path.join(path, e["prefix"], fm["name"]))
    if scan_paths or mor_paths:
        scan = _scan_schema(stored0)
        reader = spark.read.schema(scan) if scan is not None else spark.read
        cond = _predicates_column(preds) if preds else None
        if scan_paths:
            df = reader.parquet(*scan_paths)
            if cond is not None:
                df = df.filter(cond)
            count += df.count()
        if mor_paths:
            live = _apply_mor_deletes(
                _tag_positions(reader.parquet(*mor_paths)),
                _read_deletes(spark, path, mor_entries),
                sum(_entry_delete_rows(e) for e in mor_entries),
            )
            if cond is not None:
                live = live.filter(cond)
            count += live.count()
    return {
        "count": count,
        "files_metadata": n_meta,
        "files_pruned": n_pruned,
        "files_scanned": len(scan_paths) + len(mor_paths) - n_prefix,
        "prefixes_scanned": n_prefix,
    }


def manifest_column_bounds(
    path: str,
    column: str,
    partition_values: Sequence | None = None,
    version: int | None = None,
    predicates: Sequence[tuple] | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """MIN/MAX/null-count for one column from manifest metadata alone —
    zero data I/O, never an approximation: components that any selected
    file failed to record come back None ("not answerable from metadata",
    fall back to a scan) rather than a wrong bound. The MIN(ts)-style
    watermark probe a 100 TB incremental scheduler runs every cycle.

    Partitions carrying merge-on-read deletes make min/max/nulls
    unanswerable (a deleted row may have held the recorded bound — file
    stats stay sound for PRUNING but stop being exact answers); `rows`
    stays exact (recorded rows minus recorded deletes).

    With `predicates` (simple (col, op, value) conjunction; pass `spark`
    to engage transform-partition pruning), the bounds are over MATCHING
    rows only, answerable from metadata exactly when the predicate is
    decided per file: files whose stats prove NO row matches contribute
    nothing, files whose stats prove EVERY row matches contribute their
    recorded stats, and ANY undecided boundary file (or any MoR-delete
    entry) makes the whole answer unanswerable — all-None, including
    `rows` — so the caller falls back to a scan rather than trusting
    polluted bounds. The common exact case is a predicate on the
    (identity or transform) partition source column, where partition
    boundaries ARE predicate boundaries."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    stored_b = (
        T.StructType.fromJson(m["schema"])
        if m.get("schema") is not None else None
    )
    if stored_b is not None and column in stored_b.names:
        # per-file stats are keyed by the PHYSICAL column name
        column = _phys_name(stored_b[column])
    preds = (
        list(_map_predicates(predicates, _phys_map(stored_b)) or ())
        if predicates else []
    )
    entries = _select_entries(m, partition_values)
    if preds:
        if spark is not None:
            entries = _transform_prune(spark, m, entries, preds)
        unanswerable = {"min": None, "max": None, "nulls": None,
                        "rows": None}
    mn = mx = None
    nulls: int | None = 0
    rows = 0
    bounds_ok = True
    for e in entries.values():
        files = e.get("files")
        if files is None:
            return {"min": None, "max": None, "nulls": None, "rows": None}
        if e.get("deletes"):
            if preds:
                # deletes are not attributed per file: which matching
                # rows survive is unknowable from metadata
                return unanswerable
            bounds_ok = False
            nulls = None
            rows -= _entry_delete_rows(e)
        for fm in files:
            if preds:
                if not _file_maybe_matches(fm, preds):
                    continue  # provably zero matching rows
                if not _file_always_matches(fm, preds):
                    return unanswerable  # boundary file: scan instead
            rows += fm["rows"]
            st = (fm.get("stats") or {}).get(column)
            if st is None:
                bounds_ok = False
                nulls = None
                continue
            if nulls is not None:
                nulls = None if st.get("nulls") is None else nulls + st["nulls"]
            f_mn, f_mx = st.get("min"), st.get("max")
            all_null = st.get("nulls") is not None and st["nulls"] >= fm["rows"]
            if f_mn is None or f_mx is None:
                if not all_null:
                    bounds_ok = False  # unknowable, not merely empty
                continue
            if mn is not None and not _stats_comparable(f_mn, mn):
                bounds_ok = False  # mixed type families across files
                continue
            if mn is None or f_mn < mn:
                mn = f_mn
            if mx is None or f_mx > mx:
                mx = f_mx
    if not bounds_ok:
        mn = mx = None
    return {"min": mn, "max": mx, "nulls": nulls, "rows": rows}


# ---------------------------------------------------------------------------
# Partition-level bloom filters (the Delta bloom-index shape): min/max
# stats prune RANGE predicates on clustered columns, but a POINT lookup on
# a high-cardinality unclustered key (doc_id, event_id, url-hash) is
# undecidable from bounds — every partition's range covers it. A per-
# partition bloom over the key column answers "which partitions can
# possibly hold key X" from a few KB of sidecar bytes per partition.
#
# Layout: a raw-bitmap file `_bloom_<col>` INSIDE the partition's snap
# prefix — the leading underscore makes it invisible to Spark's parquet
# listing, the missing .parquet suffix keeps it out of the footer-stats
# glob, and living inside the prefix means vacuum/rewrite lifecycle is
# inherited for free. The manifest entry records only {col: {m, k}}.
#
# Bits are set DISTRIBUTED (Spark's bitmap_bucket_number /
# bitmap_bit_position / bitmap_construct_agg — JVM-side, one aggregation
# of the already-cached merge frame per commit); the driver only ORs the
# ≤ m/8 bytes of bucket bitmaps together. Probe positions are computed by
# the SAME Spark xxhash64 expressions over a literal frame, so driver and
# executor hashing can never drift. Sizing: ~10 bits/key (k=7 → ~1% false
# positives), clamped to [2^13, 2^23] bits (1 KB–1 MB per partition per
# column); beyond ~840k keys/partition the cap degrades the fp rate
# gracefully — the filter stays CORRECT (never prunes a present key),
# it just prunes less.
# ---------------------------------------------------------------------------

_BLOOM_BUCKET_BITS = 32768  # Spark's bitmap bucket size (4 KB per bucket)


def _bloom_size(n_rows: int) -> tuple[int, int]:
    m = 1 << max(13, min(23, (10 * max(n_rows, 1) - 1).bit_length()))
    return m, 7


def _bloom_name(col: str) -> str:
    return "_bloom_" + urllib.parse.quote(col, safe="")


def _bloom_position_array(col: str, m: int, k: int) -> Column:
    return F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m))
            for i in range(k)
        ]
    )


def _build_partition_bloom(df: DataFrame, col: str, m: int, k: int) -> bytes:
    """Distributed bloom build: k xxhash64 positions per non-NULL key →
    Spark bitmap aggregation per 32768-bit bucket → driver ORs the bucket
    chunks into one m-bit bitmap. Bit layout (verified against
    bitmap_construct_agg): position p lives at byte p//8, bit p%8 of
    bucket p//32768."""
    rows = (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(_bloom_position_array(col, m, k)).alias("p"))
        .select((F.col("p") + 1).alias("v"))
        .groupBy(F.bitmap_bucket_number("v").alias("b"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("v")).alias("bits"))
        .collect()
    )
    bmp = np.zeros(m // 8, dtype=np.uint8)
    bucket_bytes = _BLOOM_BUCKET_BITS // 8
    for r in rows:
        off = (r["b"] - 1) * bucket_bytes
        chunk = np.frombuffer(r["bits"], dtype=np.uint8)
        # buckets are fixed 4 KB; a bloom smaller than one bucket only
        # occupies the chunk's head (positions < m ⇒ the tail is zeros)
        take = min(len(chunk), len(bmp) - off)
        np.bitwise_or(bmp[off : off + take], chunk[:take],
                      out=bmp[off : off + take])
    return bmp.tobytes()


def _write_bloom_sidecars(
    df: DataFrame, path: str, prefix: str, cols: Sequence[str], n_rows: int
) -> dict[str, dict]:
    """Build and write one bloom sidecar per column for a freshly-written
    partition prefix; returns the manifest `blooms` entry."""
    blooms: dict[str, dict] = {}
    for bc in cols:
        mb, kb = _bloom_size(n_rows)
        bmp = _build_partition_bloom(df, bc, mb, kb)
        with open(os.path.join(path, prefix, _bloom_name(bc)), "wb") as fh:
            fh.write(bmp)
        blooms[bc] = {"m": mb, "k": kb}
    return blooms


_PROBE_MEMO: dict[tuple, list[int]] = {}
_PROBE_MEMO_CAP = 1 << 16


def _probe_positions(
    spark: SparkSession, field: T.StructField, values: Sequence, m: int, k: int
) -> list[list[int]]:
    """Per probe value, its k bit positions.

    Fast path: the driver-side xxhash64 mirror
    (functions/xxhash64.py), whose parity with the executors is pinned
    by tests/test_bloom_probe_parity.py for every supported stored type
    — microseconds per value, memoized across calls, no job launch
    (the round-5 bench showed the per-call Spark job costing more than
    the scan the bloom saves for repeated point lookups). Types outside
    the verified set fall back to the original one-row Spark job over a
    literal frame of the column's STORED type, so driver and executor
    hashing can never drift for any type."""
    from f1_data_pipeline_spark.functions.xxhash64 import bloom_positions

    dtype = field.dataType.simpleString()
    out: list[list[int] | None] = []
    missing: list[int] = []
    for idx, v in enumerate(values):
        key = (dtype, v, m, k)
        try:
            hit = _PROBE_MEMO.get(key)
        except TypeError:  # unhashable probe value (e.g. bytearray)
            key, hit = None, None
        if hit is None:
            hit = bloom_positions(dtype, v, m, k)
            if (hit is not None and key is not None
                    and len(_PROBE_MEMO) < _PROBE_MEMO_CAP):
                _PROBE_MEMO[key] = hit
        if hit is None:
            missing.append(idx)
        out.append(hit)
    if missing:
        df = spark.createDataFrame(
            [(values[i],) for i in missing], T.StructType([field])
        )
        computed = [
            list(r[0])
            for r in df.select(
                _bloom_position_array(field.name, m, k)
            ).collect()
        ]
        for idx, pos in zip(missing, computed):
            out[idx] = pos
            key = (dtype, values[idx], m, k)
            try:
                if len(_PROBE_MEMO) < _PROBE_MEMO_CAP:
                    _PROBE_MEMO[key] = pos
            except TypeError:
                pass  # unhashable probe value — just don't memoize
    return out  # type: ignore[return-value]


def manifest_bloom_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    values: Sequence,
    version: int | None = None,
) -> dict:
    """Which partitions can possibly contain any of `values` in `col`?

    Reads only manifest metadata + the few-KB bloom sidecars — no data
    files. Returns {"maybe": [...], "no_bloom": [...], "pruned": [...]}
    of ENCODED partition keys; partitions committed without a bloom for
    this column land in no_bloom (must be read — the filter only ever
    prunes with proof). NULL probe values are rejected: blooms index
    non-NULL keys (IS NULL routes through stats null counts)."""
    if any(v is None for v in values):
        raise ValueError("bloom lookup values must be non-NULL")
    m_obj = read_manifest(path, version)
    if m_obj is None:
        raise FileNotFoundError(f"no manifest at {path}")
    if m_obj.get("schema") is None:
        raise ValueError(f"manifest at {path} has no stored schema")
    schema = T.StructType.fromJson(m_obj["schema"])
    if col not in schema.names:
        raise ValueError(f"column {col!r} not in table schema {schema.names}")
    field = schema[col]
    pos_cache: dict[tuple[int, int], list[list[int]]] = {}
    maybe: list[str] = []
    no_bloom: list[str] = []
    pruned: list[str] = []
    for key, e in m_obj["partitions"].items():
        bl = (e.get("blooms") or {}).get(col)
        bloom_path = os.path.join(path, e["prefix"], _bloom_name(col))
        if not bl or not os.path.exists(bloom_path):
            no_bloom.append(key)
            continue
        mk = (bl["m"], bl["k"])
        if mk not in pos_cache:
            pos_cache[mk] = _probe_positions(spark, field, values, *mk)
        with open(bloom_path, "rb") as fh:
            bmp = fh.read()
        hit = any(
            all(bmp[p // 8] >> (p % 8) & 1 for p in pos_row)
            for pos_row in pos_cache[mk]
        )
        (maybe if hit else pruned).append(key)
    return {"maybe": maybe, "no_bloom": no_bloom, "pruned": pruned}


def _bloom_prune_entries(
    spark: SparkSession,
    path: str,
    m: dict,
    entries: dict,
    predicates: Sequence[tuple] | None,
) -> dict:
    """Partition-level bloom skipping inside the ordinary read path:
    every `col = v` / `col IN (...)` predicate on a bloom-indexed column
    probes each candidate partition's sidecar (driver-side xxhash64
    mirror — microseconds per value, memoized; sidecars are a few KB),
    dropping partitions whose bloom excludes EVERY probe value.
    Partitions without a sidecar for the column always survive, so this
    is pure I/O avoidance — the residual filter keeps results exact.
    This is what makes `catalog_sql("... WHERE doc_id IN (...)")` engage
    the bloom index without the caller ever naming it."""
    if not predicates or not entries or m.get("schema") is None:
        return entries
    point: list[tuple[str, list]] = []
    or_preds: list[tuple] = []
    for col, op, v in predicates:
        if op == "or":
            or_preds.append(v)
            continue
        if op in ("=", "=="):
            vals = [v]
        elif op == "in":
            vals = list(v)
        else:
            continue
        if any(x is None for x in vals):
            continue  # NULL never matches a comparison; stats prune it
        point.append((col, vals))
    if not point and not or_preds:
        return entries
    if or_preds:
        # disjunction (round-13): a partition survives an OR when ANY
        # branch's bloom pass keeps it — recurse per branch and keep the
        # union (a branch with no point predicates keeps everything, so
        # such an OR never drops a partition; conservative by shape)
        out = dict(entries)
        for branches in or_preds:
            keep: set = set()
            for br in branches:
                keep.update(
                    _bloom_prune_entries(spark, path, m, out, list(br))
                )
            out = {k: e for k, e in out.items() if k in keep}
        entries = out
        if not point:
            return entries
    schema = T.StructType.fromJson(m["schema"])
    out = dict(entries)
    for col, vals in point:
        if col not in schema.names:
            continue
        field = schema[col]
        pos_cache: dict[tuple[int, int], list[list[int]]] = {}
        for key in list(out):
            e = out[key]
            bl = (e.get("blooms") or {}).get(col)
            if not bl:
                continue
            bloom_path = os.path.join(path, e["prefix"], _bloom_name(col))
            if not os.path.exists(bloom_path):
                continue
            mk = (bl["m"], bl["k"])
            if mk not in pos_cache:
                try:
                    pos_cache[mk] = _probe_positions(spark, field, vals, *mk)
                except Exception:
                    # a probe value that can't be coerced to the stored
                    # type (`k = 'oops'` on a bigint — arbitrary SQL text
                    # reaches this path via catalog_sql) must never abort
                    # the read: bloom pruning is pure I/O avoidance, so
                    # skip it for this column and let the residual filter
                    # decide
                    break
            with open(bloom_path, "rb") as fh:
                bmp = fh.read()
            hit = any(
                all(bmp[p // 8] >> (p % 8) & 1 for p in pos_row)
                for pos_row in pos_cache[mk]
            )
            if not hit:
                del out[key]
    return out


def read_manifest_point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    values: Sequence,
    version: int | str | None = None,
) -> DataFrame:
    """Point lookup through the bloom index: prune partitions whose bloom
    excludes every probe value, scan the rest, apply the exact IN filter.
    Results are identical to an unpruned scan+filter (the bloom is pure
    I/O avoidance); partitions without a bloom are always scanned.

    The version is resolved ONCE and pinned for both the bloom lookup and
    the table read — with `version=None`, resolving "latest" twice would
    let a commit landing between the two reads silently drop rows (the
    bloom-pruned partition set would be stale for the newer manifest)."""
    pinned = resolve_manifest_ref(path, version)
    if pinned is None:
        vs = manifest_versions(path)
        if not vs:
            raise FileNotFoundError(f"no manifest at {path}")
        pinned = vs[-1]
    r = manifest_bloom_lookup(spark, path, col, values, pinned)
    parts = r["maybe"] + r["no_bloom"]
    df = read_manifest_table(
        spark,
        path,
        partition_values=parts,
        partition_values_encoded=True,
        version=pinned,
    )
    return df.filter(F.col(col).isin([v for v in values]))


def read_manifest_table(
    spark: SparkSession,
    path: str,
    partition_values: Sequence | None = None,
    schema: T.StructType | None = None,
    version: int | None = None,
    predicates: Sequence[tuple] | None = None,
    partition_values_encoded: bool = False,
) -> DataFrame:
    """Read a manifest-committed table: resolve the committed manifest
    (latest, or a retained historical `version` — time travel), prune
    prefixes by `partition_values` (manifest-level pruning — unreferenced
    and filtered-out prefixes are never even listed), prune FILES by
    `predicates` against the per-file column bounds recorded at commit
    time (data skipping — files whose bounds exclude the predicate are
    never opened), one multi-path scan.

    `predicates` is a conjunction of (column, op, value) with op ∈
    {=, ==, <, <=, >, >=, !=, "in", "isnull", "notnull"} (an "in" value
    is a tuple of members; `parse_predicates` produces it from
    `col IN (...)`, desugars BETWEEN, and maps IS [NOT] NULL to the
    null ops, which prune on each file's recorded null_count);
    it is ALSO applied as a real filter on the
    result, so pruning is purely an I/O optimization — results are
    identical with or without recorded stats. Equality and IN
    predicates on bloom-indexed columns additionally probe the
    per-partition bloom sidecars (each member probed; a partition is
    dropped only when its bloom excludes every member). `partition_values_encoded`
    marks `partition_values` as already-encoded manifest keys (the
    `manifest_changed_partitions` vocabulary) rather than raw values —
    internal CDC plumbing; raw values are the public surface.

    Partitions carrying merge-on-read delete files are read through a
    position anti-join against their recorded delete sets (broadcast when
    small), so MoR-deleted rows never surface; partitions without deletes
    take the plain multi-path scan with zero overhead.

    On a transform-partitioned table (hidden partitioning), `predicates`
    on the transform's SOURCE column additionally prune whole partitions
    through the transform before file stats are consulted — an equality
    predicate on a bucket(N) column reads exactly one of N partitions;
    `partition_values` are derived values for such tables."""
    m = read_manifest(path, version)
    if m is None:
        if schema is None:
            raise FileNotFoundError(f"no manifest at {path}")
        return spark.createDataFrame([], schema)
    return _read_from_manifest(
        spark, path, m, partition_values, schema, predicates,
        partition_values_encoded,
    )


def _transform_of(m: dict):
    """The manifest's partition transform (identity for plain-column
    tables and legacy manifests with unparseable specs)."""
    spec = m.get("partition_col")
    if not spec:
        return None
    try:
        return parse_partition_spec(spec)
    except ValueError:
        return None


def _transform_prune(
    spark: SparkSession, m: dict, entries: dict,
    predicates: Sequence[tuple] | None,
) -> dict:
    """Partition-level data skipping through the table's partition
    TRANSFORM: predicates on the transform's source column map to
    derived-key constraints (time/truncate ranges, exact bucket for
    equality), dropping partitions before any file metadata is even
    consulted. Conservative and result-invariant, like the file pruner."""
    pt = _transform_of(m)
    if pt is None or pt.kind == "identity" or not predicates:
        return entries
    src_type = None
    for f in (m.get("schema") or {}).get("fields", []):
        if f["name"] == pt.source and isinstance(f["type"], str):
            src_type = f["type"]
    return prune_partition_keys(spark, pt, entries, predicates, src_type)


def _stored_of(m: dict | None) -> T.StructType | None:
    """The manifest's stored (logical) schema as a StructType, or None
    for a missing/pre-schema manifest."""
    if not m or m.get("schema") is None:
        return None
    return T.StructType.fromJson(m["schema"])


def _phys_name(f: T.StructField) -> str:
    """The column name data files carry for this field — pinned at the
    field's first write and NEVER changed by RENAME COLUMN (the field's
    metadata remembers it), so per-file stats, bloom sidecars, and every
    existing prefix stay valid across any number of renames."""
    try:
        return (f.metadata or {}).get("physical", f.name)
    except Exception:
        return f.name


def _scan_schema(stored: T.StructType | None) -> T.StructType | None:
    """The schema parquet scans must request: logical field names
    swapped for their pinned physical names. Identity when no field was
    ever renamed (the overwhelmingly common case)."""
    if stored is None or all(_phys_name(f) == f.name for f in stored.fields):
        return stored
    return T.StructType(
        [
            T.StructField(_phys_name(f), f.dataType, f.nullable)
            for f in stored.fields
        ]
    )


def _phys_map(stored: T.StructType | None) -> dict[str, str]:
    """{logical name: physical name} for renamed fields only — empty for
    never-renamed tables, so every caller's hot path stays zero-cost."""
    if stored is None:
        return {}
    return {
        f.name: _phys_name(f)
        for f in stored.fields
        if _phys_name(f) != f.name
    }


def _map_predicates(
    predicates: Sequence[tuple] | None, l2p: dict[str, str]
) -> Sequence[tuple] | None:
    """Predicates with logical column names rewritten to physical —
    the form per-file stats, bloom sidecars, and physical-frame row
    filters understand."""
    if not predicates or not l2p:
        return predicates
    return [
        (
            (None, "or", tuple(tuple(_map_predicates(br, l2p)) for br in v))
            if op == "or"
            else (l2p.get(c, c), op, v)
        )
        for c, op, v in predicates
    ]


def _to_logical(df: DataFrame, stored: T.StructType | None) -> DataFrame:
    """Rename a physically-named frame's columns to their logical names
    (no-op for never-renamed tables)."""
    l2p = _phys_map(stored)
    if not l2p:
        return df
    return df.withColumnsRenamed({p: l for l, p in l2p.items()})


def _to_physical(df: DataFrame, stored: T.StructType | None) -> DataFrame:
    """Rename a logically-named frame's columns to their pinned physical
    names — the writer-side boundary hop: every data file carries
    physical names forever."""
    l2p = _phys_map(stored)
    if not l2p:
        return df
    return df.withColumnsRenamed(l2p)


def _read_from_manifest(
    spark: SparkSession,
    path: str,
    m: dict,
    partition_values: Sequence | None = None,
    schema: T.StructType | None = None,
    predicates: Sequence[tuple] | None = None,
    partition_values_encoded: bool = False,
) -> DataFrame:
    """`read_manifest_table`'s scan planning + MoR-delete application over
    an explicit manifest dict — shared with staged-commit overlay reads
    (write-audit-publish), which audit a candidate manifest that is not in
    the committed log yet."""
    # the manifest's stored schema is authoritative (schema evolution:
    # prefixes written before a column existed read it back as NULL).
    # Scans request PHYSICAL names (RENAME COLUMN never touches files);
    # pruning predicates are mapped logical→physical to match the
    # per-file stats and bloom sidecars, and the frame is renamed back
    # to logical names at exit.
    stored = (
        T.StructType.fromJson(m["schema"]) if m.get("schema") is not None else None
    )
    predicates = _map_predicates(predicates, _phys_map(stored))
    entries = _transform_prune(
        spark, m, _select_entries(m, partition_values, partition_values_encoded),
        predicates,
    )
    entries = _bloom_prune_entries(spark, path, m, entries, predicates)
    plain_paths: list[str] = []
    mor_paths: list[str] = []
    mor_entries: list[dict] = []
    for e in entries.values():
        if e.get("deletes"):
            mor_paths.extend(_entry_scan_paths(path, e, predicates))
            mor_entries.append(e)
        else:
            plain_paths.extend(_entry_scan_paths(path, e, predicates))
    scan = _scan_schema(stored)
    reader = spark.read.schema(scan) if scan is not None else spark.read
    frames: list[DataFrame] = []
    if plain_paths:
        frames.append(reader.parquet(*plain_paths))
    if mor_paths:
        data = _tag_positions(reader.parquet(*mor_paths))
        dels = _read_deletes(spark, path, mor_entries)
        live = _apply_mor_deletes(
            data, dels, sum(_entry_delete_rows(e) for e in mor_entries)
        )
        frames.append(live.drop("__f", "__p"))
    if not frames:
        df = spark.createDataFrame(
            [], stored or (schema if schema is not None else T.StructType())
        )
        return df
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    if predicates:  # physical names — filter before the logical rename
        df = df.filter(_predicates_column(predicates))
    return _to_logical(df, stored)


# Shared-column type changes a manifest commit may accept with
# schema_evolution=True: exactly the parquet physical→logical widenings the
# Spark 4 vectorized reader performs when the stored (authoritative) schema
# is wider than an old prefix's physical type — pinned by
# tests/test_sinks.py::test_manifest_schema_widening_old_prefixes_still_read.
# Anything outside this set (narrowing, string↔number, nested changes)
# would leave untouched prefixes UNREADABLE under the stored schema
# ("Parquet column cannot be converted"), so it is rejected outright.
_SAFE_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
    ("float", "double"),
}


def _check_type_evolution(
    stored: T.StructType, updates: T.StructType, schema_evolution: bool
) -> None:
    """Guard shared-column TYPE changes against the stored manifest schema.

    A merge only rewrites touched partitions, but the schema it commits
    governs every prefix — so a batch that drifts a shared column's type
    re-types files it never rewrote. Widenings in `_SAFE_WIDENINGS` are
    readable in place (reader-verified) and allowed under
    schema_evolution=True, same flag as new columns; any other change
    raises: evolving it safely requires a FULL rewrite (merge_upsert with
    the new schema into a fresh table), not a partition-scoped merge."""
    stored_t = {f.name: f.dataType for f in stored.fields}
    upd_t = {f.name: f.dataType for f in updates.fields}
    changed = {
        c: (stored_t[c], upd_t[c])
        for c in upd_t
        if c in stored_t and stored_t[c] != upd_t[c]
    }
    if not changed:
        return
    pretty = {c: f"{a.simpleString()} -> {b.simpleString()}" for c, (a, b) in changed.items()}
    unsafe = {
        c for c, (a, b) in changed.items()
        if (a.simpleString(), b.simpleString()) not in _SAFE_WIDENINGS
    }
    if unsafe:
        raise ValueError(
            f"update batch changes column types {pretty} but "
            f"{sorted(unsafe)} are not in-place-readable widenings — "
            "untouched prefixes would become unreadable under the new "
            "stored schema. Rewrite the table through the full-table "
            "merge_upsert path with the new schema instead."
        )
    if not schema_evolution:
        raise ValueError(
            f"update batch widens column types {pretty} — pass "
            "schema_evolution=True to evolve the stored schema (old "
            "prefixes stay readable: the reader widens them on scan)"
        )


def _graft_rename_metadata(
    prior_json: dict | None, ours_json: dict | None
) -> dict | None:
    """The field metadata carrying a renamed column's pinned PHYSICAL
    name must survive every commit — but most verbs rebuild the outgoing
    schema from a DataFrame, whose transformations may drop field
    metadata. Copy each same-named prior field's 'physical' pin onto the
    outgoing field (never overwriting one the outgoing schema already
    carries, e.g. a fresh rename commit)."""
    if prior_json is None or ours_json is None:
        return ours_json
    prior = {f["name"]: f for f in prior_json.get("fields", [])}
    changed = False
    fields = []
    for f in ours_json.get("fields", []):
        p = prior.get(f["name"])
        phys = ((p or {}).get("metadata") or {}).get("physical")
        if phys and not (f.get("metadata") or {}).get("physical"):
            f = {**f, "metadata": {**(f.get("metadata") or {}),
                                   "physical": phys}}
            changed = True
        fields.append(f)
    return {**ours_json, "fields": fields} if changed else ours_json


def _union_evolved_schema(latest_json: dict | None, ours_json: dict) -> dict:
    """Merge two independently-evolved manifest schemas after a commit race.

    Both sides started from the same base; each may have APPENDED columns
    and/or safely WIDENED shared ones (all a partition-scoped merge can
    do, per `_check_type_evolution`). The union keeps the latest side's
    field order, takes the wider type where the two disagree within
    `_SAFE_WIDENINGS`, appends our-side-only columns, and refuses anything
    else — an incompatible pair means one side's files would be unreadable
    under the merged schema, which no rebase can fix."""
    if latest_json is None:
        return ours_json
    latest = T.StructType.fromJson(latest_json)
    ours = T.StructType.fromJson(ours_json)
    remaining = {f.name: f for f in ours.fields}
    fields: list[T.StructField] = []
    for f in latest.fields:
        o = remaining.pop(f.name, None)
        if o is None or o.dataType == f.dataType:
            fields.append(f)
            continue
        a, b = f.dataType.simpleString(), o.dataType.simpleString()
        if (a, b) in _SAFE_WIDENINGS:
            fields.append(o)  # our side widened — theirs reads widened
        elif (b, a) in _SAFE_WIDENINGS:
            fields.append(f)  # their side widened — ours reads widened
        else:
            raise ConcurrentWriteError(
                f"commit race evolved column {f.name!r} incompatibly "
                f"({a} by the competing writer vs {b} by this one) — "
                "schemas cannot be rebased; re-run the merge"
            )
    # a writer that started BEFORE a competing RENAME COLUMN still knows
    # the column by its old (= physical) name; appending it as a "new"
    # field would alias the same physical column twice. The renamed
    # field in `latest` already covers it — drop the stale duplicate.
    latest_phys = {
        _phys_name(f) for f in latest.fields if _phys_name(f) != f.name
    }
    fields.extend(
        f for f in ours.fields
        if f.name in remaining and f.name not in latest_phys
    )
    return T.StructType(fields).jsonValue()


def _commit_with_rebase(
    spark: SparkSession,
    path: str,
    base_manifest: dict,
    new_entries: dict[str, dict],
    schema_json: dict | None = None,
    update_keys_df: DataFrame | None = None,
    keys: Sequence[str] | None = None,
    check_moved_keys: bool = False,
    max_commit_retries: int = 3,
    drop_keys: Sequence[str] = (),
    check_predicates: Sequence[tuple] | None = None,
    check_partition_scope: set[str] | None = None,
    app_metadata: dict | None = None,
    constraints_json: dict | None = None,
    layout_json: dict | None = None,
    op: str | None = None,
    extra_fields: dict | None = None,
) -> dict:
    """Optimistic-concurrency commit with Iceberg-style rebase-and-retry.

    Attempt the atomic manifest commit; on a lost race, decide whether the
    competing commit(s) CONFLICT with ours — they rewrote/added/removed a
    partition we also rewrote — or are DISJOINT. Disjoint racers both
    succeed: our data files are already in their final prefixes and none of
    them depended on the partitions the competitor changed, so we rebuild
    the candidate manifest on the new latest (their entries + ours, schemas
    unioned via `_union_evolved_schema`) and retry, up to
    `max_commit_retries` rebases. Overlap raises `ConcurrentWriteError`:
    our merge read stale rows for a partition the competitor has since
    replaced, and only re-running the merge can repair that.

    When `check_moved_keys` (merge semantics), each rebase also re-checks
    that the competitor didn't introduce any of OUR update keys into the
    partitions it changed — the same no-key-spans-partitions invariant the
    merge checked against its base snapshot, extended to the rebased one;
    only the competitor-changed partitions are scanned, keys columns only.

    `drop_keys` are partition keys this commit REMOVES (a delete that
    emptied them); they count as "ours" for conflict detection exactly
    like rewritten entries.

    `check_predicates` (DELETE/UPDATE semantics) re-checks, on each
    rebase, that the competitor's added/rewritten partitions cannot
    contain rows matching OUR predicate (recorded file bounds; entries
    without stats are conservatively conflicting). Without it a
    "successful" DELETE could commit AFTER a merge that re-introduced
    matching rows into a partition the delete never looked at — the
    final table would still hold rows the caller was told were deleted.
    `check_partition_scope` narrows that re-check to the partitions the
    DML was explicitly scoped to (`partition_values=`): matching rows a
    competitor writes OUTSIDE the declared scope were never promised
    deleted/updated, so they must not fail the rebase.

    `app_metadata` merges application key/values into the manifest's
    `app` object IN THE SAME atomic commit as the data — the watermark
    slot that gives downstream maintainers (materialized views) exactly-
    once semantics: data and "how far I've consumed" can never diverge.
    Keys not overwritten carry forward across commits.

    Returns the committed manifest."""
    base = base_manifest
    versions = set(manifest_versions(path))
    ours = set(new_entries) | set(drop_keys)

    def _candidate(on: dict) -> dict:
        parts = {
            k: e for k, e in on["partitions"].items() if k not in set(drop_keys)
        }
        cand = {
            **on,
            "version": on["version"] + 1,
            "partitions": {**parts, **new_entries},
        }
        if schema_json is not None:
            cand["schema"] = _graft_rename_metadata(
                on.get("schema"), schema_json
            )
        if app_metadata is not None:
            cand["app"] = {**on.get("app", {}), **app_metadata}
        if constraints_json is not None:
            cand["constraints"] = constraints_json
        if layout_json is not None:
            cand["layout"] = layout_json
        if extra_fields:
            # durable top-level fields (e.g. the time_key_rule stamp) —
            # carried forward by every later commit via the **on spread
            cand.update(extra_fields)
        # per-commit operation tag (DESCRIBE HISTORY forensics) — set
        # fresh each commit, deliberately NOT carried forward like `app`
        cand["op"] = op
        return cand

    candidate = _candidate(base)
    for attempt in range(max_commit_retries + 1):
        try:
            _commit_manifest(path, candidate)
            return candidate
        except ConcurrentWriteError:
            if attempt == max_commit_retries:
                raise
            latest = read_manifest(path)
            if latest.get("partition_col") != base_manifest.get(
                "partition_col"
            ):
                # a competing repartition_manifest_table changed the
                # table's partition SPEC — our entries are laid out under
                # the old spec and can never be rebased onto the new one
                raise ConcurrentWriteError(
                    f"commit race on {path}: the table was repartitioned "
                    f"to {latest.get('partition_col')!r} while this write "
                    "was in flight — re-run it against the new layout"
                ) from None
            if base["version"] in versions:
                changed = manifest_changed_partitions(
                    path, base["version"], latest["version"]
                )
            else:
                # base was the synthetic empty state (first commit to this
                # table lost its race): everything now present is new
                changed = dict.fromkeys(latest["partitions"], "added")
            overlap = sorted(set(changed) & ours)
            if overlap:
                raise ConcurrentWriteError(
                    f"commit race on {path}: a competing commit changed "
                    f"partitions {overlap} that this write also rewrote — "
                    "re-read the table and re-run the merge"
                ) from None
            if schema_json is not None:
                schema_json = _union_evolved_schema(
                    latest.get("schema"), schema_json
                )
            if latest.get("constraints", {}) != base_manifest.get(
                "constraints", {}
            ):
                # a competing commit changed the table's CHECK constraints
                # after this write validated against the old set — its rows
                # were never checked against the new rules, so a silent
                # rebase could commit violating data
                raise ConcurrentWriteError(
                    f"commit race on {path}: table constraints changed "
                    "while this write was in flight — re-read the table "
                    "and re-run the write under the current constraints"
                ) from None
            if check_predicates is not None:
                dirty = []
                for k, st in changed.items():
                    if st == "removed":
                        continue
                    if (
                        check_partition_scope is not None
                        and k not in check_partition_scope
                    ):
                        continue
                    files = latest["partitions"][k].get("files")
                    if files is None or any(
                        _file_maybe_matches(fm, check_predicates)
                        for fm in files
                    ):
                        dirty.append(k)
                if dirty:
                    raise ConcurrentWriteError(
                        f"commit race on {path}: a competing commit "
                        f"added/rewrote partitions {sorted(dirty)} whose "
                        "rows may match this DELETE/UPDATE's predicate — "
                        "re-run it against the current table"
                    ) from None
            if check_moved_keys and update_keys_df is not None:
                present = [k for k, st in changed.items() if st != "removed"]
                if present:
                    moved = (
                        read_manifest_table(
                            spark,
                            path,
                            partition_values=present,
                            version=latest["version"],
                            partition_values_encoded=True,
                        )
                        .select(*keys)
                        .join(update_keys_df, list(keys), "left_semi")
                        .limit(1)
                        .count()
                    )
                    if moved:
                        raise ValueError(
                            "a competing commit introduced this batch's "
                            "update keys under other partitions — a "
                            "partition-scoped MERGE would duplicate them; "
                            "re-run the merge against the current table"
                        )
            versions.add(latest["version"])
            base = latest
            candidate = _candidate(base)


def merge_upsert_manifest(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    check_moved_keys: bool = True,
    schema_evolution: bool = False,
    count_rows: bool = True,
    max_commit_retries: int = 3,
    bloom_cols: Sequence[str] | None = None,
    app_metadata: dict | None = None,
    stage: str | None = None,
) -> int:
    """Partition-scoped MERGE with an object-store-safe commit.
    `app_metadata` key/values land in the manifest's `app` object in the
    SAME atomic commit as the data (see `_commit_with_rebase`) — read
    back with `manifest_app_metadata`.

    `partition_col` may be a plain column (identity) or a partition
    TRANSFORM spec — `days(ts)`, `months(ts)`, `years(ts)`,
    `bucket(N, col)`, `truncate(W, col)` (hidden partitioning,
    operators/partitioning.py): the derived value drives the layout and
    lives only in manifest entries, never in data files or the stored
    schema; readers prune through the transform and `partition_values`
    then take DERIVED values ('2024-03-05', a bucket number).

    `stage` names a WRITE-AUDIT-PUBLISH staging slot instead of
    committing: the data prefixes are written and validated exactly as a
    commit would (spanning keys, moved keys, constraints, stats, blooms),
    but the result lands as a staged candidate under `_staged/<name>` —
    invisible to every reader — for `read_staged_table` audits, then
    `publish_staged` (one atomic commit, with the same rebase as a direct
    merge) or `abort_staged`. The ingest-pipeline quarantine gate at
    100 TB: bad batches never become a committed version that needs
    rolling back.

    `bloom_cols` names high-cardinality columns to index with a
    per-partition bloom sidecar at commit time (one extra aggregation job
    over the cached merge frame, for all touched partitions) — point lookups
    then prune partitions via `manifest_bloom_lookup` /
    `read_manifest_point_lookup` without touching data. Use for the keys
    a consumer probes by equality (doc ids, event ids); range predicates
    belong to the min/max stats + clustering instead.

    Semantics: update rows win per column, unmatched update rows insert,
    and rows of partitions the batch does not touch are neither read nor
    rewritten. Update rows sharing a key collapse to one. Returns the
    number of distinct update keys (-1 with `count_rows=False`).

    Preconditions, each enforced with a `ValueError` before any data is
    written:

    - `partition_col` (a transform's source column) is in the batch, and an
      existing table is manifest-partitioned by the same spec;
    - `keys` functionally determine `partition_col`: a batch that maps one
      key to two partition values (NULL counts as a value) is refused, and
      with `check_moved_keys=True` so is a batch key that already lives in
      an untouched partition (a key-column scan of those partitions only);
    - new columns and widened column types need `schema_evolution=True`;
      any other type change is refused.

    NULL partition values need no fallback: pruning is manifest-key
    selection, not an `isin` predicate, so NULL is just another entry.

    One atomic manifest creation commits every touched partition, so a
    crash anywhere mid-write leaves readers on the old snapshot with zero
    torn state. Concurrent writers get optimistic concurrency at partition
    granularity: a lost commit race against writers that touched DISJOINT
    partitions rebases automatically (their entries + ours, schemas
    unioned, key-spanning re-checked — up to `max_commit_retries` times,
    no data rewritten); only a race on the SAME partition raises
    `ConcurrentWriteError` (re-read and re-run the merge), because our
    merged rows were computed from that partition's now-stale snapshot.
    Many independent ingest jobs can therefore commit to one table
    concurrently as long as they own different partition slices — the
    normal 100 TB multi-writer layout.

    One fused Spark job writes every touched partition's fresh prefix
    (`_write_partition_prefixes`), computing the merge exactly once. The
    merged frame is cached only when something reads it more than once:
    table CHECK constraints, bloom sidecars, or a sort-on-write layout
    (which writes one job per touched partition). Old prefixes stay on
    disk for snapshot-isolated in-flight readers until `vacuum_manifest`
    reclaims them.

    Reference parity: same ON CONFLICT DO UPDATE contract as the reference's
    loaders (loaders/__init__.py:253-273), with the all-or-nothing guarantee
    (loaders/__init__.py:108-113) carried by the manifest flip.
    """
    # `partition_col` may be a partition TRANSFORM spec — days(ts),
    # months(ts), years(ts), bucket(N, col), truncate(W, col) — in which
    # case the derived value drives the layout but is never stored in the
    # data files (hidden partitioning, operators/partitioning.py)
    pt = parse_partition_spec(partition_col)
    partition_col = pt.spec
    pcol = partition_column_name(pt)
    hidden = pt.kind != "identity"
    if pt.source not in updates.columns:
        raise ValueError(
            f"partition source column {pt.source!r} not in the update "
            "batch's columns"
        )
    # persist the keyed batch: the merge runs several control-plane jobs
    # over it (distinct partitions, spanning check, moved-keys semi-join,
    # the merge itself, applied-count) — without the cache each one
    # re-reads the batch's source (a parquet re-scan per job for
    # foreachBatch streaming sinks)
    updates_keyed = apply_transform(pt, updates).persist()
    updates = updates_keyed.drop(DERIVED_COL) if hidden else updates_keyed
    # ONE control-plane job yields the batch's distinct partitions, the
    # key→partition functional-dependency check, and the applied-row
    # count (distinct update keys — duplicate-keyed rows collapse in the
    # merge, so updates.count() would over-report). countDistinct over a
    # STRUCT so NULL counts as a partition value — a key spanning the
    # NULL partition and a real one must be rejected like any other
    # spanning key (NULL partitions are first-class here). Fused because
    # the commit constant is per-JOB scheduling overhead: this used to be
    # two (three with count_rows) separate batch scans per micro-batch.
    part_rows = (
        updates_keyed.groupBy(*keys)
        .agg(
            F.countDistinct(F.struct(pcol)).alias("__np"),
            F.first(pcol).alias("__p0"),
        )
        .groupBy("__p0")
        .agg(F.max("__np").alias("__mx"), F.count(F.lit(1)).alias("__nk"))
        .collect()
    )
    if not part_rows:
        updates_keyed.unpersist()
        return 0
    if any(r["__mx"] > 1 for r in part_rows):
        raise ValueError(
            f"update batch maps one {keys} key to multiple {partition_col} "
            "values — keys must functionally determine the partition column "
            "for partition-scoped MERGE"
        )
    parts = [r["__p0"] for r in part_rows]
    n_keys = sum(r["__nk"] for r in part_rows)
    if bloom_cols:
        missing = [c for c in bloom_cols if c not in updates.columns]
        if missing:
            raise ValueError(
                f"bloom_cols {missing} not in the update batch's columns"
            )

    manifest = read_manifest(path) or {
        "version": 0,
        "partition_col": partition_col,
        "partitions": {},
        **_time_rule_stamp(partition_col),
    }
    if manifest["partition_col"] != partition_col:
        raise ValueError(
            f"table at {path} is manifest-partitioned by "
            f"{manifest['partition_col']!r}, not {partition_col!r}"
        )
    if manifest.get("schema") is not None:
        _check_type_evolution(
            T.StructType.fromJson(manifest["schema"]), updates.schema,
            schema_evolution,
        )
    if not bloom_cols:
        # table-level layout policy (manifest_set_layout): uniform bloom
        # coverage without every writer remembering the flag
        bloom_cols = list(
            (manifest.get("layout") or {}).get("bloom_cols") or ()
        ) or None
    touched = {_enc_part(p): p for p in parts}
    untouched_keys = [k for k in manifest["partitions"] if k not in touched]

    if check_moved_keys and untouched_keys:
        # scan ONLY the untouched partitions (manifest-level pruning), key
        # columns only — far cheaper than the rewrite this operator avoids.
        # Through read_manifest_table so MoR-deleted keys don't count as
        # "existing elsewhere" (re-inserting an erased key under a new
        # partition is legitimate).
        elsewhere = (
            read_manifest_table(
                spark,
                path,
                partition_values=untouched_keys,
                partition_values_encoded=True,
                version=manifest["version"],
            )
            .select(*keys)
            .join(updates.select(*keys).distinct(), list(keys), "left_semi")
            .limit(1)
            .count()
        )
        if elsewhere:
            raise ValueError(
                f"update keys already exist under other {partition_col} "
                "partitions — a partition-scoped MERGE would duplicate them"
            )

    existing_touched = _align_schema(
        read_manifest_table(
            spark, path, partition_values=parts, schema=updates.schema
        ),
        updates,
        schema_evolution,
    )
    # the derived partition value is recomputed on the MERGED rows (it is
    # deterministic from the source column), written out for the fan-out
    # filter, and dropped from the stored files and schema
    merged = apply_transform(
        pt, merge_upsert_frames(existing_touched, updates, keys)
    )
    # the merged frame is cached + materialized only when something will
    # read it MORE than once: the sorted legacy write fan-out (one job
    # per partition), a constraints pre-check, or a fused bloom build.
    # The plain streaming-sink shape (no constraints, no blooms, fused
    # single write job) computes the merge exactly once inside the write
    # job — no cache pass, no materialize job, per-commit jobs constant.
    sort = _layout_sort(manifest)
    multi_pass = bool(
        manifest.get("constraints") or bloom_cols or sort is not None
    )
    if multi_pass:
        merged = merged.persist()
    public_schema = (
        merged.drop(DERIVED_COL).schema if hidden else merged.schema
    )
    try:
        # applied-row count = distinct update keys, already aggregated in
        # the fused control-plane job above. `count_rows=False` keeps its
        # documented -1 contract (per-micro-batch streaming sinks).
        n = n_keys if count_rows else -1
        if multi_pass:
            # materialize the cache with ONE job before fanning out, so
            # every subsequent pass reads cached rows
            merged.count()
        # table CHECK constraints validate the rows about to be written
        # (the merged post-image) BEFORE any data lands — a violating
        # batch leaves the table untouched
        _enforce_constraints(
            merged, manifest.get("constraints", {}), f"MERGE into {path}"
        )
        snap = uuid.uuid4().hex[:12]
        new_entries = _write_partition_prefixes(
            merged, path, pcol, touched, snap, bloom_cols=bloom_cols,
            drop_cols=(DERIVED_COL,) if hidden else (),
            sort=sort, stored=_stored_of(manifest),
        )
        if stage is not None:
            _write_staged(
                path,
                stage,
                {
                    "name": stage,
                    "base_version": manifest["version"],
                    "partition_col": partition_col,
                    "keys": list(keys),
                    "new_entries": new_entries,
                    "schema": public_schema.jsonValue(),
                    "app_metadata": app_metadata,
                    "check_moved_keys": check_moved_keys,
                },
            )
            return n
        # ← the commit (atomic create-if-absent of the next version), with
        #   automatic rebase over disjoint-partition racers; the stored
        #   schema is authoritative — prefixes written before a column
        #   existed read it back as NULL (schema evolution)
        _commit_with_rebase(
            spark,
            path,
            manifest,
            new_entries,
            schema_json=public_schema.jsonValue(),
            update_keys_df=updates.select(*keys).distinct(),
            keys=list(keys),
            check_moved_keys=check_moved_keys,
            max_commit_retries=max_commit_retries,
            app_metadata=app_metadata,
            op="merge",
        )
    finally:
        merged.unpersist()
        # error paths before `merged` exists leave the batch cache to
        # Spark's ContextCleaner (unpersisted on driver GC) — acceptable
        # for a failing merge; the happy path releases it here
        updates_keyed.unpersist()
    return n


def insert_into_manifest(
    spark: SparkSession,
    rows: DataFrame,
    path: str,
    max_commit_retries: int = 3,
    app_metadata: dict | None = None,
) -> int:
    """SQL-style `INSERT INTO`: append rows to a manifest table with no
    key semantics — duplicates are kept, nothing is matched or deleted
    (use the MERGE verbs for upserts). The fourth DML verb next to
    MERGE / DELETE / UPDATE, and the target of `catalog_sql`'s
    `INSERT INTO t SELECT ...` routing.

    The batch's columns must be a subset of the table's stored schema
    (schema changes go through `merge_upsert_manifest(schema_evolution=
    True)`); omitted columns insert NULL, shared columns are cast to the
    stored types. Rows land in partitions derived through the table's
    partition transform; only TOUCHED partitions are rewritten (existing
    live rows ∪ new rows — pending merge-on-read deletes fold in, stats
    and bloom sidecars rebuild per the table's layout policy), flipped in
    ONE atomic commit with the same disjoint-partition rebase as the
    MERGE. CHECK constraints validate the incoming rows before any data
    lands. At scale the cost is ∝ touched partitions (a time-partitioned
    append touches today's partition), never table size.

    Returns the number of rows inserted."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(
            f"no manifest at {path} — create the table with "
            "merge_upsert_manifest first"
        )
    if m.get("schema") is None:
        raise ValueError(f"manifest at {path} has no stored schema")
    stored = T.StructType.fromJson(m["schema"])
    extra = [c for c in rows.columns if c not in stored.names]
    if extra:
        raise ValueError(
            f"INSERT batch has columns the table lacks: {extra} — evolve "
            "the schema through merge_upsert_manifest(schema_evolution="
            "True) first"
        )
    have = set(rows.columns)
    aligned = rows.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in stored.fields
        ]
    )
    pt = parse_partition_spec(m["partition_col"])
    pcol = partition_column_name(pt)
    hidden = pt.kind != "identity"
    keyed = apply_transform(pt, aligned).persist()
    try:
        # one control-plane job: row count AND distinct partitions
        part_rows = keyed.groupBy(pcol).count().collect()
        n = sum(r["count"] for r in part_rows)
        if n == 0:
            return 0
        parts = [r[0] for r in part_rows]
        _enforce_constraints(
            aligned, m.get("constraints", {}), f"INSERT into {path}"
        )
        touched = {_enc_part(p): p for p in parts}
        existing = read_manifest_table(
            spark,
            path,
            partition_values=parts,
            schema=stored,
            version=m["version"],
        )
        merged = apply_transform(pt, existing.unionByName(aligned))
        sort = _layout_sort(m)
        bloom_cols = list(
            (m.get("layout") or {}).get("bloom_cols") or ()
        ) or None
        multi_pass = bool(bloom_cols or sort is not None)
        if multi_pass:
            merged = merged.persist()
        try:
            if multi_pass:
                merged.count()  # materialize before the multi-pass reads
            snap = uuid.uuid4().hex[:12]
            new_entries = _write_partition_prefixes(
                merged, path, pcol, touched, snap, bloom_cols=bloom_cols,
                drop_cols=(DERIVED_COL,) if hidden else (),
                sort=sort, stored=stored,
            )
            _commit_with_rebase(
                spark,
                path,
                m,
                new_entries,
                schema_json=stored.jsonValue(),
                max_commit_retries=max_commit_retries,
                app_metadata=app_metadata,
                op="insert",
            )
        finally:
            merged.unpersist()
    finally:
        keyed.unpersist()
    return n


# ---------------------------------------------------------------------------
# conditional MERGE INTO: the full Delta/Iceberg MERGE clause surface over
# manifest tables — WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE,
# WHEN NOT MATCHED [AND cond] THEN INSERT, WHEN NOT MATCHED BY SOURCE
# [AND cond] THEN DELETE | UPDATE. `merge_upsert_manifest` stays the fast
# path for the plain upsert shape; this verb covers everything else.
# ---------------------------------------------------------------------------


def _norm_merge_clauses(spec, allowed: set, what: str) -> list[tuple]:
    """Normalize a MERGE clause spec into [(verb, cond_sql|None, assign)].

    Accepted shorthands: None/False → no clauses; a verb string
    ("update" | "delete" | "insert") → one unconditional clause; a single
    tuple → one clause; a sequence of tuples → ordered clauses (first
    matching clause wins, Delta semantics). Tuples are (verb,), (verb,
    cond), or (verb, cond, assignments); assignments default to "all"
    for update/insert, None for delete."""
    if spec in (None, False):
        return []
    if isinstance(spec, str):
        spec = [(spec, None)]
    elif isinstance(spec, tuple):
        spec = [spec]
    out = []
    for cl in spec:
        if isinstance(cl, str):
            cl = (cl, None)
        verb = cl[0]
        cond = cl[1] if len(cl) > 1 else None
        assign = cl[2] if len(cl) > 2 else ("all" if verb != "delete" else None)
        if verb not in allowed:
            raise ValueError(
                f"{what} clause verb {verb!r} not in {sorted(allowed)}"
            )
        if verb == "delete" and assign is not None:
            raise ValueError(f"{what} DELETE clause takes no assignments")
        if verb != "delete" and not (
            assign == "all" or isinstance(assign, dict)
        ):
            raise ValueError(
                f"{what} {verb} assignments must be 'all' or a dict of "
                "column -> SQL expression over t.<col>/s.<col>"
            )
        out.append((verb, cond, assign))
    return out


def merge_into_manifest(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str | None = None,
    when_matched="update",
    when_not_matched="insert",
    when_not_matched_by_source=None,
    by_source_scope: Sequence | None = None,
    bloom_cols: Sequence[str] | None = None,
    max_commit_retries: int = 3,
    app_metadata: dict | None = None,
) -> dict:
    """Conditional MERGE INTO for manifest tables — the full SQL MERGE
    clause surface (Delta/Iceberg `MERGE INTO t USING s ON keys`):

    - `when_matched`: ordered clauses applied to key-matched (target,
      source) pairs — [("update", cond, assignments), ("delete", cond)].
      First clause whose condition holds wins; pairs matching no clause
      keep the target row unchanged. `assignments` is "all" (take every
      column the source carries — the upsert shape; table columns a
      narrower source LACKS keep the target's value, so a partial feed
      never nulls out data columns or the partition source column) or
      {col: SQL} where the SQL may
      reference both rows as `t.<col>` / `s.<col>` (e.g.
      `{"v": "t.v + s.v"}` for additive MERGE). Conditions are SQL over
      the same two aliases (`"s.ts > t.ts"` — only-if-newer upserts).
    - `when_not_matched`: insert clauses for source-only keys
      ([("insert", cond)]); rows matching no clause are dropped.
    - `when_not_matched_by_source`: delete/update clauses for target-only
      keys (`[("delete", "t.expired")]` — sync-deletions shape;
      conditions see `t.*` only). These clauses examine target rows
      whose key the source DOESN'T carry, so their scan scope is the
      whole table by default; `by_source_scope` narrows it to the given
      partition values (strongly recommended at scale — e.g. "sync this
      day's partition against today's feed"). Target rows outside the
      scope are never examined, matched, or deleted.

    Shorthands: `when_matched="update"` ≡ [("update", None, "all")],
    `"delete"` ≡ [("delete", None)], `when_not_matched="insert"`;
    None disables the clause family. The defaults make
    `merge_into_manifest(spark, src, path, keys, pcol)` behave exactly
    like `merge_upsert_manifest` (which remains the cheaper fast path:
    it skips clause evaluation and the action accounting).

    Invariants shared with the partition-scoped MERGE: `keys` must
    functionally determine `partition_col` in the source; at most one
    source row per key (ambiguous multi-matches raise, as in Delta);
    UPDATE assignments may not change `partition_col` (rows never move
    partitions — re-key via DELETE + INSERT instead); source keys must
    not exist in partitions the merge doesn't examine. Only partitions
    where at least one row actually changed are rewritten — a no-op
    clause evaluation over N partitions rewrites none of them — and the
    commit is the same single atomic manifest flip with
    disjoint-partition rebase. With by-source clauses active, a rebase
    over a competitor that changed partitions INSIDE the examined scope
    conflicts conservatively (their new rows were never examined by our
    clauses); without them, rebase behaves exactly like the MERGE.

    Returns {"updated", "deleted", "inserted", "updated_by_source",
    "deleted_by_source", "unchanged", "partitions_rewritten",
    "partitions_dropped"}.

    Reference parity: generalizes the ON CONFLICT DO UPDATE contract
    (loaders/__init__.py:253-273) to the conditional forms the reference
    hand-codes as Python if/continue row loops (e.g. skipping rows whose
    FK didn't resolve, loaders/__init__.py:225-226) — here they are
    declarative clauses over set-based dataflow."""
    matched = _norm_merge_clauses(
        when_matched, {"update", "delete"}, "when_matched"
    )
    not_matched = _norm_merge_clauses(
        when_not_matched, {"insert"}, "when_not_matched"
    )
    by_source = _norm_merge_clauses(
        when_not_matched_by_source, {"update", "delete"},
        "when_not_matched_by_source",
    )
    if not (matched or not_matched or by_source):
        raise ValueError("MERGE with no clauses would be a no-op")
    keys = list(keys)

    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(
            f"no manifest at {path} — create the table with "
            "merge_upsert_manifest first"
        )
    if partition_col is None:
        partition_col = m["partition_col"]
    pt = parse_partition_spec(partition_col)
    partition_col = pt.spec
    if m["partition_col"] != partition_col:
        raise ValueError(
            f"table at {path} is manifest-partitioned by "
            f"{m['partition_col']!r}, not {partition_col!r}"
        )
    psrc = pt.source  # the column rows carry (== partition_col if identity)
    hidden = pt.kind != "identity"
    pcol_w = partition_column_name(pt)
    stored = T.StructType.fromJson(m["schema"])
    t_cols = [f.name for f in stored.fields]
    extra = [c for c in source.columns if c not in t_cols]
    if extra:
        raise ValueError(
            f"source has columns the table lacks: {extra} — evolve the "
            "schema through merge_upsert_manifest(schema_evolution=True) "
            "first"
        )
    for verb, _, assign in matched + by_source:
        if isinstance(assign, dict):
            bad = [c for c in assign if c not in t_cols]
            if bad:
                raise ValueError(f"UPDATE SET on unknown columns {bad}")
            if partition_col in assign or psrc in assign:
                raise ValueError(
                    f"UPDATE may not assign the partition column "
                    f"{psrc!r} — rows never move partitions; "
                    "DELETE + re-insert instead"
                )
    for verb, _, assign in by_source:
        if verb == "update" and not isinstance(assign, dict):
            # "all" would read columns from a source row that doesn't
            # exist (NULL struct) — a silent no-op; demand explicitness
            raise ValueError(
                "when_not_matched_by_source UPDATE needs a dict of "
                "assignments — there is no source row to take columns from"
            )

    # One grouping of the source by key answers three questions in one job:
    # rows per key, partition values per key, and (when every key has one)
    # the source's partition values — structs, so a NULL partition value
    # survives collect_set.
    src_has_part = psrc in source.columns
    src_keyed = apply_transform(pt, source) if src_has_part else source
    per_key = [F.count("*").alias("__n")]
    over_keys = [F.max("__n").alias("rows")]
    if src_has_part:
        per_key += [
            F.countDistinct(F.struct(pcol_w)).alias("__np"),
            F.first(F.struct(pcol_w)).alias("__p"),
        ]
        over_keys += [F.max("__np").alias("parts"), F.collect_set("__p").alias("vals")]
    shape = src_keyed.groupBy(*keys).agg(*per_key).agg(*over_keys).first()
    # at most one source row per key (Delta's ambiguous-merge error)
    if (shape["rows"] or 0) > 1:
        raise ValueError(
            f"source has multiple rows per {keys} key — MERGE matches are "
            "ambiguous; pre-aggregate the source to one row per key"
        )
    if not_matched and not src_has_part:
        raise ValueError(
            f"source lacks the partition source column {psrc!r} — "
            "INSERT clauses cannot place rows"
        )
    spanning = src_has_part and (shape["parts"] or 0) > 1
    src_parts = [r[0] for r in shape["vals"]] if src_has_part else []
    if spanning:
        raise ValueError(
            f"source maps one {keys} key to multiple {partition_col} "
            "values — keys must functionally determine the partition column"
        )

    # partitions this merge EXAMINES: the source's, plus the by-source
    # scope (whole table when unscoped); a source WITHOUT the partition
    # column can't localize its matches, so matched clauses then examine
    # the whole table too
    examined = {_enc_part(p): p for p in src_parts}
    if by_source or (matched and not src_has_part):
        if by_source and by_source_scope is not None:
            scope_keys = {_enc_part(v): v for v in by_source_scope}
        else:
            scope_keys = dict(m["partitions"])  # values unused, keys select
        examined.update(scope_keys)
    examined = {k: v for k, v in examined.items() if k in m["partitions"]} | {
        _enc_part(p): p for p in src_parts
    }
    unexamined = [k for k in m["partitions"] if k not in examined]
    if unexamined and (not_matched or matched):
        elsewhere = (
            read_manifest_table(
                spark, path, partition_values=unexamined,
                partition_values_encoded=True, version=m["version"],
            )
            .select(*keys)
            .join(source.select(*keys).distinct(), keys, "left_semi")
            .limit(1)
            .count()
        )
        if elsewhere:
            raise ValueError(
                f"source keys already exist under {partition_col} "
                "partitions this merge does not examine — matched rows "
                "would be missed or duplicated; widen by_source_scope or "
                "re-partition the source"
            )

    present = [k for k in examined if k in m["partitions"]]
    target = read_manifest_table(
        spark, path, partition_values=present,
        partition_values_encoded=True, version=m["version"], schema=stored,
    )
    # two struct sides: every condition/assignment is SQL over t.* / s.*;
    # each side also carries its DERIVED partition value as a top-level
    # column (__tp/__sp) — for identity tables that's just the partition
    # column, for transformed tables it's recomputed from the source
    # column (deterministic), never read from storage
    def _derived_dtype():
        if not hidden:
            return stored[psrc].dataType
        if pt.kind == "bucket":
            return T.LongType()
        if pt.kind == "truncate" and isinstance(
            stored[psrc].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType),
        ):
            return T.LongType()
        return T.StringType()

    t_side = apply_transform(pt, target).select(
        F.struct(*t_cols).alias("t"), F.col(pcol_w).alias("__tp")
    )
    s_cols = [
        F.col(c).cast(f.dataType).alias(c)
        if c in source.columns
        else F.lit(None).cast(f.dataType).alias(c)
        for f in stored.fields
        for c in [f.name]
    ]
    sp = (
        F.col(pcol_w)
        if src_has_part
        else F.lit(None).cast(_derived_dtype())
    )
    s_side = src_keyed.select(F.struct(*s_cols).alias("s"), sp.alias("__sp"))
    on = None
    for k in keys:
        p = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        on = p if on is None else (on & p)
    j = t_side.join(s_side, on, "full_outer")

    is_m = F.col("t").isNotNull() & F.col("s").isNotNull()
    s_only = F.col("t").isNull()
    t_only = F.col("s").isNull()

    def _chain(base, clauses, prefix, default):
        act = None
        for i, (verb, cond, _) in enumerate(clauses):
            c = base & (F.expr(cond) if cond else F.lit(True))
            tag = F.lit(f"{prefix}{i}:{verb}")
            act = F.when(c, tag) if act is None else act.when(c, tag)
        done = act.otherwise(F.lit(default)) if act is not None else F.lit(default)
        return F.when(base, done)

    action = (
        _chain(is_m, matched, "m", "keep")
        .otherwise(
            _chain(s_only, not_matched, "i", "skip").otherwise(
                _chain(t_only, by_source, "b", "keep").otherwise(F.lit("keep"))
            )
        )
    )
    j = j.withColumn("__act", action).persist()
    try:
        j.count()  # materialize once; everything below reads the cache
        counts = {r["__act"]: r["n"] for r in
                  j.groupBy("__act").agg(F.count("*").alias("n")).collect()}

        def _n(pred) -> int:
            return sum(v for k, v in counts.items() if pred(k))

        stats = {
            "updated": _n(lambda a: a.startswith("m") and a.endswith("update")),
            "deleted": _n(lambda a: a.startswith("m") and a.endswith("delete")),
            "inserted": _n(lambda a: a.startswith("i")),
            "updated_by_source": _n(
                lambda a: a.startswith("b") and a.endswith("update")),
            "deleted_by_source": _n(
                lambda a: a.startswith("b") and a.endswith("delete")),
            "unchanged": counts.get("keep", 0) + counts.get("skip", 0),
        }

        # final value per column: clause assignments, first-match-wins by
        # the precomputed action tag
        def _assigned(c: str) -> Column:
            out = F.when(
                F.col("__act") == "keep", F.col(f"t.{c}")
            )
            for i, (verb, _, assign) in enumerate(matched):
                tag = f"m{i}:{verb}"
                if verb == "update":
                    # "all" takes the source's value only for columns the
                    # source actually carries; table columns absent from a
                    # narrower source keep the target's value (Delta errors
                    # on UPDATE SET * with a narrower source; silently
                    # nulling them — the old s_cols stuffing — lost data,
                    # and when the missing column was the partition source
                    # the row's recomputed partition went NULL and the row
                    # vanished from the rewrite entirely)
                    v = (
                        (F.col(f"s.{c}") if c in source.columns
                         else F.col(f"t.{c}"))
                        if assign == "all"
                        else F.expr(assign[c]) if c in assign
                        else F.col(f"t.{c}")
                    )
                    out = out.when(F.col("__act") == tag, v)
            for i, (verb, _, _a) in enumerate(not_matched):
                out = out.when(F.col("__act") == f"i{i}:{verb}", F.col(f"s.{c}"))
            for i, (verb, _, assign) in enumerate(by_source):
                if verb == "update":
                    v = (
                        F.expr(assign[c]) if isinstance(assign, dict) and c in assign
                        else F.col(f"t.{c}")
                    )
                    out = out.when(F.col("__act") == f"b{i}:{verb}", v)
            return out.cast(stored[c].dataType).alias(c)

        surviving = ~(
            F.col("__act").rlike("^(m|b)[0-9]+:delete$")
            | (F.col("__act") == "skip")
        )
        final = j.filter(surviving).select(
            *[_assigned(f.name) for f in stored.fields]
        )
        # UPDATE must not have moved a row's partition. Only "all"
        # assignments can (they take the source's value for the partition
        # source column; dict assignments to it were rejected up front) —
        # and for a transformed table the check compares DERIVED values,
        # so updating a timestamp WITHIN its day partition is fine.
        all_upd_tags = [
            f"m{i}:update"
            for i, (v, _c, a) in enumerate(matched)
            if v == "update" and a == "all"
        ]
        moved = (
            j.filter(is_m & F.col("__act").isin(all_upd_tags))
            .filter(~F.col("__tp").eqNullSafe(F.col("__sp")))
            .limit(1)
            .count()
            if all_upd_tags and src_has_part
            else 0
        )
        if moved:
            raise ValueError(
                f"an UPDATE clause changed the {partition_col!r} partition "
                "of a matched key — rows never move partitions; "
                "DELETE + re-insert"
            )

        # rewrite ONLY partitions where something actually changed
        changed_rows = j.filter(F.col("__act").rlike("^(m|i|b)[0-9]+:"))
        changed_parts = [
            r[0]
            for r in changed_rows.select(
                F.coalesce(F.col("__tp"), F.col("__sp")).alias("p")
            )
            .distinct()
            .collect()
        ]
        if not changed_parts:
            return {**stats, "partitions_rewritten": 0, "partitions_dropped": 0}
        touched = {_enc_part(p): p for p in changed_parts}

        fin = apply_transform(pt, final) if hidden else final
        nonnull_parts = [p for p in changed_parts if p is not None]
        in_changed = (
            F.col(pcol_w).isin(nonnull_parts)
            if nonnull_parts
            else F.lit(False)
        )
        if any(p is None for p in changed_parts):
            in_changed = in_changed | F.col(pcol_w).isNull()
        out_df = fin.filter(in_changed).persist()
        try:
            out_df.count()
            _enforce_constraints(
                out_df, m.get("constraints", {}), f"MERGE INTO {path}"
            )
            # partitions whose every row was deleted drop from the manifest
            present_out = {
                _enc_part(r[0])
                for r in out_df.select(pcol_w).distinct().collect()
            }
            drop_keys = [
                k for k in touched
                if k not in present_out and k in m["partitions"]
            ]
            write_parts = {k: v for k, v in touched.items() if k in present_out}
            # keep bloom coverage: rebuild the union of the caller's
            # columns, the table layout policy's, and whatever the
            # rewritten entries already indexed
            blooms = set(bloom_cols or ()) | set(
                (m.get("layout") or {}).get("bloom_cols") or ()
            )
            for k in write_parts:
                e = m["partitions"].get(k)
                if e and e.get("blooms"):
                    blooms |= set(e["blooms"])
            snap_entries = _write_partition_prefixes(
                out_df, path, pcol_w, write_parts,
                uuid.uuid4().hex[:12], bloom_cols=sorted(blooms) or None,
                drop_cols=(DERIVED_COL,) if hidden else (),
                sort=_layout_sort(m), stored=_stored_of(m),
            )
            _commit_with_rebase(
                spark, path, m, snap_entries,
                update_keys_df=source.select(*keys).distinct(),
                keys=keys,
                check_moved_keys=bool(matched or not_matched),
                max_commit_retries=max_commit_retries,
                drop_keys=drop_keys,
                # by-source clauses examined a scope a competitor may have
                # changed under us — conservatively conflict on any change
                # inside it (the always-maybe predicate), scoped so disjoint
                # writers outside it still rebase cleanly
                check_predicates=(
                    [("__merge_by_source__", "=", 1)] if by_source else None
                ),
                check_partition_scope=(set(examined) if by_source else None),
                app_metadata=app_metadata,
                op="merge",
            )
        finally:
            out_df.unpersist()
        return {
            **stats,
            "partitions_rewritten": len(snap_entries),
            "partitions_dropped": len(drop_keys),
        }
    finally:
        j.unpersist()


def manifest_app_metadata(path: str, version: int | str | None = None) -> dict:
    """The application key/values committed alongside the data (the `app`
    object — e.g. a materialized view's source-version watermark). Empty
    dict when none were ever written."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    return dict(m.get("app", {}))


def manifest_set_app_metadata(spark: SparkSession, path: str, kv: dict) -> None:
    """Commit application key/values WITHOUT data changes (op="set_app"):
    the watermark-only commit a maintainer needs when a consumed source
    window produced no output rows — the "how far I've read" state must
    still advance atomically in the table's own log, or the consumer
    would reprocess the window forever. Keys merge over existing app
    metadata exactly like data-carrying commits."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    _commit_with_rebase(spark, path, m, {}, app_metadata=kv, op="set_app")


# ---------------------------------------------------------------------------
# Write-audit-publish (the Iceberg WAP pattern): an ingest job stages its
# merge instead of committing (`merge_upsert_manifest(..., stage=name)`),
# an audit step queries the CANDIDATE table (`read_staged_table`) and runs
# its data-quality checks against it, and only then does `publish_staged`
# make it visible — ONE atomic commit with the same optimistic rebase a
# direct merge gets, so audits of any length never block other writers.
# A failed audit calls `abort_staged`; the staged prefixes were never
# referenced by a committed manifest, so readers never saw a byte of the
# bad batch and there is no version to roll back. Staged state is a single
# JSON under _staged/<name> (create-if-absent — staging twice under one
# name is a loud error); vacuum treats staged prefixes as live until the
# stage is published or aborted.
# ---------------------------------------------------------------------------

_STAGED_DIR = "_staged"


def _staged_path(path: str, name: str) -> str:
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid stage name {name!r}")
    return os.path.join(path, _STAGED_DIR, f"{name}.json")


def _write_staged(path: str, name: str, obj: dict) -> None:
    p = _staged_path(path, name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.tmp{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    try:
        os.link(tmp, p)  # create-if-absent: two stages can't share a name
    except FileExistsError:
        raise ConcurrentWriteError(
            f"stage {name!r} already exists at {path} — publish or abort "
            "it first, or stage under a fresh name"
        ) from None
    finally:
        os.unlink(tmp)


def staged_refs(path: str) -> list[str]:
    """Names of pending (unpublished, unaborted) stages on the table."""
    d = os.path.join(path, _STAGED_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        f[:-5] for f in os.listdir(d)
        if f.endswith(".json") and ".tmp" not in f
    )


def read_staged(path: str, name: str) -> dict:
    """The staged candidate's metadata ({base_version, new_entries, ...})."""
    p = _staged_path(path, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no stage {name!r} at {path}")
    with open(p) as fh:
        return json.load(fh)


def _staged_base(path: str, st: dict) -> dict:
    base = read_manifest(path, st["base_version"]) if st["base_version"] else None
    if base is None and st["base_version"]:
        raise FileNotFoundError(
            f"stage {st['name']!r} was built on version {st['base_version']}, "
            "which has been vacuumed — the stage has expired; abort it and "
            "re-stage against the current table"
        )
    return base or {
        "version": 0,
        "partition_col": st["partition_col"],
        "partitions": {},
        **_time_rule_stamp(st["partition_col"]),
    }


def read_staged_table(
    spark: SparkSession,
    path: str,
    name: str,
    partition_values: Sequence | None = None,
    predicates: Sequence[tuple] | None = None,
) -> DataFrame:
    """The table AS IT WOULD BE after publishing the stage — base snapshot
    with the staged entries overlaid — for audit queries (row counts,
    constraint-style checks, DQ rules). Committed readers are unaffected;
    this is the only read that sees staged data."""
    st = read_staged(path, name)
    base = _staged_base(path, st)
    candidate = {
        **base,
        "partitions": {**base["partitions"], **st["new_entries"]},
        "schema": st["schema"],
    }
    return _read_from_manifest(
        spark, path, candidate, partition_values, None, predicates
    )


def publish_staged(
    spark: SparkSession,
    path: str,
    name: str,
    max_commit_retries: int = 3,
) -> dict:
    """Make a staged merge visible: ONE atomic manifest commit with the
    same disjoint-partition rebase as a direct merge — commits that landed
    during the audit window are rebased over (their entries + the staged
    ones), same-partition races raise ConcurrentWriteError (the staged
    rows were merged against a now-stale snapshot: abort and re-stage).
    The moved-keys invariant is re-checked against every partition that
    changed since staging, using the staged partitions' own key sets.
    Returns {"version", "partitions"}; the staged slot is removed after
    the commit (a crash between commit and removal leaves a stale slot
    whose re-publish fails on the name being gone — abort clears it)."""
    st = read_staged(path, name)
    base = _staged_base(path, st)
    keys = st["keys"]
    update_keys_df = None
    if st.get("check_moved_keys"):
        # the staged prefixes hold the MERGED partition rows — a superset
        # of the batch's update keys. Using the superset only strengthens
        # the re-check: any of these keys appearing under another
        # partition is a genuine spanning violation.
        prefixes = [
            os.path.join(path, e["prefix"])
            for e in st["new_entries"].values()
        ]
        update_keys_df = (
            spark.read.parquet(*prefixes).select(*keys).distinct()
        )
    committed = _commit_with_rebase(
        spark,
        path,
        base,
        st["new_entries"],
        schema_json=st["schema"],
        update_keys_df=update_keys_df,
        keys=keys,
        check_moved_keys=bool(st.get("check_moved_keys")),
        max_commit_retries=max_commit_retries,
        app_metadata=st.get("app_metadata"),
        op=f"publish:{name}",
    )
    os.unlink(_staged_path(path, name))
    return {
        "version": committed["version"],
        "partitions": sorted(st["new_entries"]),
    }


def abort_staged(path: str, name: str) -> None:
    """Drop a staged candidate. Its data prefixes were never referenced by
    any committed manifest — readers never saw them — and they become
    vacuumable garbage the moment the slot is removed."""
    p = _staged_path(path, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no stage {name!r} at {path}")
    os.unlink(p)


def _write_partition_prefixes(
    df: DataFrame,
    path: str,
    partition_col: str,
    touched: dict,
    snap: str,
    bloom_cols: Sequence[str] | None = None,
    drop_cols: Sequence[str] = (),
    sort: tuple[list[str], int] | None = None,
    stored: T.StructType | None = None,
) -> dict[str, dict]:
    """THE per-partition object-store write shared by the MERGE /
    INSERT / UPDATE / DELETE / replace verbs: for each touched
    {encoded: raw value} partition, write `df`'s rows for it to a fresh
    immutable `data/<enc>/snap-<snap>` prefix (invisible until a
    manifest references it), collect footer stats (+ optional bloom
    sidecars), and return the manifest entries.

    Default (fused) path: ONE Spark job writes every touched partition
    via a dynamic `partitionBy` over a synthetic partition id into a
    staging prefix, then the driver renames each id directory into its
    immutable snap prefix (same-filesystem metadata moves — the
    object-store analogue is a manifest pointer, so nothing here is
    rename-dependent for correctness: data is invisible until the
    manifest commit either way). Bloom sidecars for ALL touched
    partitions × columns build in ONE further aggregation job
    (`_write_bloom_sidecars_fused`). This keeps the per-commit job
    count CONSTANT in the number of touched partitions — the round-6
    measured bottleneck for streaming micro-batch sinks was the
    k write jobs + k×c bloom jobs per commit, pure scheduling constant
    at any scale. A crashed staging dir is unreferenced garbage under
    `data/` that `vacuum_manifest` reclaims by age like any other
    uncommitted prefix.

    `sort_on_write` layouts take the legacy one-job-per-partition path:
    each partition's slice is range-clustered into exactly `n_files`
    files, a per-partition exchange the fused single job cannot express
    without coupling partitions' ranges; `df` must then be persisted and
    materialized by the caller so the concurrent jobs read cached rows
    (the fused path needs no caching — the plan runs exactly once)."""
    if not touched:
        return {}
    # writer-side rename boundary: frames arrive LOGICAL-named from the
    # verbs; data files always carry the pinned PHYSICAL names (pass the
    # stored schema — a no-op for never-renamed tables). partition_col /
    # bloom_cols / sort cols never rename (guarded in
    # manifest_rename_column), so they are identical in both spaces.
    df = _to_physical(df, stored)
    with _timestamp_stats_conf(df.sparkSession):
        if sort is None:
            return _write_prefixes_fused(
                df, path, partition_col, touched, snap, bloom_cols,
                drop_cols,
            )
        return _write_prefixes_per_partition(
            df, path, partition_col, touched, snap, bloom_cols, drop_cols,
            sort,
        )


def _write_prefixes_per_partition(
    df: DataFrame,
    path: str,
    partition_col: str,
    touched: dict,
    snap: str,
    bloom_cols: Sequence[str] | None,
    drop_cols: Sequence[str],
    sort: tuple[list[str], int],
) -> dict[str, dict]:
    """Legacy one-job-per-partition fan-out (see
    `_write_partition_prefixes` — the sort_on_write path)."""

    def _write_partition(item) -> tuple[str, dict]:
        enc, val = item
        prefix = os.path.join(
            "data", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
        )
        part_df = df.filter(
            F.col(partition_col).isNull()
            if val is None
            else F.col(partition_col) == F.lit(val)
        )
        if drop_cols:
            # hidden partitioning: the derived partition value selects the
            # rows but is never stored in the data files
            part_df = part_df.drop(*drop_cols)
        if sort is not None:
            # layout sort_on_write: range-cluster THIS partition's slice
            # so its per-file bounds prune immediately (one extra range
            # exchange per touched partition, opted into via the layout)
            cols, n_files = sort
            part_df = part_df.repartitionByRange(
                n_files, *cols
            ).sortWithinPartitions(*cols)
        part_df.write.mode("errorifexists").parquet(os.path.join(path, prefix))
        entry = {
            "prefix": prefix,
            "value": enc,
            "files": _collect_file_stats(os.path.join(path, prefix)),
        }
        if bloom_cols:
            entry["blooms"] = _write_bloom_sidecars(
                part_df, path, prefix, bloom_cols,
                sum(f["rows"] for f in entry["files"]),
            )
        return enc, entry

    import concurrent.futures as _futures

    with _futures.ThreadPoolExecutor(
        max_workers=min(8, len(touched))
    ) as pool:
        return dict(pool.map(_write_partition, touched.items()))


_FUSED_WHEN_MAX = 64


def _with_partition_ids(
    df: DataFrame,
    partition_col: str,
    touched: dict,
    sizes: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """`df` restricted to the touched partitions, plus `__pw` (dense
    integer id over the SORTED touched encodings — exactly the
    per-partition filters of the legacy path) and, when `sizes` is
    given, `__m` (the owning partition's bloom bitmap size).

    Small fan-outs (≤ _FUSED_WHEN_MAX, the normal incremental batch) map
    through chained null-safe WHENs — a pure expression, no extra plan
    nodes. Larger fan-outs (whole-table migration, wide backfills) join
    against a broadcast id map instead: Catalyst's analysis of a
    thousands-deep CASE WHEN is quadratic and flirts with codegen
    limits, while a broadcast hash join over a k-row local relation is
    O(k) and the inner join drops non-touched rows for free."""
    order = sorted(touched.items())
    if len(order) <= _FUSED_WHEN_MAX:
        col = F.col(partition_col)
        pw = F.when(F.lit(False), F.lit(None))
        for i, (_enc, val) in enumerate(order):
            cond = col.isNull() if val is None else (col == F.lit(val))
            pw = pw.when(cond, F.lit(i))
        out = df.withColumn("__pw", pw).filter(F.col("__pw").isNotNull())
        if sizes is not None:
            m_expr = F.when(F.lit(False), F.lit(None))
            for i, (m, _k) in enumerate(sizes):
                m_expr = m_expr.when(F.col("__pw") == i, F.lit(m))
            out = out.withColumn("__m", m_expr)
        return out
    ptype = df.schema[partition_col].dataType
    fields = [
        T.StructField("__pwv", ptype),
        T.StructField("__pw", T.IntegerType(), False),
    ]
    rows: list[tuple] = [(val, i) for i, (_enc, val) in enumerate(order)]
    if sizes is not None:
        fields.append(T.StructField("__m", T.LongType(), False))
        rows = [
            (val, i, sizes[i][0]) for i, (_enc, val) in enumerate(order)
        ]
    mdf = df.sparkSession.createDataFrame(rows, T.StructType(fields))
    return df.join(
        F.broadcast(mdf),
        df[partition_col].eqNullSafe(mdf["__pwv"]),
        "inner",
    ).drop("__pwv")


def _write_prefixes_fused(
    df: DataFrame,
    path: str,
    partition_col: str,
    touched: dict,
    snap: str,
    bloom_cols: Sequence[str] | None,
    drop_cols: Sequence[str],
) -> dict[str, dict]:
    """One dynamic-partition write job for every touched partition (see
    `_write_partition_prefixes`), then driver renames + pooled footer
    stats + one fused bloom job."""
    import concurrent.futures as _futures
    import shutil as _shutil

    order = sorted(touched.items())
    staging = os.path.join(path, "data", f".stage-{snap}")
    out = _with_partition_ids(df, partition_col, touched)
    if drop_cols:
        # hidden partitioning: the derived partition value selects the
        # rows but is never stored in the data files
        out = out.drop(*drop_cols)
    out.write.mode("errorifexists").partitionBy("__pw").parquet(staging)

    def _promote(item) -> tuple[str, dict]:
        i, (enc, _val) = item
        prefix = os.path.join(
            "data", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
        )
        src = os.path.join(staging, f"__pw={i}")
        dst = os.path.join(path, prefix)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.isdir(src):
            os.rename(src, dst)
        else:
            # a touched partition every row of which vanished (callers
            # normally exclude these; defensively keep the empty-prefix
            # contract the legacy path had)
            os.makedirs(dst)
        return enc, {"prefix": prefix, "value": enc, "files": []}

    # staging→final promotion runs POOLED (round-10 verdict #7): each
    # rename touches a distinct destination, so they are independent —
    # on a local fs a rename is microseconds and the pool is noise, but
    # on an object store each is a COPY+DELETE round-trip, and a 10⁴–10⁵
    # partition backfill's serial loop would become the commit's
    # critical path. The atomic step stays the single manifest CAS
    # below; a crash mid-promotion leaves orphans vacuum reclaims (the
    # standard crash contract). tools/scale_probe.py commit_path
    # measures the phase split.
    entries_list: list[tuple[str, dict]]
    with _futures.ThreadPoolExecutor(
        max_workers=min(16, len(order))
    ) as pool:
        entries_list = list(pool.map(_promote, enumerate(order)))
    entries: dict[str, dict] = dict(entries_list)
    _shutil.rmtree(staging, ignore_errors=True)

    with _futures.ThreadPoolExecutor(
        max_workers=min(8, len(entries))
    ) as pool:
        stats = pool.map(
            lambda e: _collect_file_stats(os.path.join(path, e["prefix"])),
            entries.values(),
        )
        for entry, files in zip(entries.values(), stats):
            entry["files"] = files
    if bloom_cols:
        _write_bloom_sidecars_fused(
            df, path, partition_col, touched, entries, bloom_cols
        )
    return entries


def _write_bloom_sidecars_fused(
    df: DataFrame,
    path: str,
    partition_col: str,
    touched: dict,
    entries: dict[str, dict],
    bloom_cols: Sequence[str],
) -> None:
    """Bloom sidecars for every touched partition × column in ONE Spark
    aggregation: positions are computed per row with the OWNING
    partition's bitmap size m (per-partition row counts are already in
    the fresh entries' file stats; k is the fixed 7 of `_bloom_size`),
    tagged (partition id, column id), exploded, and bitmap-aggregated in
    a single grouped pass — replacing the legacy one-job-per-partition-
    per-column fan-out whose scheduling constant dominated commit time.
    The driver assembles each (partition, column) bitmap from its 4 KB
    bucket chunks exactly as `_build_partition_bloom` does."""
    order = sorted(touched.items())
    sizes: list[tuple[int, int]] = []  # (m, k) per partition id
    for enc, _val in order:
        n_rows = sum(f["rows"] for f in entries[enc]["files"])
        sizes.append(_bloom_size(n_rows))
    k_hashes = sizes[0][1]  # k is constant in _bloom_size
    # one shared base: __pw (partition id) + __m (that partition's m)
    base = _with_partition_ids(df, partition_col, touched, sizes)
    frames = []
    for ci, bc in enumerate(bloom_cols):
        positions = F.array(
            *[
                F.pmod(F.xxhash64(F.col(bc), F.lit(j)), F.col("__m"))
                for j in range(k_hashes)
            ]
        )
        frames.append(
            base.filter(F.col(bc).isNotNull())
            .select(
                "__pw",
                F.lit(ci).alias("__bc"),
                F.explode(positions).alias("p"),
            )
            .select("__pw", "__bc", (F.col("p") + 1).alias("v"))
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    rows = (
        u.groupBy(
            "__pw", "__bc", F.bitmap_bucket_number("v").alias("b")
        )
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("v")).alias("bits"))
        .collect()
    )
    bitmaps = {
        (i, ci): np.zeros(sizes[i][0] // 8, dtype=np.uint8)
        for i in range(len(order))
        for ci in range(len(bloom_cols))
    }
    bucket_bytes = _BLOOM_BUCKET_BITS // 8
    for r in rows:
        bmp = bitmaps[(r["__pw"], r["__bc"])]
        off = (r["b"] - 1) * bucket_bytes
        chunk = np.frombuffer(r["bits"], dtype=np.uint8)
        take = min(len(chunk), len(bmp) - off)
        np.bitwise_or(bmp[off : off + take], chunk[:take],
                      out=bmp[off : off + take])
    for i, (enc, _val) in enumerate(order):
        blooms: dict[str, dict] = {}
        for ci, bc in enumerate(bloom_cols):
            m, k = sizes[i]
            with open(
                os.path.join(path, entries[enc]["prefix"], _bloom_name(bc)),
                "wb",
            ) as fh:
                fh.write(bitmaps[(i, ci)].tobytes())
            blooms[bc] = {"m": m, "k": k}
        entries[enc]["blooms"] = blooms


def manifest_constraints(path: str, version: int | str | None = None) -> dict:
    """{constraint name: SQL CHECK expression} in force on the table."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    return dict(m.get("constraints", {}))


def _enforce_constraints(
    df: DataFrame, constraints: dict, context: str
) -> None:
    """Raise ConstraintViolationError if any row of `df` fails a CHECK.

    SQL three-valued semantics: a row violates only when the expression
    is FALSE — NULL/UNKNOWN passes (`CHECK (v > 0)` admits NULL v; say
    `v IS NOT NULL AND v > 0` to also reject NULLs). ONE filter + limit
    job regardless of how many constraints the table carries (all
    expressions evaluate in a single projection, OR-ed), short-
    circuiting at the first bad row."""
    if not constraints:
        return
    import functools
    import operator

    items = list(constraints.items())
    flags = [
        F.expr(expr).eqNullSafe(F.lit(False)).alias(f"__viol_{i}")
        for i, (_, expr) in enumerate(items)
    ]
    bad = (
        df.select(*df.columns, *flags)
        .filter(
            functools.reduce(
                operator.or_, [F.col(f"__viol_{i}") for i in range(len(items))]
            )
        )
        .limit(1)
        .collect()
    )
    if bad:
        row = bad[0].asDict()
        i = next(i for i in range(len(items)) if row[f"__viol_{i}"])
        name, expr = items[i]
        values = {k: v for k, v in row.items() if not k.startswith("__viol_")}
        raise ConstraintViolationError(
            f"{context}: constraint {name!r} (CHECK {expr}) is violated "
            f"by row {values} — nothing was committed"
        )


def manifest_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> None:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the CURRENT
    table data first (a constraint that existing rows violate would make
    the table unwritable), then commits the constraint into the manifest —
    from then on EVERY writer's MERGE / replace-partitions / UPDATE
    validates its written rows against it before committing, because the
    constraint travels in the table metadata, not in writer code. The
    expression is a Spark SQL boolean over the row's columns; SQL CHECK
    semantics (NULL passes — see `_enforce_constraints`)."""
    # validate-then-commit must not race a data write: a competitor's rows
    # committed between our scan and our commit were never validated, so
    # the commit is pinned to the scanned version (max_commit_retries=0)
    # and any race re-reads AND re-validates before retrying
    for attempt in range(4):
        m = read_manifest(path)
        if m is None:
            raise FileNotFoundError(f"no manifest at {path}")
        existing = m.get("constraints", {})
        if name in existing:
            raise ValueError(
                f"constraint {name!r} already exists at {path} "
                f"(CHECK {existing[name]}) — drop it first to change it"
            )
        try:
            current = read_manifest_table(spark, path, version=m["version"])
            _enforce_constraints(
                current, {name: expr}, f"add constraint on {path}"
            )
        except ConstraintViolationError:
            raise
        except Exception as exc:  # unparseable / wrong-column expression
            raise ValueError(
                f"constraint expression {expr!r} failed to evaluate against "
                f"the table schema: {exc}"
            ) from exc
        try:
            _commit_with_rebase(
                spark, path, m, {},
                constraints_json={**existing, name: expr},
                max_commit_retries=0,
                op="add_constraint",
            )
            return
        except ConcurrentWriteError:
            if attempt == 3:
                raise


def manifest_layout(path: str, version: int | str | None = None) -> dict:
    """The table's declared layout policy: {"cluster_by": [...],
    "bloom_cols": [...]} (either key may be absent). Empty dict when
    never set."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    return dict(m.get("layout", {}))


def manifest_set_layout(
    spark: SparkSession,
    path: str,
    cluster_by: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    sort_on_write: bool = False,
    sort_files: int = 1,
) -> None:
    """Declare the table's layout policy IN the table metadata (the
    Iceberg sort-order / Delta table-property shape), so every writer
    applies it uniformly instead of each call site remembering flags:

    - `bloom_cols`: every MERGE / replace / compaction builds bloom
      sidecars for these columns on the partitions it writes (per-call
      `bloom_cols=` still overrides for one write);
    - `cluster_by`: `compact_manifest` defaults to range/z-order
      clustering on these columns, so a plain OPTIMIZE call restores the
      declared layout (merges stay cheap by design — clustering is the
      compactor's job, not the committer's).

    `sort_on_write=True` additionally makes every MERGE / replace /
    conditional-merge write its touched partitions range-clustered on
    `cluster_by` (into `sort_files` files per partition — an incremental
    batch's per-partition slice is batch-sized, so 1 is usually right):
    the Delta optimized-write shape, paying one extra range exchange per
    touched partition at commit time so per-file min/max prune well
    IMMEDIATELY instead of only after the next compaction. Leave it off
    for latency-critical ingest and let compaction restore layout.

    Replaces the whole layout object with exactly what's passed (pass
    empty lists to clear). Columns must exist in the stored schema.
    Unlike constraints, a layout change racing a data write needs no
    conflict: a writer that committed under the old layout only costs
    layout quality (repaired by the next compaction), never correctness,
    so the commit rebases normally."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    stored = T.StructType.fromJson(m["schema"])
    layout: dict = {}
    for key, cols in (("cluster_by", cluster_by), ("bloom_cols", bloom_cols)):
        if cols is None:
            continue
        bad = [c for c in cols if c not in stored.names]
        if bad:
            raise ValueError(f"{key} columns {bad} not in the table schema")
        renamed = [
            c for c in cols
            if c in stored.names and _phys_name(stored[c]) != c
        ]
        if renamed:
            # layout machinery resolves these names physically (sort
            # exchanges, bloom builds/probes) — a renamed column's two
            # names would silently diverge between build and probe
            raise ValueError(
                f"{key} columns {renamed} were renamed (their data files "
                "carry a different physical name) — layout policies over "
                "renamed columns are not supported"
            )
        layout[key] = list(cols)
    if sort_on_write:
        if not layout.get("cluster_by"):
            raise ValueError("sort_on_write needs cluster_by columns")
        if sort_files < 1:
            raise ValueError("sort_files must be >= 1")
        layout["sort_on_write"] = True
        layout["sort_files"] = int(sort_files)
    _commit_with_rebase(
        spark, path, m, {}, layout_json=layout, op="set_layout"
    )


def _layout_sort(manifest: dict) -> tuple[list[str], int] | None:
    """(cluster_by, sort_files) when the table layout asks writers to
    range-cluster on write; None otherwise."""
    lo = manifest.get("layout") or {}
    if lo.get("sort_on_write") and lo.get("cluster_by"):
        return list(lo["cluster_by"]), int(lo.get("sort_files", 1))
    return None


def manifest_add_column(
    spark: SparkSession, path: str, name: str, dtype: str
) -> None:
    """ALTER TABLE ADD COLUMN — metadata-only (op="add_column"): the
    stored schema gains a nullable column; no data file is touched, and
    every prefix written before the change reads the column back as NULL
    (the schema-evolution contract the readers already honor). `dtype`
    is a Spark SQL type string ("bigint", "array<double>", …)."""
    dt = spark.sql(f"select cast(null as {dtype})").schema[0].dataType
    for attempt in range(4):
        m = read_manifest(path)
        if m is None:
            raise FileNotFoundError(f"no manifest at {path}")
        stored = T.StructType.fromJson(m["schema"])
        if name in stored.names:
            raise ValueError(f"column {name!r} already exists at {path}")
        if name in {_phys_name(f) for f in stored.fields}:
            raise ValueError(
                f"name {name!r} is the pinned physical name of a renamed "
                "column — adding it would collide with that column's "
                "on-file name; pick another name"
            )
        # name-based reads make re-adding a DROPPED name hazardous: old
        # prefixes still physically carry the old type, and an
        # incompatible re-add would crash every read of them ("Parquet
        # column cannot be converted"). The drop ledger remembers; only
        # the identical type or a reader-safe widening may reuse a name.
        dropped = dict(m.get("dropped", {}))
        if name in dropped:
            old = dropped[name]
            new_s = dt.simpleString()
            if old != new_s and (old, new_s) not in _SAFE_WIDENINGS:
                raise ValueError(
                    f"column {name!r} was previously dropped as type "
                    f"{old!r}; re-adding it as {new_s!r} would make old "
                    "prefixes unreadable — reuse the type (or a safe "
                    "widening), or pick a new name"
                )
            del dropped[name]
        new = T.StructType(list(stored.fields) + [T.StructField(name, dt, True)])
        try:
            # pinned like add_constraint: a rebase would re-union schemas
            # and could interleave badly with concurrent DDL — re-read
            # and recompute instead
            cand_extra = {"dropped": dropped}
            committed = _commit_with_rebase(
                spark, path, {**m, **cand_extra}, {},
                schema_json=new.jsonValue(),
                max_commit_retries=0, op="add_column",
            )
            assert committed["version"] == m["version"] + 1
            return
        except ConcurrentWriteError:
            if attempt == 3:
                raise


def manifest_drop_column(spark: SparkSession, path: str, name: str) -> None:
    """ALTER TABLE DROP COLUMN — metadata-only (op="drop_column"): the
    stored schema loses the column; data files are untouched (readers
    request the narrower schema and parquet simply never materializes
    the dropped column's pages — the Iceberg drop-without-rewrite
    shape). Old versions still read it (time travel is schema-versioned
    too).

    Refused while anything in the table's metadata still depends on the
    column — the partition source, a CHECK constraint mentioning it, or
    the layout policy's cluster_by/bloom_cols — because silently
    breaking those would surface as corrupt reads or unplannable writes
    far from the DDL that caused them. Drop/update those first."""
    for attempt in range(4):
        m = read_manifest(path)
        if m is None:
            raise FileNotFoundError(f"no manifest at {path}")
        stored = T.StructType.fromJson(m["schema"])
        if name not in stored.names:
            raise ValueError(f"no column {name!r} at {path}")
        pt = _transform_of(m)
        if pt is not None and name == pt.source:
            raise ValueError(
                f"column {name!r} is the table's partition source "
                f"({m['partition_col']!r}) — repartition_manifest_table "
                "first"
            )
        layout = m.get("layout") or {}
        if name in set(layout.get("cluster_by") or ()) | set(
            layout.get("bloom_cols") or ()
        ):
            raise ValueError(
                f"column {name!r} is referenced by the table layout "
                "policy — manifest_set_layout without it first"
            )
        import re as _re

        pat = _re.compile(rf"\b{_re.escape(name)}\b")
        hit = [
            cname for cname, expr in (m.get("constraints") or {}).items()
            if pat.search(expr)
        ]
        if hit:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraints "
                f"{hit} — manifest_drop_constraint them first"
            )
        if len(stored.fields) == 1:
            raise ValueError("cannot drop the table's only column")
        new = T.StructType([f for f in stored.fields if f.name != name])
        # ledger the dropped PHYSICAL name + type so a future re-add
        # can't silently pick an incompatible type (see add_column) —
        # data files carry the physical name, so that is the name whose
        # reuse can crash reads of old prefixes
        dropped = {
            **m.get("dropped", {}),
            _phys_name(stored[name]): stored[name].dataType.simpleString(),
        }
        try:
            _commit_with_rebase(
                spark, path, {**m, "dropped": dropped}, {},
                schema_json=new.jsonValue(),
                max_commit_retries=0, op="drop_column",
            )
            return
        except ConcurrentWriteError:
            if attempt == 3:
                raise


def manifest_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> None:
    """ALTER TABLE RENAME COLUMN — metadata-only (op="rename_column"):
    the stored schema's field changes its LOGICAL name; no data file is
    touched, because the field's metadata pins the PHYSICAL name it was
    first written under, and that physical name never changes again
    (chained renames keep pointing at the original). Scans request
    physical names and rename at exit; writers rename logical→physical
    at the file boundary; per-file stats and bloom sidecars — keyed by
    physical name — stay valid across any number of renames. Old
    snapshots read under their own schema (time travel is
    schema-versioned), so a pre-rename version still shows the old name.

    Refused while table metadata depends on the old name — the partition
    source, a CHECK constraint mentioning it, or the layout policy's
    cluster_by/bloom_cols — the same blast-radius rule as DROP COLUMN
    (those systems resolve names physically and a silent rename would
    surface as corrupt pruning far from the DDL). Also refused when
    `new` collides with any current logical OR physical name: two
    logical fields must never resolve to one physical column."""
    import re as _re

    if not new or not _re.match(r"^[A-Za-z_]\w*$", new):
        raise ValueError(f"invalid column name {new!r}")
    for attempt in range(4):
        m = read_manifest(path)
        if m is None:
            raise FileNotFoundError(f"no manifest at {path}")
        stored = T.StructType.fromJson(m["schema"])
        if old not in stored.names:
            raise ValueError(f"no column {old!r} at {path}")
        if new in stored.names:
            raise ValueError(f"column {new!r} already exists at {path}")
        phys_taken = {_phys_name(f) for f in stored.fields}
        if new in phys_taken:
            raise ValueError(
                f"name {new!r} is the pinned physical name of an "
                "existing (renamed) column — reusing it would alias two "
                "logical columns onto one physical column"
            )
        pt = _transform_of(m)
        if pt is not None and old == pt.source:
            raise ValueError(
                f"column {old!r} is the table's partition source "
                f"({m['partition_col']!r}) — repartition_manifest_table "
                "first"
            )
        layout = m.get("layout") or {}
        if old in set(layout.get("cluster_by") or ()) | set(
            layout.get("bloom_cols") or ()
        ):
            raise ValueError(
                f"column {old!r} is referenced by the table layout "
                "policy — manifest_set_layout without it first"
            )
        pat = _re.compile(rf"\b{_re.escape(old)}\b")
        hit = [
            cname for cname, expr in (m.get("constraints") or {}).items()
            if pat.search(expr)
        ]
        if hit:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraints "
                f"{hit} — manifest_drop_constraint them first"
            )
        fields = []
        for f in stored.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md["physical"] = _phys_name(f)  # chase chained renames
                fields.append(
                    T.StructField(new, f.dataType, f.nullable, md)
                )
            else:
                fields.append(f)
        try:
            _commit_with_rebase(
                spark, path, m, {},
                schema_json=T.StructType(fields).jsonValue(),
                max_commit_retries=0, op="rename_column",
            )
            return
        except ConcurrentWriteError:
            if attempt == 3:
                raise


def manifest_alter_column_type(
    spark: SparkSession, path: str, name: str, dtype: str
) -> None:
    """ALTER TABLE ALTER COLUMN TYPE — metadata-only (op="alter_type"):
    widen a stored column's type through the SAME reader-safe rules a
    schema-evolving merge enforces (`_SAFE_WIDENINGS`): no data file is
    touched, old prefixes keep their narrower physical type and the
    vectorized reader widens them on scan. Anything outside the set —
    narrowing, string↔number, nested changes — is refused outright
    (untouched prefixes would become unreadable). The same-type call is
    a no-op. Old snapshots still read under their own schema (time
    travel is schema-versioned), and SHOW CREATE TABLE reflects the new
    type immediately.

    Refused while the column drives hash/derivation machinery whose
    output is TYPE-SENSITIVE — the partition transform source
    (xxhash64/bucket and time-period derivation would re-derive
    different keys for the same values, silently mis-pruning) or a
    layout bloom column (sidecar bits were hashed at the old type, so
    probes at the new type would wrongly exclude partitions). Re-layout
    first; value-preserving consumers (CHECK constraints, cluster_by
    stats pruning) are unaffected and stay."""
    dt = spark.sql(f"select cast(null as {dtype})").schema[0].dataType
    for attempt in range(4):
        m = read_manifest(path)
        if m is None:
            raise FileNotFoundError(f"no manifest at {path}")
        stored = T.StructType.fromJson(m["schema"])
        if name not in stored.names:
            raise ValueError(f"no column {name!r} at {path}")
        old_t = stored[name].dataType
        if old_t == dt:
            return  # no-op, nothing to commit
        pair = (old_t.simpleString(), dt.simpleString())
        if pair not in _SAFE_WIDENINGS:
            raise ValueError(
                f"ALTER COLUMN {name} TYPE {pair[0]} -> {pair[1]} is not "
                "an in-place-readable widening — old prefixes would "
                "become unreadable under the new stored schema. Rewrite "
                "the table through a full-table merge with the new "
                f"schema instead (safe widenings: {sorted(_SAFE_WIDENINGS)})"
            )
        pt = _transform_of(m)
        if pt is not None and name == pt.source:
            raise ValueError(
                f"column {name!r} is the table's partition source "
                f"({m['partition_col']!r}) — the transform derives keys "
                "from the value's TYPE (xxhash64 buckets int and bigint "
                "differently), so widening it would silently mis-prune; "
                "repartition_manifest_table first"
            )
        layout = m.get("layout") or {}
        has_sidecar = any(
            name in (e.get("blooms") or {})
            for e in m["partitions"].values()
        )
        if name in set(layout.get("bloom_cols") or ()) or has_sidecar:
            raise ValueError(
                f"column {name!r} has bloom sidecars built at type "
                f"{pair[0]} — probes at {pair[1]} hash differently and "
                "would wrongly exclude partitions; drop the column from "
                "the layout policy and compact (rebuilding sidecars) "
                "before widening"
            )
        fields = [
            T.StructField(name, dt, f.nullable, f.metadata)
            if f.name == name else f
            for f in stored.fields
        ]
        try:
            _commit_with_rebase(
                spark, path, m, {},
                schema_json=T.StructType(fields).jsonValue(),
                max_commit_retries=0, op="alter_type",
            )
            return
        except ConcurrentWriteError:
            if attempt == 3:
                raise


def clone_manifest_table(
    src: str, dst: str, version: int | str | None = None
) -> dict:
    """Zero-copy clone (Delta SHALLOW CLONE / Iceberg snapshot-export
    shape): hard-link every file the chosen `version` (or tag, or
    latest) references — data prefixes, position-delete files, bloom
    sidecars — into `dst`, and commit a fresh version-1 manifest there
    carrying the schema, partition spec, constraints, layout, and app
    metadata. No bytes are copied on a POSIX filesystem (cross-device
    falls back to copy; on an object store this would be a server-side
    copy per file — still metadata-scaled in manifest terms).

    The clone is fully independent: immutable prefixes are shared via
    links, so either side can merge, compact, or vacuum without
    affecting the other (an unlink only drops one name on the inode).
    Tags and history do NOT carry over — the clone starts at version 1
    with op "clone:<src>@<v>"; use it for dev sandboxes, reproducible
    experiment pins that must also be WRITABLE (read-only pins are what
    `manifest_tag` is for), or table migration."""
    m = read_manifest(src, version)
    if m is None:
        raise FileNotFoundError(f"no manifest at {src}")
    if manifest_versions(dst):
        raise ValueError(f"destination {dst} already has a manifest")

    def _link_prefix(prefix: str) -> int:
        s = os.path.join(src, prefix)
        d = os.path.join(dst, prefix)
        os.makedirs(d, exist_ok=True)
        n = 0
        for f in os.listdir(s):
            # data files and bloom sidecars; markers/CRCs regenerate
            if not (f.endswith(".parquet") or f.startswith("_bloom_")):
                continue
            try:
                os.link(os.path.join(s, f), os.path.join(d, f))
            except OSError:  # pragma: no cover — cross-device fallback
                shutil.copy2(os.path.join(s, f), os.path.join(d, f))
            n += 1
        return n

    files = 0
    for e in m["partitions"].values():
        files += _link_prefix(e["prefix"])
        for dd in e.get("deletes") or ():
            files += _link_prefix(dd["prefix"])
    clone = {**m, "version": 1, "op": f"clone:{src}@{m['version']}"}
    _commit_manifest(dst, clone)
    return {
        "version": 1,
        "from_version": m["version"],
        "partitions": len(m["partitions"]),
        "files_linked": files,
    }


def repartition_manifest_table(
    spark: SparkSession,
    path: str,
    partition_spec: str,
    bloom_cols: Sequence[str] | None = None,
) -> dict:
    """Change the table's partition SPEC — identity column or transform
    (`days(ts)`, `bucket(N, col)`, …) — by rewriting the whole table
    under the new layout in ONE atomic commit (op="repartition").

    This is the spec-evolution verb: the honest full-rewrite form (cost
    ∝ table size, run it like a backfill), not Iceberg's lazy per-spec
    manifests — in exchange every committed version has exactly one
    spec, so reads, pruning, and the partition-scoped DML invariants
    never juggle mixed layouts. Old versions retain the old layout
    (time travel unaffected); the change feed between the two versions
    is EMPTY (same rows, different layout — `manifest_row_changes`
    diffs by key and finds nothing), so CDC consumers glide over a
    repartition without reprocessing.

    Concurrency: a full-table op cannot rebase — any commit landing
    mid-rewrite raises ConcurrentWriteError, and every OTHER verb's
    rebase detects a landed repartition (spec mismatch) and refuses
    likewise, so old-spec data can never splice into the new layout.

    Bloom sidecars: `bloom_cols`, else the table layout's, else the
    union of the old entries' — coverage survives the relayout."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    pt = parse_partition_spec(partition_spec)
    if pt.spec == m["partition_col"]:
        raise ValueError(
            f"table at {path} is already partitioned by {pt.spec!r}"
        )
    stored = T.StructType.fromJson(m["schema"])
    if pt.source not in stored.names:
        raise ValueError(
            f"partition source column {pt.source!r} not in the table schema"
        )
    if _phys_name(stored[pt.source]) != pt.source:
        raise ValueError(
            f"partition source column {pt.source!r} was renamed (its data "
            "files carry a different physical name) — partitioning by a "
            "renamed column is not supported; rename it back first"
        )
    hidden = pt.kind != "identity"
    pcol = partition_column_name(pt)
    if not bloom_cols:
        blooms = set((m.get("layout") or {}).get("bloom_cols") or ())
        if not blooms:
            for e in m["partitions"].values():
                blooms |= set(e.get("blooms") or ())
        bloom_cols = sorted(c for c in blooms if c in stored.names)
    df = apply_transform(pt, _read_from_manifest(spark, path, m)).persist()
    try:
        rows = df.count()
        parts = [r[0] for r in df.select(pcol).distinct().collect()]
        touched = {_enc_part(p): p for p in parts}
        new_entries = _write_partition_prefixes(
            df, path, pcol, touched, uuid.uuid4().hex[:12],
            bloom_cols=list(bloom_cols) or None,
            drop_cols=(DERIVED_COL,) if hidden else (),
            stored=stored,
        )
        candidate = {
            **m,
            "version": m["version"] + 1,
            "partition_col": pt.spec,
            "partitions": new_entries,
            "op": "repartition",
        }
        _commit_manifest(path, candidate)
    finally:
        df.unpersist()
    return {
        "partitions_before": len(m["partitions"]),
        "partitions_after": len(new_entries),
        "rows": rows,
    }


def manifest_drop_constraint(spark: SparkSession, path: str, name: str) -> None:
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    existing = m.get("constraints", {})
    if name not in existing:
        raise FileNotFoundError(f"no constraint {name!r} at {path}")
    remaining = {k: v for k, v in existing.items() if k != name}
    _commit_with_rebase(
        spark, path, m, {}, constraints_json=remaining, op="drop_constraint"
    )


def create_manifest_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    partition_col: str,
    app_metadata: dict | None = None,
) -> None:
    """CREATE TABLE: commit an EMPTY v1 manifest carrying the stored
    schema and partition spec, so the table exists (readable as zero
    rows, DDL-able, catalog-registerable) before any data lands — the
    `CREATE TABLE (cols...)` / empty-CTAS shape. The partition source
    column must exist in the schema; time-transform tables get the
    time_key_rule stamp like every other creation path. Refuses if a
    manifest already exists (use the write verbs to add data)."""
    if read_manifest(path) is not None:
        raise ValueError(f"a manifest already exists at {path}")
    pt = parse_partition_spec(partition_col)
    if pt.source not in schema.names:
        raise ValueError(
            f"partition source column {pt.source!r} not in the schema"
        )
    base = {
        "version": 0,
        "partition_col": pt.spec,
        "partitions": {},
        **_time_rule_stamp(pt.spec),
    }
    _commit_with_rebase(
        spark, path, base, {}, schema_json=schema.jsonValue(),
        app_metadata=app_metadata, op="create",
    )


def replace_manifest_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str,
    drop_partitions_encoded: Sequence[str] = (),
    schema_evolution: bool = False,
    max_commit_retries: int = 3,
    app_metadata: dict | None = None,
) -> dict:
    """INSERT OVERWRITE by partition (Iceberg/Delta `replaceWhere`): each
    partition value present in `df` is REPLACED wholesale with `df`'s rows
    for it; `drop_partitions_encoded` names additional manifest keys to
    REMOVE outright (a partition whose recomputed content is empty — the
    caller knows, `df` by construction can't say); every other partition
    is untouched. One atomic manifest flip with the same disjoint-
    partition rebase as the MERGE, snapshot isolation, time travel, and
    CDC visibility. This is the write shape for slice recomputation —
    backfills, partition-aligned materialized-view refresh — where MERGE
    semantics (update-or-insert, never remove) can't express "this
    partition now contains exactly these rows".

    `app_metadata` commits watermark key/values atomically with the data
    (`manifest_app_metadata` reads them back) — a maintainer that records
    "source version consumed" here gets exactly-once refresh for free: a
    crash before the flip leaves both data and watermark at the previous
    state, so the rerun repeats the same deterministic slice recompute.

    Schema: the batch must carry every stored column (replace cannot
    backfill a column it doesn't have — a narrower schema would drop the
    column from EVERY partition, untouched ones included); new columns
    and reader-safe type widenings need `schema_evolution=True`, same as
    the MERGE.

    Returns {"partitions_replaced", "partitions_dropped", "rows"}."""
    pt = parse_partition_spec(partition_col)
    partition_col = pt.spec
    pcol = partition_column_name(pt)
    hidden = pt.kind != "identity"
    if pt.source not in df.columns:
        raise ValueError(
            f"partition source column {pt.source!r} not in the batch's "
            "columns"
        )
    manifest = read_manifest(path) or {
        "version": 0,
        "partition_col": partition_col,
        "partitions": {},
        **_time_rule_stamp(partition_col),
    }
    if manifest["partition_col"] != partition_col:
        raise ValueError(
            f"table at {path} is manifest-partitioned by "
            f"{manifest['partition_col']!r}, not {partition_col!r}"
        )
    if manifest.get("schema") is not None:
        stored_schema = T.StructType.fromJson(manifest["schema"])
        # the committed schema is authoritative for EVERY prefix, so a
        # batch missing a stored column would silently drop that column
        # table-wide (untouched partitions included) — replace writes
        # partitions wholesale and cannot backfill, so it must refuse
        missing = [c for c in stored_schema.names if c not in df.columns]
        if missing:
            raise ValueError(
                f"replace batch is missing table columns {missing} — "
                "committing its schema would drop them from every "
                "partition; provide the columns (NULL-filled if needed)"
            )
        added = [c for c in df.columns if c not in stored_schema.names]
        if added and not schema_evolution:
            raise ValueError(
                f"replace batch adds new columns {added} — pass "
                "schema_evolution=True to widen the table (old prefixes "
                "read them as NULL)"
            )
        _check_type_evolution(stored_schema, df.schema, schema_evolution)
    df = apply_transform(pt, df).persist()
    public_schema = df.drop(DERIVED_COL).schema if hidden else df.schema
    try:
        parts = [r[0] for r in df.select(pcol).distinct().collect()]
        touched = {_enc_part(p): p for p in parts}
        overlap = set(touched) & set(drop_partitions_encoded)
        if overlap:
            raise ValueError(
                f"partitions {sorted(overlap)} are both fed by df and "
                "listed in drop_partitions_encoded — a partition is "
                "replaced or dropped, never both"
            )
        drop_keys = [
            k for k in drop_partitions_encoded if k in manifest["partitions"]
        ]
        if not touched and not drop_keys:
            return {"partitions_replaced": 0, "partitions_dropped": 0, "rows": 0}
        rows = df.count()  # also materializes the cache before the fan-out
        _enforce_constraints(
            df, manifest.get("constraints", {}),
            f"replace partitions of {path}",
        )
        snap = uuid.uuid4().hex[:12]
        # bloom coverage survives the replace: the layout policy's
        # columns plus whatever the replaced entries already indexed
        lb = set((manifest.get("layout") or {}).get("bloom_cols") or ())
        for k in touched:
            e = manifest["partitions"].get(k)
            if e and e.get("blooms"):
                lb |= set(e["blooms"])
        lb &= set(df.columns)
        new_entries = _write_partition_prefixes(
            df, path, pcol, touched, snap,
            bloom_cols=sorted(lb) or None,
            drop_cols=(DERIVED_COL,) if hidden else (),
            sort=_layout_sort(manifest), stored=_stored_of(manifest),
        )
        _commit_with_rebase(
            spark,
            path,
            manifest,
            new_entries,
            schema_json=public_schema.jsonValue(),
            max_commit_retries=max_commit_retries,
            drop_keys=drop_keys,
            app_metadata=app_metadata,
            op="replace",
        )
    finally:
        df.unpersist()
    return {
        "partitions_replaced": len(new_entries),
        "partitions_dropped": len(drop_keys),
        "rows": rows,
    }


def _entry_within_utc_period(
    kind: str, source_col: str, key: str, entry: dict
) -> bool:
    """True when the entry's recorded per-file bounds PROVE every row's
    UTC-derived key equals the stored key: all files carry bounds for the
    source column and those bounds (UTC instants, `_stat_norm` text) fall
    inside [period_start, next_period_start) of the stored key. ISO text
    compares lexicographically ('2024-03-05T23:59:59' sorts between
    '2024-03-05' and '2024-03-06'). Bounds stay sound on MoR
    delete-bearing entries (deleted rows can only shrink the true range).
    Missing stats → False (conservatively a migration suspect)."""
    from .partitioning import _shift_period

    files = entry.get("files")
    if not files:
        return False
    lo, hi = key, _shift_period(kind, key, 1)
    for fm in files:
        st = (fm.get("stats") or {}).get(source_col) or {}
        mn, mx = st.get("min"), st.get("max")
        if mn is None or mx is None:
            return False
        if not (lo <= mn and mx < hi):
            return False
    return True


def migrate_time_partition_keys(
    spark: SparkSession, path: str, max_commit_retries: int = 3
) -> dict:
    """Migrate a days()/months()/years() table written BEFORE the UTC
    key rule (round 6) onto the UTC key vocabulary and stamp the
    manifest (`time_key_rule: "utc"`).

    Pre-UTC writers rendered the derived key in their session zone, so a
    row within one zone-offset of a period boundary may sit under a
    different key than UTC derivation assigns. Reads were always exact
    (the ±1-period pruning slack absorbs the skew), but an upsert of
    such a row now derives the UTC key and is rejected by the moved-keys
    check, and new rows for the same logical period land in a parallel
    partition. This verb closes that by rewriting ONLY the partitions
    that can hold boundary-skewed rows:

    - a partition whose recorded file bounds prove every row inside its
      stored key's UTC window is untouched (the common case — bounds are
      UTC instants, so the proof is exact, no slack needed);
    - every other partition's live rows are re-keyed in UTC and
      rewritten, together with any partition that RECEIVES moved rows;
      pending MoR deletes fold; emptied keys drop — ONE atomic commit
      with the stamp, same crash contract as every other verb.

    A table already stamped "utc" is a no-op. DATE-source tables derive
    zone-free — they are stamped without any data movement (bounds
    proofs pass trivially or rows re-key to identical values).
    Returns {"migrated_partitions", "received_partitions",
    "dropped_partitions", "already_utc"}."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    pt = parse_partition_spec(m["partition_col"])
    if pt.kind not in ("days", "months", "years"):
        raise ValueError(
            f"table at {path} is partitioned by {m['partition_col']!r} — "
            "only days()/months()/years() tables carry a time key rule"
        )
    if m.get("time_key_rule") == "utc":
        return {
            "migrated_partitions": 0, "received_partitions": 0,
            "dropped_partitions": 0, "already_utc": True,
        }
    stamp = {"time_key_rule": "utc"}
    suspects = [
        enc
        for enc, e in m["partitions"].items()
        if not _entry_within_utc_period(pt.kind, pt.source, e["value"], e)
    ]
    if not suspects:
        # every key provably already UTC — metadata-only stamp commit
        _commit_with_rebase(
            spark, path, m, {}, max_commit_retries=max_commit_retries,
            extra_fields=stamp, op="migrate_time_keys",
        )
        return {
            "migrated_partitions": 0, "received_partitions": 0,
            "dropped_partitions": 0, "already_utc": False,
        }
    stored = (
        T.StructType.fromJson(m["schema"]) if m.get("schema") else None
    )
    suspect_rows = apply_transform(
        pt,
        read_manifest_table(
            spark, path, partition_values=suspects,
            partition_values_encoded=True, schema=stored,
            version=m["version"],
        ),
    )
    new_keys = {
        r[0] for r in suspect_rows.select(DERIVED_COL).distinct().collect()
    }
    receivers = sorted(
        enc
        for k in new_keys
        if (enc := _enc_part(k)) in m["partitions"] and enc not in suspects
    )
    scope = suspects + receivers
    keyed = apply_transform(
        pt,
        read_manifest_table(
            spark, path, partition_values=scope,
            partition_values_encoded=True, schema=stored,
            version=m["version"],
        ),
    ).persist()
    try:
        all_keys = {
            r[0] for r in keyed.select(DERIVED_COL).distinct().collect()
        }
        touched = {_enc_part(k): k for k in all_keys}
        drop_keys = [enc for enc in scope if enc not in touched]
        blooms = set((m.get("layout") or {}).get("bloom_cols") or ())
        for enc in scope:
            e = m["partitions"].get(enc)
            if e and e.get("blooms"):
                blooms |= set(e["blooms"])
        new_entries = _write_partition_prefixes(
            keyed, path, DERIVED_COL, touched, uuid.uuid4().hex[:12],
            bloom_cols=sorted(blooms) or None, drop_cols=(DERIVED_COL,),
            sort=_layout_sort(m), stored=_stored_of(m),
        )
        _commit_with_rebase(
            spark, path, m, new_entries,
            max_commit_retries=max_commit_retries, drop_keys=drop_keys,
            extra_fields=stamp, op="migrate_time_keys",
        )
    finally:
        keyed.unpersist()
    return {
        "migrated_partitions": len(suspects),
        "received_partitions": len(receivers),
        "dropped_partitions": len(drop_keys),
        "already_utc": False,
    }


def compact_manifest(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_values: Sequence | None = None,
    cluster_by: Sequence[str] | None = None,
    zorder_bits: int = 16,
    partition_values_encoded: bool = False,
) -> dict:
    """Small-file compaction (and optional re-clustering) for
    manifest-committed tables.

    Each MERGE writes a partition's fresh prefix with the writing job's
    parallelism, so a partition fed by many small batches accumulates many
    small files; at scale, file count dominates scan planning and listing
    pressure. Rewrite each selected partition's data into ≈target-sized
    files under a NEW snapshot prefix and commit every rewritten pointer
    with ONE manifest flip — same crash contract as the MERGE (a crash
    before the flip leaves only vacuumable garbage; readers never see a
    half-compacted table). Returns {partitions, files_before, files_after}.

    `cluster_by` additionally range-clusters each rewritten partition on
    the given column(s) — one column sorts directly, several interleave via
    z-order (operators/layout.py) — so every output file covers a tight
    range and the per-file min/max recorded in the manifest prune hard for
    predicates on those columns (the Delta OPTIMIZE ZORDER shape: merges
    keep commits cheap, compaction restores layout quality). With
    `cluster_by` set, partitions are rewritten even when already at target
    file count, since the POINT is relayout.

    Partitions carrying merge-on-read delete files are ALWAYS rewritten:
    compaction is the purge step that folds accumulated position deletes
    back into clean data files (the rewritten entry drops its delete
    list, per-file stats become exact again, and the old delete prefixes
    age out via vacuum_manifest).
    """
    import glob as _glob

    m = read_manifest(path)
    if m is None:
        return {"partitions": 0, "files_before": 0, "files_after": 0}
    layout = m.get("layout") or {}
    if cluster_by is None:
        # OPTIMIZE honors the table's declared sort order by default
        cluster_by = list(layout.get("cluster_by") or ()) or None
    if partition_values is None:
        want = None
    elif partition_values_encoded:  # manifest-key space (maintenance.py)
        want = set(partition_values)
    else:
        want = {_enc_part(v) for v in partition_values}
    stored = (
        T.StructType.fromJson(m["schema"]) if m.get("schema") is not None else None
    )
    snap = uuid.uuid4().hex[:12]
    new_entries: dict[str, dict] = {}
    before = after = 0
    for enc, entry in m["partitions"].items():
        if want is not None and enc not in want:
            continue
        old_dir = os.path.join(path, entry["prefix"])
        files = _glob.glob(os.path.join(old_dir, "*.parquet"))
        total = sum(os.path.getsize(f) for f in files)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        if (
            cluster_by is None
            and len(files) <= n_target
            and not entry.get("deletes")
        ):
            continue  # already compact, nothing to fold
        before += len(files)
        prefix = os.path.join(
            "data", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
        )
        df = _live_partition_df(spark, path, entry, stored).drop("__f", "__p")
        if cluster_by is None:
            out = df.coalesce(n_target)
        elif len(cluster_by) == 1:
            c = cluster_by[0]
            out = df.repartitionByRange(n_target, c).sortWithinPartitions(c)
        else:
            from f1_data_pipeline_spark.operators.layout import zorder_value

            out = (
                df.withColumn("__z", zorder_value(df, list(cluster_by), zorder_bits))
                .repartitionByRange(n_target, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        with _timestamp_stats_conf(spark):
            out.write.mode("errorifexists").parquet(os.path.join(path, prefix))
        after += len(_glob.glob(os.path.join(path, prefix, "*.parquet")))
        new_entry = {
            "prefix": prefix,
            "value": enc,
            "files": _collect_file_stats(os.path.join(path, prefix)),
        }
        want_blooms = sorted(
            set(entry.get("blooms") or ())
            | set(layout.get("bloom_cols") or ())
        )
        if want_blooms:
            # same rows, new prefix: rebuild the bloom sidecars so the
            # index survives compaction (content-identical bits — the
            # bloom depends only on key values, not layout); partitions
            # written before a layout declaration gain its blooms here
            new_entry["blooms"] = _write_bloom_sidecars(
                df, path, prefix, want_blooms,
                sum(f["rows"] for f in new_entry["files"]),
            )
        new_entries[enc] = new_entry
    if new_entries:
        # schema_json=None → the rebase carries the LATEST committed schema
        # through unchanged (a racing merge may have evolved it; compaction
        # only relocates bytes and must not roll that back). Races on the
        # same partition (e.g. a merge rewrote a prefix we just compacted
        # from) conflict and raise — re-run the compaction.
        _commit_with_rebase(spark, path, m, new_entries, op="compact")
    return {
        "partitions": len(new_entries),
        "files_before": before,
        "files_after": after,
    }


def delete_manifest_rows(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple],
    partition_values: Sequence | None = None,
    max_commit_retries: int = 3,
    mode: str = "cow",
    mor_threshold: float = 0.2,
) -> dict:
    """Row-level DELETE on a manifest-committed table — the missing verb
    next to MERGE: `DELETE WHERE <conjunction of (col, op, value)>`
    (retention purges, GDPR erasure, bad-batch rollback).

    Deletes every row where the conjunction is TRUE (NULL-predicate rows
    are KEPT, standard SQL DELETE semantics). Three-level narrowing before
    any rewrite: optional `partition_values` pruning, then the recorded
    per-file bounds drop partitions where no file can match (zero I/O —
    the same `_file_maybe_matches` the readers use), then a key-columns
    count confirms actual matches so false-positive partitions are never
    rewritten. One atomic commit flips everything — readers see the table
    before or after the whole delete, never mid-way — with the same
    disjoint-partition rebase as the MERGE, plus a predicate re-check: if
    the competing commit's partitions may hold rows matching this
    predicate (by their recorded bounds), the rebase refuses with
    ConcurrentWriteError rather than commit a "successful" delete that
    leaves matching rows in the table. Old snapshots keep the deleted rows
    until vacuum (time travel = free undelete window;
    `manifest_row_changes` reports the rows as deletes). Partitions left
    EMPTY are dropped from the manifest in every mode.

    `mode` picks HOW a matching partition sheds its rows:

    - "cow" (copy-on-write, the default): rewrite the partition without
      the matching rows to a fresh prefix (stats + bloom sidecars rebuilt,
      pending merge-on-read deletes folded in). Scan cost afterwards is
      pristine; write cost is the whole partition.
    - "mor" (merge-on-read): write only a position delete file — (file
      identity, row index) pairs of the matched LIVE rows — and extend the
      entry's delete list. Data prefixes untouched: at 100 TB, erasing a
      few thousand doc_ids costs kilobytes of writes instead of rewriting
      terabytes. Readers anti-join the delete set (identical results);
      `compact_manifest` folds accumulated deletes back into clean files.
    - "auto": per partition, MoR when the matched fraction of live rows is
      ≤ `mor_threshold`, CoW otherwise — the Delta deletion-vector policy:
      small surgical deletes stay cheap, bulk deletes pay the rewrite once
      instead of degrading every future scan.

    Returns {"deleted", "partitions_rewritten", "partitions_dropped",
    "delete_files_written", "partitions_skipped_stats",
    "partitions_skipped_scan"}."""
    if mode not in ("cow", "mor", "auto"):
        raise ValueError(f"unknown delete mode {mode!r} (cow | mor | auto)")
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "refusing DELETE with no predicate — drop the table instead"
        )
    stored = (
        T.StructType.fromJson(m["schema"]) if m.get("schema") is not None else None
    )
    # the whole path below is PHYSICAL-named (frames, stats, rewrites):
    # map logical predicate names once and never hop
    preds = list(_map_predicates(preds, _phys_map(stored)))
    cond = _predicates_column(preds)
    delete_cond = F.coalesce(cond, F.lit(False))
    entries = _transform_prune(
        spark, m, _select_entries(m, partition_values), preds
    )
    snap = uuid.uuid4().hex[:12]
    new_entries: dict[str, dict] = {}
    drop_keys: list[str] = []
    deleted = 0
    delete_files = 0
    skipped_stats = skipped_scan = 0
    for enc, entry in entries.items():
        files = entry.get("files")
        if files is not None and not any(
            _file_maybe_matches(fm, preds) for fm in files
        ):
            skipped_stats += 1  # bounds prove nothing to delete here
            continue
        # LIVE rows only: pending MoR deletes applied, so already-deleted
        # rows are neither re-deleted (exact counts) nor resurrected by a
        # CoW rewrite; __f/__p position tags ride along for the MoR arm
        live = _live_partition_df(spark, path, entry, stored).persist()
        try:
            n_match = live.filter(delete_cond).count()
            if n_match == 0:
                skipped_scan += 1  # stats couldn't prove it, the scan did
                continue
            deleted += n_match
            if files is not None:
                live_rows = (
                    sum(fm["rows"] for fm in files) - _entry_delete_rows(entry)
                )
            else:
                live_rows = live.count()
            if live_rows == n_match:
                drop_keys.append(enc)  # partition emptied — entry removed
                continue
            if mode == "mor" or (
                mode == "auto" and n_match <= mor_threshold * live_rows
            ):
                dprefix = os.path.join(
                    "deletes", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
                )
                (
                    live.filter(delete_cond)
                    .select(
                        F.col("__f").alias("_file"), F.col("__p").alias("_pos")
                    )
                    .coalesce(1)  # delete sets are tiny — one file
                    .write.mode("errorifexists")
                    .parquet(os.path.join(path, dprefix))
                )
                delete_files += 1
                new_entries[enc] = {
                    **entry,
                    # ids: 3 = the record's _file values are 3-segment
                    # '<partition>/<snap>/<basename>' (records without
                    # the marker are legacy 2-segment, upgraded at read
                    # time by _read_deletes)
                    "deletes": list(entry.get("deletes") or ())
                    + [{"prefix": dprefix, "rows": n_match, "ids": 3}],
                }
                continue
            keep = live.filter(~delete_cond).drop("__f", "__p")
            prefix = os.path.join(
                "data", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
            )
            with _timestamp_stats_conf(spark):
                keep.write.mode("errorifexists").parquet(
                    os.path.join(path, prefix)
                )
            new_entry = {
                "prefix": prefix,
                "value": enc,
                "files": _collect_file_stats(os.path.join(path, prefix)),
            }
            if entry.get("blooms"):
                new_entry["blooms"] = _write_bloom_sidecars(
                    keep, path, prefix, list(entry["blooms"]),
                    sum(f["rows"] for f in new_entry["files"]),
                )
            new_entries[enc] = new_entry
        finally:
            live.unpersist()
    if new_entries or drop_keys:
        _commit_with_rebase(
            spark, path, m, new_entries,
            max_commit_retries=max_commit_retries, drop_keys=drop_keys,
            check_predicates=preds,
            check_partition_scope=(
                None if partition_values is None
                else {_enc_part(v) for v in partition_values}
            ),
            op="delete",
        )
    return {
        "deleted": deleted,
        "partitions_rewritten": len(new_entries) - delete_files,
        "partitions_dropped": len(drop_keys),
        "delete_files_written": delete_files,
        "partitions_skipped_stats": skipped_stats,
        "partitions_skipped_scan": skipped_scan,
    }


def update_manifest_rows(
    spark: SparkSession,
    path: str,
    assignments: dict,
    predicates: Sequence[tuple],
    partition_values: Sequence | None = None,
    max_commit_retries: int = 3,
) -> dict:
    """Row-level UPDATE — the third DML verb: `UPDATE SET col = expr WHERE
    <conjunction>` (backfills, corrections, re-scoring).

    `assignments` maps column name → new value: a Spark Column expression
    (may reference the row's own columns, e.g. `F.col("v") * 2`) or a
    literal. All assignments and the predicate evaluate against the
    PRE-update row (standard SQL UPDATE: `SET a = b, b = a` swaps), so
    assignment order never matters. Assigned columns must already exist
    and keep their type
    (schema changes belong to the merge path); the partition column cannot
    be assigned — moving rows between partitions is a delete+merge, and
    silently accepting it here would corrupt the partition layout.

    Narrowing, commit, and concurrency semantics are exactly
    `delete_manifest_rows`'s: partitions whose recorded file bounds
    exclude the predicate are untouched with zero I/O, scanned partitions
    with no matches keep their prefixes byte-identical, matching
    partitions are rewritten (stats + bloom sidecars rebuilt) and flipped
    in ONE atomic commit with disjoint-partition rebase; NULL-predicate
    rows are not updated (SQL semantics); old snapshots retain pre-update
    rows (time travel), and the change feed reports update_postimage rows.

    Returns {"updated", "partitions_rewritten", "partitions_skipped_stats",
    "partitions_skipped_scan"}."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "refusing UPDATE with no predicate — use the merge path for "
            "full-table rewrites"
        )
    if not assignments:
        raise ValueError("UPDATE needs at least one assignment")
    part_col = m.get("partition_col")
    pt_u = _transform_of(m)
    if part_col in assignments or (
        pt_u is not None and pt_u.source in assignments
    ):
        raise ValueError(
            f"cannot assign partition column {part_col!r} (or its "
            "transform source) — moving rows between partitions is a "
            "delete + merge, not an in-place update"
        )
    stored = (
        T.StructType.fromJson(m["schema"]) if m.get("schema") is not None else None
    )
    if stored is not None:
        missing = [c for c in assignments if c not in stored.names]
        if missing:
            raise ValueError(
                f"UPDATE assigns unknown columns {missing} — schema changes "
                "go through the merge path with schema_evolution=True"
            )
    # assignments and `cond` evaluate on LOGICAL frames (user-facing
    # names); stats triage and the commit race check run on PHYSICAL
    # per-file metadata — two views of the same conjunction
    phys_preds = list(_map_predicates(preds, _phys_map(stored)) or ())
    cond = F.coalesce(_predicates_column(preds), F.lit(False))
    entries = _transform_prune(
        spark, m, _select_entries(m, partition_values), phys_preds
    )
    snap = uuid.uuid4().hex[:12]
    new_entries: dict[str, dict] = {}
    updated = 0
    skipped_stats = skipped_scan = 0
    for enc, entry in entries.items():
        files = entry.get("files")
        if files is not None and not any(
            _file_maybe_matches(fm, phys_preds) for fm in files
        ):
            skipped_stats += 1
            continue
        # LIVE rows only: the rewrite folds any pending MoR deletes (the
        # fresh prefix clears the entry's delete list) instead of
        # resurrecting deleted rows
        df = _to_logical(
            _live_partition_df(spark, path, entry, stored).drop("__f", "__p"),
            stored,
        ).persist()
        try:
            n_match = df.filter(cond).count()
            if n_match == 0:
                skipped_scan += 1
                continue
            updated += n_match
            # ONE projection: every assignment's predicate AND right-hand
            # side evaluate against the PRE-update row (SQL UPDATE
            # semantics — sequential withColumn would let a later
            # assignment see an earlier one's result, silently updating
            # the wrong subset when an assignment touches a predicate
            # column). The cast pins the declared type so an expression
            # can't silently re-type the column for the whole table.
            def _assigned(c: str) -> Column:
                v = assignments[c]
                expr = v if isinstance(v, Column) else F.lit(v)
                new_t = (
                    stored[c].dataType if stored is not None else df.schema[c].dataType
                )
                return F.when(cond, expr.cast(new_t)).otherwise(F.col(c)).alias(c)

            out = df.select(
                *[_assigned(c) if c in assignments else F.col(c) for c in df.columns]
            )
            # assigned values must keep the table's CHECK constraints true
            _enforce_constraints(
                out, m.get("constraints", {}), f"UPDATE of {path}"
            )
            prefix = os.path.join(
                "data", urllib.parse.quote(enc, safe=""), f"snap-{snap}"
            )
            phys_out = _to_physical(out, stored)
            with _timestamp_stats_conf(spark):
                phys_out.write.mode("errorifexists").parquet(
                    os.path.join(path, prefix)
                )
            new_entry = {
                "prefix": prefix,
                "value": enc,
                "files": _collect_file_stats(os.path.join(path, prefix)),
            }
            if entry.get("blooms"):
                new_entry["blooms"] = _write_bloom_sidecars(
                    phys_out, path, prefix, list(entry["blooms"]),
                    sum(f["rows"] for f in new_entry["files"]),
                )
            new_entries[enc] = new_entry
        finally:
            df.unpersist()
    if new_entries:
        _commit_with_rebase(
            spark, path, m, new_entries,
            max_commit_retries=max_commit_retries,
            check_predicates=phys_preds,
            check_partition_scope=(
                None if partition_values is None
                else {_enc_part(v) for v in partition_values}
            ),
            op="update",
        )
    return {
        "updated": updated,
        "partitions_rewritten": len(new_entries),
        "partitions_skipped_stats": skipped_stats,
        "partitions_skipped_scan": skipped_scan,
    }


def manifest_changed_partitions(
    path: str, from_version: int, to_version: int | None = None
) -> dict[str, str]:
    """Metadata-only change discovery between two committed versions:
    {partition_key: 'added' | 'rewritten' | 'removed'}. Zero data read —
    two small JSON objects — which is what makes it the right incremental
    trigger for downstream consumers at 100 TB: a daily job asks \"which
    partitions moved since the version I last processed\" and reads only
    those."""
    m_from = read_manifest(path, from_version)
    m_to = read_manifest(path, to_version)
    if m_from is None or m_to is None:
        raise FileNotFoundError(f"missing manifest version at {path}")
    return changed_partitions_between(m_from, m_to)


def changed_partitions_between(m_from: dict, m_to: dict) -> dict[str, str]:
    """`manifest_changed_partitions` over ALREADY-READ manifests — the
    comparison itself, shared so callers that walk many versions (the
    streaming change source's batch planner) parse each manifest once
    instead of re-reading both per window step."""
    p_from, p_to = m_from["partitions"], m_to["partitions"]
    out: dict[str, str] = {}
    for k, e in p_to.items():
        if k not in p_from:
            out[k] = "added"
        elif e["prefix"] != p_from[k]["prefix"] or list(
            e.get("deletes") or ()
        ) != list(p_from[k].get("deletes") or ()):
            # a changed delete list IS a row-set change (merge-on-read
            # DELETE touches no data prefix) — without this comparison a
            # MoR delete would be invisible to CDC consumers AND to the
            # commit rebase's conflict detection
            out[k] = "rewritten"
    for k in p_from:
        if k not in p_to:
            out[k] = "removed"
    return out


def manifest_row_changes(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    from_version: int,
    to_version: int | None = None,
    include_preimage: bool = False,
) -> DataFrame:
    """Row-level change feed between two versions (the CDC read):
    rows tagged `_change` ∈ {insert, update_postimage, delete}, computed
    ONLY over the partitions the manifests say changed — untouched
    partitions are never scanned. Requires both versions retained
    (vacuum keep_last must cover the window).

    `include_preimage=True` additionally emits an `update_preimage` row
    (the OLD values) for every update — the Delta-CDF shape that makes
    the feed ALGEBRAIC for downstream delta-application: signing
    insert/update_postimage as +1 and delete/update_preimage as −1 turns
    any additive aggregate's maintenance into one sum over the feed,
    including updates that MOVE a row between groups."""
    if to_version is None:
        versions = manifest_versions(path)
        if not versions:
            raise FileNotFoundError(f"no manifest at {path}")
        # pin "latest" ONCE so the changed-partition set and both reads see
        # the same version even if a commit lands mid-call
        to_version = versions[-1]
    changed = manifest_changed_partitions(path, from_version, to_version)
    if not changed:
        schema = read_manifest_table(spark, path, version=to_version).schema
        return spark.createDataFrame(
            [], T.StructType(list(schema) + [T.StructField("_change", T.StringType())])
        )
    # manifest_changed_partitions speaks ENCODED manifest keys ('null' for
    # the NULL partition, '=null' for the literal string) — pass them as
    # such, or re-encoding would silently drop those partitions' changes
    new = read_manifest_table(
        spark, path, partition_values=list(changed), version=to_version,
        partition_values_encoded=True,
    )
    old = read_manifest_table(
        spark,
        path,
        partition_values=list(changed),
        version=from_version,
        schema=new.schema,  # all-"added" window → no old prefixes to scan
        partition_values_encoded=True,
    )
    # schema evolution across the window: conform the old side to the new
    # schema (columns that didn't exist yet read as NULL) so the diff
    # predicate and the unions resolve. A column RENAMED inside the
    # window is the SAME column (matched through its pinned physical
    # name) — matching by logical name alone would read the old side as
    # NULL and flag every row as a spurious update.
    new_stored = _stored_of(read_manifest(path, to_version))
    old_stored = _stored_of(read_manifest(path, from_version))
    old_by_phys = (
        {_phys_name(f): f.name for f in old_stored.fields}
        if old_stored is not None
        else {}
    )

    def _old_source(f: T.StructField) -> Column:
        if f.name in old.columns:
            return F.col(f.name)
        phys = (
            _phys_name(new_stored[f.name])
            if new_stored is not None and f.name in new_stored.names
            else f.name
        )
        prior = old_by_phys.get(phys)
        if prior is not None and prior in old.columns:
            return F.col(prior)
        return F.lit(None)

    old = old.select(
        *[
            _old_source(f).cast(f.dataType).alias(f.name)
            for f in new.schema.fields
        ]
    )
    k = list(keys)
    inserts = new.join(old.select(*k), k, "left_anti").withColumn(
        "_change", F.lit("insert")
    )
    deletes = old.join(new.select(*k), k, "left_anti").withColumn(
        "_change", F.lit("delete")
    )
    non_key = [c for c in new.columns if c not in k]
    joined = new.alias("n").join(old.alias("o"), k, "inner")
    diff = F.lit(False)
    for c in non_key:
        diff = diff | ~F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
    updates = (
        joined.filter(diff)
        .select(*k, *[F.col(f"n.{c}").alias(c) for c in non_key])
        .withColumn("_change", F.lit("update_postimage"))
    )
    out = inserts.unionByName(updates).unionByName(deletes)
    if include_preimage:
        preimages = (
            joined.filter(diff)
            .select(*k, *[F.col(f"o.{c}").alias(c) for c in non_key])
            .withColumn("_change", F.lit("update_preimage"))
        )
        out = out.unionByName(preimages)
    return out


_REFS_DIR = "_refs"


def manifest_tag(path: str, name: str, version: int | None = None) -> int:
    """Pin a named, IMMUTABLE tag to a committed version (latest by
    default) — dataset versioning for reproducible consumers: a training
    run reads `tag="corpus-v1"` forever and gets byte-identical data,
    while the table keeps moving and vacuum reclaims everything the tag
    doesn't protect. Tag creation is the same atomic create-if-absent as
    commits (no racing writer can redefine a name); re-tagging an
    existing name raises — delete it first if you truly mean to move it.
    Returns the pinned version."""
    versions = manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no manifest at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not retained at {path}")
    # empty → the file would be ".json", hidden from manifest_tags: an
    # unreachable tag. Path separators / dot-prefixes are escape hazards.
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name {name!r}")
    d = os.path.join(path, _REFS_DIR)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "version": v}, fh)
    try:
        os.link(tmp, os.path.join(d, f"{name}.json"))
    except FileExistsError:
        raise ValueError(
            f"tag {name!r} already exists at {path} — tags are immutable; "
            "manifest_delete_tag it first if it must move"
        ) from None
    finally:
        os.unlink(tmp)
    return v


def manifest_tags(path: str) -> dict[str, int]:
    """{tag name: pinned version} for every tag on the table."""
    d = os.path.join(path, _REFS_DIR)
    if not os.path.isdir(d):
        return {}
    out: dict[str, int] = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json") and not f.startswith("."):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            out[r["name"]] = r["version"]
    return out


def manifest_delete_tag(path: str, name: str) -> None:
    p = os.path.join(path, _REFS_DIR, f"{name}.json")
    if not os.path.exists(p):
        raise FileNotFoundError(f"no tag {name!r} at {path}")
    os.unlink(p)


def resolve_manifest_ref(path: str, ref: int | str | None) -> int | None:
    """Resolve a version number or tag name to a version number (None
    passes through = latest)."""
    if ref is None or isinstance(ref, int):
        return ref
    tags = manifest_tags(path)
    if ref not in tags:
        raise FileNotFoundError(f"no tag {ref!r} at {path} (tags: {sorted(tags)})")
    return tags[ref]


def restore_manifest(
    spark: SparkSession, path: str, version: int | str
) -> dict:
    """RESTORE TABLE TO VERSION (or tag) — the write half of time travel:
    commit a NEW version whose partition pointers are copies of the
    restored snapshot's. Metadata-only (zero data rewritten — the
    restored prefixes still exist on disk precisely because the snapshot
    is retained; a vacuumed version raises FileNotFoundError before
    anything commits). History is preserved: the bad versions stay
    readable for forensics until vacuum, the restore is itself a commit
    (undoable by another restore), the change feed reports the
    restoration as ordinary row changes (so downstream matviews converge
    on their next refresh), and concurrent writers race it through the
    normal rebase — a competitor touching partitions the restore also
    rewinds gets ConcurrentWriteError, not silent resurrection. The
    The CURRENT constraint set carries forward (restore rewinds data,
    not table policy; note the restored rows are NOT re-validated
    against constraints added after the snapshot). App metadata REWINDS
    WITH THE DATA: consumer watermarks (a matview's consumed-source
    version) describe the data they were committed with, so restoring a
    maintained target also rewinds its watermark and the next refresh
    reconverges instead of no-opping against stale aggregates forever.
    App keys created after the snapshot survive (the rewind overwrites,
    it cannot uninvent).

    Returns {"restored_to", "new_version", "partitions_changed"}."""
    target = read_manifest(path, version)
    if target is None:
        raise FileNotFoundError(f"no manifest at {path}")
    latest = read_manifest(path)
    if latest["version"] == target["version"]:
        return {
            "restored_to": target["version"],
            "new_version": latest["version"],
            "partitions_changed": 0,
        }
    drop = [k for k in latest["partitions"] if k not in target["partitions"]]
    changed = [
        k
        for k, e in target["partitions"].items()
        if k not in latest["partitions"]
        or latest["partitions"][k]["prefix"] != e["prefix"]
        or list(latest["partitions"][k].get("deletes") or ())
        != list(e.get("deletes") or ())
    ]
    committed = _commit_with_rebase(
        spark,
        path,
        latest,
        dict(target["partitions"]),
        schema_json=target.get("schema"),
        drop_keys=drop,
        app_metadata=dict(target.get("app", {})),
        op=f"restore:v{target['version']}",
    )
    return {
        "restored_to": target["version"],
        "new_version": committed["version"],
        "partitions_changed": len(changed) + len(drop),
    }


def consume_table_changes(
    spark: SparkSession,
    src_path: str,
    keys: Sequence[str],
    target_path: str,
    apply_fn,
    consumer_key: str = "consumed_src_version",
    include_preimage: bool = False,
) -> dict:
    """The generalized exactly-once CDC consumer loop, exposed for ANY
    user-defined incremental pipeline (feature extraction, scoring,
    secondary-index maintenance). `curate_table_increment` and
    `replicate_table_increment` follow the same protocol but PREDATE
    this verb and remain standalone deliberately: each carries extra
    semantics a generic loop can't host (replication binds the replica
    to ONE source and applies cross-partition movers as a forced
    two-commit delete-then-upsert window; curation interleaves
    watermark-only commits with persisted-index maintenance) — a
    protocol change must be applied in all three places, which their
    docstrings cross-reference.

    1. window = (the TARGET table's `consumer_key` app metadata, the
       source's latest version) — consumer state lives WITH the output.
    2. `apply_fn(feed, app_metadata)` is called with the window's
       row-level change feed (`_change` tagged; the full snapshot tagged
       all-insert on bootstrap) and the `{consumer_key: latest}` dict it
       MUST pass as `app_metadata=` to its FINAL manifest write verb on
       `target_path` — that lands the watermark in the SAME atomic
       commit as the cycle's output: crash anywhere and both rewind
       together, so a rerun replays the identical window.
    3. If `apply_fn` returns without advancing the watermark (it wrote
       nothing — a junk-only window), a watermark-only `set_app` commit
       advances it so the window is never re-walked and a vacuum past it
       can't strip the feed's versions mid-window.

    Replay contract: `apply_fn` must be idempotent over one window
    (MERGE-family verbs are) — if it writes WITHOUT the app_metadata
    and crashes before this function's fallback commit, the rerun
    repeats the window against its own output, which converges for
    idempotent writes and duplicates for blind appends (pass the
    metadata; the kwarg exists so you never need the fallback).

    Cost ∝ changed partitions, never source size (`manifest_row_changes`
    scans only what the manifests say changed). Returns {"window",
    "bootstrapped", "rows_in_feed" (None — never counted here; count in
    apply_fn if wanted), "advanced"}."""
    versions = manifest_versions(src_path)
    if not versions:
        raise FileNotFoundError(f"no manifest at {src_path}")
    latest = versions[-1]
    target_exists = bool(manifest_versions(target_path))
    last = (
        manifest_app_metadata(target_path).get(consumer_key)
        if target_exists
        else None
    )
    out = {
        "window": [last, latest],
        "bootstrapped": last is None,
        "rows_in_feed": None,
        "advanced": False,
    }
    if last == latest:
        return out
    if last is None:
        feed = read_manifest_table(
            spark, src_path, version=latest
        ).withColumn("_change", F.lit("insert"))
    else:
        feed = manifest_row_changes(
            spark, src_path, list(keys), last, latest,
            include_preimage=include_preimage,
        )
    apply_fn(feed, {consumer_key: latest})
    if (
        bool(manifest_versions(target_path))
        and manifest_app_metadata(target_path).get(consumer_key) == latest
    ):
        out["advanced"] = True
        return out
    if not manifest_versions(target_path):
        raise ValueError(
            f"apply_fn produced no manifest at {target_path} — the "
            "consumer watermark has nowhere to live; bootstrap must "
            "create the target (an empty create_manifest_table counts)"
        )
    # the fallback watermark-only commit (see the replay contract above)
    manifest_set_app_metadata(spark, target_path, {consumer_key: latest})
    out["advanced"] = True
    return out


def read_manifest_increment(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    state_path: str,
) -> tuple[DataFrame, "Callable[[], None]"]:
    """Incremental CDC consumption — the downstream-job half of the change
    feed: "give me every row change since I last ran, and let me mark it
    processed only after MY write commits."

    Reads the consumer's last-processed version from `state_path` (a tiny
    JSON file; absent = never ran → the full current table surfaces as
    inserts), pins the current latest version ONCE, and returns
    `(changes, commit)`: `changes` is the `manifest_row_changes` feed over
    exactly that window (empty-with-schema when nothing new), and
    `commit()` atomically advances the state file to the pinned version.
    The consumer transforms/writes `changes` FIRST and calls `commit()`
    last — a crash before commit() replays the same window next run, so
    any idempotent sink (the MERGE family here) gets exactly-once effect;
    nothing is marked consumed by the act of reading. At 100 TB this is
    the scheduler loop: each cycle costs two manifest JSONs plus scans of
    only the partitions that actually changed.

    Retention contract: the state version must stay retained —
    `vacuum_manifest(keep_last=...)` must cover the longest consumer lag,
    or the next increment raises FileNotFoundError (loud, not silent
    data loss)."""
    versions = manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no manifest at {path}")
    latest = versions[-1]
    last = None
    if os.path.exists(state_path):
        with open(state_path) as fh:
            last = json.load(fh)["version"]
    if last is None:
        # first run: everything is an insert — synthesize the feed shape
        # from the full table at the pinned version
        base = read_manifest_table(spark, path, version=latest)
        changes = base.withColumn("_change", F.lit("insert"))
    elif last == latest:
        schema = read_manifest_table(spark, path, version=latest).schema
        changes = spark.createDataFrame(
            [], T.StructType(list(schema) + [T.StructField("_change", T.StringType())])
        )
    else:
        changes = manifest_row_changes(spark, path, keys, last, latest)

    def commit() -> None:
        tmp = f"{state_path}.tmp{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.dirname(state_path) or ".", exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump({"version": latest, "table": path}, fh)
        os.replace(tmp, state_path)

    return changes, commit


def replicate_table_increment(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: Sequence[str],
    dst_partition_col: str | None = None,
    bloom_cols: Sequence[str] | None = None,
) -> dict:
    """Maintain a REPLICA of a manifest table by consuming its change
    feed — under the same partition spec, or a DIFFERENT one
    (`dst_partition_col`): the same rows maintained bucket(N, key)-
    partitioned next to a days(ts)-partitioned source give point lookups
    a 1-of-N pruned path while range queries keep the time layout — a
    materialized secondary layout, which is what a secondary index is at
    object-store scale. Also the cross-region replication and
    dev-mirror shape (where `clone_manifest_table` gives a one-time
    fork, this keeps following).

    Each call consumes one window (last replicated source version →
    current latest), read from the REPLICA's own app metadata and
    advanced only in commits that carry that window's changes — the
    exactly-once consumer pattern shared with matviews and the curation
    increment. Updates that keep their key in the same REPLICA partition
    apply through the single upsert merge; only genuine deletes and
    updates that MOVE a key across the replica's partitions — legal when
    the specs differ — replicate as DELETE (preimage row) + INSERT
    (postimage row), which a partition-scoped MERGE alone would refuse.
    Source schema evolution follows automatically (replica merges run
    with schema_evolution=True).

    Visibility: a window with no deletes and no partition movers lands
    in ONE commit (no intermediate state). When movers/deletes exist the
    window applies as two commits (delete of preimages, then upsert of
    postimages); a reader of the replica BETWEEN those commits sees the
    moved keys absent — a transient, bounded anomaly the single-table
    DML never has. The order is forced: upserting first would leave the
    moved key under two partitions and trip the MERGE's spanning-keys
    safety check on replay.

    Replay-safe: deletes of absent keys no-op, merges are idempotent,
    the watermark advances only with the window's FINAL commit, and a
    crash between the delete and merge commits replays the same window
    to the same end state. Retention contract: the replica's watermark
    version must stay retained at the source
    (`vacuum_manifest(keep_last=...)` covers the longest replica lag) or
    the next increment raises loudly.

    Returns {"window", "upserted", "deleted", "noop"}."""
    versions = manifest_versions(src_path)
    if not versions:
        raise FileNotFoundError(f"no manifest at {src_path}")
    latest = versions[-1]
    dst_exists = bool(manifest_versions(dst_path))
    last = None
    if dst_exists:
        app = manifest_app_metadata(dst_path)
        bound = app.get("repl_src")
        if bound is not None and bound != src_path:
            raise ValueError(
                f"replica at {dst_path} follows {bound!r}, not "
                f"{src_path!r} — refusing to interleave two sources"
            )
        last = app.get("repl_version")
    if dst_partition_col is None:
        dst_partition_col = read_manifest(src_path)["partition_col"]
    wm = {"repl_src": src_path, "repl_version": latest}
    out = {"window": [last, latest], "upserted": 0, "deleted": 0,
           "noop": False}
    if last == latest:
        out["noop"] = True
        return out
    keys = list(keys)
    if last is None:
        snap = read_manifest_table(spark, src_path, version=latest)
        n = snap.count()
        if n:
            merge_upsert_manifest(
                spark, snap, dst_path, keys, dst_partition_col,
                schema_evolution=True, count_rows=False,
                bloom_cols=bloom_cols, app_metadata=wm,
            )
        out["upserted"] = n
        return out
    feed = manifest_row_changes(
        spark, src_path, keys, last, latest, include_preimage=True
    ).persist()
    try:
        # updates whose key STAYS in the same replica partition apply
        # through the upsert merge alone; only genuine deletes and
        # cross-partition MOVERS need the preimage-delete commit. This
        # keeps the common window (no movers, no deletes) single-commit
        # and shrinks the two-commit visibility anomaly to moved keys.
        pre = feed.filter(F.col("_change") == "update_preimage")
        post = feed.filter(F.col("_change") == "update_postimage")
        pt_dst = parse_partition_spec(dst_partition_col)
        pw = partition_column_name(pt_dst)
        if pt_dst.source in feed.columns:
            pre_p = apply_transform(pt_dst, pre.drop("_change")).select(
                *keys, F.col(pw).alias("__p")
            )
            post_p = apply_transform(pt_dst, post.drop("_change")).select(
                *keys, F.col(pw).alias("__q")
            )
            movers = (
                pre_p.join(post_p, keys)
                .filter(~F.col("__p").eqNullSafe(F.col("__q")))
                .select(*keys)
            )
            moved_pre = pre.join(movers, keys, "left_semi")
        else:
            # evolution edge: the feed predates the replica's partition
            # source column — can't derive partitions; conservatively
            # treat every update as a potential mover (old behavior)
            moved_pre = pre
        dels = (
            feed.filter(F.col("_change") == "delete")
            .unionByName(moved_pre)
            .drop("_change")
        )
        # a window can both evolve the source schema AND update rows; the
        # preimage rows then carry columns the replica doesn't have yet
        # (the ups merge is what evolves it). Deletes only need to match
        # and localize — project to the replica's current columns.
        dst_m = read_manifest(dst_path)
        dst_cols = set(T.StructType.fromJson(dst_m["schema"]).names)
        dels = dels.select([c for c in dels.columns if c in dst_cols])
        ups = feed.filter(
            F.col("_change").isin("insert", "update_postimage")
        ).drop("_change")
        n_del = dels.count()
        n_up = ups.count()
        committed_wm = False
        if n_del:
            res = merge_into_manifest(
                spark, dels, dst_path, keys=keys,
                when_matched="delete", when_not_matched=None,
                app_metadata=None if n_up else wm,
            )
            out["deleted"] = res["deleted"]
            committed_wm = bool(
                not n_up
                and res["partitions_rewritten"] + res["partitions_dropped"]
            )
        if n_up:
            merge_upsert_manifest(
                spark, ups, dst_path, keys, dst_partition_col,
                schema_evolution=True, count_rows=False,
                bloom_cols=bloom_cols, app_metadata=wm,
            )
            out["upserted"] = n_up
            committed_wm = True
        if not committed_wm:
            manifest_set_app_metadata(spark, dst_path, wm)
    finally:
        feed.unpersist()
    return out


def vacuum_manifest(
    path: str, keep_last: int = 1, min_age_sec: float = 6 * 3600
) -> list[str]:
    """Reclaim data prefixes not referenced by the newest `keep_last`
    committed manifests — superseded snapshots and garbage from writers
    that crashed before their commit — and drop the commit entries older
    than those (ending their time-travel window, the VACUUM trade-off).

    `min_age_sec` is the retention threshold that makes this safe to run
    concurrently with writers (the Delta VACUUM contract): an in-flight
    merge has written its fresh prefixes but not yet committed the
    manifest that references them — without the age floor those prefixes
    look like garbage and their deletion would tear the writer's
    subsequent commit. Keep it comfortably above the longest possible
    write; lower it (tests use 0) only when no writer can be in flight.
    Never touches a referenced prefix. Returns removed prefix paths
    (relative to `path`)."""
    import time as _time

    versions = manifest_versions(path)
    if not versions:
        return []
    # tagged versions are pinned datasets — their commit entries and data
    # prefixes survive any keep_last window until the tag is deleted
    tagged = {v for v in manifest_tags(path).values() if v in versions}
    keep = sorted(set(versions[-max(1, keep_last):]) | tagged)
    live: set[str] = set()
    for v in keep:
        m = read_manifest(path, v)
        for e in m["partitions"].values():
            live.add(os.path.normpath(e["prefix"]))
            # merge-on-read delete prefixes are part of the snapshot: a
            # retained version's rows are only correct WITH its delete
            # files applied, so they share the data prefixes' lifecycle
            for d in e.get("deletes") or ():
                live.add(os.path.normpath(d["prefix"]))
    # staged (write-audit-publish) candidates reference prefixes no
    # committed manifest knows about — they are live until published or
    # aborted, however long the audit takes
    for name in staged_refs(path):
        for e in read_staged(path, name)["new_entries"].values():
            live.add(os.path.normpath(e["prefix"]))
    for v in versions:
        if v not in keep:
            os.unlink(_commit_path(path, v))
    removed: list[str] = []
    cutoff = _time.time() - min_age_sec
    for root_name in ("data", "deletes"):
        root = os.path.join(path, root_name)
        if not os.path.isdir(root):
            continue
        for part_dir in sorted(os.listdir(root)):
            pd = os.path.join(root, part_dir)
            if not os.path.isdir(pd):
                continue
            for snap_dir in sorted(os.listdir(pd)):
                rel = os.path.normpath(
                    os.path.join(root_name, part_dir, snap_dir)
                )
                full = os.path.join(path, rel)
                if rel not in live and os.path.getmtime(full) <= cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
            if not os.listdir(pd):
                os.rmdir(pd)
    return removed
