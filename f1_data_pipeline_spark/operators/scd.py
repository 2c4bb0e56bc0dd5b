"""Slowly-changing-dimension (Type 2) maintenance over manifest tables.

The reference pipeline overwrite-upserts its dimensions (drivers,
constructors — loaders/__init__.py:253-273), losing attribute history:
a constructor rename retroactively rewrites every old season's rows. A
training-data/warehouse pipeline usually wants the opposite — the
dimension AS OF the fact's time. SCD2 keeps every attribute version as
its own row bounded by `[valid_from, valid_to)` with an `is_current`
flag, so point-in-time joins are a plain range predicate.

Spark-first shape: one broadcast-friendly join of the update batch
against the CURRENT slice classifies every key (new / changed /
corrected / unchanged) in a single job, and one partition-scoped
manifest MERGE lands closed rows + new versions atomically. The target
is hidden-partitioned by `bucket(N, key)` BY DEFAULT so every version
of a key lives in one partition: closing a row never moves it, the
MERGE rewrites only buckets that actually contain touched keys, and a
point lookup prunes to 1 of N buckets — at 100 TB the write cost is
∝ changed keys, never dimension size.

Version-row identity is `(business key, valid_from)` — a natural key,
so replays converge: re-applying a batch finds equal attributes at the
same `valid_from` and classifies every row unchanged (exactly-once
downstream via `app_metadata`, same as every manifest verb).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _changed_expr(attrs: Sequence[str]):
    """NULL-safe 'any tracked attribute differs' predicate."""
    e = F.lit(False)
    for a in attrs:
        e = e | ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
    return e


def scd2_merge(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    ts_col: str = "effective_ts",
    track_cols: Sequence[str] | None = None,
    partition_col: str | None = None,
    app_metadata: dict | None = None,
    on_late: str = "error",
) -> dict:
    """Fold an update batch into the SCD2 dimension at `path`.

    `updates` carries the business key(s), attribute columns, and
    `ts_col` (the business-effective instant of each row — NOT load
    time). Per key the LATEST batch row wins (explicit dedup, B4
    semantics); then against the current slice:

    - key absent               → insert as current (valid_from = ts)
    - ts >  current valid_from and a tracked attribute differs
                               → close current (valid_to = ts,
                                 is_current = false) + insert the new
                                 version as current
    - ts == current valid_from and a tracked attribute differs
                               → in-place CORRECTION of that version's
                                 attributes (no zero-length interval,
                                 no duplicate (key, valid_from) row)
    - attributes all equal     → unchanged, nothing written
    - ts <  current valid_from → `on_late` decides: "error" (default)
      raises — a late-arriving version needs a history splice
      (close/reopen of an INTERIOR interval), which this verb does not
      do silently: that is `scd2_splice`'s job, route backfills there;
      "skip" drops those rows and reports them in `late_skipped` (the
      streaming-sink posture, where one stale message must not wedge
      the stream)

    `track_cols` limits change detection to the named attributes
    (untracked columns still refresh on rows written for other
    reasons); default = every non-key, non-ts column. Replay-idempotent:
    re-applying the same batch classifies every key unchanged.

    Returns {"new", "changed", "corrected", "unchanged",
    "late_skipped"}."""
    if on_late not in ("error", "skip"):
        raise ValueError(f"on_late must be 'error' or 'skip', got {on_late!r}")
    from .sinks import (
        merge_upsert_manifest,
        read_manifest,
        read_manifest_table,
    )

    keys = list(keys)
    if partition_col is None:
        partition_col = f"bucket(16, {keys[0]})"
    attrs = list(track_cols) if track_cols is not None else [
        c for c in updates.columns if c not in {*keys, ts_col}
    ]
    if not attrs:
        raise ValueError("updates carry no attribute columns to track")
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), *[F.col(a).desc_nulls_last() for a in attrs]
    )
    batch = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out_cols = [
        *keys,
        *attrs,
        F.col(ts_col).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ]
    if read_manifest(path) is None:
        # the batch holds one row per key, so the upsert's count of
        # distinct keys applied is its row count
        new = merge_upsert_manifest(
            spark, batch.select(*out_cols), path, keys=[*keys, "valid_from"],
            partition_col=partition_col, app_metadata=app_metadata,
        )
        return {
            "new": new, "changed": 0, "corrected": 0,
            "unchanged": 0, "late_skipped": 0,
        }

    cur = read_manifest_table(spark, path).filter("is_current")
    j = batch.alias("u").join(cur.alias("c"), on=keys, how="left").persist()
    try:
        ts_u = F.col(f"u.{ts_col}").cast("timestamp")
        status = (
            F.when(F.col("c.valid_from").isNull(), "new")
            .when(ts_u < F.col("c.valid_from"), "late")
            .when(
                _changed_expr(attrs),
                F.when(ts_u == F.col("c.valid_from"), "corrected")
                .otherwise("changed"),
            )
            .otherwise("unchanged")
        )
        j = j.withColumn("__st", status)
        counts = {
            r["__st"]: r["n"]
            for r in j.groupBy("__st").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if counts.get("late") and on_late == "error":
            raise ValueError(
                f"{counts['late']} update row(s) are OLDER than the "
                "current version of their key — late-arriving history "
                "needs an interior-interval splice; this verb refuses "
                "rather than corrupting [valid_from, valid_to) chains "
                "(pass on_late='skip' to drop such rows instead)"
            )
        touched = j.filter(F.col("__st").isin("new", "changed", "corrected"))
        # closed-out predecessors of 'changed' keys: the CURRENT row with
        # its interval capped at the new version's valid_from
        closed = touched.filter(F.col("__st") == "changed").select(
            *keys,
            *[F.col(f"c.{a}").alias(a) for a in attrs],
            F.col("c.valid_from").alias("valid_from"),
            ts_u.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        fresh = touched.select(
            *keys,
            *[F.col(f"u.{a}").alias(a) for a in attrs],
            ts_u.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        merge_upsert_manifest(
            spark, fresh.unionByName(closed), path,
            keys=[*keys, "valid_from"], partition_col=partition_col,
            app_metadata=app_metadata,
        )
        return {
            "new": counts.get("new", 0),
            "changed": counts.get("changed", 0),
            "corrected": counts.get("corrected", 0),
            "unchanged": counts.get("unchanged", 0),
            "late_skipped": counts.get("late", 0),
        }
    finally:
        j.unpersist()


def _sql_lit(v) -> str:
    """Render a business-key value as a SQL literal for the by-source
    delete condition. Keys are ints or strings in practice; anything
    else raises rather than risking a mis-rendered delete predicate."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        raise ValueError(f"unsupported splice key literal {v!r}")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    raise ValueError(f"unsupported splice key literal {v!r}")


def scd2_splice(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    ts_col: str = "effective_ts",
    track_cols: Sequence[str] | None = None,
    max_keys: int = 10_000,
    app_metadata: dict | None = None,
    auto_chunk: bool = True,
    _chunk_depth: int = 0,
) -> dict:
    """Late-arriving history: splice version rows into the INTERIOR of
    each touched key's interval chain — the case `scd2_merge` refuses.
    A backfill lands a version at its true business instant: the
    predecessor's `valid_to` caps at the new `valid_from`, the spliced
    version's `valid_to` becomes the successor's `valid_from` (or stays
    open, making it current), and `is_current` recomputes.

    Semantics: the touched keys' chains are REBUILT deterministically
    from the union of existing version seeds and batch rows — same
    (key, valid_from) means the batch row is a correction and wins;
    consecutive versions with equal tracked attributes collapse to the
    earliest `valid_from` (a spliced version identical to its
    predecessor adds no information — and a correction that made a
    successor redundant collapses it too). Rebuild-from-seeds makes
    replay convergent: re-splicing the same batch rebuilds the identical
    chain and the MERGE rewrites nothing.

    Cost ∝ touched keys, never dimension size: the existing-chain read
    prunes to the touched keys' bucket partitions (IN predicate →
    transform pruning), and the landing MERGE examines ONLY the
    source's own partitions (`by_source_scope=[]`), deleting collapsed
    version rows under a `t.<key> IN (...)` guard so co-bucketed
    untouched keys are never examined as deletions. `max_keys` caps ONE
    pass's touched-key set (the guard is an inline IN list). Single
    business key only — the delete guard is a single-column IN.

    Backfills touching more than `max_keys` keys auto-chunk by key hash
    (`auto_chunk=True`, the default): the batch splits into
    ceil(keys / 0.75·max_keys) hash slices and each splices as its own
    commit in turn — a 100 TB backfill never needs a hand-written loop.
    Each chunk keeps the full per-pass replay contract (rebuild-from-
    seeds is convergent), so a crash between chunks re-runs safely: the
    already-landed chunks rewrite nothing. `app_metadata` (a consumer
    watermark) lands in a dedicated watermark-only commit AFTER every
    chunk has landed — never attached to a chunk, so an empty final
    hash slice can't drop it and it never advances past a
    partially-landed backfill. `auto_chunk=False` restores the loud
    refusal for callers that size their own batches.

    Returns merge_into_manifest's action counts + {"touched_keys"}
    (summed across chunks, plus {"chunks": n} when it chunked)."""
    from .sinks import (
        merge_into_manifest,
        read_manifest,
        read_manifest_table,
    )

    keys = list(keys)
    if len(keys) != 1:
        raise ValueError(
            "scd2_splice supports a single business-key column (the "
            "by-source delete guard is a single-column IN list)"
        )
    key = keys[0]
    if read_manifest(path) is None:
        raise FileNotFoundError(
            f"no SCD2 dimension at {path} — bootstrap with scd2_merge"
        )
    attrs = list(track_cols) if track_cols is not None else [
        c for c in updates.columns if c not in {key, ts_col}
    ]
    if not attrs:
        raise ValueError("updates carry no attribute columns to track")
    # one row per (key, valid_from): deterministic max-attrs tie-break
    w = Window.partitionBy(key, ts_col).orderBy(
        *[F.col(a).desc_nulls_last() for a in attrs]
    )
    batch = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    tk = [
        r[0]
        for r in batch.select(key).distinct().limit(max_keys + 1).collect()
    ]
    if len(tk) > max_keys:
        if not auto_chunk:
            raise ValueError(
                f"splice batch touches > {max_keys} keys — split the "
                "backfill (the delete guard is an inline IN list), or "
                "let auto_chunk=True do it"
            )
        import math

        from .sinks import manifest_set_app_metadata

        n = batch.select(key).distinct().count()
        # 0.75 headroom: hash imbalance may push a slice over the even
        # share; a slice that still overflows recursively re-chunks.
        # The slicing hash is SALTED with the recursion depth (the
        # second xxhash64 argument): a child re-chunking a parent slice
        # with an unsalted hash whose chunk count divides the parent's
        # would re-derive the already-fixed residue — every key in one
        # child chunk, zero progress, infinite recursion.
        depth = int(_chunk_depth)
        n_chunks = max(2, math.ceil(n / max(1, int(max_keys * 0.75))))
        totals: dict = {"chunks": n_chunks}
        for i in range(n_chunks):
            part = batch.filter(
                F.pmod(F.xxhash64(F.col(key), F.lit(depth)), F.lit(n_chunks))
                == i
            )
            out = scd2_splice(
                spark, part, path, [key], ts_col=ts_col,
                track_cols=track_cols, max_keys=max_keys,
                app_metadata=None,  # watermark lands once, below
                auto_chunk=True,
                _chunk_depth=depth + 1,
            )
            for k2, v in out.items():
                # "chunks" from a recursively re-chunked slice would
                # double-count against this level's total — report this
                # level's slice count only
                if k2 != "chunks" and isinstance(v, (int, float)):
                    totals[k2] = totals.get(k2, 0) + v
        if app_metadata and depth == 0:
            # the consumer watermark advances only after EVERY chunk
            # landed — a dedicated watermark-only commit, never attached
            # to a chunk (the final hash slice can legitimately be
            # empty, which would silently drop the watermark)
            manifest_set_app_metadata(spark, path, app_metadata)
        return totals
    zero = {
        "touched_keys": 0, "updated": 0, "deleted": 0, "inserted": 0,
        "updated_by_source": 0, "deleted_by_source": 0, "unchanged": 0,
        "partitions_rewritten": 0, "partitions_dropped": 0,
    }
    if not tk:
        return zero
    existing = read_manifest_table(
        spark, path, predicates=[(key, "in", tuple(tk))]
    ).filter(F.col(key).isin(tk))
    b_seed = batch.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts_col).cast("timestamp").alias("valid_from"),
        F.lit(1).alias("__src"),
    )
    e_seed = existing.select(
        F.col(key), *[F.col(a) for a in attrs], F.col("valid_from"),
        F.lit(0).alias("__src"),
    )
    seeds = b_seed.unionByName(e_seed)
    w_corr = Window.partitionBy(key, "valid_from").orderBy(
        F.col("__src").desc()
    )
    seeds = (
        seeds.withColumn("__rn", F.row_number().over(w_corr))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    w_chain = Window.partitionBy(key).orderBy("valid_from")
    same_as_prev = F.lit(True)
    for a in attrs:
        same_as_prev = same_as_prev & F.lag(a).over(w_chain).eqNullSafe(
            F.col(a)
        )
    seeds = seeds.withColumn(
        "__dup", F.lag("valid_from").over(w_chain).isNotNull() & same_as_prev
    ).filter(~F.col("__dup")).drop("__dup")
    rebuilt = seeds.withColumn(
        "valid_to", F.lead("valid_from").over(w_chain)
    ).withColumn("is_current", F.col("valid_to").isNull())
    guard = f"t.{key} IN ({', '.join(_sql_lit(v) for v in tk)})"
    # update only on an actual value difference — an unconditional
    # matched-update fires on every row, so a replayed splice would
    # rewrite identical partitions forever instead of converging to a
    # no-op commit
    diff = " OR ".join(
        f"NOT (s.{c} <=> t.{c})"
        for c in [*attrs, "valid_to", "is_current"]
    )
    out = merge_into_manifest(
        spark, rebuilt, path, keys=[key, "valid_from"],
        when_matched=[("update", diff, "all")],
        when_not_matched="insert",
        when_not_matched_by_source=[("delete", guard)],
        by_source_scope=[],
        app_metadata=app_metadata,
    )
    return {**out, "touched_keys": len(tk)}


def scd2_at(spark: SparkSession, path: str, ts) -> DataFrame:
    """The dimension AS OF a business instant: one row per key whose
    interval covers `ts` (`valid_from <= ts < valid_to`, open
    `valid_to` = forever). This is BUSINESS time over attribute
    versions — orthogonal to commit-time travel (`version=`), which
    replays storage history. Point-in-time fact enrichment is then a
    plain equi-join against this frame (or an as-of join on the fact's
    event time via streaming/windows.py for per-row instants)."""
    from .sinks import read_manifest_table

    t = F.lit(ts).cast("timestamp")
    return read_manifest_table(spark, path).filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
