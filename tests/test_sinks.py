"""Sinks: insert-ignore, merge-upsert, surrogate keys, quarantine.

The idempotency tests encode the reference's core guarantee: re-running any
load leaves the table unchanged (README.md:12 via ON CONFLICT sinks).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from f1_data_pipeline_spark.operators import sinks


@pytest.fixture
def wh(tmp_path):
    return str(tmp_path / "wh")


def _read(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_insert_ignore_appends_and_ignores(spark, wh):
    path = f"{wh}/t"
    b1 = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    n1 = sinks.insert_ignore(spark, b1, path, ["id"])
    assert n1 == 2
    # second batch: one conflict (id=2 ignored), one new
    b2 = spark.createDataFrame([Row(id=2, v="CHANGED"), Row(id=3, v="c")])
    n2 = sinks.insert_ignore(spark, b2, path, ["id"])
    assert n2 == 1
    assert _read(spark, path) == {(1, "a"), (2, "b"), (3, "c")}


def test_insert_ignore_idempotent(spark, wh):
    path = f"{wh}/t"
    batch = spark.createDataFrame([Row(id=1, v="a")])
    sinks.insert_ignore(spark, batch, path, ["id"])
    n = sinks.insert_ignore(spark, batch, path, ["id"])
    assert n == 0
    assert _read(spark, path) == {(1, "a")}


def test_insert_ignore_intra_batch_keep_first(spark, wh):
    path = f"{wh}/t"
    batch = spark.createDataFrame(
        [Row(id=1, v="second", o=2), Row(id=1, v="first", o=1)]
    )
    sinks.insert_ignore(spark, batch, path, ["id"], order_by=[F.asc("o")])
    assert _read(spark, path) == {(1, "first", 1)}


def test_merge_upsert_updates_inserts_keeps(spark, wh):
    path = f"{wh}/t"
    sinks.insert_ignore(
        spark,
        spark.createDataFrame([Row(id=1, v="old1"), Row(id=2, v="old2")]),
        path,
        ["id"],
    )
    updates = spark.createDataFrame([Row(id=2, v="new2"), Row(id=3, v="new3")])
    sinks.merge_upsert(spark, updates, path, ["id"])
    assert _read(spark, path) == {(1, "old1"), (2, "new2"), (3, "new3")}


def test_merge_upsert_idempotent(spark, wh):
    path = f"{wh}/t"
    updates = spark.createDataFrame([Row(id=1, v="x")])
    sinks.merge_upsert(spark, updates, path, ["id"])
    before = _read(spark, path)
    sinks.merge_upsert(spark, updates, path, ["id"])
    assert _read(spark, path) == before


def test_surrogate_keys_deterministic_and_gapless(spark):
    existing = spark.createDataFrame([Row(id=7, ref="x")])
    new = spark.createDataFrame([(None, "b"), (None, "a")], "id int, ref string")
    out = sinks.allocate_surrogate_keys(new, existing, "id", [F.asc("ref")])
    got = {r.ref: r.id for r in out.collect()}
    assert got == {"a": 8, "b": 9}


def test_surrogate_keys_empty_existing(spark):
    existing = spark.createDataFrame([], "id int, ref string")
    new = spark.createDataFrame([(None, "a")], "id int, ref string")
    out = sinks.allocate_surrogate_keys(new, existing, "id", [F.asc("ref")])
    assert out.collect()[0].id == 1


def test_quarantine_splits_and_names_rules(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, typ="R", pos=3),
            Row(id=None, typ="R", pos=4),       # null key
            Row(id=3, typ="BOGUS", pos=5),      # bad enum
            Row(id=4, typ="Q1", pos=-1),        # out of range
        ]
    )
    valid, rejected = sinks.quarantine(
        df,
        [
            sinks.not_null_rule("id"),
            sinks.enum_rule("typ", ["R", "Q1"]),
            sinks.range_rule("pos", 0, 100),
        ],
    )
    assert [r.id for r in valid.collect()] == [1]
    rej = {r.typ: list(r["_violations"]) for r in rejected.collect()}
    assert rej["BOGUS"] == ["enum:typ"]
    assert any("not_null:id" in v for v in rej.values())


def test_fk_violations(spark):
    fact = spark.createDataFrame([Row(fk=1), Row(fk=99), Row(fk=None)])
    dim = spark.createDataFrame([Row(id=1)])
    bad = sinks.fk_violations(fact, "fk", dim, "id")
    assert [r.fk for r in bad.collect()] == [99]  # null FK is allowed (SET NULL)


def test_write_atomic_replaces_not_merges(spark, wh):
    path = f"{wh}/t"
    sinks.write_atomic(spark.createDataFrame([Row(id=1)]), path)
    sinks.write_atomic(spark.createDataFrame([Row(id=2)]), path)
    assert _read(spark, path) == {(2,)}


def test_compact_small_files(spark, tmp_path):
    """Many tiny append files collapse to the target count; contents
    unchanged (order-insensitive)."""
    from f1_data_pipeline_spark.operators.sinks import compact

    path = str(tmp_path / "appendy")
    # simulate 12 micro-batch appends → ≥12 files
    for i in range(12):
        spark.range(i * 100, (i + 1) * 100).write.mode(
            "append" if i else "overwrite"
        ).parquet(path)
    import glob

    before = len(glob.glob(path + "/**/*.parquet", recursive=True))
    assert before >= 12

    pre = {r["id"] for r in spark.read.parquet(path).collect()}
    stats = compact(spark, path)  # tiny table → 1 target file
    post = {r["id"] for r in spark.read.parquet(path).collect()}
    assert post == pre
    assert stats["files_after"] < before and stats["files_after"] <= 2


def test_merge_upsert_frames_dedups_update_batch(spark):
    """Two update rows sharing a key must collapse to ONE merged row (a
    foreachBatch micro-batch can carry several updates per key); default
    order is deterministic, explicit updates_order controls the winner."""
    from f1_data_pipeline_spark.operators.relational import merge_upsert_frames

    existing = spark.createDataFrame([Row(id=1, v="old", seq=0)])
    updates = spark.createDataFrame(
        [Row(id=1, v="a", seq=1), Row(id=1, v="z", seq=2), Row(id=2, v="new", seq=1)]
    )
    merged = {tuple(r) for r in merge_upsert_frames(existing, updates, ["id"]).collect()}
    # one row per key; default canonical order (non-key cols desc) → v="z"
    assert merged == {(1, "z", 2), (2, "new", 1)}

    by_seq = merge_upsert_frames(
        existing, updates, ["id"], updates_order=[F.desc("seq")]
    )
    assert {tuple(r) for r in by_seq.collect()} == {(1, "z", 2), (2, "new", 1)}
    # and "first by seq asc" picks the earliest update instead
    by_seq_asc = merge_upsert_frames(
        existing, updates, ["id"], updates_order=[F.asc("seq")]
    )
    assert {tuple(r) for r in by_seq_asc.collect()} == {(1, "a", 1), (2, "new", 1)}


def test_append_atomic_crash_never_exposes_partial_state(spark, wh, monkeypatch):
    """A crash while assembling the successor directory must leave the table
    exactly as it was — readers never see a partial append."""
    path = f"{wh}/t"
    sinks.write_atomic(spark.createDataFrame([Row(id=1, v="a")]), path)
    before = _read(spark, path)

    def boom(src, dst):
        raise RuntimeError("simulated crash mid-assembly")

    monkeypatch.setattr(sinks, "_link_tree", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sinks.append_atomic(spark.createDataFrame([Row(id=2, v="b")]), path)

    assert _read(spark, path) == before
    import glob

    # no stray staged files inside the table directory
    assert not glob.glob(f"{path}/app-*"), glob.glob(f"{path}/*")


def test_append_atomic_appends(spark, wh):
    path = f"{wh}/t"
    sinks.write_atomic(spark.createDataFrame([Row(id=1, v="a")]), path)
    sinks.append_atomic(spark.createDataFrame([Row(id=2, v="b")]), path)
    assert _read(spark, path) == {(1, "a"), (2, "b")}


def test_compact_preserves_partition_layout(spark, tmp_path):
    """compact() without partition_by on a partitionBy-laid-out table must
    keep the directory scheme (flattening would break pruning and the
    partition-scoped MERGE path), and refuse a mismatched partition_by."""
    import glob
    import os

    from f1_data_pipeline_spark.operators.sinks import compact

    path = str(tmp_path / "parts")
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2}", float(i)) for i in range(20)],
        "id long, day string, v double",
    )
    for i in range(3):  # several appends → small files in each partition
        df.write.mode("append" if i else "overwrite").partitionBy("day").parquet(path)

    pre = {(r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()}
    stats = compact(spark, path)  # no partition_by passed — must autodetect
    assert stats["partition_by"] == ["day"]
    post = {(r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert post == pre
    days = {os.path.basename(d) for d in glob.glob(path + "/day=*")}
    assert days == {"day=2024-01-01", "day=2024-01-02"}

    with pytest.raises(ValueError, match="laid out by"):
        compact(spark, path, partition_by=["other"])


def _read_manifest_rows(spark, path):
    return {
        (r["id"], str(r["day"]) if r["day"] is not None else None, r["v"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }


def test_manifest_merge_parity_with_full_merge(spark, tmp_path):
    """Same MERGE sequence through merge_upsert and merge_upsert_manifest
    must converge to identical row sets (the reader-parity contract)."""
    plain = str(tmp_path / "plain")
    man = str(tmp_path / "man")
    batches = [
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(30)],
        [(0, "2024-01-01", 100.0), (999, "2024-01-01", 9.5)],
        [(5, "2024-01-03", -1.0), (1000, "2024-01-04", 4.0)],  # new partition
    ]
    for b in batches:
        df = spark.createDataFrame(b, "id long, day string, v double")
        sinks.merge_upsert(spark, df, plain, ["id"], partition_by=["day"])
        sinks.merge_upsert_manifest(spark, df, man, ["id"], partition_col="day")
    plain_rows = {
        (r["id"], str(r["day"]), r["v"])
        for r in spark.read.parquet(plain).collect()
    }
    assert _read_manifest_rows(spark, man) == plain_rows


def test_manifest_merge_crash_between_partition_writes_no_torn_state(
    spark, tmp_path, monkeypatch
):
    """Kill the writer after SOME partition prefixes are written but before
    the manifest flip: readers must still see exactly the old snapshot —
    the torn-partition hazard that rename-based commit has on object
    stores. Vacuum then reclaims the orphaned prefixes."""
    path = str(tmp_path / "man")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(30)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    before = _read_manifest_rows(spark, path)
    v_before = sinks.read_manifest(path)["version"]

    # crash mid-commit: let partition data writes proceed, die at the flip
    def boom(p, m):
        raise RuntimeError("simulated crash before manifest flip")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    updates = spark.createDataFrame(
        [(0, "2024-01-01", 111.0), (1, "2024-01-02", 222.0)],
        "id long, day string, v double",
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        sinks.merge_upsert_manifest(spark, updates, path, ["id"], partition_col="day")

    assert _read_manifest_rows(spark, path) == before  # old snapshot intact
    assert sinks.read_manifest(path)["version"] == v_before
    monkeypatch.undo()

    # orphaned (never-referenced) prefixes exist and are reclaimable
    removed = sinks.vacuum_manifest(path, min_age_sec=0)
    assert removed, "crash left garbage prefixes that vacuum should find"
    assert _read_manifest_rows(spark, path) == before  # vacuum never breaks readers

    # and the retried merge commits cleanly
    sinks.merge_upsert_manifest(spark, updates, path, ["id"], partition_col="day")
    after = _read_manifest_rows(spark, path)
    assert (0, "2024-01-01", 111.0) in after and (1, "2024-01-02", 222.0) in after


def test_manifest_merge_untouched_prefixes_never_rewritten(spark, tmp_path):
    import glob
    import os

    path = str(tmp_path / "man")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(30)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    m = sinks.read_manifest(path)
    untouched = {
        f: os.path.getmtime(f)
        for day in ("2024-01-02", "2024-01-03")
        for f in glob.glob(
            os.path.join(path, m["partitions"][day]["prefix"], "*.parquet")
        )
    }
    assert untouched

    updates = spark.createDataFrame(
        [(0, "2024-01-01", 100.0)], "id long, day string, v double"
    )
    sinks.merge_upsert_manifest(spark, updates, path, ["id"], partition_col="day")
    m2 = sinks.read_manifest(path)
    # untouched partitions: same prefix pointers, same files, same mtimes
    for day in ("2024-01-02", "2024-01-03"):
        assert m2["partitions"][day] == m["partitions"][day]
    now = {
        f: os.path.getmtime(f)
        for day in ("2024-01-02", "2024-01-03")
        for f in glob.glob(
            os.path.join(path, m2["partitions"][day]["prefix"], "*.parquet")
        )
    }
    assert now == untouched
    # touched partition advanced to a fresh prefix
    assert m2["partitions"]["2024-01-01"] != m["partitions"]["2024-01-01"]
    assert m2["version"] == m["version"] + 1


def test_manifest_merge_null_partition_no_fallback(spark, tmp_path):
    """NULL partition values are first-class manifest entries — no
    full-table fallback needed (unlike the Hive-layout path)."""
    path = str(tmp_path / "man_null")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, None, 2.0), (3, None, 3.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    updates = spark.createDataFrame(
        [(2, None, 20.0), (4, "2024-01-01", 4.0)], "id long, day string, v double"
    )
    sinks.merge_upsert_manifest(spark, updates, path, ["id"], partition_col="day")
    assert _read_manifest_rows(spark, path) == {
        (1, "2024-01-01", 1.0),
        (2, None, 20.0),
        (3, None, 3.0),
        (4, "2024-01-01", 4.0),
    }
    assert "null" in sinks.read_manifest(path)["partitions"]


def test_manifest_merge_rejects_moved_and_spanning_keys(spark, tmp_path):
    path = str(tmp_path / "man_moved")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "2024-01-01", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    moved = spark.createDataFrame(
        [(1, "2024-01-02", 9.0)], "id long, day string, v double"
    )
    with pytest.raises(ValueError, match="other day partitions"):
        sinks.merge_upsert_manifest(spark, moved, path, ["id"], partition_col="day")
    spanning = spark.createDataFrame(
        [(7, "2024-01-01", 1.0), (7, "2024-01-02", 2.0)],
        "id long, day string, v double",
    )
    with pytest.raises(ValueError, match="functionally determine"):
        sinks.merge_upsert_manifest(spark, spanning, path, ["id"], partition_col="day")


def test_manifest_vacuum_reclaims_superseded_snapshots(spark, tmp_path):
    import os

    path = str(tmp_path / "man_vac")
    for v in (1.0, 2.0, 3.0):  # three merges → two superseded snapshots
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame([(1, "d1", v)], "id long, day string, v double"),
            path,
            ["id"],
            partition_col="day",
        )
    removed = sinks.vacuum_manifest(path, min_age_sec=0)
    assert len(removed) == 2
    assert _read_manifest_rows(spark, path) == {(1, "d1", 3.0)}
    live_prefix = sinks.read_manifest(path)["partitions"]["d1"]["prefix"]
    assert os.path.isdir(os.path.join(path, live_prefix))


def test_manifest_read_prunes_by_partition_value(spark, tmp_path):
    path = str(tmp_path / "man_prune")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(9)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    only_d1 = sinks.read_manifest_table(spark, path, partition_values=["d1"])
    assert {r["day"] for r in only_d1.collect()} == {"d1"}
    # plan never lists the other prefixes — the scan's paths are pruned
    scan_files = only_d1.inputFiles()
    assert scan_files and all("/data/d1/" in f for f in scan_files)


def test_embedding_cosine_unblocked_guard(spark):
    """The quadratic crossJoin path must be unreachable above the size cap."""
    from f1_data_pipeline_spark.operators import dedup as D

    df = spark.range(5).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(0.0)).alias("vec")
    )
    # small N without block_col: allowed
    assert D.embedding_cosine_pairs(df, "id", "vec", threshold=0.99).count() >= 0
    # above the cap: refuse
    import f1_data_pipeline_spark.operators.dedup as dd

    old = dd.EMBEDDING_PAIRS_UNBLOCKED_MAX
    try:
        dd.EMBEDDING_PAIRS_UNBLOCKED_MAX = 3
        with pytest.raises(ValueError, match="crossJoin"):
            D.embedding_cosine_pairs(df, "id", "vec")
    finally:
        dd.EMBEDDING_PAIRS_UNBLOCKED_MAX = old


def test_manifest_compaction_collapses_small_files(spark, tmp_path):
    """Many small-batch merges leave many files in a partition's prefix;
    compact_manifest rewrites it to target-sized files behind one manifest
    flip, contents unchanged, untouched partitions untouched."""
    import glob
    import os

    path = str(tmp_path / "man_compact")
    # a deliberately fragmented prefix: with the fused single-job write,
    # AQE coalesces a tiny merge to one output task (one file per
    # partition — the desirable production behavior), so fragmentation
    # must be forced by disabling coalescing for the seed merge
    base = spark.createDataFrame(
        [(i, "d1" if i < 400 else "d2", float(i)) for i in range(500)],
        "id long, day string, v double",
    ).repartition(16)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        sinks.merge_upsert_manifest(
            spark, base, path, ["id"], partition_col="day"
        )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    m = sinks.read_manifest(path)
    d1_files = glob.glob(os.path.join(path, m["partitions"]["d1"]["prefix"], "*.parquet"))
    assert len(d1_files) > 1
    d2_entry = m["partitions"]["d2"]
    pre = _read_manifest_rows(spark, path)

    stats = sinks.compact_manifest(spark, path)
    assert stats["partitions"] >= 1 and stats["files_after"] < stats["files_before"]
    m2 = sinks.read_manifest(path)
    new_d1 = glob.glob(os.path.join(path, m2["partitions"]["d1"]["prefix"], "*.parquet"))
    assert len(new_d1) == 1  # tiny table → one file
    assert _read_manifest_rows(spark, path) == pre
    assert m2["version"] == m["version"] + 1
    # superseded prefixes reclaimed only by vacuum, readers unaffected
    removed = sinks.vacuum_manifest(path, min_age_sec=0)
    assert removed and _read_manifest_rows(spark, path) == pre
    # d2 untouched if it was already compact
    if d2_entry == m2["partitions"]["d2"]:
        assert os.path.isdir(os.path.join(path, d2_entry["prefix"]))


def test_manifest_concurrent_writer_loses_race_cleanly(spark, tmp_path):
    """Two writers racing to the same manifest version: exactly one wins
    the atomic create-if-absent; the loser gets ConcurrentWriteError (no
    silent lost update) and succeeds after re-reading."""
    import json
    import os

    path = str(tmp_path / "man_race")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "d1", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    # both writers read v1; writer A commits v2 first...
    stale = sinks.read_manifest(path)
    winner = {**stale, "version": 2}
    with open(os.path.join(path, "_commits", "v00000002.json"), "w") as fh:
        json.dump(winner, fh)
    # ...then writer B (which also read v1) tries to commit ITS v2: the
    # atomic create-if-absent must refuse — this is the lost-update window
    with pytest.raises(sinks.ConcurrentWriteError, match="another writer"):
        sinks._commit_manifest(path, {**stale, "version": 2})

    # B's retry re-reads (now at v2) and the merge commits v3 — the
    # standard optimistic-concurrency loop
    updates = spark.createDataFrame([(1, "d1", 9.0)], "id long, day string, v double")
    sinks.merge_upsert_manifest(spark, updates, path, ["id"], partition_col="day")
    assert sinks.read_manifest(path)["version"] == 3
    assert _read_manifest_rows(spark, path) == {(1, "d1", 9.0)}
    sinks.vacuum_manifest(path, min_age_sec=0)
    assert _read_manifest_rows(spark, path) == {(1, "d1", 9.0)}


def test_manifest_time_travel_and_vacuum_window(spark, tmp_path):
    """Every commit is a retained snapshot until vacuumed: historical
    versions read back exactly; vacuum_manifest(keep_last) ends the older
    versions' time-travel window but never the kept ones."""
    path = str(tmp_path / "man_tt")
    for v in (1.0, 2.0, 3.0):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame([(1, "d1", v)], "id long, day string, v double"),
            path,
            ["id"],
            partition_col="day",
        )
    assert sinks.manifest_versions(path) == [1, 2, 3]
    v1 = {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path, version=1).collect()
    }
    assert v1 == {(1, 1.0)}

    removed = sinks.vacuum_manifest(path, keep_last=2, min_age_sec=0)
    assert len(removed) == 1  # only v1's prefix reclaimed
    assert sinks.manifest_versions(path) == [2, 3]
    assert {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path, version=2).collect()
    } == {(1, 2.0)}
    with pytest.raises(FileNotFoundError):
        sinks.read_manifest(path, version=1)


def test_manifest_change_feed(spark, tmp_path):
    """CDC over manifest versions: changed-partition discovery is
    metadata-only, and the row feed tags insert/update/delete computed
    only over the partitions the manifests say changed."""
    path = str(tmp_path / "man_cdc")
    v1 = spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0), (4, "d3", 4.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, v1, path, ["id"], partition_col="day")
    # v2: update one d1 row, insert into d1, add partition d4; d2/d3 untouched
    v2 = spark.createDataFrame(
        [(1, "d1", 100.0), (5, "d1", 5.0), (9, "d4", 9.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, v2, path, ["id"], partition_col="day")

    changed = sinks.manifest_changed_partitions(path, from_version=1)
    assert changed == {"d1": "rewritten", "d4": "added"}  # d2/d3 absent

    feed = {
        (r["id"], r["_change"], r["v"])
        for r in sinks.manifest_row_changes(
            spark, path, keys=["id"], from_version=1
        ).collect()
    }
    assert feed == {
        (1, "update_postimage", 100.0),
        (5, "insert", 5.0),
        (9, "insert", 9.0),
    }
    # identical versions → empty feed with the _change column present
    empty = sinks.manifest_row_changes(
        spark, path, keys=["id"], from_version=2, to_version=2
    )
    assert empty.count() == 0 and "_change" in empty.columns


def test_merge_schema_evolution_full_table(spark, wh):
    """schema_evolution=True widens the table: existing rows backfill NULL
    for the new column; without the flag a new column raises; a batch
    OMITTING a column leaves it untouched (never nulled)."""
    path = f"{wh}/t"
    sinks.merge_upsert(
        spark,
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]),
        path,
        ["id"],
    )
    wider = spark.createDataFrame([(2, "b2", 7.5), (3, "c", 9.0)],
                                  "id long, v string, score double")
    with pytest.raises(ValueError, match="schema_evolution"):
        sinks.merge_upsert(spark, wider, path, ["id"])
    sinks.merge_upsert(spark, wider, path, ["id"], schema_evolution=True)
    assert _read(spark, path) == {
        (1, "a", None),      # backfilled
        (2, "b2", 7.5),
        (3, "c", 9.0),
    }
    # partial-column batch: v untouched for the matched row
    partial = spark.createDataFrame([(1, 1.5)], "id long, score double")
    sinks.merge_upsert(spark, partial, path, ["id"])
    assert _read(spark, path) == {
        (1, "a", 1.5),       # score updated, v preserved
        (2, "b2", 7.5),
        (3, "c", 9.0),
    }


def test_manifest_schema_evolution_without_rewriting_old_prefixes(spark, tmp_path):
    """Manifest tables evolve via metadata: the widened schema lives in the
    manifest, so prefixes written BEFORE the column existed are never
    rewritten and read the new column back as NULL."""
    import glob
    import os

    path = str(tmp_path / "man_evo")
    base = spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d2", 2.0)], "id long, day string, v double"
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    m1 = sinks.read_manifest(path)
    d2_files = sorted(
        glob.glob(os.path.join(path, m1["partitions"]["d2"]["prefix"], "*.parquet"))
    )

    wider = spark.createDataFrame(
        [(1, "d1", 10.0, "en")], "id long, day string, v double, lang string"
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        sinks.merge_upsert_manifest(spark, wider, path, ["id"], partition_col="day")
    sinks.merge_upsert_manifest(
        spark, wider, path, ["id"], partition_col="day", schema_evolution=True
    )
    rows = {
        (r["id"], r["day"], r["v"], r["lang"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }
    assert rows == {(1, "d1", 10.0, "en"), (2, "d2", 2.0, None)}
    # d2's prefix: same pointer, same files — never rewritten for the evolution
    m2 = sinks.read_manifest(path)
    assert m2["partitions"]["d2"] == m1["partitions"]["d2"]
    assert sorted(
        glob.glob(os.path.join(path, m2["partitions"]["d2"]["prefix"], "*.parquet"))
    ) == d2_files
    # compaction preserves the evolved schema metadata
    sinks.compact_manifest(spark, path)
    assert sinks.read_manifest(path).get("schema") == m2["schema"]


def test_manifest_read_pushes_filters_through_stored_schema(spark, tmp_path):
    """The stored-schema read must not cost Catalyst anything: value
    filters still push to the parquet scan of the manifest prefixes."""
    from f1_data_pipeline_spark.plans.audit import pushed_filters

    path = str(tmp_path / "man_push")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(i, f"d{i % 2}", float(i)) for i in range(20)],
            "id long, day string, v double",
        ),
        path,
        ["id"],
        partition_col="day",
    )
    df = sinks.read_manifest_table(spark, path).filter(F.col("v") > 5.0)
    pushed = " ".join(pushed_filters(df))
    assert "v" in pushed, pushed
    assert df.count() == 14


def test_manifest_vacuum_retention_protects_inflight_writes(spark, tmp_path):
    """The retention floor: an unreferenced-but-fresh prefix (an in-flight
    writer's not-yet-committed data) survives a default-threshold vacuum;
    only min_age_sec=0 reclaims it."""
    import os

    path = str(tmp_path / "man_ret")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "d1", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    # simulate an in-flight writer's fresh uncommitted prefix
    orphan = os.path.join(path, "data", "d9", "snap-inflight00")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").close()

    assert sinks.vacuum_manifest(path) == []  # default floor: untouched
    assert os.path.isdir(orphan)
    removed = sinks.vacuum_manifest(path, min_age_sec=0)
    assert removed == [os.path.join("data", "d9", "snap-inflight00")]


def test_manifest_null_and_null_string_partitions_distinct(spark, tmp_path):
    """NULL and the literal string 'null' are DIFFERENT partitions — the
    encoding must never collide them (one would clobber the other)."""
    path = str(tmp_path / "man_nullstr")
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, "null", 2.0)], "id long, day string, v double"
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")
    m = sinks.read_manifest(path)
    assert set(m["partitions"]) == {"null", "=null"}
    assert _read_manifest_rows(spark, path) == {(1, None, 1.0), (2, "null", 2.0)}
    # updating one must not disturb the other
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(2, "null", 20.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    assert _read_manifest_rows(spark, path) == {(1, None, 1.0), (2, "null", 20.0)}


def test_manifest_rejects_key_spanning_null_partition(spark, tmp_path):
    """A key split across the NULL partition and a real one must be
    rejected (countDistinct over a struct counts NULL as a value)."""
    path = str(tmp_path / "man_nullspan")
    bad = spark.createDataFrame(
        [(1, None, 1.0), (1, "d1", 2.0)], "id long, day string, v double"
    )
    with pytest.raises(ValueError, match="functionally determine"):
        sinks.merge_upsert_manifest(spark, bad, path, ["id"], partition_col="day")


def test_manifest_cdc_across_schema_evolution(spark, tmp_path):
    """The change feed must work across an evolved window: the old side
    conforms to the new schema (pre-evolution columns read as NULL)."""
    path = str(tmp_path / "man_cdc_evo")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "d1", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(1, "d1", 1.0, "en"), (2, "d1", 2.0, "fr")],
            "id long, day string, v double, lang string",
        ),
        path,
        ["id"],
        partition_col="day",
        schema_evolution=True,
    )
    feed = {
        (r["id"], r["_change"], r["lang"])
        for r in sinks.manifest_row_changes(
            spark, path, keys=["id"], from_version=1
        ).collect()
    }
    # row 1: v unchanged but lang went NULL→'en' = update; row 2: insert
    assert feed == {(1, "update_postimage", "en"), (2, "insert", "fr")}


# ---------------------------------------------------------------------------
# round 5: file-level stats / data skipping, NULL-partition CDC, type
# widening, partitioned-merge crash contract
# ---------------------------------------------------------------------------

def test_manifest_file_stats_pruning(spark, tmp_path):
    """Data skipping end-to-end: commits record per-file footer min/max in
    the manifest; a clustered layout (compact_manifest cluster_by=) makes
    the bounds tight; a point/range predicate then LISTS strictly fewer
    files than the naive scan — with results identical to the unpruned
    read (the parity contract that makes pruning purely I/O)."""
    import glob
    import os

    path = str(tmp_path / "man_skip")
    df = spark.createDataFrame(
        [(i, "d1", float(i % 97)) for i in range(2000)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(
        spark, df.repartition(8), path, ["id"], partition_col="day"
    )
    # cluster on id into ~8 tight-range files
    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                           recursive=True)
    )
    res = sinks.compact_manifest(
        spark, path, target_file_bytes=total // 8 + 1, cluster_by=["id"]
    )
    assert res["partitions"] == 1

    all_files = sinks.manifest_scan_files(path)
    assert len(all_files) >= 4, all_files
    point = [("id", "=", 1234)]
    sel = sinks.manifest_scan_files(path, predicates=point)
    assert 1 <= len(sel) < len(all_files), (len(sel), len(all_files))
    assert [r["id"] for r in
            sinks.read_manifest_table(spark, path, predicates=point).collect()
            ] == [1234]

    rng = [("id", ">=", 100), ("id", "<", 300)]
    assert len(sinks.manifest_scan_files(path, predicates=rng)) < len(all_files)
    pruned = {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path, predicates=rng).collect()
    }
    naive = {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path)
        .filter("id >= 100 and id < 300").collect()
    }
    assert pruned == naive and len(pruned) == 200

    # predicate outside the domain: zero files opened, empty typed result
    assert sinks.manifest_scan_files(path, predicates=[("id", "<", 0)]) == []
    none = sinks.read_manifest_table(spark, path, predicates=[("id", "<", 0)])
    assert none.count() == 0 and "id" in none.columns

    # string bounds prune too (day is constant 'd1' in every file)
    assert sinks.manifest_scan_files(path, predicates=[("day", "=", "zzz")]) == []
    assert len(sinks.manifest_scan_files(path, predicates=[("day", "=", "d1")])) \
        == len(all_files)

    # multi-column z-order relayout keeps single-column pruning effective
    sinks.compact_manifest(
        spark, path, target_file_bytes=total // 8 + 1, cluster_by=["id", "v"]
    )
    z_all = sinks.manifest_scan_files(path)
    z_sel = sinks.manifest_scan_files(path, predicates=[("id", "=", 1234)])
    assert len(z_sel) < len(z_all)
    assert [r["id"] for r in
            sinks.read_manifest_table(spark, path, predicates=point).collect()
            ] == [1234]


def test_manifest_stats_null_and_unknown_columns_conservative(spark, tmp_path):
    """Pruning must stay conservative: predicates on columns with NULLs
    keep files that might match, an all-NULL column proves emptiness, and
    a predicate on a column with no recorded stats never prunes."""
    path = str(tmp_path / "man_nulls")
    df = spark.createDataFrame(
        [(i, "d1", None if i < 50 else float(i)) for i in range(100)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    # v has NULLs but also values 50..99: a v-predicate inside the range keeps files
    got = {
        r["id"]
        for r in sinks.read_manifest_table(
            spark, path, predicates=[("v", ">=", 98.0)]
        ).collect()
    }
    assert got == {98, 99}
    # all-NULL column: no comparison can match → every file pruned
    all_null = spark.createDataFrame(
        [(1000 + i, "d2", None) for i in range(10)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, all_null, path, ["id"], partition_col="day")
    sel = sinks.manifest_scan_files(
        path, partition_values=["d2"], predicates=[("v", "=", 1.0)]
    )
    assert sel == []
    # unknown op raises loudly rather than mis-pruning
    with pytest.raises(ValueError, match="unsupported predicate op"):
        sinks.read_manifest_table(spark, path, predicates=[("v", "~", 1.0)]).count()


def test_manifest_null_aware_predicates(spark, tmp_path):
    """IS NULL / IS NOT NULL / != prune on recorded per-file null counts
    and bounds, with parity against the naive filtered scan (mirrors the
    reference's B2 null filter, loaders/__init__.py:73).

    Layout: three partitions with distinct null profiles —
    d1: v never NULL (constant 5.0), d2: v all NULL, d3: mixed."""
    path = str(tmp_path / "man_nullpred")
    df = spark.createDataFrame(
        [(i, "d1", 5.0) for i in range(40)]
        + [(100 + i, "d2", None) for i in range(40)]
        + [(200 + i, "d3", None if i % 2 else float(i)) for i in range(40)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")

    all_files = sinks.manifest_scan_files(path)
    naive = sinks.read_manifest_table(spark, path)

    # parse: SQL surface → tuples (<> normalizes to !=)
    assert sinks.parse_predicates("v IS NULL") == [("v", "isnull", None)]
    assert sinks.parse_predicates("v is not null") == [("v", "notnull", None)]
    assert sinks.parse_predicates("v <> 5.0") == [("v", "!=", 5.0)]

    # IS NULL: every d1 file (null_count == 0) pruned; results exact
    isnull = [("v", "isnull", None)]
    sel = sinks.manifest_scan_files(path, predicates=isnull)
    assert 0 < len(sel) < len(all_files)
    assert all("/d1/" not in p for p in sel)
    got = {r["id"] for r in
           sinks.read_manifest_table(spark, path, predicates=isnull).collect()}
    want = {r["id"] for r in naive.filter("v IS NULL").collect()}
    assert got == want and got  # 40 d2 rows + odd d3 rows

    # IS NOT NULL: the all-null d2 files pruned
    notnull = [("v", "notnull", None)]
    sel_nn = sinks.manifest_scan_files(path, predicates=notnull)
    assert all("/d2/" not in p for p in sel_nn)
    got_nn = {r["id"] for r in
              sinks.read_manifest_table(spark, path, predicates=notnull).collect()}
    assert got_nn == {r["id"] for r in naive.filter("v IS NOT NULL").collect()}

    # !=: d1 (constant 5.0) proven all-equal → pruned; d2 all-null → pruned
    ne = [("v", "!=", 5.0)]
    sel_ne = sinks.manifest_scan_files(path, predicates=ne)
    assert all("/d1/" not in p and "/d2/" not in p for p in sel_ne)
    got_ne = {r["id"] for r in
              sinks.read_manifest_table(spark, path, predicates=ne).collect()}
    assert got_ne == {r["id"] for r in naive.filter("v != 5.0").collect()}

    # metadata-only COUNT(*): d1 pruned + d2 always-matches means the
    # IS NULL count reads at most the mixed partition
    c = sinks.manifest_count(spark, path, predicates=isnull)
    assert c["count"] == len(want)
    assert c["files_metadata"] >= 1 and c["files_pruned"] >= 1
    c2 = sinks.manifest_count(spark, path, predicates=notnull)
    assert c2["count"] == len(got_nn)


def test_manifest_cdc_null_partition(spark, tmp_path):
    """CDC must cover the NULL partition and the literal-'null' string
    partition: manifest_changed_partitions speaks encoded keys, and
    manifest_row_changes must not re-encode them (doing so silently
    dropped these partitions from the feed)."""
    path = str(tmp_path / "man_cdc_null")
    v1 = spark.createDataFrame(
        [(1, None, 1.0), (2, "d1", 2.0), (3, "null", 3.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, v1, path, ["id"], partition_col="day")
    v2 = spark.createDataFrame(
        [(1, None, 100.0), (3, "null", 300.0), (4, None, 4.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, v2, path, ["id"], partition_col="day")

    changed = sinks.manifest_changed_partitions(path, from_version=1)
    assert set(changed) == {"null", "=null"}  # encoded keys, d1 untouched

    feed = {
        (r["id"], r["_change"], r["day"], r["v"])
        for r in sinks.manifest_row_changes(
            spark, path, keys=["id"], from_version=1
        ).collect()
    }
    assert feed == {
        (1, "update_postimage", None, 100.0),
        (3, "update_postimage", "null", 300.0),
        (4, "insert", None, 4.0),
    }


def test_manifest_schema_widening_old_prefixes_still_read(spark, tmp_path):
    """Shared-column type WIDENING (int->bigint, float->double,
    tinyint->int) commits under schema_evolution=True without rewriting
    untouched prefixes — the Spark 4 vectorized reader widens the old
    physical types on scan (this test pins the _SAFE_WIDENINGS contract).
    Non-widening changes must be rejected outright."""
    path = str(tmp_path / "man_widen")
    base = spark.createDataFrame(
        [(1, "d1", 10, 1.5, 3), (2, "d2", 20, 2.5, 4)],
        "id long, day string, n int, x float, b tinyint",
    )
    sinks.merge_upsert_manifest(spark, base, path, ["id"], partition_col="day")

    wider = spark.createDataFrame(
        [(1, "d1", 2**40, 9.25, 1000)],
        "id long, day string, n bigint, x double, b int",
    )
    with pytest.raises(ValueError, match="widens column types"):
        sinks.merge_upsert_manifest(spark, wider, path, ["id"], partition_col="day")
    sinks.merge_upsert_manifest(
        spark, wider, path, ["id"], partition_col="day", schema_evolution=True
    )
    rows = {
        (r["id"], r["day"], r["n"], r["x"], r["b"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }
    # d2's prefix still holds int32/float32/int8 physically — must read
    # back correct values under the widened stored schema
    assert rows == {(1, "d1", 2**40, 9.25, 1000), (2, "d2", 20, 2.5, 4)}
    stored = sinks.read_manifest(path)["schema"]
    by_name = {f["name"]: f["type"] for f in stored["fields"]}
    assert by_name["n"] == "long" and by_name["x"] == "double"

    # narrowing (bigint -> int) is NOT in-place readable: reject even with
    # the flag, pointing at the full-rewrite path
    narrower = spark.createDataFrame(
        [(2, "d2", 5, 1.0, 1)], "id long, day string, n int, x double, b int"
    )
    with pytest.raises(ValueError, match="not in-place-readable"):
        sinks.merge_upsert_manifest(
            spark, narrower, path, ["id"], partition_col="day",
            schema_evolution=True,
        )
    # incompatible (number -> string) likewise
    stringy = spark.createDataFrame(
        [(2, "d2", "five", 1.0, 1)],
        "id long, day string, n string, x double, b int",
    )
    with pytest.raises(ValueError, match="not in-place-readable"):
        sinks.merge_upsert_manifest(
            spark, stringy, path, ["id"], partition_col="day",
            schema_evolution=True,
        )


# ---------------------------------------------------------------------------
# Optimistic concurrency: rebase-and-retry over disjoint-partition racers
# (_commit_with_rebase). The race is injected deterministically: the first
# _commit_manifest attempt of the OUTER merge triggers a competing commit
# first, so the outer writer always loses version N and must rebase.
# ---------------------------------------------------------------------------


def _inject_race(monkeypatch, fire):
    """Patch sinks._commit_manifest so the first call runs `fire()` (a
    competing committer that itself uses the real commit path) before
    attempting the real commit — guaranteeing the patched caller loses."""
    real = sinks._commit_manifest
    state = {"armed": True}

    def racing(path, manifest):
        if state["armed"]:
            state["armed"] = False
            fire()
        return real(path, manifest)

    monkeypatch.setattr(sinks, "_commit_manifest", racing)


def test_manifest_rebase_disjoint_writers_both_succeed(
    spark, tmp_path, monkeypatch
):
    """Two merges racing on DISJOINT partitions: the loser rebases onto the
    winner's manifest (metadata-only — its data files are already final)
    and commits the next version; both writers' rows land, versions are
    sequential, and the change feed sees both commits."""
    path = str(tmp_path / "race_disjoint")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(3, "c", 3.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    n = sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(2, "b", 2.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    assert n == 1
    assert sinks.manifest_versions(path) == [1, 2, 3]
    assert _read_manifest_rows(spark, path) == {
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)
    }
    # the rebased commit (v3) records exactly the loser's partition as
    # changed — the winner's entry carried through untouched
    assert set(sinks.manifest_changed_partitions(path, 2, 3)) == {"b"}
    assert set(sinks.manifest_changed_partitions(path, 1, 2)) == {"c"}


def test_manifest_rebase_same_partition_conflicts(spark, tmp_path, monkeypatch):
    """A race on the SAME partition cannot be rebased — the loser's merged
    rows were computed from a now-replaced snapshot of that partition — and
    must surface ConcurrentWriteError; re-running the merge then converges
    with update-wins semantics."""
    path = str(tmp_path / "race_overlap")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(2, "a", 20.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    ours = spark.createDataFrame([(1, "a", 9.0)], "id long, day string, v double")
    with pytest.raises(sinks.ConcurrentWriteError, match="also rewrote"):
        sinks.merge_upsert_manifest(spark, ours, path, ["id"], partition_col="day")
    # the documented recovery: re-read + re-run (race is gone now)
    sinks.merge_upsert_manifest(spark, ours, path, ["id"], partition_col="day")
    assert _read_manifest_rows(spark, path) == {(1, "a", 9.0), (2, "a", 20.0)}


def test_manifest_rebase_rechecks_moved_keys(spark, tmp_path, monkeypatch):
    """The no-key-spans-partitions invariant is re-checked against the
    partitions the WINNER changed: if the competing commit introduced one
    of our update keys under another partition, rebasing would duplicate
    the key — the loser must fail, not commit."""
    path = str(tmp_path / "race_moved")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(5, "c", 5.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    with pytest.raises(ValueError, match="competing commit introduced"):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(5, "b", 50.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )


def test_manifest_rebase_unions_schema_evolution(spark, tmp_path, monkeypatch):
    """Racers that evolved the schema independently rebase to the UNION:
    the winner's appended column survives the loser's commit (which never
    saw it), and prefixes that lack it read NULL under the authoritative
    stored schema."""
    path = str(tmp_path / "race_schema")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(3, "c", 3.0, "X")], "id long, day string, v double, x string"
            ),
            path,
            ["id"],
            partition_col="day",
            schema_evolution=True,
        )

    _inject_race(monkeypatch, competitor)
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(2, "b", 2.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    got = {
        (r["id"], r["day"], r["v"], r["x"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }
    assert got == {(1, "a", 1.0, None), (2, "b", 2.0, None), (3, "c", 3.0, "X")}


def test_manifest_rebase_takes_wider_type(spark, tmp_path, monkeypatch):
    """A widening race (winner widened a shared column, loser did not)
    rebases to the wider type; the loser's just-written narrow files read
    widened — same reader contract as single-writer widening."""
    path = str(tmp_path / "race_widen")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(1, "a", 10)], "id long, day string, n int"),
        path,
        ["id"],
        partition_col="day",
    )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(3, "c", 2**40)], "id long, day string, n bigint"
            ),
            path,
            ["id"],
            partition_col="day",
            schema_evolution=True,
        )

    _inject_race(monkeypatch, competitor)
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(2, "b", 20)], "id long, day string, n int"),
        path,
        ["id"],
        partition_col="day",
    )
    df = sinks.read_manifest_table(spark, path)
    assert dict(df.dtypes)["n"] == "bigint"
    assert {(r["id"], r["n"]) for r in df.collect()} == {
        (1, 10), (2, 20), (3, 2**40)
    }


def test_manifest_compaction_rebases_over_disjoint_merge(
    spark, tmp_path, monkeypatch
):
    """Compaction racing a merge on a DIFFERENT partition rebases cleanly:
    the merge's new rows survive, the compacted partition's pointer flips,
    nothing is lost."""
    path = str(tmp_path / "race_compact")
    for v in (1.0, 2.0):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(int(v), "a", v)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(9, "z", 9.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    # cluster_by forces the rewrite even if partition "a" is already at
    # target file count — the point here is the commit race, not the size
    out = sinks.compact_manifest(
        spark, path, partition_values=["a"], cluster_by=["id"]
    )
    assert out["partitions"] == 1
    assert _read_manifest_rows(spark, path) == {
        (1, "a", 1.0), (2, "a", 2.0), (9, "z", 9.0)
    }


# ---------------------------------------------------------------------------
# Metadata-only aggregates: manifest_count / manifest_column_bounds
# ---------------------------------------------------------------------------


def _build_stats_table(spark, path):
    """Two day-partitions, id-clustered into several files per partition so
    per-file id bounds are tight and mostly decidable."""
    df = spark.range(0, 10000).select(
        F.col("id"),
        F.when(F.col("id") < 6000, "a").otherwise("b").alias("day"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    sinks.compact_manifest(
        spark, path, target_file_bytes=8192, cluster_by=["id"]
    )
    return df


def test_manifest_count_no_predicate_is_pure_metadata(spark, tmp_path):
    path = str(tmp_path / "cnt")
    _build_stats_table(spark, path)
    out = sinks.manifest_count(spark, path)
    assert out["count"] == 10000
    assert out["files_scanned"] == 0 and out["prefixes_scanned"] == 0
    assert out["files_metadata"] > 0
    # partition-pruned metadata count
    out_a = sinks.manifest_count(spark, path, partition_values=["a"])
    assert out_a["count"] == 6000 and out_a["files_scanned"] == 0


def test_manifest_count_predicate_scans_only_boundary_files(spark, tmp_path):
    """id-clustered layout: a range predicate is DECIDED by bounds for all
    but the boundary file(s) — exact count, minimal scan."""
    path = str(tmp_path / "cnt_pred")
    _build_stats_table(spark, path)
    out = sinks.manifest_count(spark, path, predicates=[("id", "<", 2500)])
    assert out["count"] == 2500
    assert out["files_scanned"] <= 2  # the straddling file(s) only
    assert out["files_metadata"] >= 1  # interior files decided by bounds
    # and a conjunction mixing decided + residual predicates stays exact
    out2 = sinks.manifest_count(
        spark, path, predicates=[("id", ">=", 1000), ("v", "=", 0.0)]
    )
    brute = (
        sinks.read_manifest_table(spark, path)
        .filter((F.col("id") >= 1000) & (F.col("v") == 0.0))
        .count()
    )
    assert out2["count"] == brute


def test_manifest_count_nulls_never_miscounted(spark, tmp_path):
    """Files containing NULLs in a predicate column are never counted from
    metadata (NULL satisfies no comparison) — parity with a real scan."""
    path = str(tmp_path / "cnt_null")
    df = spark.range(0, 100).select(
        F.col("id"),
        F.lit("a").alias("day"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("n"),
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    out = sinks.manifest_count(spark, path, predicates=[("n", ">=", 0)])
    assert out["count"] == 90
    # at least one file contains NULLs, and such a file can never be
    # metadata-decided for an n-predicate — it must be scanned (null-free
    # files MAY decide from metadata, depending on write layout)
    assert out["files_scanned"] >= 1


def test_manifest_column_bounds_metadata_only(spark, tmp_path):
    path = str(tmp_path / "bounds")
    _build_stats_table(spark, path)
    b = sinks.manifest_column_bounds(path, "id")
    assert (b["min"], b["max"], b["nulls"], b["rows"]) == (0, 9999, 0, 10000)
    b_a = sinks.manifest_column_bounds(path, "id", partition_values=["b"])
    assert (b_a["min"], b_a["max"]) == (6000, 9999)


def test_manifest_column_bounds_null_columns_honest(spark, tmp_path):
    """A column with NULLs reports the true null count; an all-NULL file
    constrains nothing; a column with unrecordable bounds answers None,
    never a wrong bound."""
    path = str(tmp_path / "bounds_null")
    df = spark.range(0, 50).select(
        F.col("id"),
        F.lit("a").alias("day"),
        F.when(F.col("id") < 10, None).otherwise(F.col("id")).alias("n"),
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    b = sinks.manifest_column_bounds(path, "n")
    assert b["nulls"] == 10 and b["rows"] == 50
    assert b["min"] == 10 and b["max"] == 49
    # column absent from stats (e.g. never recorded) → None components
    missing = sinks.manifest_column_bounds(path, "nope")
    assert missing["min"] is None and missing["max"] is None


# ---------------------------------------------------------------------------
# Partition-level bloom index: point-lookup pruning on unclustered keys
# ---------------------------------------------------------------------------


def _bloom_table(spark, path, n_parts=4, rows_per_part=500):
    """ids are globally unique and striped so every partition's id RANGE
    overlaps every other's — min/max stats can never prune a point lookup,
    which is exactly the bloom's job."""
    df = spark.range(0, n_parts * rows_per_part).select(
        F.col("id"),
        F.concat(F.lit("p"), (F.col("id") % n_parts).cast("string")).alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    sinks.merge_upsert_manifest(
        spark, df, path, ["id"], partition_col="day", bloom_cols=["id"]
    )
    return df


def test_bloom_lookup_prunes_other_partitions(spark, tmp_path):
    path = str(tmp_path / "bloom")
    _bloom_table(spark, path)
    # id=8 lives in partition p0 (8 % 4 == 0)
    r = sinks.manifest_bloom_lookup(spark, path, "id", [8])
    assert "p0" in r["maybe"]
    assert r["no_bloom"] == []
    # deterministic hashing: at ~1% fp rate over 3 other partitions the
    # expected outcome is full pruning; assert at least substantial pruning
    # so a single deterministic collision can't flake the test
    assert len(r["pruned"]) >= 2
    # multi-value probe: partitions for any of the values stay
    r2 = sinks.manifest_bloom_lookup(spark, path, "id", [8, 9])
    assert {"p0", "p1"} <= set(r2["maybe"])


def test_bloom_point_lookup_parity_with_full_scan(spark, tmp_path):
    path = str(tmp_path / "bloom_par")
    _bloom_table(spark, path)
    want = [8, 13, 1999]
    got = {
        tuple(r)
        for r in sinks.read_manifest_point_lookup(spark, path, "id", want).collect()
    }
    full = {
        tuple(r)
        for r in sinks.read_manifest_table(spark, path)
        .filter(F.col("id").isin(want))
        .collect()
    }
    assert got == full and len(got) == 3
    # absent key: exact result is empty regardless of bloom false positives
    assert (
        sinks.read_manifest_point_lookup(spark, path, "id", [10**12]).count() == 0
    )


def test_bloom_survives_compaction_and_vacuum(spark, tmp_path):
    import os

    path = str(tmp_path / "bloom_compact")
    _bloom_table(spark, path)
    sinks.compact_manifest(spark, path, cluster_by=["v"])
    m = sinks.read_manifest(path)
    for e in m["partitions"].values():
        assert e["blooms"]["id"]["k"] == 7
        assert os.path.exists(
            os.path.join(path, e["prefix"], sinks._bloom_name("id"))
        )
    sinks.vacuum_manifest(path, min_age_sec=0)
    r = sinks.manifest_bloom_lookup(spark, path, "id", [8])
    assert "p0" in r["maybe"] and r["no_bloom"] == []
    got = sinks.read_manifest_point_lookup(spark, path, "id", [8]).collect()
    assert len(got) == 1 and got[0]["id"] == 8


def test_bloom_mixed_commits_and_guards(spark, tmp_path):
    """Partitions committed WITHOUT a bloom are always scanned (no_bloom);
    NULL probes and unknown columns are rejected; a bloom column missing
    from the batch raises before any write."""
    path = str(tmp_path / "bloom_mixed")
    a = spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double")
    sinks.merge_upsert_manifest(spark, a, path, ["id"], partition_col="day")
    b = spark.createDataFrame([(2, "b", 2.0)], "id long, day string, v double")
    sinks.merge_upsert_manifest(
        spark, b, path, ["id"], partition_col="day", bloom_cols=["id"]
    )
    r = sinks.manifest_bloom_lookup(spark, path, "id", [1])
    assert r["no_bloom"] == ["a"]  # pre-bloom partition must be scanned
    assert sinks.read_manifest_point_lookup(spark, path, "id", [1]).count() == 1
    with pytest.raises(ValueError, match="non-NULL"):
        sinks.manifest_bloom_lookup(spark, path, "id", [None])
    with pytest.raises(ValueError, match="not in table schema"):
        sinks.manifest_bloom_lookup(spark, path, "nope", [1])
    with pytest.raises(ValueError, match="bloom_cols"):
        sinks.merge_upsert_manifest(
            spark, b, path, ["id"], partition_col="day", bloom_cols=["ghost"]
        )


def test_bloom_string_keys_type_faithful(spark, tmp_path):
    """String keys hash through the same typed Spark expressions on build
    and probe — lookup of a string key finds its partition."""
    path = str(tmp_path / "bloom_str")
    rows = [(f"doc_{i}", f"p{i % 3}", float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc string, day string, v double")
    sinks.merge_upsert_manifest(
        spark, df, path, ["doc"], partition_col="day", bloom_cols=["doc"]
    )
    r = sinks.manifest_bloom_lookup(spark, path, "doc", ["doc_7"])
    assert "p1" in r["maybe"]  # 7 % 3 == 1
    out = sinks.read_manifest_point_lookup(spark, path, "doc", ["doc_7"]).collect()
    assert len(out) == 1 and out[0]["doc"] == "doc_7"


# ---------------------------------------------------------------------------
# Row-level DELETE on manifest tables
# ---------------------------------------------------------------------------


def _delete_table(spark, path):
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(30)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    return df


def test_delete_rows_predicate_and_null_semantics(spark, tmp_path):
    """DELETE WHERE v >= 20 removes exactly those rows; rows where the
    predicate is NULL are KEPT (SQL DELETE semantics)."""
    path = str(tmp_path / "del")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 25.0), (3, "a", None), (4, "b", 30.0)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    out = sinks.delete_manifest_rows(spark, path, [("v", ">=", 20.0)])
    assert out["deleted"] == 2
    got = {(r["id"], r["v"]) for r in sinks.read_manifest_table(spark, path).collect()}
    assert got == {(1, 1.0), (3, None)}
    # partition b was fully emptied → entry dropped
    assert out["partitions_dropped"] == 1
    assert "b" not in sinks.read_manifest(path)["partitions"]
    with pytest.raises(ValueError, match="no predicate"):
        sinks.delete_manifest_rows(spark, path, [])


def test_delete_skips_partitions_via_stats_and_scan(spark, tmp_path):
    """Partitions whose recorded bounds exclude the predicate are never
    opened; maybe-partitions with no actual match are scanned but not
    rewritten (prefixes byte-identical)."""
    import os

    path = str(tmp_path / "del_stats")
    _delete_table(spark, path)  # ids 0..29 across d0/d1/d2 (id % 3)
    m0 = sinks.read_manifest(path)
    before = {
        k: (e["prefix"],
            sorted(os.listdir(os.path.join(path, e["prefix"]))))
        for k, e in m0["partitions"].items()
    }
    # v == 27.0 exists only in d0 (27 % 3 == 0); bounds on v are per-file
    out = sinks.delete_manifest_rows(spark, path, [("v", "=", 27.0)])
    assert out["deleted"] == 1 and out["partitions_rewritten"] == 1
    assert out["partitions_skipped_stats"] + out["partitions_skipped_scan"] == 2
    m1 = sinks.read_manifest(path)
    for k in ("d1", "d2"):  # untouched partitions: same prefix, same files
        assert m1["partitions"][k]["prefix"] == before[k][0]
        assert (
            sorted(os.listdir(os.path.join(path, m1["partitions"][k]["prefix"])))
            == before[k][1]
        )
    got = {r["id"] for r in sinks.read_manifest_table(spark, path).collect()}
    assert got == set(range(30)) - {27}


def test_delete_time_travel_and_cdc(spark, tmp_path):
    """Old snapshots keep deleted rows (undelete window); the change feed
    reports the deleted rows as deletes — including a dropped partition."""
    path = str(tmp_path / "del_cdc")
    _delete_table(spark, path)
    v1 = sinks.read_manifest(path)["version"]
    sinks.delete_manifest_rows(spark, path, [("day", "=", "d1")])
    v2 = sinks.read_manifest(path)["version"]
    # time travel: v1 still has everything
    assert sinks.read_manifest_table(spark, path, version=v1).count() == 30
    assert sinks.read_manifest_table(spark, path).count() == 20
    feed = sinks.manifest_row_changes(spark, path, ["id"], v1, v2)
    rows = feed.collect()
    assert {r["_change"] for r in rows} == {"delete"}
    assert {r["id"] for r in rows} == {i for i in range(30) if i % 3 == 1}


def test_delete_rebuilds_bloom_and_preserves_lookup(spark, tmp_path):
    path = str(tmp_path / "del_bloom")
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", float(i)) for i in range(400)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(
        spark, df, path, ["id"], partition_col="day", bloom_cols=["id"]
    )
    sinks.delete_manifest_rows(spark, path, [("id", "=", 8)])
    m = sinks.read_manifest(path)
    assert m["partitions"]["p0"].get("blooms", {}).get("id")
    # deleted key: exact lookup finds nothing; surviving key still found
    assert sinks.read_manifest_point_lookup(spark, path, "id", [8]).count() == 0
    got = sinks.read_manifest_point_lookup(spark, path, "id", [9]).collect()
    assert len(got) == 1 and got[0]["id"] == 9


def test_delete_rebase_over_disjoint_merge(spark, tmp_path, monkeypatch):
    """A delete racing a merge on another partition rebases — both land."""
    path = str(tmp_path / "del_race")
    _delete_table(spark, path)

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(100, "zz", 100.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    out = sinks.delete_manifest_rows(spark, path, [("day", "=", "d2")])
    assert out["partitions_dropped"] == 1
    got = {r["id"] for r in sinks.read_manifest_table(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 != 2} | {100}


def test_manifest_history(spark, tmp_path):
    """DESCRIBE HISTORY: one row per retained version, monotone commit
    times, correct changed-partition attribution including a delete-drop;
    vacuum truncates the log to the kept window."""
    path = str(tmp_path / "hist")
    for i, day in enumerate(["a", "b"]):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(i, day, float(i))], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )
    sinks.delete_manifest_rows(spark, path, [("day", "=", "a")])
    h = sinks.manifest_history(path)
    assert [r["version"] for r in h] == [1, 2, 3]
    assert h[0]["changed_partitions"] == ["a"]
    assert h[1]["changed_partitions"] == ["b"]
    assert h[2]["changed_partitions"] == ["a"]  # dropped counts as changed
    assert h[2]["partitions"] == 1 and h[2]["rows"] == 1
    assert all(r["rows"] is not None and r["files"] >= 1 for r in h)
    ts = [r["committed_at"] for r in h]
    assert ts == sorted(ts)
    sinks.vacuum_manifest(path, keep_last=1, min_age_sec=0)
    assert [r["version"] for r in sinks.manifest_history(path)] == [3]


# ---------------------------------------------------------------------------
# Row-level UPDATE on manifest tables
# ---------------------------------------------------------------------------


def test_update_rows_expressions_and_null_semantics(spark, tmp_path):
    """SET v = v*2, tag = 'hot' WHERE v >= 20: expressions see the row's
    own columns; NULL-predicate rows are untouched; non-matching rows in
    rewritten partitions are byte-equal in value."""
    path = str(tmp_path / "upd")
    df = spark.createDataFrame(
        [(1, "a", 1.0, "cold"), (2, "a", 25.0, "cold"),
         (3, "a", None, "cold"), (4, "b", 30.0, "cold")],
        "id long, day string, v double, tag string",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    out = sinks.update_manifest_rows(
        spark, path,
        {"v": F.col("v") * 2, "tag": "hot"},
        [("v", ">=", 20.0)],
    )
    assert out["updated"] == 2 and out["partitions_rewritten"] == 2
    got = {
        (r["id"], r["v"], r["tag"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }
    assert got == {
        (1, 1.0, "cold"), (2, 50.0, "hot"), (3, None, "cold"), (4, 60.0, "hot")
    }


def test_update_narrowing_time_travel_cdc_and_guards(spark, tmp_path):
    import os

    path = str(tmp_path / "upd_nar")
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(30)],
        "id long, day string, v double",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    v1 = sinks.read_manifest(path)["version"]
    before = {
        k: e["prefix"] for k, e in sinks.read_manifest(path)["partitions"].items()
    }
    # v = 27.0 lives only in d0
    out = sinks.update_manifest_rows(
        spark, path, {"v": 999.0}, [("v", "=", 27.0)]
    )
    assert out["updated"] == 1 and out["partitions_rewritten"] == 1
    assert out["partitions_skipped_stats"] + out["partitions_skipped_scan"] == 2
    m1 = sinks.read_manifest(path)
    for k in ("d1", "d2"):
        assert m1["partitions"][k]["prefix"] == before[k]
    # time travel keeps the pre-update value; CDC reports the postimage
    old = sinks.read_manifest_table(spark, path, version=v1)
    assert old.filter(F.col("id") == 27).collect()[0]["v"] == 27.0
    feed = sinks.manifest_row_changes(spark, path, ["id"], v1)
    rows = feed.collect()
    assert [(r["id"], r["v"], r["_change"]) for r in rows] == [
        (27, 999.0, "update_postimage")
    ]
    # guards
    with pytest.raises(ValueError, match="partition column"):
        sinks.update_manifest_rows(spark, path, {"day": "x"}, [("id", "=", 1)])
    with pytest.raises(ValueError, match="unknown columns"):
        sinks.update_manifest_rows(spark, path, {"ghost": 1}, [("id", "=", 1)])
    with pytest.raises(ValueError, match="no predicate"):
        sinks.update_manifest_rows(spark, path, {"v": 0.0}, [])
    with pytest.raises(ValueError, match="at least one assignment"):
        sinks.update_manifest_rows(spark, path, {}, [("id", "=", 1)])


def test_update_rebuilds_bloom_and_pins_type(spark, tmp_path):
    """Bloom sidecars survive the rewrite; the assignment is pinned to the
    column's declared type, so an expression whose result can't fit FAILS
    LOUDLY (ANSI cast overflow) instead of silently re-typing the column
    or wrapping the value."""
    path = str(tmp_path / "upd_bloom")
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i) for i in range(400)],
        "id long, day string, n int",
    )
    sinks.merge_upsert_manifest(
        spark, df, path, ["id"], partition_col="day", bloom_cols=["id"]
    )
    sinks.update_manifest_rows(
        spark, path, {"n": F.col("n") + 1}, [("id", "=", 8)]
    )
    t = sinks.read_manifest_table(spark, path)
    assert dict(t.dtypes)["n"] == "int"  # declared type pinned
    got = sinks.read_manifest_point_lookup(spark, path, "id", [8]).collect()
    assert len(got) == 1 and got[0]["n"] == 9  # bloom survived the rewrite
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        sinks.update_manifest_rows(
            spark, path, {"n": F.col("n") + F.lit(2**40)}, [("id", "=", 8)]
        )
    # the failed update never committed: table unchanged
    assert sinks.read_manifest_point_lookup(spark, path, "id", [8]).collect()[
        0
    ]["n"] == 9


def test_read_manifest_increment_consumer_loop(spark, tmp_path):
    """The CDC consumer loop: first run surfaces the table as inserts;
    commit() advances only when called (crash-replay = same window);
    subsequent increments carry exactly the merge/delete changes; a
    consumer lagging past vacuum retention fails loudly."""
    path = str(tmp_path / "inc_src")
    state = str(tmp_path / "consumer.json")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"
        ),
        path,
        ["id"],
        partition_col="day",
    )
    # first run: everything is an insert
    changes, commit = sinks.read_manifest_increment(spark, path, ["id"], state)
    assert {(r["id"], r["_change"]) for r in changes.collect()} == {
        (1, "insert"), (2, "insert")
    }
    # crash before commit: the SAME window replays
    changes2, commit2 = sinks.read_manifest_increment(spark, path, ["id"], state)
    assert changes2.count() == 2
    commit2()
    # nothing new → empty with the feed schema
    changes3, commit3 = sinks.read_manifest_increment(spark, path, ["id"], state)
    assert changes3.count() == 0 and "_change" in changes3.columns
    commit3()
    # a merge + a delete later...
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame([(3, "c", 3.0)], "id long, day string, v double"),
        path,
        ["id"],
        partition_col="day",
    )
    sinks.delete_manifest_rows(spark, path, [("day", "=", "a")])
    changes4, commit4 = sinks.read_manifest_increment(spark, path, ["id"], state)
    assert {(r["id"], r["_change"]) for r in changes4.collect()} == {
        (3, "insert"), (1, "delete")
    }
    commit4()
    # consumer lags beyond retention → loud, not silent
    for i in range(3):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(10 + i, "z", 0.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )
    sinks.vacuum_manifest(path, keep_last=1, min_age_sec=0)
    with pytest.raises(FileNotFoundError):
        df, _ = sinks.read_manifest_increment(spark, path, ["id"], state)
        df.collect()


# ---------------------------------------------------------------------------
# Snapshot tags: pinned, vacuum-protected dataset versions
# ---------------------------------------------------------------------------


def test_manifest_tags_pin_reproducible_datasets(spark, tmp_path):
    """Tag a corpus version, keep mutating the table: the tag reads
    byte-identically forever, survives vacuum while untagged history is
    reclaimed, and is immutable until explicitly deleted."""
    path = str(tmp_path / "tags")
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"
        ),
        path,
        ["id"],
        partition_col="day",
    )
    v = sinks.manifest_tag(path, "corpus-v1")
    assert sinks.manifest_tags(path) == {"corpus-v1": v}
    # table keeps moving: update, delete, more merges
    sinks.update_manifest_rows(spark, path, {"v": 10.0}, [("id", "=", 1)])
    sinks.delete_manifest_rows(spark, path, [("day", "=", "b")])
    for i in range(3, 6):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(i, "c", float(i))], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )
    pinned = {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path, version="corpus-v1").collect()
    }
    assert pinned == {(1, 1.0), (2, 2.0)}
    # vacuum reclaims everything the tag doesn't protect — the tag still reads
    sinks.vacuum_manifest(path, keep_last=1, min_age_sec=0)
    assert sinks.manifest_versions(path) == sorted({v, max(sinks.manifest_versions(path))})
    still = {
        (r["id"], r["v"])
        for r in sinks.read_manifest_table(spark, path, version="corpus-v1").collect()
    }
    assert still == pinned
    # metadata readers accept the tag too
    assert sinks.manifest_count(spark, path, version="corpus-v1")["count"] == 2
    # immutability + lifecycle
    with pytest.raises(ValueError, match="immutable"):
        sinks.manifest_tag(path, "corpus-v1")
    with pytest.raises(FileNotFoundError, match="no tag"):
        sinks.read_manifest_table(spark, path, version="corpus-v2").count()
    with pytest.raises(ValueError, match="invalid tag name"):
        sinks.manifest_tag(path, "../evil")
    with pytest.raises(ValueError, match="invalid tag name"):
        sinks.manifest_tag(path, "")
    sinks.manifest_delete_tag(path, "corpus-v1")
    sinks.vacuum_manifest(path, keep_last=1, min_age_sec=0)
    assert len(sinks.manifest_versions(path)) == 1  # pinned snapshot reclaimed
    with pytest.raises(FileNotFoundError):
        sinks.manifest_delete_tag(path, "corpus-v1")


# ---------------------------------------------------------------------------
# UPDATE pre-image semantics and DML rebase predicate re-check (round-5
# self-review fixes)
# ---------------------------------------------------------------------------


def test_update_multi_assignment_sees_preimage(spark, tmp_path):
    """Every assignment and the predicate evaluate against the PRE-update
    row (SQL UPDATE). Regression: sequential withColumn let the second
    assignment's when(v>=20) see the first assignment's v=0.0, so tag
    stayed 'cold' — the updated subset depended on dict order."""
    path = str(tmp_path / "upd_pre")
    df = spark.createDataFrame(
        [(1, "a", 25.0, "cold"), (2, "a", 5.0, "cold")],
        "id long, day string, v double, tag string",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    out = sinks.update_manifest_rows(
        spark, path,
        {"v": 0.0, "tag": "hot"},       # v assigned BEFORE tag in dict order
        [("v", ">=", 20.0)],            # ...and v is the predicate column
    )
    assert out["updated"] == 1
    got = {
        (r["id"], r["v"], r["tag"])
        for r in sinks.read_manifest_table(spark, path).collect()
    }
    assert got == {(1, 0.0, "hot"), (2, 5.0, "cold")}


def test_update_assignment_swap_uses_preimage(spark, tmp_path):
    """SET a = b, b = a swaps (both RHS see the original row)."""
    path = str(tmp_path / "upd_swap")
    df = spark.createDataFrame(
        [(1, "x", 10.0, 20.0)], "id long, day string, a double, b double"
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")
    sinks.update_manifest_rows(
        spark, path,
        {"a": F.col("b"), "b": F.col("a")},
        [("id", "=", 1)],
    )
    [r] = sinks.read_manifest_table(spark, path).collect()
    assert (r["a"], r["b"]) == (20.0, 10.0)


def test_delete_rebase_conflicts_on_matching_competitor(
    spark, tmp_path, monkeypatch
):
    """A delete racing a merge that re-introduces rows MATCHING the delete
    predicate into an untouched partition must refuse to commit: silently
    succeeding would leave user_id-42-style rows in the table strictly
    after the delete's own commit (GDPR erasure hole). The competitor's
    recorded file bounds prove the overlap metadata-only."""
    path = str(tmp_path / "del_race_conflict")
    _delete_table(spark, path)  # ids 0..29, v=id, over days d0/d1/d2

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(100, "zz", 99.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    with pytest.raises(sinks.ConcurrentWriteError, match="predicate"):
        sinks.delete_manifest_rows(spark, path, [("v", ">=", 20.0)])
    # the delete did NOT commit: matching rows survive, including the
    # competitor's v=99 row the delete never saw
    got = {
        r["id"]
        for r in sinks.read_manifest_table(spark, path).collect()
        if r["v"] >= 20.0
    }
    assert got == set(range(20, 30)) | {100}


def test_update_rebase_conflicts_on_matching_competitor(
    spark, tmp_path, monkeypatch
):
    """Same re-check on the UPDATE path: a competitor adding rows the
    predicate matches forces a re-run instead of a silent partial update."""
    path = str(tmp_path / "upd_race_conflict")
    _delete_table(spark, path)

    def competitor():
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(101, "zz", 77.0)], "id long, day string, v double"
            ),
            path,
            ["id"],
            partition_col="day",
        )

    _inject_race(monkeypatch, competitor)
    with pytest.raises(sinks.ConcurrentWriteError, match="predicate"):
        sinks.update_manifest_rows(
            spark, path, {"v": -1.0}, [("v", ">=", 20.0)]
        )


# ---------------------------------------------------------------------------
# CHECK constraints on manifest tables
# ---------------------------------------------------------------------------


def test_check_constraints_enforced_across_dml(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT ... CHECK: validated against existing
    data at add time, then enforced by every write verb BEFORE anything
    commits; SQL three-valued semantics (NULL passes); droppable."""
    path = str(tmp_path / "ck")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"
    )
    sinks.merge_upsert_manifest(spark, df, path, ["id"], partition_col="day")

    # a constraint current data violates is refused and NOT added
    with pytest.raises(sinks.ConstraintViolationError, match="nothing was committed"):
        sinks.manifest_add_constraint(spark, path, "v_big", "v >= 100")
    assert sinks.manifest_constraints(path) == {}
    # an unparseable expression is a config error, not a violation
    with pytest.raises(ValueError, match="failed to evaluate"):
        sinks.manifest_add_constraint(spark, path, "bad", "no_such_col > 0")

    sinks.manifest_add_constraint(spark, path, "v_nonneg", "v >= 0")
    assert sinks.manifest_constraints(path) == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="already exists"):
        sinks.manifest_add_constraint(spark, path, "v_nonneg", "v >= 1")

    v_before = sinks.read_manifest(path)["version"]
    # MERGE with a violating row: refused atomically
    with pytest.raises(sinks.ConstraintViolationError, match="v_nonneg"):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(3, "a", -5.0)], "id long, day string, v double"
            ),
            path, ["id"], partition_col="day",
        )
    assert sinks.read_manifest(path)["version"] == v_before
    assert sinks.read_manifest_table(spark, path).count() == 2
    # NULL passes (SQL CHECK), valid rows commit
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(3, "a", None), (4, "b", 4.0)], "id long, day string, v double"
        ),
        path, ["id"], partition_col="day",
    )
    assert sinks.read_manifest_table(spark, path).count() == 4

    # UPDATE assigning a violating value: refused, table unchanged
    with pytest.raises(sinks.ConstraintViolationError, match="UPDATE"):
        sinks.update_manifest_rows(
            spark, path, {"v": -1.0}, [("id", "=", 4)]
        )
    assert {r["v"] for r in sinks.read_manifest_table(spark, path).collect()} == {
        1.0, 2.0, None, 4.0
    }
    # replace-partitions with violating rows: refused
    with pytest.raises(sinks.ConstraintViolationError, match="replace"):
        sinks.replace_manifest_partitions(
            spark,
            spark.createDataFrame(
                [(9, "a", -2.0)], "id long, day string, v double"
            ),
            path, "day",
        )

    # drop → previously-violating write is accepted
    sinks.manifest_drop_constraint(spark, path, "v_nonneg")
    with pytest.raises(FileNotFoundError, match="no constraint"):
        sinks.manifest_drop_constraint(spark, path, "v_nonneg")
    sinks.update_manifest_rows(spark, path, {"v": -1.0}, [("id", "=", 4)])
    [r] = sinks.read_manifest_table(spark, path).filter("id = 4").collect()
    assert r["v"] == -1.0


def test_constraint_change_conflicts_with_inflight_write(
    spark, tmp_path, monkeypatch
):
    """A constraint added while a data write is in flight must conflict:
    the writer validated against the OLD constraint set, so a silent
    rebase could commit rows the new rule forbids."""
    path = str(tmp_path / "ck_race")
    _delete_table(spark, path)

    def competitor():
        sinks.manifest_add_constraint(spark, path, "v_cap", "v < 1000")

    _inject_race(monkeypatch, competitor)
    with pytest.raises(sinks.ConcurrentWriteError, match="constraints changed"):
        sinks.merge_upsert_manifest(
            spark,
            spark.createDataFrame(
                [(500, "zz", 5000.0)], "id long, day string, v double"
            ),
            path, ["id"], partition_col="day",
        )
    # the constraint won; the violating batch never landed
    assert sinks.manifest_constraints(path) == {"v_cap": "v < 1000"}
    assert sinks.read_manifest_table(spark, path).filter("id = 500").count() == 0


def test_restore_manifest_metadata_only_rollback(spark, tmp_path):
    """RESTORE TO VERSION: pointer-copy commit, zero data rewritten, bad
    versions stay readable, CDC reports the rewind as row changes, and a
    second restore undoes the first. Vacuumed snapshots refuse."""
    path = str(tmp_path / "restore")
    _delete_table(spark, path)  # v1: ids 0..29
    v1_rows = _read_manifest_rows(spark, path)
    sinks.delete_manifest_rows(spark, path, [("id", "<", 10)])  # v2
    sinks.merge_upsert_manifest(  # v3: bad batch to roll back
        spark,
        spark.createDataFrame([(99, "zz", -1.0)], "id long, day string, v double"),
        path, ["id"], partition_col="day",
    )
    files_before = {
        e["prefix"] for e in sinks.read_manifest(path, 1)["partitions"].values()
    }
    out = sinks.restore_manifest(spark, path, 1)
    assert out["restored_to"] == 1 and out["new_version"] == 4
    assert _read_manifest_rows(spark, path) == v1_rows
    # metadata-only: v4 references v1's prefixes verbatim
    files_after = {
        e["prefix"] for e in sinks.read_manifest(path)["partitions"].values()
    }
    assert files_after == files_before
    # forensics: the bad version is still readable until vacuum
    assert sinks.read_manifest_table(spark, path, version=3).filter(
        "id = 99"
    ).count() == 1
    # CDC across the restore: deleted rows come back as inserts, the bad
    # row as a delete
    feed = sinks.manifest_row_changes(spark, path, ["id"], 3, 4)
    by_change = {}
    for r in feed.collect():
        by_change.setdefault(r["_change"], set()).add(r["id"])
    assert {i for i in range(10)} <= by_change["insert"]
    assert 99 in by_change["delete"]
    # restore-of-restore returns to v3's state
    sinks.restore_manifest(spark, path, 3)
    assert sinks.read_manifest_table(spark, path).filter("id = 99").count() == 1
    # a restore target that vacuum reclaimed refuses loudly
    sinks.vacuum_manifest(path, keep_last=1, min_age_sec=0)
    with pytest.raises(FileNotFoundError):
        sinks.restore_manifest(spark, path, 1)
    # vacuum after restore kept every prefix the live version references
    # (v3's state: 30 − 10 deleted + the id=99 row)
    assert sinks.read_manifest_table(spark, path).count() == 21


def test_manifest_history_operation_tags(spark, tmp_path):
    """DESCRIBE HISTORY names the verb that wrote each version."""
    path = str(tmp_path / "ops")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        _delete_table(spark, path)                               # v1 merge
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    sinks.manifest_add_constraint(spark, path, "v_ok", "v >= 0")  # v2
    sinks.update_manifest_rows(spark, path, {"v": 0.0}, [("id", "=", 1)])  # v3
    sinks.delete_manifest_rows(spark, path, [("id", "=", 2)])     # v4
    stats = sinks.compact_manifest(spark, path)                   # v5
    assert stats["files_after"] < stats["files_before"]  # v5 really landed
    sinks.restore_manifest(spark, path, 4)                        # restore
    ops = [r["op"] for r in sinks.manifest_history(path)]
    assert ops[:4] == ["merge", "add_constraint", "update", "delete"]
    assert ops[-1] == "restore:v4"


def test_timestamp_file_stats_recorded_and_prune(spark, tmp_path):
    """Manifest data writes pin parquet timestamps to TIMESTAMP_MICROS:
    Spark's INT96 default carries NO parquet statistics, so timestamp
    bounds used to record null and time-range file skipping could never
    engage. Micros footers carry real bounds — and the session conf is
    restored after the write."""
    import datetime as dt

    path = str(tmp_path / "ts_stats")
    before = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    rows = [
        (1, "d1", dt.datetime(2024, 3, 5, 6, 0, tzinfo=dt.timezone.utc)),
        (2, "d2", dt.datetime(2024, 3, 9, 18, 0, tzinfo=dt.timezone.utc)),
    ]
    sinks.merge_upsert_manifest(
        spark,
        spark.createDataFrame(rows, "id long, day string, ts timestamp"),
        path, ["id"], partition_col="day",
    )
    assert spark.conf.get(
        "spark.sql.parquet.outputTimestampType", None
    ) == before
    m = sinks.read_manifest(path)
    st = m["partitions"]["d1"]["files"][0]["stats"]["ts"]
    assert st["min"] is not None and st["max"] is not None
    assert st["min"].startswith("2024-03-05")
    # the recorded bounds actually skip: a predicate outside d1's range
    # prunes its file away entirely
    pred = [("ts", ">=", dt.datetime(2024, 3, 8, tzinfo=dt.timezone.utc))]
    opened = sinks.manifest_scan_files(path, predicates=pred)
    assert len(opened) == 1 and "d2" in opened[0]
    got = sinks.read_manifest_table(spark, path, predicates=pred)
    assert [r.id for r in got.collect()] == [2]


def test_fused_write_large_fanout_uses_join_mapping(spark, tmp_path):
    """Round-7 review: fan-outs past _FUSED_WHEN_MAX partitions map ids
    through a broadcast join instead of a chained CASE WHEN (Catalyst
    analysis of a thousands-deep WHEN chain is quadratic). Same results,
    blooms included, NULL partition included."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "wide")
    n_parts = sinks._FUSED_WHEN_MAX + 36
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 97 == 0, None)
        .otherwise(F.col("id") % n_parts)
        .alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    sinks.merge_upsert_manifest(
        spark, df, path, ["k"], partition_col="day", bloom_cols=["k"]
    )
    m = sinks.read_manifest(path)
    assert len(m["partitions"]) == n_parts + 1  # + the NULL partition
    assert all(e.get("blooms", {}).get("k") for e in m["partitions"].values())
    out = sinks.read_manifest_table(spark, path)
    assert out.count() == 500
    assert sorted(r.k for r in out.collect()) == list(range(500))
    # bloom point lookup still prunes on the join-mapped sidecars
    got = sinks.read_manifest_point_lookup(spark, path, "k", [123])
    assert [r.v for r in got.collect()] == [246]


def test_timestamp_conf_refcounts_across_overlapping_writes(spark, tmp_path):
    """Round-7 review: overlapping manifest writes on one session must
    not strip the TIMESTAMP_MICROS conf from under each other — the
    inner exit keeps it set, only the last exit restores."""
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key, None)
    with sinks._timestamp_stats_conf(spark):
        assert spark.conf.get(key) == "TIMESTAMP_MICROS"
        with sinks._timestamp_stats_conf(spark):
            assert spark.conf.get(key) == "TIMESTAMP_MICROS"
        # inner exit: still pinned for the outer writer
        assert spark.conf.get(key) == "TIMESTAMP_MICROS"
    assert spark.conf.get(key, None) == before


def test_consume_table_changes_generalized_loop(spark, tmp_path):
    """The generalized exactly-once CDC consumer: bootstrap = full
    snapshot, increments = only the changed window, watermark atomic
    with output, junk-only windows advance via watermark-only commit,
    crash-before-watermark replays converge for idempotent apply_fns."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    sinks.merge_upsert_manifest(spark, df, src, ["k"], partition_col="day")

    seen_windows = []

    def apply_fn(feed, app_metadata):
        # maintain a filtered replica: only even v, deletes propagate
        seen_windows.append(
            sorted(r.k for r in feed.select("k").distinct().collect())
        )
        ups = feed.filter(
            F.col("_change").isin("insert", "update_postimage")
        ).filter("v % 4 = 0").drop("_change")
        sinks.merge_upsert_manifest(
            spark, ups.select("k", "day", "v"), tgt, keys=["k"],
            partition_col="day", app_metadata=app_metadata,
        )

    # bootstrap: full snapshot as inserts
    r1 = sinks.consume_table_changes(spark, src, ["k"], tgt, apply_fn)
    assert r1["bootstrapped"] and r1["advanced"]
    assert seen_windows[0] == list(range(10))
    assert sorted(
        r.k for r in sinks.read_manifest_table(spark, tgt).collect()
    ) == [0, 2, 4, 6, 8]

    # caught up: no-op, apply_fn not called
    assert sinks.consume_table_changes(
        spark, src, ["k"], tgt, apply_fn
    )["advanced"] is False
    assert len(seen_windows) == 1

    # incremental: only the delta reaches apply_fn
    up = spark.createDataFrame([(3, 1, 4), (20, 0, 8)],
                               "k long, day long, v long")
    sinks.merge_upsert_manifest(spark, up, src, ["k"], partition_col="day")
    r2 = sinks.consume_table_changes(spark, src, ["k"], tgt, apply_fn)
    assert r2["advanced"] and not r2["bootstrapped"]
    assert set(seen_windows[1]) <= {1, 3, 5, 7, 9, 20}  # day-1 + day-0 changed parts
    got = sorted(
        r.k for r in sinks.read_manifest_table(spark, tgt).collect()
    )
    assert got == [0, 2, 3, 4, 6, 8, 20]

    # junk-only window: nothing qualifies, watermark-only commit advances
    junk = spark.createDataFrame([(30, 0, 7)], "k long, day long, v long")
    sinks.merge_upsert_manifest(spark, junk, src, ["k"], partition_col="day")
    before_v = sinks.read_manifest(tgt)["version"]
    r3 = sinks.consume_table_changes(spark, src, ["k"], tgt, apply_fn)
    assert r3["advanced"]
    m = sinks.read_manifest(tgt)
    assert m["app"]["consumed_src_version"] == sinks.read_manifest(src)["version"]
    assert m["version"] == before_v + 1  # set_app commit only

    # crash-before-watermark replay: apply WITHOUT metadata, then rerun
    def forgetful(feed, app_metadata):
        ups = feed.filter(
            F.col("_change").isin("insert", "update_postimage")
        ).filter("v % 4 = 0").drop("_change")
        sinks.merge_upsert_manifest(
            spark, ups.select("k", "day", "v"), tgt, keys=["k"],
            partition_col="day",
        )  # no app_metadata — the simulated crash point

    up2 = spark.createDataFrame([(40, 0, 8)], "k long, day long, v long")
    sinks.merge_upsert_manifest(spark, up2, src, ["k"], partition_col="day")
    sinks.consume_table_changes(spark, src, ["k"], tgt, forgetful)
    # rerun with the proper consumer: already advanced (fallback commit)
    assert sinks.consume_table_changes(
        spark, src, ["k"], tgt, apply_fn
    )["advanced"] is False
    assert sorted(
        r.k for r in sinks.read_manifest_table(spark, tgt).collect()
    ) == [0, 2, 3, 4, 6, 8, 20, 40]


def test_decimal_footer_bounds_recorded_and_prune(spark, tmp_path):
    """Round-12: decimal columns with INT32/INT64 physical storage
    (Spark's layout for precision ≤ 18) carry footer bounds pyarrow's
    logical cast refuses — the writer recovers them exactly from the
    raw unscaled integers (`_decimal_raw_bounds`), so the decimal
    measures this repo's own oracle discipline recommends stay
    file-prunable. FLBA decimals (precision > 18) cast natively; both
    record real bounds and both actually skip files."""
    path = str(tmp_path / "dec_stats")
    df = spark.range(100).selectExpr(
        "id AS k",
        "CAST(id >= 50 AS INT) AS g",
        "CAST(id AS DECIMAL(18,2)) AS d18",
        "CAST(id AS DECIMAL(9,2)) AS d9",
        "CAST(id AS DECIMAL(28,2)) AS d28",
    )
    sinks.merge_upsert_manifest(spark, df, path, ["k"], partition_col="g")
    m = sinks.read_manifest(path)
    lo = m["partitions"]["0"]["files"][0]["stats"]
    hi = m["partitions"]["1"]["files"][0]["stats"]
    for c in ("d18", "d9", "d28"):
        assert lo[c]["min"] == 0.0 and lo[c]["max"] == 49.0, c
        assert hi[c]["min"] == 50.0 and hi[c]["max"] == 99.0, c
        # the recorded bounds actually skip files
        opened = sinks.manifest_scan_files(
            path, predicates=[(c, ">", 60)]
        )
        assert len(opened) == 1 and all("k" for f in opened), c
        got = sinks.read_manifest_table(
            spark, path, predicates=[(c, ">", 60)]
        )
        assert len(got.inputFiles()) == 1, c
        assert got.filter(f"{c} > 60").count() == 39, c
