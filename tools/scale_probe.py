"""Scale-linearity probe for the MinHash LSH banded join.

The 100 TB claim for `minhash_lsh_pairs` rests on candidate volume staying
~linear in corpus size (same-bucket docs only, never all pairs). No sf>0.1
testdata exists in this environment, so this probe replicates the sf0.1
documents table in memory N× (doc ids offset per replica, texts perturbed
with a replica tag so replicas aren't trivial exact dupes of each other)
and measures candidate-pair counts and wall time at 1x/4x/16x.

A quadratic regression would show candidates growing ~N²; linear behavior
shows ~N growth (each replica's near-dup structure is internal to the
replica, plus cross-replica collisions from shared band buckets).

Usage: python tools/scale_probe.py [op] [sf_dir] [factors...] [mode=...] [cap=N]
  op: minhash (default) | contamination | spans | tfidf | tfidf_mindf
      | unigram | ivf_drift | heavy_hitters | bloom_delete
  mode=clique | disjoint | tail | boilerplate (default: clique,disjoint)
  cap=N → minhash_lsh_pairs(max_bucket_size=N) (minhash op only)

The `boilerplate` mode prepends an IDENTICAL 40-token prefix to ~30% of
docs across ALL replicas — the crawl pathology (shared headers/footers/
license blocks) that makes some (band, band_hash) buckets O(corpus)-sized
and candidate pairs quadratic. The minhash JSON lines include bucket-size
stats (max/p99) so the cap's effect is directly visible: uncapped,
max_bucket ~0.3×corpus and pairs/doc grows with the corpus; with cap=N,
max surviving bucket ≤ N and pairs/doc stays flat, while above-threshold
output is unchanged (boilerplate-only overlap sits far below J=0.5; true
near-dups also collide in body-content bands).

The `tail` mode appends 8 per-doc unique tokens to every replica doc: the
synthetic corpus has a 31-term vocabulary with df >= 25 everywhere, so the
plain disjoint mode cannot model crawl-scale vocabulary growth (real crawls
are Zipfian — the df=1 tail of typos/ids/hashes dominates the vocabulary).
Under `tail`, vocab grows ~8 terms/doc with the corpus; `tfidf_mindf`
(min_df=2) drops that tail from the df side before the tf⋈dfreq join —
the measured difference is the value of the df-band pre-filter.
Prints one JSON line per factor. Results recorded in SCALE_NOTES.md.

The contamination probe keeps the eval pool FIXED (the base corpus's
doc_id%97 slice) while the corpus replicates — the realistic shape: the
benchmark doesn't grow with the crawl. Linear behavior = wall time ~corpus
size with flat match counts in disjoint mode.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def probe_ivf_drift() -> None:
    """Measure how incremental `ivf_index_add` degrades under distribution
    drift, and where a rebuild pays.

    Shape: build the index on G=8 gaussian clusters (4000 × 32d, seeded),
    then add drift batches whose cluster means are SHIFTED by 2σ along a
    fixed random direction, at 25% / 50% / 100% of the base size. After
    each step, report recall@5 of ivf_search(nprobe=2) vs brute-force
    ground truth (50 held-out queries: half base-distribution, half
    drifted — the realistic mixed workload) and the cell-size max/median
    ratio (probe-pruning quality: candidates scanned ∝ probed cell
    sizes). A final `build_ivf_index` rebuild at 100% shows the
    recoverable gap. One JSON line per step → SCALE_NOTES.
    """
    import numpy as np

    from f1_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_add,
        ivf_search,
    )
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    rng = np.random.default_rng(7)
    G, d, n_base, k, nprobe = 8, 32, 4000, 5, 2
    means = rng.normal(0, 1.5, (G, d))  # inter-centroid distance ~12σ
    # drift = EMERGING TOPICS: the drifted batches draw from G_new cluster
    # means the quantizer never saw (same prior). In high dimension a
    # small shift of existing means is near-orthogonal to every
    # inter-centroid axis and degrades nothing (measured: recall and
    # scanned-fraction flat at 6σ shifts); what actually hurts a stale
    # quantizer is new content piling into whichever old cells happen to
    # be nearest — hot cells, worse probe pruning, boundary splits.
    new_means = rng.normal(0, 1.5, (4, d))

    def make(n, offset, drifted):
        if drifted:
            g = rng.integers(0, len(new_means), n)
            base = new_means[g]
        else:
            g = rng.integers(0, G, n)
            base = means[g]
        vecs = base + rng.normal(0, 1.0, (n, d))
        return [(int(offset + i), [float(x) for x in vecs[i]]) for i in range(n)]

    def df_of(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    base_rows = make(n_base, 0, False)
    q_rows = make(25, 90_000_000, False) + make(25, 91_000_000, True)
    queries = df_of(q_rows)

    idx = "/tmp/ivf_drift_probe_idx"
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    build_ivf_index(df_of(base_rows), idx, nlist=G)
    corpus_rows = list(base_rows)
    added = 0

    def step(tag):
        corpus = df_of(corpus_rows)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(queries, corpus, k=k).collect()
        }

        def recall(np_):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_search(queries, idx, k=k, nprobe=np_).collect()
            }
            return round(len(got & truth) / len(truth), 3)

        cell_n = {
            r["cell"]: r["n"]
            for r in spark.read.parquet(f"{idx}/cells")
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        sizes = sorted(cell_n.values())
        med = sizes[len(sizes) // 2]
        # probe-pruning quality: fraction of the corpus a query actually
        # scans = sum of its probed cells' sizes / corpus (same centroid
        # assignment ivf_search uses, replicated here in numpy)
        cents = {
            r["cell"]: np.array(r["centroid"])
            for r in spark.read.parquet(f"{idx}/centroids").collect()
        }
        cell_ids = sorted(cents)
        cmat = np.stack([cents[c] for c in cell_ids])

        def scanned_frac(np_):
            total = 0
            for _qid, vec in q_rows:
                d2 = ((cmat - np.array(vec)) ** 2).sum(axis=1)
                probed = [cell_ids[i] for i in np.argsort(d2)[:np_]]
                total += sum(cell_n.get(c, 0) for c in probed)
            return round(total / (len(q_rows) * len(corpus_rows)), 3)

        print(json.dumps({
            "op": "ivf_drift",
            "step": tag,
            "corpus": len(corpus_rows),
            "added_frac": round(added / n_base, 2),
            "recall_at_5_nprobe2": recall(2),
            "recall_at_5_nprobe1": recall(1),
            "scanned_frac_nprobe2": scanned_frac(2),
            "scanned_frac_nprobe1": scanned_frac(1),
            "max_cell": sizes[-1],
            "median_cell": med,
            "imbalance": round(sizes[-1] / med, 2),
        }))

    step("base")
    for frac in (0.25, 0.25, 0.5):  # cumulative 25% / 50% / 100%
        n = int(n_base * frac)
        batch = make(n, 10_000_000 + added, True)
        ivf_index_add(df_of(batch), idx)
        corpus_rows += batch
        added += n
        step(f"add_{int(100 * added / n_base)}pct")
    build_ivf_index(df_of(corpus_rows), idx, nlist=G)
    step("rebuilt_at_100pct")
    shutil.rmtree(idx, ignore_errors=True)


def probe_heavy_hitters() -> None:
    """frequent_items' shuffle bound as the vocabulary grows 16× under a
    fixed heavy head (s=0.01): report distinct items (= naive GROUP BY
    shuffle keys), MG candidate count (= the two-phase bound), heavy
    hitters found, and wall time. One JSON line per multiplier →
    SCALE_NOTES "Heavy hitters" table."""
    import random

    from f1_data_pipeline_spark.operators import frequency as FQ
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    for mult in (1, 4, 16):
        vocab = 50_000 * mult
        rng = random.Random(7)
        rows = [(f"t_{rng.randrange(vocab)}",) for _ in range(vocab)]
        head = [(f"HEAD_{r}",) for r in range(10) for _ in range(vocab // 50)]
        df = (
            spark.createDataFrame(rows + head, "item string")
            .repartition(8)
            .cache()
        )
        n = df.count()
        t0 = time.time()
        n_hh = FQ.frequent_items(df, "item", min_share=0.01).count()
        dt = time.time() - t0
        n_cand = (
            FQ.mg_candidates(df, "item", 0.01).select("item").distinct().count()
        )
        n_distinct = df.distinct().count()
        print(json.dumps({
            "mult": mult, "rows": n, "distinct_items": n_distinct,
            "mg_candidates": n_cand, "heavy_found": n_hh,
            "sec": round(dt, 2),
        }))
        df.unpersist()


def probe_bloom_delete() -> None:
    """Bloom point-lookup pruning and DELETE narrowing as partition count
    grows: striped ids defeat min/max for the lookup (bloom's job);
    contiguous ids per partition let bounds skip the DELETE. One JSON
    line per table size → SCALE_NOTES "Bloom point-lookup and DELETE"
    tables."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    for n_parts, rows_per in ((16, 20_000), (64, 20_000)):
        work = tempfile.mkdtemp()
        try:
            n = n_parts * rows_per
            # striped ids: every partition's id range covers every probe
            path = os.path.join(work, "striped")
            df = spark.range(0, n).select(
                F.col("id"),
                (F.col("id") % n_parts).cast("string").alias("day"),
                F.col("id").cast("double").alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, df, path, ["id"], partition_col="day",
                bloom_cols=["id"],
            )
            t0 = time.time()
            r = sinks.manifest_bloom_lookup(spark, path, "id", [7, 12345])
            t_meta = time.time() - t0
            t0 = time.time()
            hits = sinks.read_manifest_point_lookup(
                spark, path, "id", [7, 12345]
            ).count()
            t_point = time.time() - t0
            t0 = time.time()
            full = (
                sinks.read_manifest_table(spark, path)
                .filter(F.col("id").isin([7, 12345]))
                .count()
            )
            t_full = time.time() - t0
            # contiguous ids: bounds can prove partitions untouched
            path2 = os.path.join(work, "contig")
            df2 = spark.range(0, n).select(
                F.col("id"),
                (F.col("id") / rows_per).cast("int").cast("string").alias("day"),
                F.col("id").cast("double").alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, df2, path2, ["id"], partition_col="day"
            )
            t0 = time.time()
            out = sinks.delete_manifest_rows(
                spark, path2, [("id", ">=", 100), ("id", "<", 200)]
            )
            t_del = time.time() - t0
            print(json.dumps({
                "parts": n_parts, "rows": n,
                "bloom_scanned": len(r["maybe"]) + len(r["no_bloom"]),
                "lookup_meta_sec": round(t_meta, 2),
                "point_sec": round(t_point, 2),
                "fullscan_sec": round(t_full, 2),
                "hits_parity": hits == full,
                "delete": out, "delete_sec": round(t_del, 2),
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_mor_delete() -> None:
    """Copy-on-write vs merge-on-read DELETE as the table grows: erase a
    FIXED small key set (100 striped ids — every partition holds a few,
    the GDPR-takedown shape) from tables of growing size. CoW rewrites
    every touched partition, so its cost and bytes grow with the table;
    MoR writes one tiny position-delete file per partition, so its cost
    tracks the MATCH count and stays flat. Also measures what MoR costs
    at read time (anti-join overhead on a full scan) and that compaction
    restores the clean-scan price. One JSON line per table size →
    SCALE_NOTES merge-on-read table."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    def _tree_bytes(root):
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def _new_prefix_bytes(path, from_v, to_v):
        before = sinks.read_manifest(path, from_v)["partitions"]
        after = sinks.read_manifest(path, to_v)["partitions"]
        old_prefixes = {e["prefix"] for e in before.values()}
        old_deletes = {
            d["prefix"] for e in before.values() for d in e.get("deletes") or ()
        }
        total = 0
        for e in after.values():
            if e["prefix"] not in old_prefixes:
                total += _tree_bytes(os.path.join(path, e["prefix"]))
            for d in e.get("deletes") or ():
                if d["prefix"] not in old_deletes:
                    total += _tree_bytes(os.path.join(path, d["prefix"]))
        return total

    spark = get_spark("scale_probe")
    for n_parts, rows_per in ((16, 20_000), (64, 20_000), (64, 80_000)):
        work = tempfile.mkdtemp()
        try:
            n = n_parts * rows_per
            frames = {}
            for name in ("cow", "mor"):
                path = os.path.join(work, name)
                df = spark.range(0, n).select(
                    F.col("id"),
                    (F.col("id") % n_parts).cast("string").alias("day"),
                    F.col("id").cast("double").alias("v"),
                )
                sinks.merge_upsert_manifest(
                    spark, df, path, ["id"], partition_col="day"
                )
                frames[name] = path
            preds = [("id", "<", 100)]  # striped: hits every partition
            t0 = time.time()
            r_cow = sinks.delete_manifest_rows(
                spark, frames["cow"], preds, mode="cow"
            )
            t_cow = time.time() - t0
            t0 = time.time()
            r_mor = sinks.delete_manifest_rows(
                spark, frames["mor"], preds, mode="mor"
            )
            t_mor = time.time() - t0
            cow_bytes = _new_prefix_bytes(frames["cow"], 1, 2)
            mor_bytes = _new_prefix_bytes(frames["mor"], 1, 2)
            t0 = time.time()
            n_mor = sinks.read_manifest_table(spark, frames["mor"]).count()
            t_read_mor = time.time() - t0
            t0 = time.time()
            n_cow = sinks.read_manifest_table(spark, frames["cow"]).count()
            t_read_cow = time.time() - t0
            t0 = time.time()
            sinks.compact_manifest(spark, frames["mor"])
            t_compact = time.time() - t0
            t0 = time.time()
            n_after = sinks.read_manifest_table(spark, frames["mor"]).count()
            t_read_folded = time.time() - t0
            print(json.dumps({
                "parts": n_parts, "rows": n,
                "deleted": r_mor["deleted"],
                "cow_sec": round(t_cow, 2), "mor_sec": round(t_mor, 2),
                "cow_mb_written": round(cow_bytes / 1e6, 2),
                "mor_kb_written": round(mor_bytes / 1e3, 1),
                "read_mor_sec": round(t_read_mor, 2),
                "read_cow_sec": round(t_read_cow, 2),
                "compact_sec": round(t_compact, 2),
                "read_folded_sec": round(t_read_folded, 2),
                "parity": n_mor == n_cow == n_after == n - r_cow["deleted"],
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_matview() -> None:
    """Materialized-view maintenance cost as the fact table grows: a fixed
    daily increment (2 touched partitions) against tables of 16/64/256
    partitions. Incremental refresh (rollup + CDC deltas) should stay
    FLAT while full recompute grows with the table. One JSON line per
    table size → SCALE_NOTES matview table."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import matview as MV
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    aggs = {"n": ("count", "*"), "sum_v": ("sum", "v"), "max_v": ("max", "v")}
    daggs = {"n": ("count", "*"), "sum_v": ("sum", "v")}
    for n_parts in (16, 64, 256):
        rows_per = 5_000
        work = tempfile.mkdtemp()
        try:
            src = os.path.join(work, "src")
            n = n_parts * rows_per
            df = spark.range(0, n).select(
                F.col("id"),
                (F.col("id") % n_parts).cast("string").alias("day"),
                (F.col("id") % 97).cast("string").alias("cat"),
                F.col("id").cast("double").alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, df, src, ["id"], partition_col="day"
            )
            tgt_r = os.path.join(work, "tgt_rollup")
            tgt_d = os.path.join(work, "tgt_delta")
            MV.refresh_rollup(spark, src, tgt_r, ["day", "cat"], aggs)
            MV.refresh_aggregate_deltas(
                spark, src, ["id"], tgt_d, ["cat"], daggs
            )
            # the daily increment: new + updated rows in 2 partitions
            inc = spark.range(n, n + 2_000).select(
                F.col("id"),
                (F.col("id") % 2).cast("string").alias("day"),
                (F.col("id") % 97).cast("string").alias("cat"),
                F.lit(1.0).alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, inc, src, ["id"], partition_col="day"
            )
            t0 = time.time()
            r = MV.refresh_rollup(spark, src, tgt_r, ["day", "cat"], aggs)
            t_roll = time.time() - t0
            t0 = time.time()
            MV.refresh_aggregate_deltas(spark, src, ["id"], tgt_d, ["cat"], daggs)
            t_delta = time.time() - t0
            t0 = time.time()
            full = (
                sinks.read_manifest_table(spark, src)
                .groupBy("day", "cat")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"),
                     F.max("v").alias("max_v"))
                .count()
            )
            t_full = time.time() - t0
            print(json.dumps({
                "parts": n_parts, "rows": n + 2_000,
                "refreshed_parts": r["partitions_refreshed"],
                "rollup_refresh_sec": round(t_roll, 2),
                "delta_refresh_sec": round(t_delta, 2),
                "full_recompute_sec": round(t_full, 2),
                "full_groups": full,
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_matview_crossover() -> None:
    """Incremental refresh vs full recompute across the changed-partition
    fraction × table size grid (round-7 verdict #3) — the measurement
    behind refresh_rollup's full_recompute_fraction default. Both
    strategies refresh IDENTICAL pre-states (two targets of one source)
    over the same increment; one JSON line per cell."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import matview as MV
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    aggs = {"n": ("count", "*"), "sum_v": ("sum", "v"), "max_v": ("max", "v")}
    for n_parts in (64, 256):
        rows_per = 5_000
        for frac in (0.02, 0.25, 0.5, 0.75, 1.0):
            k = max(1, int(round(frac * n_parts)))
            work = tempfile.mkdtemp()
            try:
                src = os.path.join(work, "src")
                n = n_parts * rows_per
                df = spark.range(0, n).select(
                    F.col("id"),
                    (F.col("id") % n_parts).cast("string").alias("day"),
                    (F.col("id") % 97).cast("string").alias("cat"),
                    F.col("id").cast("double").alias("v"),
                )
                sinks.merge_upsert_manifest(
                    spark, df, src, ["id"], partition_col="day"
                )
                tgt_i = os.path.join(work, "tgt_incr")
                tgt_f = os.path.join(work, "tgt_full")
                MV.refresh_rollup(spark, src, tgt_i, ["day", "cat"], aggs)
                MV.refresh_rollup(spark, src, tgt_f, ["day", "cat"], aggs)
                # the increment touches exactly k partitions
                inc = spark.range(n, n + k * 500).select(
                    F.col("id"),
                    (F.col("id") % k).cast("string").alias("day"),
                    (F.col("id") % 97).cast("string").alias("cat"),
                    F.lit(1.0).alias("v"),
                )
                sinks.merge_upsert_manifest(
                    spark, inc, src, ["id"], partition_col="day"
                )
                t0 = time.time()
                ri = MV.refresh_rollup(
                    spark, src, tgt_i, ["day", "cat"], aggs,
                    full_recompute_fraction=2.0,  # force incremental
                )
                t_incr = time.time() - t0
                t0 = time.time()
                rf = MV.refresh_rollup(
                    spark, src, tgt_f, ["day", "cat"], aggs,
                    full_recompute_fraction=0.0,  # force full
                )
                t_full = time.time() - t0
                assert ri["strategy"] == "incremental"
                assert rf["strategy"] == "full"
                # parity: both targets hold the same view
                a = sinks.read_manifest_table(spark, tgt_i)
                b = sinks.read_manifest_table(spark, tgt_f)
                assert a.count() == b.count()
                assert a.exceptAll(b).count() == 0
                print(json.dumps({
                    "parts": n_parts,
                    "changed_frac": frac,
                    "changed_parts": k,
                    "incremental_sec": round(t_incr, 2),
                    "full_sec": round(t_full, 2),
                    "incr_over_full": round(t_incr / t_full, 2),
                }))
            finally:
                shutil.rmtree(work, ignore_errors=True)


def probe_partition_transforms() -> None:
    """Partition-pruning effect of hidden partitioning vs the coarse
    identity layout people default to.

    One dataset (200k rows, 64 days of timestamps, decorrelated id key),
    three layouts of the SAME rows:
      - days(ts) transform (64 partitions);
      - identity on a physical month column (3 partitions — the classic
        'partition by month so the column count stays sane' compromise);
      - bucket(32, id) transform.
    Two queries: a 1-day timestamp range and an id point lookup. Reported:
    partitions scanned (manifest-level, via the transform pruner) out of
    total, wall time of the predicated read, and rows returned (identical
    across layouts = pruning never changes results). The id key is
    decorrelated from ts so file min/max stats CANNOT help the point
    lookup — what you see for the month layout is the honest full scan,
    and for bucket(32) the 1-of-32 partition read."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    n = 200_000
    base = dt.datetime(2024, 1, 1)
    df = (
        spark.range(n)
        .select(
            # Knuth-hash the id so the key carries no ts ordering
            ((F.col("id") * 2654435761) % n).alias("k"),
            (F.col("id") % 64).alias("dayno"),
            (F.col("id").cast("double") / 7).alias("v"),
        )
        .withColumn(
            "ts",
            F.expr(f"timestamp'{base.isoformat(sep=' ')}' "
                   "+ make_interval(0, 0, 0, dayno, 0, 0, 0)"),
        )
        .withColumn("mon", F.date_format("ts", "yyyy-MM"))
        .drop("dayno")
    )
    day = "2024-02-10"
    d0 = dt.datetime(2024, 2, 10)
    d1 = dt.datetime(2024, 2, 11)
    probe_k = (12_345 * 2654435761) % n
    work = tempfile.mkdtemp()
    try:
        layouts = {
            "days(ts)": "days(ts)",
            "identity_month": "mon",
            "bucket(32, k)": "bucket(32, k)",
        }
        for name, spec in layouts.items():
            path = os.path.join(work, name.replace("(", "_").replace(")", "_").replace(", ", "_"))
            sinks.merge_upsert_manifest(
                spark, df, path, keys=["k"], partition_col=spec
            )
            # steady state: a maintained table is compacted (the write
            # fan-out's 32 files/partition would otherwise drown the
            # pruning signal in file-open overhead)
            sinks.compact_manifest(spark, path)
            m = sinks.read_manifest(path)
            total = len(m["partitions"])
            for qname, preds in (
                ("range_1day", [("ts", ">=", d0), ("ts", "<", d1)]),
                ("point_k", [("k", "=", probe_k)]),
            ):
                kept = sinks._transform_prune(
                    spark, m, dict(m["partitions"]), preds
                )
                # files a reader actually opens = transform-level partition
                # pruning ∘ per-file stats pruning (both compose)
                n_files = sum(
                    len(sinks._entry_scan_paths(path, e, preds))
                    for e in kept.values()
                )
                total_files = sum(
                    len(e.get("files") or ())
                    for e in m["partitions"].values()
                )
                t0 = time.time()
                rows = sinks.read_manifest_table(
                    spark, path, predicates=preds
                ).count()
                dt_s = time.time() - t0
                print(json.dumps({
                    "op": "partition_transforms",
                    "layout": name,
                    "query": qname,
                    "partitions_scanned": len(kept),
                    "partitions_total": total,
                    "files_scanned": n_files,
                    "files_total": total_files,
                    "rows": rows,
                    "sec": round(dt_s, 2),
                }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe_replication() -> None:
    """Replication-window cost as the source table grows: a FIXED daily
    increment (upserts + deletes touching 2 of N partitions) replicated
    into a bucket-layout secondary replica. The claim: per-window cost is
    ∝ the changed slice (flat), never the table — the manifest diff
    localizes the feed and the replica merges only its touched buckets."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    for n_parts in (16, 64, 256):
        rows_per = 4_000
        work = tempfile.mkdtemp()
        try:
            src = os.path.join(work, "src")
            dst = os.path.join(work, "dst")
            n = n_parts * rows_per
            df = spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") % n_parts).alias("day"),
                (F.col("id") * 3).alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, df, src, keys=["k"], partition_col="day"
            )
            sinks.replicate_table_increment(
                spark, src, dst, keys=["k"],
                dst_partition_col="bucket(16, k)",
            )
            # the fixed daily window: 1000 upserts into 2 days + a purge
            inc = spark.range(n, n + 1_000).select(
                F.col("k" if False else "id").alias("k"),
                (F.col("id") % 2).alias("day"),
                F.lit(-1).cast("long").alias("v"),
            )
            sinks.merge_upsert_manifest(
                spark, inc, src, keys=["k"], partition_col="day"
            )
            sinks.delete_manifest_rows(
                spark, src, [("k", "<", 500)], partition_values=[0, 1]
            )
            t0 = time.time()
            out = sinks.replicate_table_increment(
                spark, src, dst, keys=["k"],
                dst_partition_col="bucket(16, k)",
            )
            dt_s = time.time() - t0
            ok = (
                sinks.read_manifest_table(spark, dst).count()
                == sinks.read_manifest_table(spark, src).count()
            )
            print(json.dumps({
                "op": "replication",
                "src_parts": n_parts,
                "src_rows": n,
                "window_upserts": out["upserted"],
                "window_deletes": out["deleted"],
                "sec": round(dt_s, 2),
                "parity": ok,
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_footer_stats() -> None:
    """Commit-time footer-stats cost as files-per-prefix grows 1→64:
    `_collect_file_stats` reads parquet footers (metadata-only) for
    every file a commit wrote into a prefix. The claim after the
    round-6 change: per-file cost stays flat-ish because footer reads
    inside a prefix fan out over a thread pool instead of serializing
    on the driver."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    rows_per_file = 20_000
    for n_files in (1, 4, 16, 64):
        work = tempfile.mkdtemp()
        try:
            d = os.path.join(work, "prefix")
            (
                spark.range(n_files * rows_per_file)
                .selectExpr("id as k", "id * 2 as v", "uuid() as s")
                .repartition(n_files)
                .write.parquet(d)
            )
            sinks._collect_file_stats(d)  # warm fs cache
            t0 = time.time()
            out = sinks._collect_file_stats(d)
            dt_s = time.time() - t0
            print(json.dumps({
                "op": "footer_stats",
                "files": n_files,
                "stats_collected": len(out),
                "sec": round(dt_s, 4),
                "ms_per_file": round(1000 * dt_s / n_files, 2),
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_manifest_crossover() -> None:
    """Where does the bounded manifest sink WIN WALL-CLOCK over the
    full-table MERGE for incremental loads? The asymptotics are proven
    (manifest rewrites only touched partitions; full MERGE rewrites the
    growing table every batch) but at bench scale the manifest's
    per-commit constant (stats + commit + more jobs) dominates tiny
    batches. Grid: target table size × fixed per-batch increment, 4
    sequential batches each touching 2 of the table's day partitions.
    Reports both totals; the crossover row is where manifest < full."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    n_parts = 32
    batch_rows = 25_000
    n_batches = 4
    # (table rows, payload bytes per row): the narrow grid shows the
    # fixed per-commit constant; the wide grid is the honest shape where
    # rewrite BYTES dominate (at 100 TB they always do)
    grid = [
        (100_000, 0), (1_600_000, 0), (6_400_000, 0),
        (1_600_000, 200), (6_400_000, 200), (12_800_000, 200),
    ]
    for table_rows, pad in grid:
        work = tempfile.mkdtemp()
        try:
            payload = (
                [F.repeat(F.lit("x"), pad).alias("pad")] if pad else []
            )
            base = spark.range(table_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % n_parts).alias("day"),
                (F.col("id") * 2).alias("v"),
                *payload,
            )

            def batches():
                for b in range(n_batches):
                    yield spark.range(
                        table_rows + b * batch_rows,
                        table_rows + (b + 1) * batch_rows,
                    ).select(
                        F.col("id").alias("k"),
                        (F.col("id") % 2 + 2 * b).alias("day"),
                        (F.col("id") * 2).alias("v"),
                        *payload,
                    )

            # full-table MERGE (plain upsert sink: rewrites everything)
            full = os.path.join(work, "full")
            sinks.merge_upsert(spark, base, full, ["k"])
            t0 = time.time()
            for inc in batches():
                sinks.merge_upsert(spark, inc, full, ["k"])
            t_full = time.time() - t0

            # manifest partition-scoped MERGE
            man = os.path.join(work, "man")
            sinks.merge_upsert_manifest(
                spark, base, man, ["k"], partition_col="day"
            )
            t0 = time.time()
            for inc in batches():
                sinks.merge_upsert_manifest(
                    spark, inc, man, ["k"], partition_col="day",
                    count_rows=False,
                )
            t_man = time.time() - t0

            n_full = spark.read.parquet(full).count()
            n_man = sinks.read_manifest_table(spark, man).count()
            print(json.dumps({
                "op": "manifest_crossover",
                "table_rows": table_rows,
                "pad_bytes": pad,
                "batch_rows": batch_rows,
                "batches": n_batches,
                "full_merge_sec": round(t_full, 2),
                "manifest_sec": round(t_man, 2),
                "manifest_over_full": round(t_man / t_full, 2),
                "parity": n_full == n_man,
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def probe_headline_scale() -> None:
    """Round-9 verdict #6: the three most expensive headline queries
    (standings_recompute, dedup_minhash, duplicate_spans) timed at 1× and
    N× (default 4×) the sf dir's data, query code UNCHANGED — the
    replicated tables land in a temp directory shaped like an sf dir, so
    the same callables just point at it. Replication scales the real
    work: lineitem/orders/customer key columns offset per replica (join
    fan-out and per-nation group sizes grow with the data; nation, the
    broadcast dim, copies once), document tokens get a per-replica
    suffix (the disjoint-mode perturbation: shingles stay replica-local,
    so dup density is constant and candidate volume should scale ~N).

    A ~linear plan shows time ratio ≈ N ± host noise (the sf0.1 bench's
    documented ±10–25%); a ratio well past ~1.5·N flags a superlinear
    stage that sub-second sf0.1 medians would drown. One warmup + median
    of 3 per (query, factor); one JSON line per query."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators.standings import customer_standings
    from f1_data_pipeline_spark.queries_text import (
        q_dedup_minhash,
        q_duplicate_spans,
    )
    from f1_data_pipeline_spark.session import get_spark
    from f1_data_pipeline_spark.sources import load_table

    args = sys.argv[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    factor = int(args[1]) if len(args) > 1 else 4

    spark = get_spark("scale_probe")
    work = tempfile.mkdtemp(prefix="headline_scale_")
    scaled = os.path.join(work, f"{factor}x")
    os.makedirs(scaled)
    OFF = 10_000_000

    def land(name, per_replica):
        parts = []
        for i in range(factor):
            parts.append(per_replica(load_table(spark, sf_dir, name), i))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        df.write.parquet(os.path.join(scaled, f"{name}.parquet"))

    land("lineitem", lambda d, i: d.withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(i * OFF)))
    land("orders", lambda d, i: d.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(i * OFF)
    ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * OFF)))
    land("customer", lambda d, i: d.withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(i * OFF)))
    load_table(spark, sf_dir, "nation").write.parquet(
        os.path.join(scaled, "nation.parquet"))
    land("documents", lambda d, i: d.select(
        (F.col("doc_id") + F.lit(i * OFF)).alias("doc_id"),
        F.regexp_replace("text", r"(\S+)", r"$1" + f"r{i}").alias("text"),
    ))

    queries = {
        "standings_recompute": customer_standings,
        "dedup_minhash": q_dedup_minhash,
        "duplicate_spans": q_duplicate_spans,
    }

    def timed(fn, d) -> tuple[float, int]:
        fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
        reps = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            reps.append(time.time() - t0)
        return round(statistics.median(reps), 3), fn(spark, d).count()

    for name, fn in queries.items():
        s1, r1 = timed(fn, sf_dir)
        sN, rN = timed(fn, scaled)
        print(json.dumps({
            "op": "headline_scale", "query": name, "sf_dir": sf_dir,
            "factor": factor, "sec_1x": s1, "sec_Nx": sN,
            "ratio": round(sN / s1, 2), "rows_1x": r1, "rows_Nx": rN,
        }), flush=True)


def probe_bucket_join() -> None:
    """Round-10 verdict #6: the bucket-aligned join (X51) at 1× and N×
    data with the bucket count FIXED — each pair grows ∝ N, so the scale
    contract is: plan time ~flat (metadata-only), files opened exactly
    the matching pairs (no other file listed or read), join wall ∝ pair
    bytes (the per-task Acero join is the whole data path). A wall ratio
    well past ~1.5·N would flag a superlinear stage inside the task.
    One JSON line per factor: plan_sec, files_planned, join_sec,
    pair_bytes ratios."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.operators.bucket_join import (
        bucket_aligned_join,
        plan_bucket_pairs,
    )
    from f1_data_pipeline_spark.session import get_spark

    args = sys.argv[2:]
    factors = [int(a) for a in args] if args else [1, 4]
    spark = get_spark("scale_probe")
    BUCKETS, BASE_FACT, BASE_DIM = 16, 400_000, 40_000
    base: dict | None = None
    for factor in factors:
        work = tempfile.mkdtemp(prefix=f"bucket_scale_{factor}x_")
        fact_p, dim_p = os.path.join(work, "f"), os.path.join(work, "d")
        n_f, n_d = BASE_FACT * factor, BASE_DIM * factor
        fact = spark.range(n_f).select(
            F.col("id").alias("k"),
            (F.col("id") % n_d).alias("fk"),
            (F.col("id") * 2.0).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        sinks.merge_upsert_manifest(
            spark, fact, fact_p, ["k"],
            partition_col=f"bucket({BUCKETS}, fk)",
        )
        dim = spark.range(n_d).select(
            F.col("id").alias("dk"),
            (F.col("id") % 7).alias("attr"),
        )
        sinks.merge_upsert_manifest(
            spark, dim, dim_p, ["dk"],
            partition_col=f"bucket({BUCKETS}, dk)",
        )
        t0 = time.time()
        pairs = plan_bucket_pairs(fact_p, dim_p, max_pair_bytes=None)
        plan_sec = round(time.time() - t0, 3)
        files = sum(
            len(p["left_files"]) + len(p["right_files"]) for p in pairs
        )
        pair_bytes = sum(p["bytes"] for p in pairs)

        def run():
            bucket_aligned_join(
                spark, fact_p, dim_p, "fk", "dk", max_pair_bytes=None
            ).write.format("noop").mode("overwrite").save()

        def run_shuffled():
            f = sinks.read_manifest_table(spark, fact_p)
            d = sinks.read_manifest_table(spark, dim_p)
            f.join(d, f["fk"] == d["dk"], "inner").write.format(
                "noop"
            ).mode("overwrite").save()

        def med(fn) -> float:
            fn()  # warmup
            reps = []
            for _ in range(3):
                t0 = time.time()
                fn()
                reps.append(time.time() - t0)
            return round(statistics.median(reps), 3)

        join_sec = med(run)
        shuffled_sec = med(run_shuffled)
        rec = {
            "op": "bucket_join", "factor": factor, "buckets": BUCKETS,
            "fact_rows": n_f, "dim_rows": n_d, "pairs": len(pairs),
            "files_planned": files, "pair_bytes": pair_bytes,
            "plan_sec": plan_sec, "join_sec": join_sec,
            "shuffled_sec": shuffled_sec,
            "routed_over_shuffled": round(join_sec / shuffled_sec, 2),
        }
        if base is None:
            base = rec
        else:
            rec["bytes_ratio"] = round(pair_bytes / base["pair_bytes"], 2)
            rec["join_ratio"] = round(join_sec / base["join_sec"], 2)
            rec["plan_ratio"] = round(
                plan_sec / max(base["plan_sec"], 1e-3), 2
            )
        print(json.dumps(rec), flush=True)


def probe_rewrite_crossover() -> None:
    """Round-12: is answering a COARSE/GLOBAL rollup by re-aggregating
    the view ever the measured-slower choice worth gating (the round-10
    bucket-route lesson)? The re-agg is one ~|view|-row Spark job —
    FLAT in source size — while the direct plan scans the source. This
    probe measures both at 1×/4×/16× source data: the contract is
    rewrite ~flat, direct ∝ source, crossover at toy scale only, with a
    BOUNDED worst-case penalty (one small job) — which is why the
    rewrite fires ungated whenever the view is fresh, unlike the bucket
    route whose wrong choice cost 4.5× unbounded. One JSON line per
    factor."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import catalog as CAT
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    args = sys.argv[2:]
    factors = [int(a) for a in args] if args else [1, 4, 16]
    spark = get_spark("scale_probe")
    BASE = 100_000
    for factor in factors:
        work = tempfile.mkdtemp(prefix=f"rwx_{factor}x_")
        t, cat = os.path.join(work, "t"), os.path.join(work, "cat")
        df = spark.range(BASE * factor).selectExpr(
            "id AS k", "CAST(id % 8 AS INT) AS day",
            "CAST(id % 5 AS INT) AS cat",
            "CAST(id % 1000 AS DECIMAL(18,2)) AS v",
            "sha2(CAST(id AS STRING), 256) AS pad",
        )
        sinks.merge_upsert_manifest(spark, df, t, ["k"],
                                    partition_col="day")
        CAT.catalog_create_table(cat, "src", t)
        CAT.catalog_sql(
            spark, cat,
            "CREATE MATERIALIZED VIEW mv AS SELECT day, cat, "
            "COUNT(*) AS n, SUM(v) AS s FROM src GROUP BY day, cat",
        )
        queries = {
            "equal": ("SELECT day, cat, COUNT(*) AS n, SUM(v) AS s "
                      "FROM src GROUP BY day, cat"),
            "coarse": ("SELECT cat, COUNT(*) AS n, SUM(v) AS s "
                       "FROM src GROUP BY cat"),
            "global": "SELECT COUNT(*) AS n, SUM(v) AS s FROM src",
        }
        rec = {"op": "rewrite_crossover", "factor": factor,
               "rows": BASE * factor, "view_rows": 40}

        def med(q, rw):
            def run():
                CAT.catalog_sql(
                    spark, cat, q, matview_rewrite=rw
                ).write.format("noop").mode("overwrite").save()
            run()
            reps = []
            for _ in range(3):
                t0 = time.time()
                run()
                reps.append(time.time() - t0)
            return round(statistics.median(reps), 3)

        for name, q in queries.items():
            rw, direct = med(q, True), med(q, False)
            rec[f"{name}_rewrite_sec"] = rw
            rec[f"{name}_direct_sec"] = direct
            rec[f"{name}_ratio"] = round(rw / direct, 2)
        print(json.dumps(rec), flush=True)


def probe_hot_bucket() -> None:
    """Round-12 verdict #4: the hot-bucket SUB-SPLIT under real key
    skew. Fabricates a fact where one key holds ~half the rows (so one
    bucket pair dwarfs the rest), then joins three ways: routed with no
    pair budget (ONE straggler task owns the hot pair), routed with a
    budget that forces the hot pair into K file-group sub-tasks, and
    the ordinary shuffled join. Contract: the split removes the
    straggler (split_sec < whole_sec, both row-identical — pytest owns
    parity), every sub-task stays under the budget, and the un-hot
    pairs plan unchanged. One JSON line per factor."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.operators.bucket_join import (
        bucket_aligned_join,
        plan_bucket_pairs,
    )
    from f1_data_pipeline_spark.session import get_spark

    args = sys.argv[2:]
    factors = [int(a) for a in args] if args else [1, 4]
    spark = get_spark("scale_probe")
    BUCKETS, BASE_FACT, BASE_DIM = 16, 400_000, 40_000
    base: dict | None = None
    for factor in factors:
        work = tempfile.mkdtemp(prefix=f"hot_bucket_{factor}x_")
        fact_p, dim_p = os.path.join(work, "f"), os.path.join(work, "d")
        n_f, n_d = BASE_FACT * factor, BASE_DIM * factor
        # ~50% of fact rows carry ONE key → one bucket holds half the
        # table; the rest spread uniformly
        fact = spark.range(n_f).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.lit(7).cast("long"))
            .otherwise(F.col("id") % n_d).alias("fk"),
            (F.col("id") * 2.0).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ).repartition(32)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        try:
            sinks.merge_upsert_manifest(
                spark, fact, fact_p, ["k"],
                partition_col=f"bucket({BUCKETS}, fk)",
            )
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "true"
            )
        dim = spark.range(n_d).select(
            F.col("id").alias("dk"),
            (F.col("id") % 7).alias("attr"),
        )
        sinks.merge_upsert_manifest(
            spark, dim, dim_p, ["dk"],
            partition_col=f"bucket({BUCKETS}, dk)",
        )
        whole = plan_bucket_pairs(fact_p, dim_p, max_pair_bytes=None)
        hot_bytes = max(p["bytes"] for p in whole)
        median_bytes = statistics.median(p["bytes"] for p in whole)
        cap = max(hot_bytes // 4, int(median_bytes * 2))
        sub = plan_bucket_pairs(fact_p, dim_p, max_pair_bytes=cap)
        split_tasks = [p for p in sub if p.get("split")]

        def run(budget):
            bucket_aligned_join(
                spark, fact_p, dim_p, "fk", "dk", max_pair_bytes=budget
            ).write.format("noop").mode("overwrite").save()

        def run_shuffled():
            f = sinks.read_manifest_table(spark, fact_p)
            d = sinks.read_manifest_table(spark, dim_p)
            f.join(d, f["fk"] == d["dk"], "inner").write.format(
                "noop"
            ).mode("overwrite").save()

        def med(fn) -> float:
            fn()  # warmup
            reps = []
            for _ in range(3):
                t0 = time.time()
                fn()
                reps.append(time.time() - t0)
            return round(statistics.median(reps), 3)

        whole_sec = med(lambda: run(None))
        split_sec = med(lambda: run(cap))
        shuffled_sec = med(run_shuffled)
        rec = {
            "op": "hot_bucket", "factor": factor, "buckets": BUCKETS,
            "fact_rows": n_f,
            "hot_pair_bytes": hot_bytes,
            "median_pair_bytes": int(median_bytes),
            "skew_ratio": round(hot_bytes / max(median_bytes, 1), 1),
            "cap": cap,
            "tasks_whole": len(whole),
            "tasks_split": len(sub),
            "hot_sub_tasks": len(split_tasks),
            "max_task_bytes_split": max(p["bytes"] for p in sub),
            "whole_sec": whole_sec,
            "split_sec": split_sec,
            "shuffled_sec": shuffled_sec,
            "split_over_whole": round(split_sec / whole_sec, 2),
            "split_over_shuffled": round(split_sec / shuffled_sec, 2),
        }
        if base is None:
            base = rec
        else:
            rec["split_ratio"] = round(split_sec / base["split_sec"], 2)
        print(json.dumps(rec), flush=True)


def probe_gate_cost() -> None:
    """Round-13: the in-callable ground-truth gates' cost contract —
    the per-emitted-pair soundness arm grows with the OUTPUT (emitted
    pairs), while the quadratic completeness sweeps run over
    deterministic samples capped at a few hundred docs, so their cost
    stays FLAT as the corpus replicates. Replicates the sf0.1
    documents table N× (ids offset, texts perturbed per replica — the
    minhash probe's fixture discipline) and times the minhash gate's
    two arms separately plus the simhash gate. One JSON line per
    factor; contract: completeness ≈ flat, soundness ∝ emitted pairs."""
    import statistics

    from f1_data_pipeline_spark.operators import dedup as D
    from f1_data_pipeline_spark.operators import gates as G
    from f1_data_pipeline_spark.session import get_spark

    args = [a for a in sys.argv[2:] if not a.startswith("sf_dir=")]
    factors = [int(a) for a in args] if args else [1, 4]
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark("scale_probe")
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    n_base = base.count()
    prev: dict | None = None
    for factor in factors:
        reps = []
        for r in range(factor):
            reps.append(
                base.select(
                    (F.col("doc_id") + F.lit(r * n_base)).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" replica{r}"))
                    .alias("text"),
                )
            )
        docs = reps[0]
        for d in reps[1:]:
            docs = docs.unionAll(d)
        docs = docs.localCheckpoint()  # fixture cost out of the timings
        pairs = D.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).localCheckpoint()
        n_pairs = pairs.count()
        sh = D.simhash_pairs(
            docs, "doc_id", "text", max_hamming=10
        ).localCheckpoint()

        def med(fn) -> float:
            fn()
            out = []
            for _ in range(3):
                t0 = time.time()
                fn()
                out.append(time.time() - t0)
            return round(statistics.median(out), 2)

        # the soundness arm alone (exact Jaccard of every emitted pair)
        t_sound = med(lambda: G.exact_jaccard_for_pairs(
            pairs, docs, "doc_id", "text"
        ).filter(F.col("exact_j") < 0.4).count())
        # the full minhash gate (soundness + capped completeness sweep)
        t_mh = med(lambda: G.assert_minhash_pairs_gate(
            docs, pairs, "doc_id", "text", threshold=0.5
        ))
        t_sh = med(lambda: G.assert_simhash_pairs_gate(
            docs, sh, "doc_id", "text", max_hamming=10
        ))
        rec = {
            "op": "gate_cost", "factor": factor,
            "docs": n_base * factor, "emitted_pairs": n_pairs,
            "soundness_sec": t_sound,
            "minhash_gate_sec": t_mh,
            "completeness_sec": round(t_mh - t_sound, 2),
            "simhash_gate_sec": t_sh,
        }
        if prev is not None:
            rec["completeness_ratio"] = round(
                max(t_mh - t_sound, 0.01)
                / max(prev["minhash_gate_sec"] - prev["soundness_sec"],
                      0.01),
                2,
            )
            rec["gate_ratio"] = round(t_mh / prev["minhash_gate_sec"], 2)
        else:
            prev = rec
        print(json.dumps(rec), flush=True)


def probe_skewed_shuffle() -> None:
    """Round-13 verdict #6: what the SHUFFLED plan — the one the bucket
    route's cost gate prefers below the route floor — does under the
    SAME key skew as probe_hot_bucket (one key holds ~half the fact).

    Three arms per factor, each on manifest-table reads:

    - `default`: the join exactly as the cost gate runs it. At probe
      scale Spark BROADCASTS the dim (it is far under the 10 MB
      default), and a broadcast hash join has no reducer partitions at
      all — key skew is structurally irrelevant. This is the common
      production case for the route-floor regime too: a dim small
      enough to lose to the route floor is usually broadcast-sized.
    - `smj_skew_on`: broadcast disabled (the 100 TB shape where the dim
      outgrows the broadcast threshold), AQE skew-join ON with its two
      thresholds scaled DOWN proportionally to the probe's data
      (defaults are 256 MB advisory / 5× median — correct at production
      scale, unreachable at ~20 MB of probe shuffle;
      forceOptimizeSkewedJoin because the downstream aggregate's
      required distribution otherwise vetoes the split). Records the
      number of `skew=true` markers in the FINAL adaptive plan and the
      per-task duration profile (p50/max) of the heaviest stage via the
      UI REST API.
    - `smj_skew_off`: same forced sort-merge join, skew handling off —
      the straggler arm; the max/p50 task-duration ratio IS the
      straggler profile.

    Contract: the default plan is broadcast (skew-immune); with SMJ
    forced, skew-off shows max_task ≫ p50_task while skew-on splits the
    hot partition (markers ≥ 1) and flattens the profile. Wall-clock
    may INVERT at toy scale (splitting a ~20 MB straggler buys less
    than the extra shuffle forceOptimize inserts) — the probe records
    it honestly; the asymmetry reverses when the straggler holds
    gigabytes. One JSON line per (factor, arm)."""
    import json as _json
    import os
    import statistics
    import tempfile
    import urllib.request

    from pyspark.sql import SparkSession

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    args = sys.argv[2:]
    factors = [int(a) for a in args] if args else [1, 4]
    # NOT get_spark: this probe needs the UI's REST API for per-task
    # duration quantiles (get_spark disables the UI); engine runtime
    # confs are mirrored so join/AQE behavior matches the real session
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.appName("scale_probe_skew")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = apply_runtime_confs(b.getOrCreate())
    sc = spark.sparkContext
    BUCKETS, BASE_FACT, BASE_DIM = 16, 400_000, 40_000

    def _api(path: str):
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(base + path) as fh:
            return _json.load(fh)

    def _max_stage_id() -> int:
        try:
            return max(
                (s["stageId"] for s in _api("/stages?status=COMPLETE")),
                default=-1,
            )
        except Exception:
            return -1

    def _task_profile(since: int) -> dict | None:
        """p50/max task duration (ms) of the heaviest stage completed
        after `since` — the straggler evidence. None when the UI REST
        API is unavailable (headless builds); the probe still runs."""
        try:
            stages = [
                s for s in _api("/stages?status=COMPLETE")
                if s["stageId"] > since and s["numCompleteTasks"] > 1
            ]
            best = None
            for s in stages:
                q = _api(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                    "?quantiles=0.5,1.0"
                )
                d = q.get("duration")
                if not d:
                    continue
                prof = {
                    "stage": s["stageId"],
                    "tasks": s["numCompleteTasks"],
                    "p50_task_ms": round(d[0]),
                    "max_task_ms": round(d[1]),
                }
                if best is None or prof["max_task_ms"] > best["max_task_ms"]:
                    best = prof
            return best
        except Exception:
            return None

    for factor in factors:
        work = tempfile.mkdtemp(prefix=f"skewed_shuffle_{factor}x_")
        fact_p, dim_p = os.path.join(work, "f"), os.path.join(work, "d")
        n_f, n_d = BASE_FACT * factor, BASE_DIM * factor
        fact = spark.range(n_f).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.lit(7).cast("long"))
            .otherwise(F.col("id") % n_d).alias("fk"),
            (F.col("id") * 2.0).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ).repartition(32)
        sinks.merge_upsert_manifest(
            spark, fact, fact_p, ["k"],
            partition_col=f"bucket({BUCKETS}, fk)",
        )
        dim = spark.range(n_d).select(
            F.col("id").alias("dk"), (F.col("id") % 7).alias("attr"),
        )
        sinks.merge_upsert_manifest(
            spark, dim, dim_p, ["dk"], partition_col=f"bucket({BUCKETS}, dk)",
        )
        # proportional thresholds: hot shuffle partition ≈ payload bytes
        # of the hot key's rows; an eighth of it clears the 5× median
        # factor while staying well under the partition itself
        hot_rows = n_f // 2
        hot_bytes_est = hot_rows * 100  # ~100 B/row of join payload
        thresh = max(1 << 20, hot_bytes_est // 8)
        arms = {
            "default": {},
            "smj_skew_on": {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "true",
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes": str(thresh),
                "spark.sql.adaptive.advisoryPartitionSizeInBytes":
                    str(thresh),
                "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            },
            "smj_skew_off": {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "false",
                "spark.sql.adaptive.forceOptimizeSkewedJoin": "false",
            },
        }
        saved = {
            k: spark.conf.get(k, None)
            for a in arms.values() for k in a
        }
        try:
            for arm, confs in arms.items():
                for k, v in confs.items():
                    spark.conf.set(k, v)
                f = sinks.read_manifest_table(spark, fact_p)
                d = sinks.read_manifest_table(spark, dim_p)

                def q():
                    return f.join(d, f["fk"] == d["dk"], "inner").select(
                        F.sum(F.length("payload")).alias("s")
                    )

                q().collect()  # warmup
                reps, plan, prof = [], "", None
                for i in range(3):
                    since = _max_stage_id()
                    j = q()
                    t0 = time.time()
                    j.collect()
                    reps.append(time.time() - t0)
                    if i == 0:
                        plan = j._jdf.queryExecution().executedPlan() \
                            .toString()
                        prof = _task_profile(since)
                print(_json.dumps({
                    "op": "skewed_shuffle", "factor": factor, "arm": arm,
                    "fact_rows": n_f,
                    "skew": "one key holds ~50% of fact rows",
                    "sec": round(statistics.median(reps), 3),
                    "join": (
                        "broadcast" if "BroadcastHashJoin" in plan
                        else "sort_merge" if "SortMergeJoin" in plan
                        else "other"
                    ),
                    "skew_splits": plan.count("skew=true"),
                    "task_profile": prof,
                }), flush=True)
                for k in confs:
                    old = saved[k]
                    if old is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, old)
        finally:
            import shutil

            shutil.rmtree(work, ignore_errors=True)


def probe_router_plan() -> None:
    """Round-11 verdict #8: the console bucket-join ROUTER's plan-time
    cost as a function of manifest FILE COUNT (10^3 → 10^5 per table).
    Planning never opens a data file — `_match_bucket_join` is two
    manifest reads + a regex walk over the statement, and
    `plan_bucket_pairs` a per-file-record metadata sweep — so the probe
    FABRICATES per-file records (name/rows/bytes/stats clones of a real
    record with spread bounds, committed as a new manifest version over
    a real co-bucketed pair; no data files exist and none are needed)
    and times exactly the calls catalog_sql's route executes. Contract:
    metadata-scaled — at worst linear in file records, dominated by the
    JSON manifest read (reported separately as the floor); any
    superlinearity is a planner bug. One JSON line per file count."""
    import copy
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import catalog as CAT
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.operators.bucket_join import (
        plan_bucket_pairs,
    )
    from f1_data_pipeline_spark.session import get_spark

    args = sys.argv[2:]
    counts = [int(a) for a in args] if args else [1_000, 10_000, 100_000]
    spark = get_spark("scale_probe")
    BUCKETS = 16
    work = tempfile.mkdtemp(prefix="router_plan_")
    cat = os.path.join(work, "cat")
    fact_p, dim_p = os.path.join(work, "fact"), os.path.join(work, "dim")
    fact = spark.range(BUCKETS * 50).select(
        F.col("id").alias("k"), (F.col("id") % 997).alias("fk"),
        (F.col("id") * 1.0).alias("v"),
    )
    sinks.merge_upsert_manifest(
        spark, fact, fact_p, ["k"], partition_col=f"bucket({BUCKETS}, fk)"
    )
    dim = spark.range(997).select(
        F.col("id").alias("dk"), (F.col("id") % 7).alias("attr"),
    )
    sinks.merge_upsert_manifest(
        spark, dim, dim_p, ["dk"], partition_col=f"bucket({BUCKETS}, dk)"
    )
    CAT.catalog_create_table(cat, "fact", fact_p)
    CAT.catalog_create_table(cat, "dim", dim_p)
    q = ("SELECT f.k, d.attr FROM fact f JOIN dim d ON f.fk = d.dk "
         "WHERE f.v < {lim}")

    def fabricate(path: str, n_files: int, spread_col: str | None):
        m = sinks.read_manifest(path)
        per = max(1, n_files // len(m["partitions"]))
        parts = {}
        for key, e in m["partitions"].items():
            proto = e["files"][0]
            files = []
            for i in range(per):
                fm = copy.deepcopy(proto)
                fm["name"] = f"fake-{i:06d}.parquet"
                if spread_col:
                    fm["stats"][spread_col] = {
                        "min": float(i), "max": float(i + 1), "nulls": 0,
                    }
                files.append(fm)
            parts[key] = {**e, "files": files}
        sinks._commit_manifest(path, {
            **m, "version": m["version"] + 1,
            "op": "probe_fabricate", "partitions": parts,
        })
        return per * len(m["partitions"])

    def med(fn) -> float:
        fn()  # warmup
        reps = []
        for _ in range(3):
            t0 = time.time()
            fn()
            reps.append(time.time() - t0)
        return round(statistics.median(reps), 4)

    base = None
    for n in counts:
        real_n = fabricate(fact_p, n, "v")
        fabricate(dim_p, n, None)
        per_bucket = real_n // BUCKETS
        lim = float(per_bucket // 2)  # bounds decide ~half the files
        sql = q.format(lim=lim)
        tables = CAT.catalog_tables(cat)
        refs = CAT._relation_refs(sql, tables)
        versions = CAT._resolve_versions(
            tables, {r["name"] for r in refs}, {}
        )
        match_sec = med(
            lambda: CAT._match_bucket_join(sql, refs, tables, versions)
        )
        plan_sec = med(
            lambda: plan_bucket_pairs(fact_p, dim_p, max_pair_bytes=None)
        )
        preds = [("v", "<", lim)]
        plan_pruned_sec = med(
            lambda: plan_bucket_pairs(
                fact_p, dim_p, max_pair_bytes=None, left_predicates=preds
            )
        )
        read_sec = med(lambda: sinks.read_manifest(fact_p))

        # the FULL routed-statement metadata cost as catalog_sql runs
        # it since round 11: one match (2 manifest reads, layouts kept)
        # + one plan over the THREADED layouts (0 re-reads)
        def route_total():
            bj = CAT._match_bucket_join(sql, refs, tables, versions)
            plan_bucket_pairs(
                fact_p, dim_p, max_pair_bytes=None,
                left_predicates=preds, layouts=bj["layouts"],
            )

        route_total_sec = med(route_total)
        pairs = plan_bucket_pairs(
            fact_p, dim_p, max_pair_bytes=None, left_predicates=preds
        )
        kept = sum(len(p["left_files"]) for p in pairs)
        rec = {
            "op": "router_plan", "files_per_table": real_n,
            "match_sec": match_sec, "plan_sec": plan_sec,
            "plan_pruned_sec": plan_pruned_sec,
            "route_total_sec": route_total_sec,
            "manifest_read_sec": read_sec,
            "fact_files_kept_after_prune": kept,
        }
        if base is None:
            base = rec
        else:
            rec["files_ratio"] = round(
                real_n / base["files_per_table"], 1
            )
            for kk in ("match_sec", "plan_sec", "plan_pruned_sec",
                       "route_total_sec"):
                rec[kk + "_ratio"] = round(
                    rec[kk] / max(base[kk], 1e-4), 2
                )
        print(json.dumps(rec), flush=True)


def probe_manifest_changes() -> None:
    """Round-10 verdict #6: the streaming change source (X52) must cost
    ∝ CHANGED partitions, not table size. Build a table at 1× and N×
    rows with the PARTITION SIZE held constant (32·N identity
    partitions, so the table grows by partition count — the realistic
    100 TB shape, where more data means more partitions, not fatter
    ones), land the SAME small update (fixed rows, 1 partition
    touched), and drain (a) just that commit and (b) the full bootstrap
    snapshot. Contract: update-drain ~flat across factors (its planning
    is metadata ∝ changed partitions and its read is one constant-size
    partition's old+new files) while snapshot-drain grows with the
    table. One JSON line per factor."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark
    from f1_data_pipeline_spark.streaming.manifest_source import (
        read_change_stream,
    )

    args = sys.argv[2:]
    factors = [int(a) for a in args] if args else [1, 4]
    spark = get_spark("scale_probe")
    BASE_ROWS, BASE_GROUPS, UPDATE_ROWS = 400_000, 32, 5_000
    base: dict | None = None
    for factor in factors:
        work = tempfile.mkdtemp(prefix=f"chg_scale_{factor}x_")
        src = os.path.join(work, "src")
        n = BASE_ROWS * factor
        GROUPS = BASE_GROUPS * factor  # constant rows per partition
        df = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % GROUPS).cast("string").alias("g"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        sinks.merge_upsert_manifest(spark, df, src, ["k"], "g")
        upd = spark.range(UPDATE_ROWS).select(
            (F.col("id") * GROUPS).alias("k"),  # all rows land in g=0
            F.lit("0").alias("g"),
            F.lit("updated").alias("payload"),
        )
        sinks.merge_upsert_manifest(spark, upd, src, ["k"], "g")
        v_upd = sinks.manifest_versions(src)[-1]

        def drain(tag: str, start: int) -> float:
            t0 = time.time()
            q = (
                read_change_stream(spark, src, ["k"], starting_version=start)
                .writeStream.format("noop")
                .option(
                    "checkpointLocation", os.path.join(work, f"ck_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("drain exceeded 600 s")
            q.stop()
            return time.time() - t0

        drain("warm", v_upd)  # warmup (stream engine, codegen)
        upd_secs = [drain(f"u{i}", v_upd) for i in range(3)]
        snap_sec = drain("snap", 1)
        rec = {
            "op": "manifest_changes", "factor": factor, "table_rows": n,
            "update_rows": UPDATE_ROWS,
            "update_drain_sec": round(statistics.median(upd_secs), 3),
            "snapshot_drain_sec": round(snap_sec, 3),
        }
        if base is None:
            base = rec
        else:
            rec["update_ratio"] = round(
                rec["update_drain_sec"] / base["update_drain_sec"], 2
            )
            rec["snapshot_ratio"] = round(
                snap_sec / base["snapshot_drain_sec"], 2
            )
        print(json.dumps(rec), flush=True)


def probe_commit_path() -> None:
    """Round-10 verdict #7: the fused commit's driver-side phase split
    at high partition counts. One fused write touching P partitions,
    timed end-to-end, plus a pure-rename microbench of P directory
    renames (what the promotion loop does per partition) — the rename
    share shows whether the promotion loop can ever dominate the commit
    on this filesystem, and prices what a 10⁴-partition backfill pays
    driver-side. The loop is pooled since round 10 (sinks.py _promote);
    on an object store each rename is a COPY+DELETE round-trip, which is
    where the pool matters. One JSON line per P."""
    import os
    import statistics
    import tempfile

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    args = sys.argv[2:]
    parts = [int(a) for a in args] if args else [256, 1024, 4096]
    spark = get_spark("scale_probe")
    for p in parts:
        work = tempfile.mkdtemp(prefix=f"commit_path_{p}_")
        path = os.path.join(work, "t")
        df = spark.range(p * 50).select(
            F.col("id").alias("k"),
            (F.col("id") % p).cast("string").alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
        t0 = time.time()
        sinks.merge_upsert_manifest(spark, df, path, ["k"], "g")
        total = round(time.time() - t0, 3)
        # pure-rename microbench: P empty dirs moved once, like _promote
        src_root = os.path.join(work, "mb_src")
        dst_root = os.path.join(work, "mb_dst")
        reps = []
        for r in range(3):
            srcs = []
            for i in range(p):
                s = os.path.join(src_root, f"r{r}", f"d{i}")
                os.makedirs(s)
                srcs.append(s)
            os.makedirs(os.path.join(dst_root, f"r{r}"))
            t0 = time.time()
            for i, s in enumerate(srcs):
                os.rename(s, os.path.join(dst_root, f"r{r}", f"d{i}"))
            reps.append(time.time() - t0)
        rename_sec = round(statistics.median(reps), 4)
        print(json.dumps({
            "op": "commit_path", "partitions": p,
            "fused_commit_sec": total,
            "serial_rename_microbench_sec": rename_sec,
            "rename_share": round(rename_sec / total, 4),
        }), flush=True)


def main() -> None:
    args = sys.argv[1:]
    op = "minhash"
    if args and args[0] in (
        "minhash", "contamination", "spans", "tfidf", "tfidf_mindf", "unigram",
        "ivf_drift", "heavy_hitters", "bloom_delete", "matview", "mor_delete",
        "partition_transforms", "replication", "footer_stats",
        "manifest_crossover", "matview_crossover", "runtime_filter",
        "headline_scale", "bucket_join", "manifest_changes", "commit_path",
        "router_plan", "hot_bucket", "rewrite_crossover", "skewed_shuffle",
        "gate_cost",
    ):
        op = args.pop(0)
    if op == "gate_cost":
        probe_gate_cost()
        return
    if op == "skewed_shuffle":
        probe_skewed_shuffle()
        return
    if op == "router_plan":
        probe_router_plan()
        return
    if op == "rewrite_crossover":
        probe_rewrite_crossover()
        return
    if op == "hot_bucket":
        probe_hot_bucket()
        return
    if op == "bucket_join":
        probe_bucket_join()
        return
    if op == "manifest_changes":
        probe_manifest_changes()
        return
    if op == "commit_path":
        probe_commit_path()
        return
    if op == "headline_scale":
        probe_headline_scale()
        return
    if op == "runtime_filter":
        probe_runtime_filter()
        return
    if op == "matview_crossover":
        probe_matview_crossover()
        return
    if op == "footer_stats":
        probe_footer_stats()
        return
    if op == "manifest_crossover":
        probe_manifest_crossover()
        return
    if op == "partition_transforms":
        probe_partition_transforms()
        return
    if op == "replication":
        probe_replication()
        return
    if op == "ivf_drift":
        probe_ivf_drift()
        return
    if op == "heavy_hitters":
        probe_heavy_hitters()
        return
    if op == "bloom_delete":
        probe_bloom_delete()
        return
    if op == "matview":
        probe_matview()
        return
    if op == "mor_delete":
        probe_mor_delete()
        return
    modes = ("clique", "disjoint")
    cap = None
    for a in list(args):
        if a.startswith("mode="):
            modes = tuple(a.split("=", 1)[1].split(","))
            args.remove(a)
        elif a.startswith("cap="):
            cap = int(a.split("=", 1)[1])
            args.remove(a)
    sf_dir = args.pop(0) if args else "/root/testdata/sf0.1"
    factors = [int(a) for a in args] or [1, 4, 16]

    from f1_data_pipeline_spark.operators.corpus import (
        contamination,
        tfidf_top_terms,
        unigram_logprob,
    )
    from f1_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
        minhash_bucket_stats,
        minhash_lsh_pairs,
    )
    from f1_data_pipeline_spark.session import get_spark
    from f1_data_pipeline_spark.sources import load_table

    spark = get_spark("scale_probe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_n = docs.count()  # also warms the scan

    def with_tail(frame, width=8):
        # 8 per-doc unique tokens: a genuine hapax tail whose vocabulary
        # grows linearly with the corpus (the Zipfian-tail shape real
        # crawls have and the 31-term synthetic corpus lacks)
        uniq = [
            F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"x{j}"))
            for j in range(width)
        ]
        return frame.select(
            "doc_id", F.concat_ws(" ", F.col("text"), *uniq).alias("text")
        )

    # an identical 40-token prefix on ~30% of docs, SAME across replicas
    # (replica offsets are multiples of 10M ≡ 0 mod 10, so doc_id % 10
    # keeps the same 30% slice in every replica) — the shared-header
    # pathology that makes LSH buckets O(corpus)-sized. Applied only to
    # docs with ≥ 300 chars of body (~55+ shingles): that pins every
    # boilerplate-only pair's true Jaccard ≤ 38/(38+2·55) ≈ 0.26, >4σ of
    # 64-hash estimator noise below the 0.5 threshold, so the cap's
    # unchanged-output property is measurable. On shorter docs an
    # identical 40-token header makes the pair GENUINELY near-duplicate
    # (J > 0.5 template pages) — a corpus like that needs boilerplate
    # stripping upstream, not LSH tuning.
    boiler_prefix = " ".join(f"boilertok{j}" for j in range(40))

    def with_boiler(frame):
        return frame.select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 < 3) & (F.length("text") >= 300),
                F.concat(F.lit(boiler_prefix + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )

    seen_1x: set[str] = set()
    for factor in factors:
        for mode in modes:
            if factor == 1:
                # clique/disjoint are identical at 1× (no replication), but
                # tail/boilerplate change the 1× frame itself — dedupe 1×
                # runs per distinct scaled-frame shape, don't break early
                shape = mode if mode in ("tail", "boilerplate") else "plain"
                if shape in seen_1x:
                    continue
                seen_1x.add(shape)
                scaled = docs
                if mode == "tail":
                    scaled = with_tail(docs)
                elif mode == "boilerplate":
                    scaled = with_boiler(docs)
            else:
                replicas = []
                for i in range(factor):
                    if mode in ("tail", "disjoint", "boilerplate"):
                        # per-replica token suffix makes every body shingle
                        # replica-local: constant dup density — candidates
                        # per doc should stay ~flat as the corpus grows
                        # (tail: hapax tail appended after union;
                        # boilerplate: shared prefix applied after union)
                        text = F.regexp_replace(
                            "text", r"(\S+)", r"$1" + f"r{i}"
                        )
                    else:
                        # clique: replicas stay near-dups of each other
                        # (one tag token): TRUE pair count grows ~f²/2 per
                        # original doc — observed candidates should track
                        # it, not corpus², and time should stay ~linear
                        text = F.concat(F.col("text"), F.lit(f" replica{i}tag"))
                    replicas.append(
                        docs.select(
                            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                            text.alias("text"),
                        )
                    )
                scaled = replicas[0]
                for r in replicas[1:]:
                    scaled = scaled.unionAll(r)
                if mode == "tail":
                    # doc_id is replica-offset, so the tail is unique
                    # corpus-wide: vocab grows ~8×docs with the corpus
                    scaled = with_tail(scaled)
                elif mode == "boilerplate":
                    scaled = with_boiler(scaled)
            t0 = time.time()
            if op == "minhash":
                out = minhash_lsh_pairs(
                    scaled, "doc_id", "text", threshold=0.5, max_bucket_size=cap
                )
            elif op == "tfidf":
                # disjoint: vocabulary grows ~factor×, doc frequencies stay
                # flat → term-aggregate key space scales with the corpus;
                # clique: vocabulary fixed, every df grows ~factor× → the
                # worst-case hot-term skew. rows = docs×k in both; time ~N.
                out = tfidf_top_terms(scaled, "doc_id", "text", k=5)
            elif op == "tfidf_mindf":
                # the df-band pre-filter arm: min_df=2 drops the hapax
                # tail from the df side before the tf⋈dfreq join
                out = tfidf_top_terms(scaled, "doc_id", "text", k=5, min_df=2)
            elif op == "unigram":
                # same skeleton as tfidf (term agg + broadcast totals +
                # term join): under `tail` the vocabulary grows ~8
                # terms/doc — rows stay docs×1, time should stay ~N
                # (term-keyed state grows with vocab, not with pairs)
                out = unigram_logprob(scaled, "doc_id", "text")
            elif op == "spans":
                # disjoint: no cross-replica grams → span rows ~factor×base
                # (each replica keeps only the base corpus's internal spans);
                # clique: every doc's full text duplicates across replicas →
                # ~one whole-doc span per doc. Both: rows/doc flat, time ~N.
                out = duplicate_spans(scaled, "doc_id", "text", n=15)
            else:
                # fixed eval pool from the BASE corpus; the crawl grows,
                # the benchmark doesn't
                eval_df = docs.filter(F.col("doc_id") % 97 == 0)
                out = contamination(scaled, eval_df, "doc_id", "text", n=5)
            n_pairs = out.count()
            dt = time.time() - t0
            rec = {
                "op": op,
                "mode": mode,
                "factor": factor,
                "docs": base_n * factor,
                "rows": n_pairs,
                "rows_per_doc": round(n_pairs / (base_n * factor), 4),
                "sec": round(dt, 2),
            }
            if op == "minhash":
                # pre-cap bucket population (untimed): the skew the cap
                # bounds, visible next to the capped/uncapped pair counts
                stats = minhash_bucket_stats(scaled, "doc_id", "text").collect()[0]
                rec.update(
                    cap=cap,
                    max_bucket=stats["max_bucket"],
                    p99_bucket=stats["p99_bucket"],
                    candidate_pairs=stats["candidate_pairs"],
                )
            print(json.dumps(rec))



def probe_runtime_filter() -> None:
    """Runtime join filtering (X42): measured files-opened and wall-clock
    for a star join through catalog_sql (dim keys harvested at plan time
    → IN-pruned fact scan) vs the same SQL over plain registered views
    (no manifest pruning) — across fact sizes. The planner's own EXPLAIN
    supplies the files-opened numbers. One JSON line per cell."""
    import os
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import catalog as CAT
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_probe")
    n_dim, n_attr = 10_000, 500  # attr=7 → 20 surviving dim keys
    for fact_rows in (200_000, 800_000, 3_200_000):
        work = tempfile.mkdtemp()
        try:
            cat = os.path.join(work, "cat")
            fact_p = os.path.join(work, "fact")
            dim_p = os.path.join(work, "dim")
            fact = spark.range(fact_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % n_dim).alias("fk"),
                (F.col("id") * 3).cast("double").alias("v"),
                # ~160B incompressible-ish payload so a file scan costs
                # real I/O (otherwise the 2048 tiny files are pure
                # constant overhead and pruning can't show up in time)
                F.sha2(F.col("id").cast("string"), 512).alias("pad"),
            )
            sinks.create_manifest_table(
                spark, fact_p, fact.schema, "bucket(64, fk)"
            )
            sinks.insert_into_manifest(spark, fact, fact_p)
            dim = spark.range(n_dim).select(
                F.col("id").alias("dk"), (F.col("id") % n_attr).alias("attr")
            )
            sinks.create_manifest_table(
                spark, dim_p, dim.schema, "truncate(50, attr)"
            )
            sinks.insert_into_manifest(spark, dim, dim_p)
            CAT.catalog_create_table(cat, "factp", fact_p)
            CAT.catalog_create_table(cat, "dimp", dim_p)
            q = ("SELECT f.k, f.v FROM factp f JOIN dimp d "
                 "ON f.fk = d.dk WHERE d.attr = 7")
            expl = {
                r["table"]: r
                for r in CAT.catalog_sql(spark, cat, "EXPLAIN " + q).collect()
            }

            def run_catalog():
                CAT.catalog_sql(spark, cat, q).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_plain():
                spark.sql(q).write.format("noop").mode("overwrite").save()

            CAT.register_catalog_views(spark, cat)
            # untimed warmups, then medians of 3 (bench protocol)
            run_catalog(); run_plain()
            import statistics
            tc = []
            tp = []
            for _ in range(3):
                t0 = time.time(); run_catalog(); tc.append(time.time() - t0)
                t0 = time.time(); run_plain(); tp.append(time.time() - t0)
            f = expl["factp"]
            print(json.dumps({
                "fact_rows": fact_rows,
                "dim_keys_surviving": n_dim // n_attr,
                "fact_files_total": f["files_total"],
                "fact_files_scanned": f["files_scanned"],
                "fact_partitions_scanned": f["partitions_scanned"],
                "runtime_filter": f["runtime_filter"],
                "catalog_sec": round(statistics.median(tc), 2),
                "plain_view_sec": round(statistics.median(tp), 2),
                "speedup": round(
                    statistics.median(tp) / statistics.median(tc), 2
                ),
            }))
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

