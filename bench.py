"""Benchmark runner — driver contract.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Variance control (round-3 verdict item): each query is timed REPS times
after an untimed warmup and the MEDIAN is reported — two rounds of
single-shot numbers were dominated by ±10-25% host drift. The JSON also
carries a "host" fingerprint (cpu model, loadavg at start/end, cpu count)
so cross-round deltas can be attributed to load, and "spread" (per-query
max-min across reps) so noisy queries are visibly noisy.

Each query is fully executed (noop-format write of every row/column) so
lazy plans can't fake speed; the session is warmed once so JVM startup
isn't billed to the first query.

The "streaming" entry times the REAL Structured Streaming path — file
readStream → Trigger.AvailableNow → foreachBatch MERGE sink
(streaming/structured.py) — not a batch-equivalent plan, and reports
rows/sec next to the equivalent batch plan's time for the overhead ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPS = 3  # timed repetitions per query; median reported

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "standings_recompute",
    "pricing_summary",
    "top_revenue_orders",
    "join_fk_lookup",
    "join_anti_existing",
    "dedup_first",
    "agg_running_total",
    # training-data extensions
    "text_stats",
    "dedup_exact",
    "dedup_minhash",
    "topk_similarity",
    "topk_similarity_arrow",
    "contamination_check",
    "token_packing",
    # streaming-analog windows
    "stream_tumbling_window",
    "stream_session_window",
    "as_of_join",
    # round-2 additions
    "tfidf_top_terms",
    "profile_events",
    "duplicate_spans",
]


def _host_fingerprint() -> dict:
    model = None
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "cpu_model": model,
        "cpu_count": os.cpu_count(),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }


def bench_streaming(spark, sf_dir: str) -> dict:
    """Time the real streaming path end-to-end: parquet readStream →
    Trigger.AvailableNow → foreachBatch MERGE on event_id (the
    exactly-once-effect sink, streaming/structured.py:89). Source prep
    (rewriting the ns-timestamp events as µs parquet files — readStream
    with an explicit schema can't use the legacy ns read path) is NOT
    billed; the timed region is stream start → drain complete. The batch
    equivalent (same transform, same MERGE, one batch job) is timed for
    the streaming-overhead ratio.

    The "incremental" sub-block measures the MULTI-batch incremental-load
    shape (maxFilesPerTrigger forces several micro-batches over a
    time-ordered source, like daily increments arriving in order) under
    both sinks: the unbounded full-table MERGE, whose per-batch cost grows
    with the target, vs the bounded `partition_col="day"` manifest
    MERGE, whose per-batch cost is ∝ the partitions that batch touches
    (touched counts read back from the manifest commits themselves)."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table
    from f1_data_pipeline_spark.streaming import structured

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src = os.path.join(work, "src")
        load_table(spark, sf_dir, "events").repartition(8).write.parquet(src)
        n_rows = spark.read.parquet(src).count()

        def transform(batch):
            return batch.filter(F.col("value").isNotNull()).select(
                "event_id",
                "ts",
                "user_id",
                "event_type",
                "value",
                F.to_date("ts").alias("day"),
            )

        def drain(q) -> tuple[int, list[float], list[int]]:
            """Await an AvailableNow drain; (total triggers, per-batch sec,
            per-batch input rows).

            Batch count comes from lastProgress.batchId (monotone), not
            len(recentProgress) — that is a ~100-entry ring buffer and
            undercounts long forced-multi-batch runs; a timeout raises
            instead of reporting a hung stream as a fast truncated run."""
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("streaming bench: drain exceeded 600 s")
            last = q.lastProgress
            nb = (last["batchId"] + 1) if last else 0
            nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
            durs = [
                round(p["durationMs"]["triggerExecution"] / 1000, 3)
                for p in nonempty
            ]
            in_rows = [p["numInputRows"] for p in nonempty]
            q.stop()
            return nb, durs, in_rows

        # AvailableNow drains in its natural single micro-batch unless
        # SPARK_GRAFT_STREAM_MFPT forces smaller batches (each extra
        # micro-batch pays one more full MERGE of the growing target — an
        # incremental-load shape; the bounded form of which is measured in
        # the "incremental" sub-block below)
        mfpt = os.environ.get("SPARK_GRAFT_STREAM_MFPT")

        def run_stream(tag: str) -> tuple[float, int, str]:
            target = os.path.join(work, f"target_{tag}")
            t0 = time.time()
            stream = structured.read_event_stream(
                spark,
                src,
                max_files_per_trigger=int(mfpt) if mfpt else None,
                watermark=None,
            )
            q = structured.start_merge_sink(
                stream,
                target,
                ["event_id"],
                os.path.join(work, f"ckpt_{tag}"),
                transform=transform,
            )
            nb, _, _ = drain(q)
            return time.time() - t0, nb, target

        # untimed warmup drain — same treatment as the batch queries (each
        # gets a warmup run): streaming-engine class loading, checkpoint
        # machinery, and the MERGE plan's codegen aren't billed
        run_stream("warm")
        stream_sec, n_batches, target_stream = run_stream("timed")
        out_rows = spark.read.parquet(target_stream).count()

        t0 = time.time()
        batch = transform(
            spark.read.schema(structured.EVENTS_STREAM_SCHEMA).parquet(src)
        )
        sinks.merge_upsert(
            spark, batch, os.path.join(work, "target_batch"), ["event_id"]
        )
        batch_sec = time.time() - t0

        # ---- incremental multi-batch shape: full MERGE vs manifest ----
        # time-ordered source (range-partitioned on ts → part files are
        # contiguous time slices, listed in order) so each forced
        # micro-batch carries a bounded slice of days — the daily-
        # increment arrival pattern the bounded sink is designed for
        inc_src = os.path.join(work, "inc_src")
        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(8, "ts")
            .write.parquet(inc_src)
        )
        inc_mfpt = 2  # 8 files / 2 per trigger = 4 micro-batches

        def run_incremental(tag: str, manifest: bool):
            target = os.path.join(work, f"inc_target_{tag}")
            t0 = time.time()
            stream = structured.read_event_stream(
                spark, inc_src, max_files_per_trigger=inc_mfpt, watermark=None
            )
            q = structured.start_merge_sink(
                stream,
                target,
                ["event_id"],
                os.path.join(work, f"inc_ckpt_{tag}"),
                transform=transform,
                partition_col="day" if manifest else None,
                # event_id → day is functional by construction (day is
                # derived from the keyed row); skip the untouched-
                # partition key scan that grows with table size
                check_moved_keys=False,
            )
            nb, durs, in_rows = drain(q)
            return round(time.time() - t0, 3), nb, durs, in_rows, target

        # untimed warmup of the MANIFEST commit shape — the same
        # treatment the plain MERGE plan got from run_stream("warm")
        # above: the fused partitionBy write's codegen, the footer-stats
        # reader, and the commit machinery load once here instead of
        # inside the timed batch 1 (round-7 verdict #6: batch_secs[0]
        # carried ~1.1 s of one-time class/import loading)
        warm_df = transform(
            spark.read.schema(structured.EVENTS_STREAM_SCHEMA)
            .parquet(inc_src).limit(200)
        )
        sinks.merge_upsert_manifest(
            spark, warm_df, os.path.join(work, "inc_warm"), ["event_id"],
            "day", check_moved_keys=False,
        )

        # median of 3 interleaved reps per arm — the same protocol the
        # headline queries use. A single rep's ratio swung 1.43–1.72
        # across identical-code runs (scheduler noise on ~1.5 s batches),
        # which is wider than the deltas this block exists to measure.
        full_runs, man_runs = [], []
        for rep in range(3):
            full_runs.append(run_incremental(f"full_{rep}", False))
            man_runs.append(run_incremental(f"manifest_{rep}", True))
        full_runs.sort(key=lambda r: r[0])
        man_runs.sort(key=lambda r: r[0])
        full_sec, full_nb, full_durs, full_in, _ = full_runs[1]
        man_sec, man_nb, man_durs, _, man_target = man_runs[1]
        # the scale-faithful comparison: ROWS REWRITTEN per batch. The
        # full-table MERGE rewrites the whole (growing) target every batch
        # ≈ cumulative input; the manifest sink rewrites only the touched
        # partitions, read back exactly from each commit's file stats. At
        # bench SFs wall-clock is dominated by fixed per-job latency, so
        # this is the number that extrapolates to 100 TB, where bytes
        # rewritten dominate.
        full_rewritten, cum = [], 0
        for r in full_in:
            cum += r
            full_rewritten.append(cum)
        versions = sinks.manifest_versions(man_target)
        man_rewritten, touched, prev = [], [], {}
        for v in versions:
            m_v = sinks.read_manifest(man_target, v)
            changed = [
                e for k, e in m_v["partitions"].items()
                if prev.get(k) != e["prefix"]
            ]
            man_rewritten.append(
                sum(f["rows"] for e in changed for f in e.get("files") or [])
            )
            touched.append(len(changed))
            prev = {k: e["prefix"] for k, e in m_v["partitions"].items()}
        m = sinks.read_manifest(man_target)
        inc_rows = sinks.read_manifest_table(spark, man_target).count()
        assert inc_rows == out_rows, (inc_rows, out_rows)

        return {
            "pipeline": "events_readstream_foreachbatch_merge",
            "trigger": "availableNow",
            "micro_batches": n_batches,
            "input_rows": n_rows,
            "output_rows": out_rows,
            "sec": round(stream_sec, 3),
            "rows_per_sec": round(n_rows / stream_sec),
            "batch_equiv_sec": round(batch_sec, 3),
            "stream_over_batch": round(stream_sec / batch_sec, 2),
            "incremental": {
                "max_files_per_trigger": inc_mfpt,
                "reps": 3,
                "stat": "median",
                "full_merge": {
                    "sec": full_sec,
                    "micro_batches": full_nb,
                    "batch_secs": full_durs,
                    "rows_rewritten_per_batch": full_rewritten,
                },
                "manifest": {
                    "sec": man_sec,
                    "micro_batches": man_nb,
                    "batch_secs": man_durs,
                    "partitions_total": len(m["partitions"]),
                    "touched_per_batch": touched,
                    "rows_rewritten_per_batch": man_rewritten,
                },
                "manifest_over_full": round(man_sec / full_sec, 2),
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_metadata(spark, sf_dir: str) -> dict:
    """Metadata-vs-scan block (not part of the headline total): build a
    year-partitioned, orderkey-bloomed manifest table from `orders` once,
    then measure the three metadata fast paths against their scan
    equivalents — COUNT(*) from the manifest vs a real count job, a
    clustered range-predicate count (bounds decide interior files) vs a
    filtered scan, and a bloom point lookup vs scan+filter. Parity is
    asserted, so the numbers can't drift from correctness."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table

    work = tempfile.mkdtemp(prefix="bench_meta_")
    try:
        path = os.path.join(work, "orders_m")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice",
            F.year("o_orderdate").cast("string").alias("year"),
        )
        sinks.merge_upsert_manifest(
            spark, orders, path, ["o_orderkey"], partition_col="year",
            bloom_cols=["o_orderkey"],
        )
        # small target → several id-clustered files per partition, so the
        # range predicate has interior files its bounds fully decide
        sinks.compact_manifest(
            spark, path, target_file_bytes=256 * 1024,
            cluster_by=["o_orderkey"],
        )
        probe_key = orders.agg(F.max("o_orderkey")).collect()[0][0]

        t0 = time.time()
        meta_cnt = sinks.manifest_count(spark, path)
        t_meta_count = time.time() - t0
        t0 = time.time()
        scan_cnt = sinks.read_manifest_table(spark, path).count()
        t_scan_count = time.time() - t0
        assert meta_cnt["count"] == scan_cnt, (meta_cnt, scan_cnt)

        pred = [("o_orderkey", "<", int(probe_key) // 2)]
        t0 = time.time()
        meta_rng = sinks.manifest_count(spark, path, predicates=pred)
        t_meta_range = time.time() - t0
        t0 = time.time()
        scan_rng = (
            sinks.read_manifest_table(spark, path)
            .filter(F.col("o_orderkey") < int(probe_key) // 2)
            .count()
        )
        t_scan_range = time.time() - t0
        assert meta_rng["count"] == scan_rng

        t0 = time.time()
        bloom = sinks.manifest_bloom_lookup(
            spark, path, "o_orderkey", [int(probe_key)]
        )
        point = sinks.read_manifest_point_lookup(
            spark, path, "o_orderkey", [int(probe_key)]
        ).count()
        t_point = time.time() - t0
        t0 = time.time()
        full = (
            sinks.read_manifest_table(spark, path)
            .filter(F.col("o_orderkey") == int(probe_key))
            .count()
        )
        t_full_point = time.time() - t0
        assert point == full == 1
        n_parts = len(sinks.read_manifest(path)["partitions"])

        # round-10 rows: MIN/MAX with a partition-aligned WHERE (the
        # watermark probe) and the GROUP BY partition histogram — both
        # metadata-only, parity-asserted against the scan plan
        yr = sorted(
            e["value"] for e in
            sinks.read_manifest(path)["partitions"].values()
        )[-1]
        t0 = time.time()
        mm = sinks.manifest_column_bounds(
            path, "o_orderkey", predicates=[("year", "=", yr)],
            spark=spark,
        )
        t_meta_minmax = time.time() - t0
        t0 = time.time()
        scan_mm = (
            sinks.read_manifest_table(spark, path)
            .filter(F.col("year") == yr)
            .agg(F.min("o_orderkey"), F.max("o_orderkey"))
            .collect()[0]
        )
        t_scan_minmax = time.time() - t0
        assert (mm["min"], mm["max"]) == tuple(scan_mm), (mm, scan_mm)

        # round-11 row: COUNT(col) = recorded rows − recorded nulls
        # (verdict #4) — same zero-files-opened shape as MIN/MAX
        t0 = time.time()
        cb = sinks.manifest_column_bounds(path, "o_totalprice")
        meta_ccol = cb["rows"] - cb["nulls"]
        t_meta_ccol = time.time() - t0
        t0 = time.time()
        scan_ccol = (
            sinks.read_manifest_table(spark, path)
            .agg(F.count("o_totalprice")).collect()[0][0]
        )
        t_scan_ccol = time.time() - t0
        assert meta_ccol == scan_ccol, (meta_ccol, scan_ccol)

        t0 = time.time()
        hist = {
            e["value"]: sum(f["rows"] for f in e["files"])
            for e in sinks.read_manifest(path)["partitions"].values()
        }
        t_meta_hist = time.time() - t0
        t0 = time.time()
        scan_hist = {
            r["year"]: r["n"]
            for r in sinks.read_manifest_table(spark, path)
            .groupBy("year").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        t_scan_hist = time.time() - t0
        assert hist == scan_hist

        # round-13 row: OR pushdown — a file-level disjunction of two
        # narrow disjoint key ranges (both in the clustered key space's
        # LOW half, so high-half files provably miss BOTH branches and
        # prune) vs the same filter over an unpruned scan,
        # parity-asserted; at 100 TB this is the ad-hoc two-days query
        pk = int(probe_key)
        a_hi, b_lo, b_hi = pk // 10, pk // 4, pk // 4 + pk // 10
        or_pred = sinks.parse_predicates(
            f"o_orderkey < {a_hi} OR "
            f"(o_orderkey >= {b_lo} AND o_orderkey < {b_hi})",
            allow_or=True,
        )
        t0 = time.time()
        or_pruned = sinks.read_manifest_table(
            spark, path, predicates=or_pred
        ).count()
        t_or_pruned = time.time() - t0
        or_files = len(sinks.manifest_scan_files(path, predicates=or_pred))
        t0 = time.time()
        or_scan = (
            sinks.read_manifest_table(spark, path)
            .filter(
                (F.col("o_orderkey") < a_hi)
                | (
                    (F.col("o_orderkey") >= b_lo)
                    & (F.col("o_orderkey") < b_hi)
                )
            ).count()
        )
        t_or_scan = time.time() - t0
        assert or_pruned == or_scan, (or_pruned, or_scan)

        return {
            "or_pushdown_sec": round(t_or_pruned, 3),
            "or_scan_sec": round(t_or_scan, 3),
            "or_files_scanned": or_files,
            "minmax_where_meta_sec": round(t_meta_minmax, 3),
            "minmax_where_scan_sec": round(t_scan_minmax, 3),
            "count_col_meta_sec": round(t_meta_ccol, 4),
            "count_col_scan_sec": round(t_scan_ccol, 3),
            "group_count_meta_sec": round(t_meta_hist, 4),
            "group_count_scan_sec": round(t_scan_hist, 3),
            "rows": scan_cnt,
            "partitions": n_parts,
            "count_meta_sec": round(t_meta_count, 3),
            "count_scan_sec": round(t_scan_count, 3),
            "count_meta_files_scanned": meta_cnt["files_scanned"],
            "range_meta_sec": round(t_meta_range, 3),
            "range_scan_sec": round(t_scan_range, 3),
            "range_meta_files": {
                "metadata": meta_rng["files_metadata"],
                "pruned": meta_rng["files_pruned"],
                "scanned": meta_rng["files_scanned"],
            },
            "point_bloom_sec": round(t_point, 3),
            "point_scan_sec": round(t_full_point, 3),
            "point_partitions_scanned": len(bloom["maybe"])
            + len(bloom["no_bloom"]),
            "files_total": sum(
                len(e.get("files") or ())
                for e in sinks.read_manifest(path)["partitions"].values()
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_matview(spark, sf_dir: str) -> dict:
    """Materialized-view block (not part of the headline total): build a
    year-partitioned rollup of `orders` (count/sum/exact-distinct per
    (year, priority)), merge a one-partition increment into the source,
    and measure the incremental refresh against the full re-aggregation
    it replaces. Parity is asserted on counts exactly; revenue within
    rel_tol=1e-9 (double sums carry ~1e-16 plan-order ulp drift). The
    extrapolating number is partitions refreshed (constant in table
    size) vs the recompute's full scan."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import matview as MV
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table

    work = tempfile.mkdtemp(prefix="bench_mv_")
    try:
        src = os.path.join(work, "orders")
        tgt = os.path.join(work, "rollup")
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "oyear", F.year("o_orderdate").cast("string")
        )
        sinks.merge_upsert_manifest(
            spark, orders, src, ["o_orderkey"], partition_col="oyear"
        )
        aggs = {
            "n": ("count", "*"),
            "rev": ("sum", "o_totalprice"),
            "custs": ("count_distinct", "o_custkey"),
        }
        t0 = time.time()
        MV.refresh_rollup(spark, src, tgt, ["oyear", "o_orderpriority"], aggs)
        t_build = time.time() - t0
        # the daily increment: new keys landing in ONE source partition
        inc = (
            orders.filter(F.col("oyear") == "1995")
            .limit(2000)
            .withColumn("o_orderkey", F.col("o_orderkey") + 900_000_000)
        )
        sinks.merge_upsert_manifest(
            spark, inc, src, ["o_orderkey"], partition_col="oyear"
        )
        t0 = time.time()
        out = MV.refresh_rollup(
            spark, src, tgt, ["oyear", "o_orderpriority"], aggs
        )
        t_refresh = time.time() - t0
        t0 = time.time()
        full = (
            sinks.read_manifest_table(spark, src)
            .groupBy("oyear", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_totalprice").alias("rev"),
                F.count_distinct("o_custkey").cast("long").alias("custs"),
            )
        )
        full_rows = {
            (r["oyear"], r["o_orderpriority"]): r for r in full.collect()
        }
        t_recompute = time.time() - t0
        got = sinks.read_manifest_table(spark, tgt).collect()
        assert len(got) == len(full_rows)
        import math

        for r in got:
            f = full_rows[(r["oyear"], r["o_orderpriority"])]
            assert (r["n"], r["custs"]) == (f["n"], f["custs"])
            # rel_tol, not cent-rounding: two sums equal to 1e-16 relative
            # can still round to different cents at a .005 boundary
            assert math.isclose(r["rev"], f["rev"], rel_tol=1e-9)
        # round-11: the transparent rewrite — the SAME rollup query
        # through the SQL console answered from a registered view vs
        # re-aggregated from the source (matview_rewrite=False)
        from f1_data_pipeline_spark.operators import catalog as CAT

        cat = os.path.join(work, "cat")
        CAT.catalog_create_table(cat, "orders_mv_src", src)
        CAT.catalog_sql(
            spark, cat,
            "CREATE MATERIALIZED VIEW orders_rollup AS "
            "SELECT oyear, o_orderpriority, COUNT(*) AS n, "
            "SUM(o_totalprice) AS rev FROM orders_mv_src "
            "GROUP BY oyear, o_orderpriority",
        )
        q = ("SELECT oyear, o_orderpriority, COUNT(*) AS n, "
             "SUM(o_totalprice) AS rev FROM orders_mv_src "
             "GROUP BY oyear, o_orderpriority")

        # gate (second review): the rewrite arm must PROVE it fired and
        # that its rows match the direct plan — a silent fall-through
        # would otherwise report a plausible ~1.0 ratio forever
        mv_path = CAT.catalog_tables(cat)["orders_rollup"]["path"]
        rw_df = CAT.catalog_sql(spark, cat, q)
        assert rw_df.inputFiles() and all(
            mv_path in f for f in rw_df.inputFiles()
        ), "matview rewrite did not fire in the bench arm"
        rw_rows = {
            (r[0], r[1]): (r[2], r[3]) for r in rw_df.collect()
        }
        di_rows = {
            (r[0], r[1]): (r[2], r[3])
            for r in CAT.catalog_sql(
                spark, cat, q, matview_rewrite=False
            ).collect()
        }
        assert rw_rows.keys() == di_rows.keys()
        import math as _math

        for k2, (n_a, rev_a) in rw_rows.items():
            n_b, rev_b = di_rows[k2]
            assert n_a == n_b and _math.isclose(rev_a, rev_b, rel_tol=1e-9)

        def _run(rw: bool) -> float:
            t0 = time.time()
            CAT.catalog_sql(
                spark, cat, q, matview_rewrite=rw
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        _run(True)
        _run(False)  # warmups
        t_rw = statistics.median(_run(True) for _ in range(3))
        t_direct = statistics.median(_run(False) for _ in range(3))

        # round-12: the COARSE rewrite — a strict-subset grouping
        # answered by re-aggregating the view's ~35 rows instead of
        # scanning the source; same fired-and-parity gate
        qc = ("SELECT oyear, COUNT(*) AS n, SUM(o_totalprice) AS rev "
              "FROM orders_mv_src GROUP BY oyear")
        cw_df = CAT.catalog_sql(spark, cat, qc)
        assert cw_df.inputFiles() and all(
            mv_path in f for f in cw_df.inputFiles()
        ), "coarse matview rewrite did not fire in the bench arm"
        cw_rows = {r[0]: (r[1], r[2]) for r in cw_df.collect()}
        cd_rows = {
            r[0]: (r[1], r[2])
            for r in CAT.catalog_sql(
                spark, cat, qc, matview_rewrite=False
            ).collect()
        }
        assert cw_rows.keys() == cd_rows.keys()
        for k2, (n_a, rev_a) in cw_rows.items():
            n_b, rev_b = cd_rows[k2]
            assert n_a == n_b and _math.isclose(rev_a, rev_b, rel_tol=1e-9)

        def _run_c(rw: bool) -> float:
            t0 = time.time()
            CAT.catalog_sql(
                spark, cat, qc, matview_rewrite=rw
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        _run_c(True)
        _run_c(False)  # warmups
        t_crw = statistics.median(_run_c(True) for _ in range(3))
        t_cdirect = statistics.median(_run_c(False) for _ in range(3))

        return {
            "initial_build_sec": round(t_build, 3),
            "incremental_refresh_sec": round(t_refresh, 3),
            "partitions_refreshed": out["partitions_refreshed"],
            # which path the auto-chooser ran (round-7 verdict #3):
            # one touched partition of 7 → "incremental" expected
            "strategy": out["strategy"],
            "full_recompute_sec": round(t_recompute, 3),
            "groups": len(full_rows),
            "parity": True,
            "rewrite_answer_sec": round(t_rw, 3),
            "rewrite_direct_sec": round(t_direct, 3),
            "rewrite_over_direct": round(t_rw / t_direct, 2),
            "coarse_rewrite_sec": round(t_crw, 3),
            "coarse_direct_sec": round(t_cdirect, 3),
            "coarse_over_direct": round(t_crw / t_cdirect, 2),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_cdc(spark, sf_dir: str) -> dict:
    """Change-feed production cost: the Structured Streaming source
    (streaming/manifest_source.py — per-commit batches, checkpointed)
    vs the driver-loop batch read (`manifest_row_changes` per window,
    the shape every pre-round-9 consumer ran). Same table, same four
    commits, same rows fed; the sink is noop on both arms so the number
    is the FEED cost, not the downstream merge (identical either way).
    Parity of fed row counts is asserted so the arms can't drift."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table
    from f1_data_pipeline_spark.streaming.manifest_source import (
        read_change_stream,
    )

    work = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        src = os.path.join(work, "src")
        base = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 5 == 0)
            .select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
            )
            .withColumn("yr", F.year("o_orderdate"))
        )
        sinks.merge_upsert_manifest(spark, base, src, ["o_orderkey"], "yr")
        for i in range(3):
            upd = base.filter(F.pmod("o_orderkey", 100) == i * 5).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            )
            sinks.merge_upsert_manifest(
                spark, upd, src, ["o_orderkey"], "yr"
            )
        latest = sinks.manifest_versions(src)[-1]

        def loop_arm() -> float:
            # same work as one stream drain: materialize every column of
            # the bootstrap snapshot + each commit's change rows
            t0 = time.time()
            sinks.read_manifest_table(spark, src, version=1).write.format(
                "noop"
            ).mode("overwrite").save()
            for v in range(2, latest + 1):
                sinks.manifest_row_changes(
                    spark, src, ["o_orderkey"], v - 1, v
                ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        def stream_arm(tag: str) -> tuple[float, int]:
            t0 = time.time()
            q = (
                read_change_stream(spark, src, ["o_orderkey"],
                                   starting_version=1)
                .writeStream.format("noop")
                .option(
                    "checkpointLocation", os.path.join(work, f"ckpt_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("cdc bench: drain exceeded 600 s")
            fed = sum(p["numInputRows"] for p in q.recentProgress)
            q.stop()
            return time.time() - t0, fed

        # untimed parity check: both arms feed identical row counts
        fed_loop = sinks.read_manifest_table(spark, src, version=1).count()
        for v in range(2, latest + 1):
            fed_loop += sinks.manifest_row_changes(
                spark, src, ["o_orderkey"], v - 1, v
            ).count()
        loop_arm()  # untimed warmups (codegen, feed plans)
        _, fed_stream = stream_arm("warm")
        assert fed_stream == fed_loop, (fed_stream, fed_loop)
        loop_secs, stream_secs = [], []
        for rep in range(3):
            loop_secs.append(loop_arm())
            s, _ = stream_arm(f"r{rep}")
            stream_secs.append(s)
        loop_sec = round(statistics.median(loop_secs), 3)
        stream_sec = round(statistics.median(stream_secs), 3)

        # STEADY-STATE arm (round-12 verdict #2): the per-drain gap above
        # is dominated by Spark's per-QUERY-START Python source-runner
        # spawn (~1.2 s measured: fresh interpreter + pyspark import;
        # PythonStreamingSourceRunner hardcodes useDaemon=false — see
        # manifest_source.py's module docstring and SCALE_NOTES). A
        # consumer that keeps ONE query alive (processingTime trigger)
        # pays it once; this arm measures the MARGINAL cost of draining a
        # fresh commit wave through the live query — the number that
        # extrapolates to a continuously-fed 100 TB table, where drains
        # vastly outnumber query starts. Runs AFTER the per-drain reps so
        # its extra commits can't contaminate their fixed 4-commit window.
        landed: list[tuple[float, int]] = []

        def _count(batch, _bid):
            n = batch.count()
            if n:
                landed.append((time.time(), n))

        q = (
            read_change_stream(spark, src, ["o_orderkey"],
                               starting_version=1)
            .writeStream.foreachBatch(_count)
            .option("checkpointLocation", os.path.join(work, "ckpt_steady"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )

        def _wait_rows(target: int, timeout: float = 120.0) -> float:
            t0 = time.time()
            while time.time() - t0 < timeout:
                if sum(n for _, n in landed) >= target:
                    return landed[-1][0]
                time.sleep(0.02)
            q.stop()
            raise RuntimeError("cdc steady-state arm: drain timed out")

        try:
            _wait_rows(fed_stream)  # the backlog batch (pays the spawn)
            expected_total = fed_stream  # absolute cumulative target —
            # the live query can drain a wave WHILE this driver code is
            # still computing its expected count, so per-wave "rows seen
            # so far" arithmetic would race; cumulative totals can't
            wave_secs, wave_loop_secs, wave_rows = [], [], []
            for w in range(3):
                upd = base.filter(
                    F.pmod("o_orderkey", 100) == w * 5 + 55
                ).withColumn("o_totalprice", F.col("o_totalprice") + 2)
                sinks.merge_upsert_manifest(
                    spark, upd, src, ["o_orderkey"], "yr"
                )
                t_commit = time.time()
                v = sinks.manifest_versions(src)[-1]
                expect = sinks.manifest_row_changes(
                    spark, src, ["o_orderkey"], v - 1, v
                ).count()
                expected_total += expect
                t_landed = _wait_rows(expected_total)
                # the trigger can land the wave before/while the expect
                # count above runs — clamp the marginal latency at 0
                wave_secs.append(max(t_landed - t_commit, 0.0))
                wave_rows.append(expect)
                # the loop-arm equivalent of the same wave, same window
                t0 = time.time()
                sinks.manifest_row_changes(
                    spark, src, ["o_orderkey"], v - 1, v
                ).write.format("noop").mode("overwrite").save()
                wave_loop_secs.append(time.time() - t0)
        finally:
            q.stop()
        steady_sec = round(statistics.median(wave_secs), 3)
        steady_loop = round(statistics.median(wave_loop_secs), 3)
        return {
            "commits": latest,
            "rows_fed": fed_stream,
            "driver_loop_sec": loop_sec,
            "stream_source_sec": stream_sec,
            "stream_over_loop": round(stream_sec / loop_sec, 2),
            "steady_state": {
                "trigger": "processingTime=50ms",
                "waves": len(wave_secs),
                "rows_per_wave": wave_rows,
                "per_wave_sec": steady_sec,
                "per_wave_loop_sec": steady_loop,
                "steady_over_loop": round(steady_sec / steady_loop, 2),
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_pipeline(spark, sf_dir: str) -> dict:
    """The full NATIVE streaming loop (round 10): readStream
    manifest_changes → curation screen → manifest_append sink, one
    atomic commit per micro-batch, no foreachBatch — vs the foreachBatch
    equivalent (same source, same screen, insert_into_manifest per
    batch, the pre-X53 consumer shape). Fresh destination + checkpoint
    per run; landed row parity asserted so the arms can't drift. The
    value of the native loop is exactly-once WITHOUT a bespoke driver
    loop; this block prices it honestly against the handwritten one."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table
    from f1_data_pipeline_spark.streaming.manifest_sink import (
        start_manifest_append_stream,
    )
    from f1_data_pipeline_spark.streaming.manifest_source import (
        read_change_stream,
    )

    work = tempfile.mkdtemp(prefix="bench_pipe_")
    try:
        src = os.path.join(work, "src")
        base = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
            .withColumn("yr", F.year("o_orderdate"))
        )
        sinks.merge_upsert_manifest(spark, base, src, ["o_orderkey"], "yr")
        for i in range(3):
            upd = base.filter(F.pmod("o_orderkey", 100) == i * 5).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            )
            sinks.merge_upsert_manifest(spark, upd, src, ["o_orderkey"], "yr")
        commits = sinks.manifest_versions(src)[-1]

        def screen(feed):
            return feed.filter(
                F.col("_change").isin("insert", "update_postimage")
            ).select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 1.1).alias("gross"),
            )

        def native_arm(tag: str) -> tuple[float, str]:
            dst = os.path.join(work, f"native_{tag}")
            t0 = time.time()
            q = start_manifest_append_stream(
                screen(read_change_stream(
                    spark, src, ["o_orderkey"], starting_version=1
                )),
                dst,
                os.path.join(work, f"nckpt_{tag}"),
                sink_id="p",
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("pipeline bench: drain exceeded 600 s")
            q.stop()
            return time.time() - t0, dst

        def feb_arm(tag: str) -> tuple[float, str]:
            from pyspark.sql import types as T

            dst = os.path.join(work, f"feb_{tag}")
            t0 = time.time()
            sinks.create_manifest_table(
                spark, dst,
                T.StructType([
                    T.StructField("o_orderkey", T.LongType()),
                    T.StructField("o_custkey", T.LongType()),
                    T.StructField("gross", T.DoubleType()),
                    T.StructField("b", T.StringType()),
                ]),
                "b",
            )

            def _apply(batch, batch_id):
                sinks.insert_into_manifest(
                    spark,
                    batch.withColumn("b", F.lit(f"{tag}-{batch_id}")),
                    dst,
                )

            q = (
                screen(read_change_stream(
                    spark, src, ["o_orderkey"], starting_version=1
                ))
                .writeStream.foreachBatch(_apply)
                .option(
                    "checkpointLocation", os.path.join(work, f"fckpt_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("pipeline bench: drain exceeded 600 s")
            q.stop()
            return time.time() - t0, dst

        # warmup + landed-rows parity
        _, ndst = native_arm("warm")
        _, fdst = feb_arm("warm")
        n_rows = sinks.read_manifest_table(spark, ndst).count()
        f_rows = sinks.read_manifest_table(spark, fdst).count()
        assert n_rows == f_rows, (n_rows, f_rows)
        nat, feb = [], []
        for rep in range(3):
            s, _ = native_arm(f"r{rep}")
            nat.append(s)
            s, _ = feb_arm(f"r{rep}")
            feb.append(s)
        nat_sec = round(statistics.median(nat), 3)
        feb_sec = round(statistics.median(feb), 3)

        # round-11 arm: the STATEFUL native loop (X6 composed on
        # X52/X53) — withWatermark + tumbling-window aggregate between
        # source and sink. Python-source drains run single-batch, so
        # the watermark a batch persists closes windows on the NEXT
        # data-bearing drain (the pytest pin documents this): the arm
        # lands a base commit, drains (state build, nothing emitted),
        # lands the updates, drains again (early windows emit). Priced
        # against the equivalent batch re-aggregation of the same feed.
        s_src = os.path.join(work, "s_src")
        sinks.merge_upsert_manifest(
            spark, base, s_src, ["o_orderkey"], "yr"
        )

        def s_agg(feed):
            # decimal revenue accumulation: the stateful store and the
            # batch plan sum in different orders — exact decimal addition
            # makes the content parity gate below an equality, not a
            # tolerance (the same discipline the DuckDB oracles use)
            return (
                feed.filter(
                    F.col("_change").isin("insert", "update_postimage")
                )
                .withColumn("ts", F.col("o_orderdate").cast("timestamp"))
                .withWatermark("ts", "30 days")
                .groupBy(F.window("ts", "90 days"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      .alias("rev"))
                .select(F.col("window.start").alias("ws"), "n", "rev")
            )

        s_dst = os.path.join(work, "s_dst")
        s_ck = os.path.join(work, "s_ckpt")

        def s_drain():
            q = start_manifest_append_stream(
                s_agg(read_change_stream(
                    spark, s_src, ["o_orderkey"], starting_version=1
                )),
                s_dst, s_ck, sink_id="w",
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("stateful bench: drain exceeded 600 s")
            q.stop()

        t0 = time.time()
        s_drain()
        s_sec = time.time() - t0
        for i in range(3):
            upd = base.filter(
                F.pmod("o_orderkey", 100) == i * 5
            ).withColumn("o_totalprice", F.col("o_totalprice") + 1)
            sinks.merge_upsert_manifest(
                spark, upd, s_src, ["o_orderkey"], "yr"
            )
        t0 = time.time()
        s_drain()
        s_sec += time.time() - t0
        s_windows = sinks.read_manifest_table(spark, s_dst).count()
        assert s_windows > 0

        def s_batch_df():
            # the batch twin aggregates THE SAME ROWS the stream fed its
            # stateful operator: the v1 snapshot plus every later
            # commit's insert/update_postimage rows (an updated key
            # contributes its pre-update row at v1 AND its postimage —
            # exactly what the streaming aggregate accumulated)
            cols = ["o_orderkey", "o_custkey", "o_totalprice",
                    "o_orderdate"]
            feed_rows = sinks.read_manifest_table(
                spark, s_src, version=1
            ).select(*cols)
            for v in range(2, sinks.manifest_versions(s_src)[-1] + 1):
                feed_rows = feed_rows.unionByName(
                    sinks.manifest_row_changes(
                        spark, s_src, ["o_orderkey"], v - 1, v
                    )
                    .filter(F.col("_change").isin(
                        "insert", "update_postimage"))
                    .select(*cols)
                )
            return (
                feed_rows
                .groupBy(F.window(F.col("o_orderdate").cast("timestamp"),
                                  "90 days"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      .alias("rev"))
                .select(F.col("window.start").alias("ws"), "n", "rev")
            )

        t0 = time.time()
        s_batch_df().write.format("noop").mode("overwrite").save()
        s_batch_sec = time.time() - t0
        # content-level parity gate (round-11 advice): every landed
        # window row must EQUAL the batch aggregation's row for that
        # window start — a value-drifting stateful pipeline can no
        # longer report a plausible ratio (the other arms' discipline).
        # Landed ⊆ batch: the stream only emits windows its watermark
        # closed; unclosed tails legitimately stay in state.
        want = {r.ws: (r.n, r.rev) for r in s_batch_df().collect()}
        for r in sinks.read_manifest_table(spark, s_dst).collect():
            assert r.ws in want and want[r.ws] == (r.n, r.rev), (
                "stateful arm window drifted from batch aggregation",
                r.ws, (r.n, r.rev), want.get(r.ws),
            )

        return {
            "commits": commits,
            "rows_landed": n_rows,
            "foreachbatch_sec": feb_sec,
            "native_loop_sec": nat_sec,
            "native_over_foreachbatch": round(nat_sec / feb_sec, 2),
            "stateful_loop_sec": round(s_sec, 3),
            "stateful_windows_emitted": s_windows,
            "stateful_batch_agg_sec": round(s_batch_sec, 3),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_bucket_route(spark, sf_dir: str) -> dict:
    """The round-10 router priced: the SAME SQL text through catalog_sql
    with the bucket-join route on (zero-exchange mapInArrow pairs, the
    X51 storage-partitioned join) vs off (Spark's shuffled join over the
    same manifest tables). Co-bucketed orders ⋈ customer on custkey at
    the bench SF; row-set parity asserted. The interesting number at
    100 TB is the exchange this removes — at bench scale the absolute
    win is modest (both sides are small), so the honest metric is the
    ratio plus the plan shape, which the route's tests pin."""
    import shutil
    import tempfile

    from f1_data_pipeline_spark.operators import catalog as CAT
    from f1_data_pipeline_spark.operators import sinks
    from f1_data_pipeline_spark.sources import load_table

    work = tempfile.mkdtemp(prefix="bench_route_")
    try:
        fact_p = os.path.join(work, "orders_m")
        dim_p = os.path.join(work, "customer_m")
        cat = os.path.join(work, "cat")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )
        sinks.merge_upsert_manifest(
            spark, o, fact_p, ["o_orderkey"],
            partition_col="bucket(16, o_custkey)",
        )
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
        sinks.merge_upsert_manifest(
            spark, c, dim_p, ["c_custkey"],
            partition_col="bucket(16, c_custkey)",
        )
        CAT.catalog_create_table(cat, "orders_m", fact_p)
        CAT.catalog_create_table(cat, "customer_m", dim_p)
        q = """
            SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice
            FROM orders_m o JOIN customer_m c ON o.o_custkey = c.c_custkey
            WHERE EXTRACT(YEAR FROM o.o_orderdate) >= 1995
        """

        def run(bucket_joins) -> float:
            t0 = time.time()
            CAT.catalog_sql(
                spark, cat, q, bucket_joins=bucket_joins
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        # content-level parity (round-10 advice): sorted row tuples, not
        # count() — the bench's own gate must catch value drift between
        # the two arms, not just cardinality drift
        rows_routed = sorted(
            map(tuple, CAT.catalog_sql(
                spark, cat, q, bucket_joins="force"
            ).collect())
        )
        rows_shuffled = sorted(
            map(tuple, CAT.catalog_sql(
                spark, cat, q, bucket_joins=False
            ).collect())
        )
        assert rows_routed == rows_shuffled, (
            len(rows_routed), len(rows_shuffled)
        )
        n_routed = len(rows_routed)
        run("force")
        run(False)  # warmups
        routed_secs, shuffled_secs, console_secs = [], [], []
        for _ in range(3):
            routed_secs.append(run("force"))
            shuffled_secs.append(run(False))
            console_secs.append(run(True))  # cost-gated default
        r = round(statistics.median(routed_secs), 3)
        s = round(statistics.median(shuffled_secs), 3)
        con = round(statistics.median(console_secs), 3)
        # what the cost-gated default actually decided (round 11): read
        # the EXPLAIN decision record — the decision the timed console
        # runs ACTUALLY made (second review: an independent re-plan here
        # could diverge from the gated run near the floor) — below the
        # route floor the console takes the shuffled plan, so
        # console_over_shuffled should sit near 1.0 at bench SFs while
        # routed_over_shuffled keeps pricing the forced machinery
        note = CAT.catalog_sql(
            spark, cat, "EXPLAIN " + q
        ).collect()[0]["bucket_aligned"]
        return {
            "rows": n_routed,
            "routed_sec": r,
            "shuffled_sec": s,
            "routed_over_shuffled": round(r / s, 2),
            "console_sec": con,
            "console_over_shuffled": round(con / s, 2),
            "console_choice": (
                "routed" if (note or "").startswith("taken:") else note
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from f1_data_pipeline_spark import queries_relational
    from f1_data_pipeline_spark.queries import QUERIES
    from f1_data_pipeline_spark.session import get_spark

    # Three headline keys were consolidated out of the registry in round 2
    # (dedup_first → dedup_first_top1, join_fk_lookup → filter_fk_resolved,
    # agg_running_total → the window_sums composite); bench keeps the
    # original standalone forms so per-query timings stay comparable.
    from f1_data_pipeline_spark import queries_streaming

    calls = dict(QUERIES)
    calls["dedup_first"] = queries_relational.q_dedup_first
    calls["join_fk_lookup"] = queries_relational.q_join_fk_lookup
    calls["agg_running_total"] = queries_relational.q_agg_running_total
    calls["join_anti_existing"] = queries_relational.q_join_anti_existing
    # round-2 registry folds: bench keeps the standalone forms so the
    # per-query series stays comparable across rounds
    calls["stream_tumbling_window"] = queries_streaming.q_tumbling
    from f1_data_pipeline_spark import queries_text

    calls["dedup_minhash"] = queries_text.q_dedup_minhash

    def _topk_arrow(spark, sf_dir):
        import pyspark.sql.functions as F

        from f1_data_pipeline_spark.operators.similarity import brute_force_topk_arrow
        from f1_data_pipeline_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        return brute_force_topk_arrow(emb.filter(F.col("vec_id") < 20), emb, k=5)

    calls["topk_similarity_arrow"] = _topk_arrow

    spark = get_spark("bench")
    # warm the JVM, codegen, and parquet footer/metadata caches outside the
    # timed region — steady-state query time is the metric, not cold-start
    spark.range(1).count()
    from f1_data_pipeline_spark.sources import load_table

    for t in ("lineitem", "orders", "customer", "nation", "events"):
        load_table(spark, sf_dir, t).count()

    host = _host_fingerprint()

    # Fixed calibration probe (round-6 verdict item): a pinned-plan
    # scan-aggregate over lineitem, timed with the same warmup+median
    # protocol. Its plan never changes round-over-round, so its time is a
    # pure host-speed sample — judges divide per-query deltas by the
    # calibration delta to separate code regressions from the shared
    # VM's ±10-25% load drift (three identical-code round-6 reruns
    # spanned 17.0-20.0 s).
    def _calibration() -> tuple[float, list[float]]:
        def probe() -> None:
            import pyspark.sql.functions as F

            (
                load_table(spark, sf_dir, "lineitem")
                .groupBy("l_returnflag")
                .agg(
                    F.sum("l_quantity"),
                    F.avg("l_extendedprice"),
                    F.count(F.lit(1)),
                )
                .write.format("noop").mode("overwrite").save()
            )

        probe()  # untimed warmup
        reps = []
        for _ in range(REPS):
            t0 = time.time()
            probe()
            reps.append(round(time.time() - t0, 3))
        return round(statistics.median(reps), 3), reps

    calibration_sec, cal_samples = _calibration()

    names = [n for n in HEADLINE if n in calls]
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    total = 0.0
    def run(name: str) -> None:
        # force full execution of every output row/column
        calls[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in names:
        run(name)  # untimed warmup iteration: codegen compile + broadcast build
        reps: list[float] = []
        for _ in range(REPS):
            t0 = time.time()
            run(name)
            reps.append(time.time() - t0)
        med = statistics.median(reps)
        timings[name] = round(med, 3)
        spread[name] = round(max(reps) - min(reps), 3)
        total += med

    streaming = bench_streaming(spark, sf_dir)
    metadata = bench_metadata(spark, sf_dir)
    matview = bench_matview(spark, sf_dir)
    cdc = bench_cdc(spark, sf_dir)
    pipeline = bench_pipeline(spark, sf_dir)
    bucket_route = bench_bucket_route(spark, sf_dir)
    # second calibration pass AFTER all blocks (round-12 verdict #7):
    # host speed can drift across a several-minute run; normalizing by
    # the median of BOTH passes makes cross-round comparison a column
    # instead of a host-noise argument
    calibration_end_sec, cal_end_samples = _calibration()
    cal_all = cal_samples + cal_end_samples
    norm_base = statistics.median(cal_all)
    host["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

    # Detail blocks (spread/host/streaming/incremental/metadata/matview) go
    # to BENCH_DETAIL.json and an EARLY stdout line; the FINAL line is the
    # compact driver contract only. Round 5's official record was lost
    # because the single giant line outgrew the driver's stdout-tail
    # capture window (BENCH_r05.json parsed: null) — the last line printed
    # must stay small.
    detail = {
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": REPS,
        "stat": "median",
        "calibration_sec": calibration_sec,
        "calibration_end_sec": calibration_end_sec,
        "calibration_samples": cal_all,
        "total_sec": round(total, 3),
        # calibration-normalized total + per-query values (round-12
        # verdict #7): seconds ÷ the run's own median calibration sample.
        # Dimensionless and host-speed-invariant — compare THESE across
        # rounds; raw seconds stay for absolute envelope checks
        "total_normalized": round(total / norm_base, 2),
        "normalized": {
            name: round(t / norm_base, 2) for name, t in timings.items()
        },
        # per-query medians also land here so tools/bench_compare.py can
        # diff any two BENCH_DETAIL snapshots without the driver record
        "queries": timings,
        "spread": spread,
        "host": host,
        "streaming": streaming,
        "metadata": metadata,
        "matview": matview,
        "cdc": cdc,
        "pipeline": pipeline,
        "bucket_route": bucket_route,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print("DETAIL " + json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "calibration_sec": calibration_sec,
                "total_normalized": round(total / norm_base, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
