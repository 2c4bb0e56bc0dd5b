"""Isolated per-query timing + runtime (post-AQE) plan capture.

Usage:
    python tools/ab_time.py <sf_dir> <query>[,query...] [reps] [--plan out.txt]

Times each named query with the same protocol as bench.py (untimed warmup,
median of N reps, noop sink) but in a dedicated session, so a single change
can be A/B'd back-to-back without the full bench. With --plan, the query is
collect()ed once afterwards and the FINAL adaptive plan (isFinalPlan=true,
ReusedExchange / AQEShuffleRead visible) is written out — `explain` before
execution only shows the initial plan, which hides runtime broadcast reuse.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


USAGE = "python tools/ab_time.py <sf_dir> <query>[,query...] [reps] [--plan out.txt]"


def _calls() -> dict:
    """Timeable names: the query registry plus a few non-registry variants."""
    from f1_data_pipeline_spark import (
        queries_relational,
        queries_streaming,
        queries_text,
    )
    from f1_data_pipeline_spark.queries import QUERIES

    calls = dict(QUERIES)
    calls["dedup_first"] = queries_relational.q_dedup_first
    calls["join_fk_lookup"] = queries_relational.q_join_fk_lookup
    calls["agg_running_total"] = queries_relational.q_agg_running_total
    calls["join_anti_existing"] = queries_relational.q_join_anti_existing
    calls["stream_tumbling_window"] = queries_streaming.q_tumbling
    calls["dedup_minhash"] = queries_text.q_dedup_minhash

    def _topk_arrow(spark, sf_dir):
        import pyspark.sql.functions as F

        from f1_data_pipeline_spark.operators.similarity import (
            brute_force_topk_arrow,
        )
        from f1_data_pipeline_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        return brute_force_topk_arrow(emb.filter(F.col("vec_id") < 20), emb, k=5)

    calls["topk_similarity_arrow"] = _topk_arrow
    return calls


def parse_args(argv: list[str] | None, calls: dict) -> argparse.Namespace:
    """Parse the command line; a bad one prints the usage line and exits 2."""
    ap = argparse.ArgumentParser(prog="ab_time.py", usage=USAGE)
    ap.add_argument("sf_dir")
    ap.add_argument("queries", type=lambda v: v.split(","))
    ap.add_argument("reps", nargs="?", type=int, default=5)
    ap.add_argument("--plan", dest="plan_out", metavar="out.txt")
    args = ap.parse_intermixed_args(argv)
    unknown = [q for q in args.queries if q not in calls]
    if unknown:
        ap.error(
            f"unknown query {', '.join(unknown)} (known: {', '.join(sorted(calls))})"
        )
    return args


def main(argv: list[str] | None = None) -> None:
    calls = _calls()
    args = parse_args(argv, calls)
    sf_dir, names, reps, plan_out = (
        args.sf_dir, args.queries, args.reps, args.plan_out
    )

    from tools.capture_plans import shape_summary

    from f1_data_pipeline_spark.session import get_spark

    spark = get_spark("ab_time")
    spark.range(1).count()
    from f1_data_pipeline_spark.sources import load_table

    for t in ("lineitem", "orders", "customer", "nation", "events", "documents"):
        load_table(spark, sf_dir, t).count()

    for name in names:
        fn = calls[name]

        def run():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        spark.sparkContext.setJobDescription(f"ab: {name}")
        run()  # untimed warmup
        samples = []
        for _ in range(reps):
            t0 = time.time()
            run()
            samples.append(round(time.time() - t0, 3))
        med = statistics.median(samples)
        print(f"AB {name}: median={med:.3f}s samples={samples}")
        if plan_out:
            df = fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(plan_out, "w") as fh:
                fh.write(shape_summary(plan))
                fh.write(plan)
            print(f"   final plan -> {plan_out}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
