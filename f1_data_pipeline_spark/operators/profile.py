"""Table profiling — the data-quality QA pass a pipeline runs before and
after every load (null rates, cardinalities, value distributions).

Beyond-reference suite (the reference validates FK integrity and quarantines
bad rows but has no profiling surface; SURVEY.md §2.I). Output is a long
(col_name, stat, value) frame so one schema covers any table: numeric-only
values, no engine-specific string formatting of min/max (double→string
rendering differs across engines and would break oracle hashing).

Plan shape: ONE aggregation pass computes every per-column stat (r14: the
default exact strategy is per-column collect_set sizes inside that single
aggregate — no Expand node, see profile_long), then a codegen'd unpivot
(stack); the histogram is a second single-pass aggregate on fixed literal
bucket bounds, so the whole profile is two scans, zero joins, and
partial-aggregates map-side. At 100 TB swap the exact distinct for
approx_count_distinct — noted inline — and the plan shape is unchanged;
distinct_strategy="expand" keeps exactness with fully spillable state when
per-partition distinct counts outgrow task memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_long(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_distinct: bool = False,
    distinct_strategy: str = "set",
) -> DataFrame:
    """Per-column stats as (col_name, stat, value): n_rows (once, under
    col_name='*'), and n_nulls / null_frac / n_distinct per column. On an
    empty frame null_frac is NULL (no rows to take a fraction of) and
    n_distinct is 0 under every strategy.

    `approx_distinct=True` is the 100 TB path: HLL sketches instead of any
    exact strategy (one less shuffle amplification; ±2% error).

    `distinct_strategy` picks the EXACT plan (r14, guide §2.3/§2.4):

    - ``"set"`` (default): one `size(collect_set(c))` per column inside the
      same single aggregate that computes the null counts. No Expand node:
      the multi-`count_distinct` form multiplies every input row ×(n_cols+1)
      through an Expand and shuffles each column's values as rows, while
      this form keeps ONE pass with partial sets merged at the exchange
      (interleaved A/B at sf0.1, 6 columns over 100k events: distinct
      aggregate 0.92 → 0.42 s). Memory bound: each task holds the distinct
      values of ITS partition per column (sets spill nothing) — right while
      sum-of-distincts per 128 MB-1 GB partition stays in task memory, i.e.
      comfortably through the tens of millions of distincts per column;
      beyond that use ``"expand"`` (values flow through a spillable shuffle)
      or `approx_distinct`. Float/double columns are normalized first
      (`+0.0` merges -0.0 into 0.0, NaNs are canonicalized) because
      collect_set dedupes by bit pattern while count_distinct dedupes by
      grouping semantics — verified equal on NaN/-0.0/null fixtures in
      tests/test_profile.py.
    - ``"expand"``: Spark's native multi-column `count_distinct` (the ×N+1
      Expand). Exactness with fully spillable state at any cardinality.
    """
    cols = columns or df.columns
    if approx_distinct:
        distinct = lambda c: F.approx_count_distinct(c)  # noqa: E731
    elif distinct_strategy == "set":
        types = dict(df.dtypes)

        def distinct(c: str):
            v = F.col(c)
            if types.get(c) not in ("double", "float"):
                return F.size(F.collect_set(v))
            # collect_set dedupes floats by bit pattern: -0.0 and 0.0 stay
            # two elements, and NaNs are one element only where their bits
            # were canonicalised. count_distinct's grouping normalises both
            # (-0.0 into 0.0, every NaN into one canonical NaN). Normalize
            # here the same way: -0.0 + 0.0 == 0.0 (IEEE 754), NaNs
            # leave the set entirely (→ null, which collect_set drops)
            # and come back as one max(isnan) flag (NULL over zero rows,
            # hence the coalesce).
            set_part = F.size(
                F.collect_set(
                    F.when(F.isnan(v), F.lit(None)).otherwise(v + F.lit(0.0))
                )
            )
            return set_part + F.coalesce(
                F.max(F.coalesce(F.isnan(v), F.lit(False)).cast("int")),
                F.lit(0),
            )

    elif distinct_strategy == "expand":
        distinct = lambda c: F.count_distinct(F.col(c))  # noqa: E731
    else:
        raise ValueError(f"unknown distinct_strategy: {distinct_strategy!r}")
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"__nulls_{c}"),
            distinct(c).alias(f"__dist_{c}"),
        ]
    row = df.agg(*aggs)
    # unpivot via stack: 1 + 3*len(cols) (col_name, stat, value) triples
    parts = ["'*'", "'n_rows'", "CAST(__n_rows AS DOUBLE)"]
    for c in cols:
        parts += [
            f"'{c}'", "'n_nulls'", f"CAST(__nulls_{c} AS DOUBLE)",
            f"'{c}'", "'null_frac'",
            f"ROUND(CAST(__nulls_{c} AS DOUBLE) / NULLIF(__n_rows, 0), 6)",
            f"'{c}'", "'n_distinct'", f"CAST(__dist_{c} AS DOUBLE)",
        ]
    n = 1 + 3 * len(cols)
    return row.selectExpr(
        f"stack({n}, {', '.join(parts)}) AS (col_name, stat, value)"
    )


def histogram(
    df: DataFrame,
    col: str,
    bucket_width: float,
    n_buckets: int,
) -> DataFrame:
    """Fixed-width histogram of a numeric column as (col_name, stat, value):
    bucket i covers [i*width, (i+1)*width), underflow clamps to bucket 0,
    overflow to bucket n_buckets; NULLs are excluded (they're counted by
    profile_long). Bucket ids are zero-padded so the stat key sorts
    naturally. Bounds are literals — the histogram needs no pre-pass over
    the data, so it stays a single partial-aggregated scan at any scale."""
    b = F.least(
        F.greatest(F.floor(F.col(col) / F.lit(bucket_width)).cast("int"), F.lit(0)),
        F.lit(n_buckets),
    )
    # pad width must cover the largest bucket id — Spark's lpad TRUNCATES
    # longer strings, which would collide bucket 100 with bucket 10
    pad = max(2, len(str(n_buckets)))
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            F.lit(col).alias("col_name"),
            F.concat(
                F.lit("hist_"), F.lpad(F.col("__b").cast("string"), pad, "0")
            ).alias("stat"),
            F.col("__n").cast("double").alias("value"),
        )
    )


def profile_with_histogram(
    df: DataFrame,
    hist_col: str,
    bucket_width: float,
    n_buckets: int,
    columns: list[str] | None = None,
    distinct_strategy: str = "set",
) -> DataFrame:
    """profile_long + histogram in one frame (same long schema)."""
    return profile_long(df, columns, distinct_strategy=distinct_strategy).unionAll(
        histogram(df, hist_col, bucket_width, n_buckets)
    )
