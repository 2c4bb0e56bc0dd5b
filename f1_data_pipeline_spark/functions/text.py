"""Text expression helpers for the training-data operators (SURVEY.md §2.L).

Everything is built from pyspark.sql.functions (JVM, codegen-friendly);
counting uses the replace-length trick so the exact same logic is expressible
in any SQL oracle dialect.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword markers for the heuristic language-ID
# operator. Deliberately tiny and deterministic — the operator's value is the
# *shape* (n-gram/stopword scoring at scale), not lexicon quality.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "nicht", "das"),
    "es": ("el", "la", "que", "los", "una"),
    "fr": ("le", "les", "des", "une", "est"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def _estimated_splits(df) -> int:
    """Scan splits of `spark.sql.files.maxPartitionBytes` each that `df`'s
    estimated output size fills (optimizer statistics), 1 when the size is
    unknown. Metadata only: `df.rdd.getNumPartitions()` would instead run
    every shuffle stage under `df` when AQE is on, before any action."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= conf.defaultSizeInBytes():
        return 1
    return -(-size // conf.filesMaxPartitionBytes())


def positional_ngrams(df, id_col: str, text_col: str, n: int, spread: bool = True):
    """(id_col, pos, ngram) rows: the codegen'd posexplode + window-lead
    shingler shared by minhash, contamination, and duplicate-span dedup.

    NOT the array-HOF `word_shingles` form: higher-order functions evaluate
    interpreted (outside whole-stage codegen) and Catalyst's project
    collapsing re-inlines the whole expression into every consumer —
    measured 167 s vs ~5 s at sf0.1 for the contamination query. `pos` is
    the 0-based token position of the gram's first token; docs shorter than
    n tokens yield no rows. One window shuffle keyed on the id.

    r14 (`spread=True`): the id-keyed exchange the window needs is issued
    EXPLICITLY on the raw (id, text) rows, BEFORE tokenize+posexplode,
    instead of implicitly on the exploded (id, pos, tok) rows. Two effects,
    both guide §2: the exchange moves ~3× fewer bytes (one text string per
    doc instead of one row per token — §2.3 "project before the exchange"),
    and tokenize+explode run AFTER the shuffle, so a low-split input (one
    parquet row group, a gzip file, one hot partition — §2.5 input skew)
    no longer serializes them into a single scan task. Exchange count is
    unchanged — the repartition satisfies the window's required
    distribution, so the window's own exchange disappears. Interleaved A/B
    at sf0.1 (single-row-group input): minhash sig build 1.175 → 0.911 s.
    Pass spread=False when the input is already hash-partitioned by
    `id_col` (then the window is exchange-free and the explicit repartition
    would ADD one).
    """
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col), F.col(text_col))
    if spread:
        # Explicit partition count: a bare repartition(col) is
        # AQE-coalesced by BYTES (minPartitionSize 1 MB), which re-serializes
        # a small-but-CPU-heavy text batch onto 1-2 tasks — bytes are the
        # wrong proxy when each text byte fans out into token rows, window
        # sort and hash work. Never go below the input's own split count
        # (at warehouse scale the scan already arrives in thousands of
        # splits and this keeps that granularity); raise degenerate layouts
        # to at least one partition per core.
        n_parts = max(
            _estimated_splits(base),
            df.sparkSession.sparkContext.defaultParallelism,
        )
        base = base.repartition(n_parts, F.col(id_col))
    tok_rows = base.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    return (
        tok_rows.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("ngram"),
            parts[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (distinct), the MinHash input unit."""
    toks = tokens(col)
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def occurrences(col: Column | str, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal word, counted on the
    space-padded text — portable to any SQL dialect via replace+length."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    target = f" {needle} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(target), F.lit(""))))
        / len(target)
    ).cast("long")


def punct_count(col: Column | str) -> Column:
    """Count of .,!?;: characters (regexp-free: chained literal replaces)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = c
    for p in [".", ",", "!", "?", ";", ":"]:
        stripped = F.replace(stripped, F.lit(p), F.lit(""))
    return F.length(c) - F.length(stripped)


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-marker hit count per language."""
    return {
        lang: sum(occurrences(col, w) for w in words).cast("long")
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker scores, 'und' when all zero.
    Ties break by language code order (deterministic)."""
    scores = lang_scores(col)
    # build argmax with a stable order: compare (score, -ord) descending
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in sorted(scores, reverse=True):  # reversed so earlier code wins ties
        s = scores[lang]
        cond = s >= F.greatest(best_score, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 (portable across engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)
