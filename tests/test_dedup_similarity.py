"""Dedup + similarity operator goldens (the xxhash-based ops have no SQL
oracle, so these pytest checks are their correctness gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_pipeline_spark.operators import dedup as D
from f1_data_pipeline_spark.operators import similarity as S


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_exact_dedup_keeps_min_id(spark):
    out = D.exact_dedup(_docs(spark), "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_minhash_finds_near_dup_not_distinct(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got          # identical → jaccard 1.0
    assert (1, 2) in got          # near-dup shares most shingles
    assert not any(3 in p for p in got)


def test_minhash_exact_dup_estimates_one(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.3)
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert est[(1, 4)] == 1.0


def test_minhash_bucket_cap_drops_boilerplate_keeps_true_pairs(spark):
    """Hot-bucket cap (max_bucket_size): an identical boilerplate prefix
    shared by a third of the corpus must not cost any above-threshold pair
    — true near-dups also collide in body-content bands — while the
    pre-cap bucket population shows the skew the cap removes."""
    import random

    rng = random.Random(7)
    boiler = " ".join(f"licensetok{j}" for j in range(40))
    rows = []
    for i in range(90):
        body = " ".join(f"w{rng.randrange(10_000)}u{i}k{j}" for j in range(40))
        text = f"{boiler} {body}" if i % 3 == 0 else body
        rows.append((i, text))
    # one true near-dup pair, both boilerplated: bodies differ by one token
    base_body = " ".join(f"dup{j}" for j in range(60))
    rows.append((1000, f"{boiler} {base_body}"))
    rows.append((1001, f"{boiler} {base_body} extra"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, max_bucket_size=8
        ).collect()
    }
    assert (1000, 1001) in uncapped
    assert capped == uncapped  # no above-threshold pair lost to the cap

    stats = D.minhash_bucket_stats(docs, "doc_id", "text").collect()[0]
    # the boilerplate cohort (~32 docs) really does create over-cap buckets
    assert stats["max_bucket"] > 8


def test_simhash_identical_distance_zero(spark):
    pairs = D.simhash_pairs(_docs(spark), "doc_id", "text", max_hamming=16)
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert ham[(1, 4)] == 0
    assert ham[(1, 2)] > 0


def test_token_jaccard_exact_values(spark):
    pairs = D.token_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.1)
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert jac[(1, 4)] == 1.0
    # docs 1,2: tokens {the,quick,brown,fox,jumps,over,lazy,dog|cat} →
    # |A∩B|=7, |A∪B|=9 (8 distinct each, one divergent)
    assert jac[(1, 2)] == round(7 / 9, 4)


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0], 0),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")


def test_brute_force_topk_ordering(spark):
    emb = _vecs(spark)
    out = S.brute_force_topk(emb.filter("vec_id = 1"), emb, k=3).collect()
    assert [r.neighbor_id for r in out] == [2, 3, 4]
    assert out[0].cos_sim > 0.99 and out[2].cos_sim == -1.0


def test_embedding_cosine_pairs_blocked(spark):
    emb = _vecs(spark)
    pairs = D.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.9, block_col="label")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # 4 is blocked away by label, 3 below threshold


def test_lsh_ann_subset_of_exact(spark, sf_dir):
    """ANN results must be true cosines (no fabricated scores): every
    returned (query, neighbor, sim) must match the exact computation."""
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.brute_force_topk(queries, emb, k=500).collect()
    }
    ann = S.lsh_ann_topk(queries, emb, k=5, n_planes=6).collect()
    assert ann, "LSH returned nothing — buckets degenerate"
    for r in ann:
        assert exact[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_ivf_ann_deterministic(spark, sf_dir):
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    a = S.ivf_ann_topk(queries, emb, k=3, nlist=4, nprobe=2).collect()
    b = S.ivf_ann_topk(queries, emb, k=3, nlist=4, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ann_recall_floors(spark):
    """ANN variants must hold a recall floor against brute force at
    sf0.001 (uniform-random embeddings — LSH's hardest case; deterministic
    seeds make these thresholds stable)."""
    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import similarity as S
    from f1_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(qs, emb, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_ann_topk(qs, emb, k=5, n_planes=4, n_tables=16).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_ann_topk(qs, emb, k=5, nlist=8, nprobe=4).collect()
    }
    assert len(lsh & truth) / len(truth) >= 0.8
    assert len(ivf & truth) / len(truth) >= 0.8


def test_persisted_ivf_index_matches_inline(spark, tmp_path):
    """build-once/search-many IVF equals the inline (retrain-per-call)
    variant given the same quantizer seed, and the cell scan prunes to the
    probed partitions."""
    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import similarity as S
    from f1_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)

    idx = str(tmp_path / "ivf")
    S.build_ivf_index(emb, idx, nlist=8)
    persisted = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_search(qs, idx, k=5, nprobe=4).collect()
    }
    inline = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_ann_topk(qs, emb, k=5, nlist=8, nprobe=4).collect()
    }
    assert persisted == inline


def test_duplicate_clusters_components(spark):
    """Chains, cliques and singletons resolve to min-id components."""
    from f1_data_pipeline_spark.operators import dedup as D

    # components: {1,2,3,4} (chain), {10,11} (pair); 99 appears in no pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in D.duplicate_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_dedup_by_clusters_end_to_end(spark):
    """Detector pairs → clusters → one representative kept per cluster."""
    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators import dedup as D
    from f1_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    kept = D.dedup_by_clusters(docs, pairs, "doc_id")
    n_docs, n_kept = docs.count(), kept.count()
    clusters = D.duplicate_clusters(pairs)
    n_losers = clusters.filter(F.col("id") != F.col("cluster_id")).count()
    assert n_kept == n_docs - n_losers
    # every cluster still has exactly its representative present
    reps = {r["cluster_id"] for r in clusters.collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert reps <= kept_ids


def test_arrow_kernel_matches_sql_brute_force(spark, sf_dir):
    """The Arrow GEMM kernel is a physical-plan alternative, not a new
    operator: results must be row-identical to the SQL-expression brute
    force (same rounding, same tie-break) on the real embeddings table."""
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 20")
    cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    sql_rows = {tuple(r) for r in S.brute_force_topk(queries, emb, k=5).select(cols).collect()}
    arrow_rows = {
        tuple(r)
        for r in S.brute_force_topk_arrow(queries, emb, k=5).select(cols).collect()
    }
    assert arrow_rows == sql_rows


# --- exact substring duplicate spans --------------------------------------------


def test_duplicate_spans_finds_shared_run_and_merges(spark):
    """Two docs share one 6-token run inside otherwise-unique text: with
    n=4 the run is covered by three overlapping gram hits that must merge
    into ONE span per doc, exactly covering the shared tokens."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"u0a u0b u0c {shared} u0d u0e"),
        (1, f"v0a {shared} v0b v0c v0d v0e"),
        (2, "w0a w0b w0c w0d w0e w0f w0g w0h w0i"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from f1_data_pipeline_spark.operators.dedup import duplicate_spans

    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in duplicate_spans(df, n=4).collect()
    }
    # doc 0: shared run at positions 3..8; doc 1: positions 1..6; doc 2: none
    assert out == {0: (3, 8, 3), 1: (1, 6, 3)}


def test_duplicate_spans_ignores_intra_doc_repeats(spark):
    """A run repeated only WITHIN one doc is not a cross-doc duplicate
    (min_docs=2 counts distinct documents, not occurrences)."""
    rep = "r1 r2 r3 r4"
    df = spark.createDataFrame(
        [(0, f"{rep} x1 x2 {rep}"), (1, "y1 y2 y3 y4 y5 y6 y7 y8")],
        ["doc_id", "text"],
    )
    from f1_data_pipeline_spark.operators.dedup import duplicate_spans

    assert duplicate_spans(df, n=4).count() == 0


def test_duplicate_spans_plan_no_cartesian(spark, sf_dir):
    from f1_data_pipeline_spark.operators.dedup import duplicate_spans
    from f1_data_pipeline_spark.plans import audit
    from f1_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    js = audit.join_strategies(duplicate_spans(docs, n=15))
    assert js["cartesian"] == 0 and js["broadcast_nested_loop"] == 0


# --- SemDeDup (embedding-space dedup) -------------------------------------------


def test_semantic_dedup_drops_near_identical_keeps_distinct(spark):
    """Three tight groups of near-identical vectors + isolated singletons:
    each group collapses to its min-id representative, singletons survive."""
    import math
    import random

    from f1_data_pipeline_spark.operators.dedup import semantic_dedup

    rng = random.Random(7)

    def unit(seed_vec):
        n = math.sqrt(sum(x * x for x in seed_vec))
        return [x / n for x in seed_vec]

    rows = []
    vid = 0
    groups = []
    for g in range(3):
        base = [rng.gauss(0, 1) for _ in range(16)]
        members = []
        for _ in range(4):  # near-identical copies (tiny jitter)
            v = unit([x + rng.gauss(0, 0.001) for x in base])
            rows.append((vid, v))
            members.append(vid)
            vid += 1
        groups.append(members)
    singles = []
    for _ in range(6):
        rows.append((vid, unit([rng.gauss(0, 1) for _ in range(16)])))
        singles.append(vid)
        vid += 1

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.999, n_clusters=4
        ).collect()
    }
    for members in groups:
        assert kept & set(members) == {min(members)}
    assert set(singles) <= kept


def test_semantic_dedup_deterministic(spark, sf_dir):
    from f1_data_pipeline_spark.operators.dedup import semantic_dedup
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {r["vec_id"] for r in semantic_dedup(emb, threshold=0.35).collect()}
    b = {r["vec_id"] for r in semantic_dedup(emb, threshold=0.35).collect()}
    assert a == b and len(a) > 0


def test_remove_duplicate_spans_clips_only_shared_run(spark):
    """The clip step cuts exactly the shared tokens and preserves the rest
    in order; untouched docs pass through with zero removed."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"u0a u0b u0c {shared} u0d u0e"),
        (1, f"v0a {shared} v0b v0c v0d v0e"),
        (2, "w0a w0b w0c w0d w0e w0f w0g w0h w0i"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from f1_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=4).collect()}
    assert out[0]["clean_text"] == "u0a u0b u0c u0d u0e"
    assert out[0]["kept_tokens"] == 5 and out[0]["removed_tokens"] == 6
    assert out[1]["clean_text"] == "v0a v0b v0c v0d v0e"
    assert out[2]["removed_tokens"] == 0
    assert out[2]["clean_text"] == rows[2][1]


def test_remove_duplicate_spans_fully_duplicated_doc_empties(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f")], ["doc_id", "text"]
    )
    from f1_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=3).collect()}
    for i in (0, 1):
        assert out[i]["clean_text"] == "" and out[i]["kept_tokens"] == 0
        assert out[i]["removed_tokens"] == 6


def test_ann_recall_floors_adversarial(spark):
    """Recall floors on an ADVERSARIAL embedding distribution, not just the
    benign uniform testdata: tight clusters (mass concentrated in narrow
    cones — hyperplanes rarely separate, cells collapse), far outliers
    (their true neighbors spread across many cells/buckets), and
    near-duplicate queries (perturbed corpus points — the dedup workload
    where a miss means a duplicate survives). Deterministic via seeded
    numpy; floors at the same 0.8 as the benign test, and the near-dup
    self-recovery floor is stricter."""
    import numpy as np

    from f1_data_pipeline_spark.operators import similarity as S

    rng = np.random.RandomState(1234)
    dim, n_clusters, per_cluster, n_outliers = 64, 8, 50, 40
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):  # tight clusters: sigma 0.05 around center
        pts = centers[ci] + 0.05 * rng.standard_normal((per_cluster, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    for _ in range(n_outliers):  # isotropic far outliers
        p = 5.0 * rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in p]))
        vid += 1
    corpus_rows = rows[:]

    # queries: 10 near-duplicates of corpus points (tiny perturbation),
    # 5 cluster-center queries, 5 outlier-region queries
    queries = []
    qid = 10_000
    dup_sources = {}
    for i in range(10):
        src_id, src_vec = rows[i * 37 % len(rows)]
        q = np.array(src_vec) + 0.01 * rng.standard_normal(dim)
        queries.append((qid, [float(x) for x in q]))
        dup_sources[qid] = src_id
        qid += 1
    for ci in range(5):
        queries.append((qid, [float(x) for x in centers[ci]]))
        qid += 1
    for _ in range(5):
        queries.append((qid, [float(x) for x in 5.0 * rng.standard_normal(dim)]))
        qid += 1

    schema = "vec_id: long, embedding: array<float>"
    corpus = spark.createDataFrame(corpus_rows + queries, schema)  # self-searchable
    qs = spark.createDataFrame(queries, schema)

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(qs, corpus, k=5).collect()
    }
    lsh_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_ann_topk(qs, corpus, k=5, n_planes=4, n_tables=16).collect()
    }
    ivf = S.ivf_ann_topk(qs, corpus, k=5, nlist=8, nprobe=4).collect()
    ivf_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf}

    assert len(lsh_pairs & truth) / len(truth) >= 0.8
    assert len(ivf_pairs & truth) / len(truth) >= 0.8

    # near-duplicate queries MUST recover their source at rank 1 — the
    # dedup-critical property, stricter than aggregate recall
    ivf_rank1 = {r["query_id"]: r["neighbor_id"] for r in ivf if r["rank"] == 1}
    hits = sum(1 for q, src in dup_sources.items() if ivf_rank1.get(q) == src)
    assert hits >= 9  # ≥90% of near-dup queries


def test_ivf_index_add_incremental(spark, tmp_path):
    """ivf_index_add: new vectors join their nearest existing cell (no
    retrain — centroids byte-identical), land under the cell partition
    layout, and are immediately findable; existing results unchanged."""
    from f1_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    first, rest = emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(first, idx, nlist=4)
    cents_before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/centroids").collect())
    )
    qs = emb.filter(F.col("vec_id") < 4)
    before = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_search(qs, idx, k=3, nprobe=4).collect()
    }

    n = S.ivf_index_add(rest, idx)
    assert n == rest.count()
    assert (
        sorted(map(tuple, spark.read.parquet(f"{idx}/centroids").collect()))
        == cents_before
    )
    # nprobe = all cells → exact over the unioned corpus: every added id
    # must now be reachable and results must match brute force
    after = S.ivf_search(qs, idx, k=3, nprobe=4)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(qs, emb, k=3).collect()
    }
    assert {(r["query_id"], r["neighbor_id"]) for r in after.collect()} == truth
    assert before != truth  # the add genuinely changed reachability


def test_minhash_index_incremental_matches_batch(spark, tmp_path, sf_dir):
    """Persisted minhash index: querying a NEW batch against the indexed
    corpus finds exactly the cross (new, corpus) pairs the batch operator
    finds on the union — without recomputing corpus signatures — and
    index_add makes later batches see earlier ones."""
    from f1_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter("doc_id % 3 != 0")
    batch = docs.filter("doc_id % 3 = 0")

    idx = str(tmp_path / "mh_idx")
    D.build_minhash_index(corpus, idx, "doc_id", "text")
    got = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in D.query_minhash_index(batch, idx, "doc_id", "text", 0.5).collect()
    }

    union_pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    corpus_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    expected = set()
    for r in union_pairs.collect():
        a, b = r["id_a"], r["id_b"]
        if a in batch_ids and b in corpus_ids:
            expected.add((a, b, r["est_jaccard"]))
        elif b in batch_ids and a in corpus_ids:
            expected.add((b, a, r["est_jaccard"]))
    assert got == expected and expected  # non-trivial on this corpus

    # add the batch; a doc duplicated from it must now be caught
    D.minhash_index_add(batch, idx, "doc_id", "text")
    one = batch.limit(1).collect()[0]
    probe = spark.createDataFrame(
        [(999_999, one["text"])], "doc_id long, text string"
    )
    hits = D.query_minhash_index(probe, idx, "doc_id", "text", 0.9).collect()
    assert any(r["index_id"] == one["doc_id"] and r["est_jaccard"] == 1.0 for r in hits)


def test_minhash_index_compaction_parity_and_file_counts(spark, tmp_path, sf_dir):
    """Compaction contract: after many small index adds, compact_minhash_index
    collapses bands/ to ~one file per band partition and sigs/ to few files,
    PRESERVES the band=-partitioned layout, and query results are identical
    pre/post (including duplicate sig rows from a replayed add, which
    compaction also collapses)."""
    import glob
    import os

    from f1_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "mh_idx_compact")
    D.build_minhash_index(docs.filter("doc_id % 7 = 0"), idx, "doc_id", "text")
    for m in range(1, 6):  # five small adds -> five appended file batches
        D.minhash_index_add(
            docs.filter(f"doc_id % 7 = {m}"), idx, "doc_id", "text"
        )
    # simulate a crash-replayed add: duplicate rows for one slice
    D.minhash_index_add(docs.filter("doc_id % 7 = 1"), idx, "doc_id", "text")

    probe = docs.filter("doc_id % 7 = 6")
    before = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in D.query_minhash_index(probe, idx, "doc_id", "text", 0.5).collect()
    }
    ids_before = {r["id"] for r in D.minhash_index_ids(spark, idx).collect()}

    res = D.compact_minhash_index(spark, idx)
    assert res["bands_files_after"] < res["bands_files_before"]
    assert res["sigs_files_after"] < res["sigs_files_before"]
    # band partitioning preserved: hive dirs present, ~one file per band
    band_dirs = glob.glob(os.path.join(idx, "bands", "band=*"))
    assert len(band_dirs) == 16  # default band count
    assert all(
        len(glob.glob(os.path.join(d, "*.parquet"))) == 1 for d in band_dirs
    )

    after = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in D.query_minhash_index(probe, idx, "doc_id", "text", 0.5).collect()
    }
    assert after == before and before  # parity, non-trivial
    assert {r["id"] for r in D.minhash_index_ids(spark, idx).collect()} == ids_before

    # compaction composes with further incremental adds
    D.minhash_index_add(probe, idx, "doc_id", "text")
    one = probe.limit(1).collect()[0]
    dup = spark.createDataFrame([(888_888, one["text"])], "doc_id long, text string")
    hits = D.query_minhash_index(dup, idx, "doc_id", "text", 0.9).collect()
    assert any(r["index_id"] == one["doc_id"] for r in hits)


def test_minhash_index_query_broadcasts_batch_side(spark, tmp_path, sf_dir):
    """Plan pin: the incremental query must broadcast the (small) new
    batch against the index scan — a sort-merge join would shuffle the
    corpus-sized band index per ingest batch."""
    from f1_data_pipeline_spark.plans.audit import join_strategies
    from f1_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "mh_idx_plan")
    D.build_minhash_index(docs.filter("doc_id % 2 = 0"), idx, "doc_id", "text")
    q = D.query_minhash_index(
        docs.filter("doc_id % 2 = 1").limit(50), idx, "doc_id", "text", 0.5
    )
    strat = join_strategies(q)
    assert strat.get("sort_merge", 0) == 0, strat
    assert strat["broadcast_hash"] >= 1, strat


def test_ivf_index_add_requires_centroids(spark, tmp_path):
    """Adding to a nonexistent/empty index must fail loudly — NULL cell
    assignment would strand vectors unreachable by any probe."""
    import pytest

    idx = str(tmp_path / "no_idx")
    spark.createDataFrame(
        [(0, [0.0, 1.0])], "cell int, centroid array<double>"
    ).limit(0).write.parquet(f"{idx}/centroids")
    with pytest.raises(ValueError, match="centroids"):
        S.ivf_index_add(_vecs(spark), idx, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# Product quantization (similarity.pq_*)
# ---------------------------------------------------------------------------


def test_pq_recall_floor_and_rerank_exactness(spark):
    """PQ+ADC with exact re-rank: recall@5 ≥ 0.8 vs brute force on the
    sf0.001 embeddings, and every returned cos_sim is the EXACT rounded
    cosine (re-rank scores with full-precision vectors, so any pair the
    shortlist shares with the truth set carries an identical score)."""
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.brute_force_topk(qs, emb, k=5).collect()
    }
    # uniform-random 64-dim vectors are PQ's worst case (no cluster
    # structure for the codebooks to exploit; all cosines ≈ 0.3): 64-bit
    # codes (m=16·4 bits... ksub=16) + refine=8 measured 0.92 recall@5,
    # vs 0.54 for the 32-bit m=8 default — real clustered embeddings
    # reach the floor at smaller codes/shortlists
    books = S.pq_train(emb, m=16, ksub=16, seed=42)
    codes = S.pq_encode(emb, books)
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.pq_topk(qs, codes, books, corpus=emb, k=5, refine=8).collect()
    }
    hit = set(got) & set(truth)
    assert len(hit) / len(truth) >= 0.8
    for pair in hit:
        assert got[pair] == truth[pair]  # exact re-rank, not the ADC estimate


def test_pq_train_deterministic_and_shapes(spark):
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = S.pq_train(emb, m=16, ksub=16, seed=7)
    b2 = S.pq_train(emb, m=16, ksub=16, seed=7)
    assert b1 == b2
    assert len(b1) == 16 and len(b1[0]) == 16 and len(b1[0][0]) == 4
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(emb, m=7)


def test_pq_index_persist_roundtrip_and_compression(spark, tmp_path):
    """Persisted PQ index: codebooks round-trip exactly, search through the
    index matches the in-memory path, and the codes artifact is
    materially smaller than the raw vectors (the point of PQ)."""
    import os

    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "pq")
    S.build_pq_index(emb, idx, m=8, ksub=16, seed=42)
    books = S.load_pq_codebooks(spark, idx)
    assert books == S.pq_train(emb, m=8, ksub=16, seed=42)

    qs = emb.filter(F.col("vec_id") < 10)
    via_index = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in S.pq_search(qs, idx, corpus=emb, k=5).collect()
    }
    codes = S.pq_encode(emb, books)
    in_mem = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in S.pq_topk(qs, codes, books, corpus=emb, k=5).collect()
    }
    assert via_index == in_mem

    def _tree_bytes(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    raw = str(tmp_path / "raw")
    emb.select("vec_id", "embedding").write.parquet(raw)
    assert _tree_bytes(f"{idx}/codes") * 4 < _tree_bytes(raw)


def test_pq_adc_only_mode_ranks_without_corpus(spark):
    """Without a corpus to re-rank against, ADC scores rank directly —
    self-recovery still works: a query that IS a corpus vector finds
    itself... excluded, so its nearest true neighbor surfaces; and the
    output schema matches the other top-k entry points."""
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    books = S.pq_train(emb, m=8, ksub=16)
    codes = S.pq_encode(emb, books)
    out = S.pq_topk(qs, codes, books, corpus=None, k=3)
    rows = out.collect()
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3, 4}
    assert all(1 <= r["rank"] <= 3 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_frequent_lines_and_removal(spark):
    """Line-level boilerplate dedup (the CCNet/RefinedWeb prefilter):
    lines shared across enough DISTINCT documents are detected under
    whitespace/case normalization; removal strips them while preserving
    the order and original text of the rest; a doc reduced to nothing
    survives as an empty row; per-document repetition alone does NOT
    qualify a line."""
    from f1_data_pipeline_spark.operators.dedup import (
        frequent_lines,
        remove_frequent_lines,
    )

    banner = "Accept  Cookies"  # normalized: "accept cookies"
    rows = [
        (1, f"{banner}\nUnique thought one.\nFooter Inc."),
        (2, f"accept cookies\nAnother unique idea.\nFooter  INC."),
        (3, "accept COOKIES\nThird document body.\nfooter inc."),
        (4, "only original content here\nrepeat me\nrepeat me\nrepeat me"),
        (5, "ACCEPT COOKIES"),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = frequent_lines(df, min_doc_frac=0.5, min_docs=3)
    got = {r["line"]: r["n_docs"] for r in bp.collect()}
    # 'repeat me' appears 3× in ONE doc — distinct-doc grain excludes it
    assert got == {"accept cookies": 4, "footer inc.": 3}

    out = {r["doc_id"]: r for r in remove_frequent_lines(df, bp).collect()}
    assert out[1]["clean_text"] == "Unique thought one."
    assert out[1]["kept_lines"] == 1 and out[1]["removed_lines"] == 2
    assert out[2]["clean_text"] == "Another unique idea."
    assert out[4]["clean_text"] == rows[3][1]  # untouched, order preserved
    assert out[4]["removed_lines"] == 0
    assert out[5]["clean_text"] == "" and out[5]["kept_lines"] == 0


def test_frequent_lines_thresholds(spark):
    from f1_data_pipeline_spark.operators.dedup import frequent_lines

    df = spark.createDataFrame(
        [(i, "shared line\nbody %d" % i) for i in range(10)],
        "doc_id long, text string",
    )
    # min_docs floor dominates a tiny fraction
    assert frequent_lines(df, min_doc_frac=0.01, min_docs=2).count() == 1
    # a fraction above the line's support excludes it
    assert frequent_lines(df, min_doc_frac=1.1, min_docs=2).count() == 0


def _rand_vecs(n, dim=8, seed=0, offset=0, shift=0.0):
    import random

    rng = random.Random(seed)
    return [
        (offset + i,
         [rng.gauss(shift, 1.0) for _ in range(dim)],
         (offset + i) % 4)
        for i in range(n)
    ]


def test_maintain_ivf_index_cdc_loop(spark, tmp_path):
    """Round-7 verdict #7: the consume_table_changes → persisted-ANN
    composition. Inserts/updates/deletes flow from a manifest embeddings
    table into the IVF index exactly-once (including across a
    crash-replay), and recall@5 vs brute force holds ≥ 0.8."""
    from f1_data_pipeline_spark.operators import sinks

    src = str(tmp_path / "emb")
    idx = str(tmp_path / "ivf")
    base = spark.createDataFrame(
        _rand_vecs(200, seed=1),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, base, src, keys=["vec_id"],
                                partition_col="part")
    # cycle 1: bootstrap
    r1 = S.maintain_ivf_index(spark, src, idx, nlist=4)
    assert r1["bootstrapped"] and r1["action"] == "bootstrap"
    n_idx = spark.read.parquet(f"{idx}/cells").count()
    assert n_idx == 200
    # cycle 2: noop (watermark satisfied)
    assert S.maintain_ivf_index(spark, src, idx, nlist=4)["action"] == "noop"
    # cycle 3: inserts + an update + a delete
    ins = spark.createDataFrame(
        _rand_vecs(20, seed=2, offset=1000),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, ins, src, keys=["vec_id"],
                                partition_col="part")
    upd = spark.createDataFrame(
        [(7, [float(9)] * 8, 7 % 4)],
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, upd, src, keys=["vec_id"],
                                partition_col="part")
    sinks.delete_manifest_rows(spark, src, [("vec_id", "=", 13)])
    r3 = S.maintain_ivf_index(spark, src, idx, nlist=4,
                              rebuild_added_frac=10.0)
    assert r3["action"] == "incremental" and r3["added"] == 21
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == 219  # 200 + 20 - 1, update replaced in place
    assert cells.filter("neighbor_id = 13").count() == 0
    assert cells.groupBy("neighbor_id").count().filter(
        "count > 1").count() == 0  # no duplicates anywhere
    # the updated vector was re-assigned to its new value's cell
    got7 = cells.filter("neighbor_id = 7").first()
    assert abs(got7["c_vec"][0] - 9.0) < 1e-6
    # recall floor vs brute force over the live table
    live = sinks.read_manifest_table(spark, src)
    qs = live.filter("vec_id < 10")
    exact = {}
    for r in S.brute_force_topk(qs, live, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in S.ivf_search(qs, idx, k=5, nprobe=4).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    assert hits / sum(len(v) for v in exact.values()) >= 0.8


def test_maintain_ivf_index_crash_replay_exactly_once(spark, tmp_path):
    """A crash AFTER the index write but BEFORE the watermark commit
    replays the same window on the next run: the removal pass strips the
    previous attempt's rows before re-adding — never duplicates."""
    from f1_data_pipeline_spark.operators import sinks

    src = str(tmp_path / "emb")
    idx = str(tmp_path / "ivf")
    base = spark.createDataFrame(
        _rand_vecs(100, seed=3),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, base, src, keys=["vec_id"],
                                partition_col="part")
    S.maintain_ivf_index(spark, src, idx, nlist=4)
    ins = spark.createDataFrame(
        _rand_vecs(15, seed=4, offset=500),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, ins, src, keys=["vec_id"],
                                partition_col="part")
    # crash injection: the state commit raises AFTER the index write
    real_merge = sinks.merge_upsert_manifest
    calls = {"n": 0}

    def crashing_merge(spark_, df, path, **kw):
        if path.endswith("_state") and kw.get("app_metadata"):
            calls["n"] += 1
            raise RuntimeError("injected crash before watermark commit")
        return real_merge(spark_, df, path, **kw)

    import f1_data_pipeline_spark.operators.similarity as S_mod

    orig = S_mod.__dict__.get("merge_upsert_manifest")
    try:
        import unittest.mock as mock

        with mock.patch.object(
            sinks, "merge_upsert_manifest", side_effect=crashing_merge
        ):
            with pytest.raises(RuntimeError, match="injected"):
                S.maintain_ivf_index(spark, src, idx, nlist=4)
    finally:
        if orig is not None:
            S_mod.merge_upsert_manifest = orig
    assert calls["n"] == 1
    # the index HAS the adds, the watermark does NOT — replay the cycle
    assert spark.read.parquet(f"{idx}/cells").count() == 115
    r = S.maintain_ivf_index(spark, src, idx, nlist=4)
    assert r["action"] == "incremental" and not r["bootstrapped"]
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == 115  # replay converged, no duplicates
    assert cells.groupBy("neighbor_id").count().filter(
        "count > 1").count() == 0
    # and the next cycle is a clean noop
    assert S.maintain_ivf_index(spark, src, idx, nlist=4)["action"] == "noop"


def test_maintain_ivf_index_drift_rebuild(spark, tmp_path):
    """Adding more than rebuild_added_frac of the indexed volume triggers
    the measured-threshold quantizer rebuild inside the SAME cycle."""
    from f1_data_pipeline_spark.operators import sinks

    src = str(tmp_path / "emb")
    idx = str(tmp_path / "ivf")
    base = spark.createDataFrame(
        _rand_vecs(60, seed=5),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, base, src, keys=["vec_id"],
                                partition_col="part")
    S.maintain_ivf_index(spark, src, idx, nlist=4)
    # add 100% of the indexed volume, drawn from a shifted distribution
    ins = spark.createDataFrame(
        _rand_vecs(60, seed=6, offset=800, shift=5.0),
        "vec_id long, embedding array<float>, part int",
    )
    sinks.merge_upsert_manifest(spark, ins, src, keys=["vec_id"],
                                partition_col="part")
    r = S.maintain_ivf_index(spark, src, idx, nlist=4,
                             rebuild_added_frac=0.5)
    assert r["rebuilt"] is True
    st = sinks.read_manifest_table(spark, str(tmp_path / "ivf" / "_state"))
    row = st.first()
    assert row.added_since_rebuild == 0 and row.rebuilds == 2
    assert spark.read.parquet(f"{idx}/cells").count() == 120


def test_positional_ngrams_builds_without_running_jobs(spark):
    """Building the shingle frame is lazy even over a shuffled input: the
    spread partition count comes from plan statistics, not from `.rdd`,
    which would run the input's shuffle stages under AQE."""
    from f1_data_pipeline_spark.functions.text import positional_ngrams

    sc = spark.sparkContext
    shuffled = _docs(spark).groupBy("doc_id").agg(F.first("text").alias("text"))
    group = "positional-ngrams-lazy"
    sc.setJobGroup(group, "build only")
    try:
        grams = positional_ngrams(shuffled, "doc_id", "text", 3)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert grams.filter(F.col("doc_id") == 3).count() == 4  # 6 tokens → 4 grams
