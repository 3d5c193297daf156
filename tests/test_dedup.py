"""Dedup/similarity suite: planted near-duplicates must be found, distinct
documents must not be (MinHash-LSH, SimHash, embedding sign-LSH, LSH ANN).

Mirrors the reference's operator-unit-test-with-hand-built-fixtures shape
(reference test/test_yaxtree.jl) for the training-data-pipeline operators.
"""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from copernicusdata_jl_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the river flows past "
    "the old stone bridge under a pale winter sky and the town sleeps"
)
NEAR = BASE.replace("winter", "summer")  # one-token edit => high jaccard
OTHER = (
    "completely different content about spark shuffles partitions and the "
    "catalyst optimizer rewriting logical plans into physical stages"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE), (4, OTHER + " with an extra tail clause appended")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_neardups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_dedup(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.7  # one-token edit
    assert all(not (a in (0, 1, 3) and b in (2, 4)) for a, b in pairs)


def test_simhash_deterministic_and_discriminative(docs):
    sh = {r.doc_id: r.simhash for r in D.simhash(docs, bits=32).collect()}
    assert sh[0] == sh[3]  # identical text -> identical fingerprint
    ham01 = bin(sh[0] ^ sh[1]).count("1")
    ham02 = bin(sh[0] ^ sh[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_simhash_neardup_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in D.simhash_neardup(docs, bits=32, max_hamming=3).collect()}
    assert (0, 3) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_embedding_neardup_and_ann(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    base[5] = base[3] + rng.normal(scale=0.01, size=16).astype(np.float32)  # planted near-dup
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(20)], ["vec_id", "embedding"]
    )
    nd = D.embedding_neardup(emb, dim=16, num_proj=6, threshold=0.99).collect()
    assert {(r.id_a, r.id_b) for r in nd} == {(3, 5)}

    q = spark.createDataFrame([(100, [float(x) for x in base[3]])], ["query_id", "qe"])
    ann = D.ann_lsh_topk(emb, q, k=3, dim=16, num_proj=3, query_id_col="query_id", query_vec_col="qe").collect()
    got = [r.vec_id for r in ann]
    assert got[0] in (3, 5) and got[1] in (3, 5)  # true nearest in same sign bucket


def test_ann_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe (Hamming-1) must recover every single-probe result plus
    the cross-hyperplane misses: recall@k vs exact brute-force is >= the
    single-probe recall for every query, and strictly better for at least
    one query in this fixture (num_proj=6 on 16-dim vectors leaves several
    near neighbors one sign-bit away)."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(100 + j, [float(x) for x in (base[j] + rng.normal(scale=0.05, size=16))])
         for j in range(8)],
        ["query_id", "qe"],
    )
    k = 5

    def topk(multiprobe):
        out = D.ann_lsh_topk(
            emb, queries, k=k, dim=16, num_proj=6,
            query_id_col="query_id", query_vec_col="qe", multiprobe=multiprobe,
        ).collect()
        res: dict[int, set[int]] = {}
        for r in out:
            res.setdefault(r.query_id, set()).add(r.vec_id)
        return res

    # exact ground truth by brute-force cosine on the driver (200x16 fixture)
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    qvecs = {r.query_id: np.array(r.qe) for r in queries.collect()}
    exact = {
        qid: set(sorted(range(200), key=lambda i: -cos(base[i], qv))[:k])
        for qid, qv in qvecs.items()
    }
    single, multi = topk(False), topk(True)
    rec_s = rec_m = 0
    for qid in exact:
        s = len(single.get(qid, set()) & exact[qid])
        m = len(multi.get(qid, set()) & exact[qid])
        assert m >= s  # superset candidates: multiprobe never loses recall
        rec_s += s
        rec_m += m
    assert rec_m > rec_s  # and strictly gains somewhere in this fixture


def test_ivf_topk_full_probe_equals_bruteforce_and_nprobe_monotone(spark):
    """IVF sanity: with nprobe = n_centroids the candidate set is the whole
    table, so ivf_topk must equal exact brute-force top-k; and recall vs
    exact is monotone in nprobe (more probed cells never lose candidates)."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(120, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(120)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(200 + j, [float(x) for x in (base[j * 7] + rng.normal(scale=0.08, size=16))])
         for j in range(5)],
        ["query_id", "qe"],
    )
    k, nc = 4, 6

    def run(nprobe):
        out = D.ivf_topk(emb, queries, k, nprobe, nc, "vec_id", "embedding",
                         "query_id", "qe").collect()
        res: dict[int, set[int]] = {}
        for r in out:
            res.setdefault(r.query_id, set()).add(r.vec_id)
        return res

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    qvecs = {r.query_id: np.array(r.qe) for r in queries.collect()}
    exact = {
        qid: set(sorted(range(120), key=lambda i: (-round(cos(base[i], qv), 6), i))[:k])
        for qid, qv in qvecs.items()
    }
    full = run(nc)
    assert full == exact  # full probe == brute force
    r1, r2 = run(1), run(2)
    for qid in exact:
        assert len(r1.get(qid, set()) & exact[qid]) <= len(r2.get(qid, set()) & exact[qid])


def test_ivf_train_kmeans_matches_numpy_and_improves_objective(spark):
    """ivf_train_kmeans == a NumPy Lloyd reference using the SAME
    assignment rule (cosine rounded to 6dp, ties to smallest centroid id)
    and the same mean-update rounding; and training improves the mean
    best-centroid cosine over the deterministic seeds."""
    rng = np.random.default_rng(41)
    # three well-separated direction clusters
    dirs = rng.normal(size=(3, 12))
    base = np.vstack([d + rng.normal(scale=0.15, size=(40, 12)) for d in dirs])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(len(base))],
        ["vec_id", "embedding"],
    )
    k, iters = 3, 3
    got = D.ivf_train_kmeans(emb, k, iters)

    def cos(a, b):
        return round(float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    def assign(cents):
        out = []
        for v in base:
            scores = [(cos(v, c), -j) for j, c in enumerate(cents)]
            out.append(-max(scores)[1])
        return np.array(out)

    cents = [base[i].copy() for i in range(k)]  # seeds = lowest-id rows
    for _ in range(iters):
        a = assign(cents)
        for j in range(k):
            if (a == j).any():
                cents[j] = np.round(base[a == j].mean(axis=0), 9)
    for (j, cv), ref in zip(got, cents):
        assert np.allclose(cv, ref, atol=1e-9), j

    def objective(cents):
        return float(np.mean([max(cos(v, c) for c in cents) for v in base]))

    seeds = [base[i] for i in range(k)]
    assert objective([np.array(c) for _, c in got]) > objective(seeds)
    # trained centroids drop into the serving index unchanged
    queries = spark.createDataFrame(
        [(900, [float(x) for x in dirs[0]])], ["query_id", "qe"]
    )
    out = D.ivf_topk(emb, queries, 3, 1, k, centroids=got).collect()
    assert len(out) == 3 and all(r.vec_id < 40 for r in out)  # cluster 0 members


def test_word_ngrams_short_doc(spark):
    df = spark.createDataFrame([(0, "a b"), (1, "a b c"), (2, "")], ["doc_id", "text"])
    got = {r.doc_id: r.sh for r in df.select("doc_id", D.word_ngrams_expr(F.col("text")).alias("sh")).collect()}
    assert got[0] == [] and got[1] == ["a b c"] and got[2] == []


def test_candidate_pairs_bucket_cap(spark):
    # 10 docs all sharing one band bucket are dropped by max_bucket=5
    bands = spark.createDataFrame([(i, 0, "hot") for i in range(10)], ["doc_id", "band", "key"])
    assert D.candidate_pairs(bands, max_bucket=5).count() == 0
    assert D.candidate_pairs(bands, max_bucket=None).count() == 45


def test_word_ngrams_null_text_yields_empty_array(spark):
    """NULL text must produce an empty shingle array (not NULL), so callers
    that size()/array-op the column need no null guard (ADVICE r1)."""
    from copernicusdata_jl_spark.operators.dedup import word_ngrams_expr

    df = spark.createDataFrame([(1, None), (2, "a b c d"), (3, "x")], "doc_id long, text string")
    rows = {r.doc_id: r.n for r in df.select(
        "doc_id", F.size(word_ngrams_expr(F.col("text"), 3)).alias("n")).collect()}
    assert rows == {1: 0, 2: 2, 3: 0}


def test_embedding_neardup_degenerate_bucket_capped(spark):
    """VERDICT r1 #2: a degenerate bucket (all-zero embeddings — e.g. empty
    docs — always land in sign-LSH bucket 0) must be dropped by max_bucket
    before the quadratic pair expansion; real vectors still pair."""
    from copernicusdata_jl_spark.operators.dedup import embedding_neardup

    dim = 8
    rows = [(i, [0.0] * dim) for i in range(50)]  # degenerate: one bucket of 50
    rows += [(100, [1.0] * dim), (101, [1.0] * dim)]  # genuine near-dup pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_neardup(emb, dim=dim, num_proj=4, threshold=0.9, max_bucket=10)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(100, 101)}  # 50*49/2 zero-pairs suppressed
    # uncapped control (identical unit vectors so ANSI cosine is defined):
    # the degenerate bucket explodes quadratically without the cap
    rows2 = [(i, [1.0] + [0.0] * (dim - 1)) for i in range(50)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    n_uncapped = embedding_neardup(
        emb2, dim=dim, num_proj=4, threshold=0.9, max_bucket=None
    ).count()
    assert n_uncapped == 50 * 49 // 2
    assert embedding_neardup(emb2, dim=dim, num_proj=4, threshold=0.9, max_bucket=10).count() == 0


def test_planted_fixture_ann_dominance_ordering(spark):
    """VERDICT r4 #3: on the planted Gaussian-mixture fixture
    (fixtures.planted_embeddings — real cluster structure, unlike the
    near-isotropic testdata embeddings where recall floors at the candidate
    fraction), recall@5 must separate the three ANN flavors:

        kmeans-IVF  >=  multi-probe LSH  >=  single-probe LSH

    with the IVF index meeting the stated retrieval target (recall@5 >= 0.8)
    at a LOWER candidate budget (nprobe/n_centroids = 20% nominal) than
    multiprobe spends (~33% measured in BENCH/ann_recall_sf01.json). All
    inputs and indexes are deterministic (seeded fixture, fixed projections,
    seeded Lloyd iterations), so the ordering is a stable regression pin,
    not a flaky statistical assertion."""
    from copernicusdata_jl_spark.fixtures import planted_embeddings

    n, dim, k = 800, 32, 5
    emb = planted_embeddings(spark, n=n, dim=dim, n_clusters=10).localCheckpoint()
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") >= 50)

    # exact ground truth: brute-force cosine on the driver (750x32 fixture)
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    exact = {
        qid: set(sorted((i for i in rows if i >= 50), key=lambda i: -cos(rows[i], rows[qid]))[:k])
        for qid in range(50)
    }

    def recall(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(exact[qid] & got.get(qid, set())) for qid in exact) / (len(exact) * k)

    rec_lsh = recall(D.ann_lsh_topk(base, q, k=k, dim=dim, num_proj=4, multiprobe=False))
    rec_multi = recall(D.ann_lsh_topk(base, q, k=k, dim=dim, num_proj=4, multiprobe=True))
    cents = D.ivf_train_kmeans(base, n_centroids=10, iters=3)
    rec_ivf = recall(D.ivf_topk(base, q, k=k, nprobe=2, n_centroids=10, centroids=cents))

    assert rec_ivf >= rec_multi >= rec_lsh
    assert rec_ivf >= 0.8  # the stated retrieval target on planted structure
    assert rec_multi > rec_lsh  # strict separation somewhere in the ordering


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short page quoted wholesale inside a long one: containment from
    the short side is 1.0 while Jaccard is small — the asymmetric-dup
    case the operator exists for."""
    from copernicusdata_jl_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "intro words here the quick brown fox jumps plus a very long tail of extra content words"),
        ],
        ["doc_id", "text"],
    ).select("doc_id", D.word_ngrams_expr(F.col("text"), 3).alias("sh"))
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    c = D.containment_verify(pairs, docs).first()
    assert c["cont_a"] == 1.0 and c["cont_b"] < 0.3
    j = D.jaccard_verify(pairs, docs).first()["jaccard"]
    assert j < 0.3


# every query built on the shared hash, sampler and vector-fold expressions
# of operators/dedup.py and functions/sample.py (h56, sample_mod,
# dot_cols), and every similarity query whose candidate and verify stages
# go through candidate_pairs/join_sides and their SQL twins; each returns
# rows at sf0.001
HASH_AND_SIMILARITY_QUERIES = [
    "minhash_lsh", "neardup_components", "simhash", "simhash_neardup",
    "fuzzy_match", "ngram_jaccard", "ngram_containment", "embed_neardup",
    "ann_lsh", "ann_multiprobe", "ann_ivf", "stratified_sample",
    "dataset_split", "priority_sample", "temperature_sample", "training_mix",
]


@pytest.fixture(scope="module")
def oracle_db():
    import duckdb
    from tools.check_oracle import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", HASH_AND_SIMILARITY_QUERIES)
def test_similarity_query_matches_oracle(spark, oracle_db, name):
    """Spark plan and DuckDB twin agree on row count, columns and the
    order-insensitive value hash of the correctness gate."""
    from copernicusdata_jl_spark.queries import REGISTRY
    from tools.check_oracle import canon

    q = REGISTRY[name]
    got = canon(q.plan(spark, SF_DIR).toPandas())
    assert got[0] > 0
    assert got == canon(oracle_db.execute(q.oracle).fetchdf())


@pytest.mark.parametrize("tier", ["sf0.001", "sf0.01"])
def test_documents_text_is_ascii(tier):
    """Precondition of fuzzy_match's oracle parity: Spark's levenshtein
    counts codepoints and DuckDB's counts bytes, which agree on ASCII."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(os.path.dirname(SF_DIR), tier, "documents.parquet")
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    assert len(texts) > 0
    assert all(t is None or t.isascii() for t in texts)
