"""Text queries: HTML extraction + digest, token and language features,
exact / MinHash / SimHash / fuzzy / n-gram near-duplicate detection,
winnowing fingerprints, embedding near-dups and ANN (brute force, sign
LSH, multi-probe, IVF), BM25, postings, co-occurrence PMI and TF-IDF.

Similarity oracles are built from the SQL twins in operators/dedup.py
(``band_pairs_sql``, ``join_sides_sql``, ``jaccard_sql``, ...) and the
portable md5-prefix hash (``h56``), so both engines derive identical
hash values and candidate sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text
from ..operators import corpus as C
from ..operators import dedup as D
from .shared import load


# ---------------------------------------------------------------------------
# exact dedup, token and language features, extraction, cosine top-k
# ---------------------------------------------------------------------------


# SQL twin of render_html over the documents table (builds html in SQL so
# DuckDB can independently re-derive the extracted text + digest)
DOC_HTML_SQL = (
    "('<html><head><title>doc ' || CAST(doc_id AS STRING) || '</title></head>"
    "<body><h1>D' || CAST(doc_id AS STRING) || '</h1><p>' || text || '</p>"
    "<script>var x=1;</script></body></html>')"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ exact dedup by content hash over documents (training-data op)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("text_md5", F.md5(F.col("text")))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
        .orderBy("keep_doc_id")
    )


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1 HAVING COUNT(*) >= 1 ORDER BY keep_doc_id
"""


def q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ token counting + quality scoring per lang (portable exprs)."""
    d = load(spark, sf_dir, "documents")
    scored = d.withColumn("tokens", text.token_count_expr(F.col("text"))).withColumn(
        "quality", text.quality_score_expr(F.col("text"))
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("sum_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


Q_TOKEN_QUALITY_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM({text.token_count_sql('text')}) AS BIGINT) AS sum_tokens,
       ROUND(AVG({text.quality_score_sql('text')}), 4) AS avg_quality
FROM documents GROUP BY lang ORDER BY lang
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ language-ID heuristic: argmax of marker-hit scores."""
    d = load(spark, sf_dir, "documents")
    scores = [text.lang_score_expr(F.col("text"), lg).alias(f"s_{lg}") for lg in text.LANG_MARKERS]
    scored = d.select("doc_id", *scores)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in text.LANG_MARKERS])
    # first language (in fixed order) achieving the max score
    expr = F.lit("unk")
    for lg in reversed(list(text.LANG_MARKERS)):
        expr = F.when((F.col(f"s_{lg}") == best) & (best > 0), F.lit(lg)).otherwise(expr)
    return (
        scored.withColumn("pred_lang", expr)
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang")
    )


def _lang_id_sql() -> str:
    score_cols = ",\n       ".join(f"{text.lang_score_sql('text', lg)} AS s_{lg}" for lg in text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lg}" for lg in text.LANG_MARKERS) + ")"
    case = "CASE "
    for lg in text.LANG_MARKERS:
        case += f"WHEN s_{lg} = {best} AND {best} > 0 THEN '{lg}' "
    case += "ELSE 'unk' END"
    return f"""
WITH s AS (SELECT doc_id, {score_cols} FROM documents)
SELECT {case} AS pred_lang, COUNT(*) AS n_docs
FROM s GROUP BY 1 ORDER BY pred_lang
"""


def q_extract_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ S13: JVM codegen HTML extractor + sha256 digest; the oracle
    re-derives the text with an independent SQL regexp pipeline —
    byte-identical invariant (BASELINE.json input hint)."""
    d = load(spark, sf_dir, "documents").withColumn("html", F.expr(DOC_HTML_SQL))
    out = text.with_extracted_text(d, html_col="html", out_col="extracted")
    return out.select("doc_id", "extracted_sha256").orderBy("doc_id")


Q_EXTRACT_SQL = f"""
SELECT doc_id, sha256({text.extract_text_sql(DOC_HTML_SQL)}) AS extracted_sha256
FROM documents ORDER BY doc_id
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ brute-force cosine top-k over embeddings (ANN baseline) — JVM-side
    higher-order functions (zip_with + aggregate), no UDF."""
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cand = emb.filter(F.col("vec_id") >= 3).crossJoin(F.broadcast(qv))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    sim = dot(F.col("embedding"), F.col("qe")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.sqrt(dot(F.col("qe"), F.col("qe")))
    )
    from ..operators.knn import topk_per_group

    return (
        topk_per_group(
            cand.withColumn("cos_sim", F.round(sim, 6)),
            ["query_id"],
            [F.desc("cos_sim"), F.asc("vec_id")],
            5,
        )
        .select("query_id", "vec_id", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


Q_COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
c AS (
  SELECT q.query_id, e.vec_id,
         ROUND(
           list_sum(list_transform(list_zip(e.embedding, q.qe),
                                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * SQRT(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3
)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM c) t
WHERE rank <= 5 ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (☆ training-data dedup)
# ---------------------------------------------------------------------------

_NH, _BANDS, _ROWS, _THRESH = 8, 4, 2, 0.8


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4×2) near-dup pairs over documents, exact-Jaccard
    verified at ≥ 0.8."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", D.word_ngrams_expr(F.col("text"), 3).alias("sh")
    )
    sig = D.minhash_signatures(docs, "doc_id", "sh", _NH)
    cand = D.candidate_pairs(D.lsh_bands(sig, "doc_id", _BANDS, _ROWS), "doc_id", max_bucket=64)
    out = D.jaccard_verify(cand, docs, "doc_id", "sh").filter(F.col("jaccard") >= _THRESH)
    return out.orderBy("id_a", "id_b")


def _minhash_ctes() -> str:
    """The shared CTE chain of the portable MinHash-LSH pipeline (through
    exact-Jaccard verification in ``j``) — composed by both the pair query
    oracle (`_minhash_sql`) and the cluster-resolution oracle
    (`_components_sql`)."""
    sh = D.word_ngrams_sql("text", 3)
    base = D.h56_sql("g", "mh")
    mins = ", ".join(f"min({D.affine_sql('h', j)}) AS m{j}" for j in range(_NH))
    bands_sel = "\nUNION ALL\n".join(
        "SELECT doc_id AS id, {b} AS band, CAST(m{i} AS VARCHAR) || '_' || CAST(m{j} AS VARCHAR) AS key FROM sig".format(
            b=b, i=b * _ROWS, j=b * _ROWS + 1
        )
        for b in range(_BANDS)
    )
    return f"""sh AS (SELECT doc_id, {sh} AS sh FROM documents),
ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
hx AS (SELECT doc_id, {base} AS h FROM ex),
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS ({bands_sel}),
{D.band_pairs_sql(64)},
j AS (
  SELECT id_a, id_b, {D.jaccard_sql('x.sh', 'y.sh')} AS jaccard
  FROM {D.join_sides_sql('sh')}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {_THRESH}
ORDER BY id_a, id_b
"""


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Duplicate-cluster resolution: MinHash-LSH near-dup pairs (same
    parameters as `minhash_lsh`) grouped into connected components —
    transitive closure of the pair graph — with the minimum doc_id as the
    canonical survivor per cluster.  Every document of the
    corpus is labeled (singletons survive as their own cluster).  Spark
    side: pointer-jumping min-label propagation (operators/components.py);
    oracle side: exact reachability via a DuckDB recursive CTE."""
    from ..operators.components import resolve_duplicates

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, "doc_id", "text", ngram=3, num_hashes=_NH, bands=_BANDS,
        threshold=_THRESH, max_bucket=64,
    )
    return resolve_duplicates(docs, pairs, "doc_id").orderBy("doc_id")


def _components_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
dup AS (SELECT id_a, id_b FROM j WHERE jaccard >= {_THRESH}),
edges AS (
  SELECT id_a AS e_src, id_b AS e_dst FROM dup
  UNION ALL
  SELECT id_b AS e_src, id_a AS e_dst FROM dup
),
reach(rid, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.e_dst, r.comp FROM reach r JOIN edges e ON e.e_src = r.rid
)
SELECT rid AS doc_id,
       min(comp) AS component_id,
       CAST(rid = min(comp) AS INT) AS is_survivor
FROM reach GROUP BY rid
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (per-doc fingerprint + near-dup pairs)
# ---------------------------------------------------------------------------

_SIMBITS = 32


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (tf-weighted token-hash majority)."""
    return D.simhash(load(spark, sf_dir, "documents"), "doc_id", "text", _SIMBITS).orderBy("doc_id")


def _simhash_ctes() -> str:
    """Unordered CTE chain ending in ``sh(doc_id, simhash)`` — the body
    of the `simhash` oracle, composed by the near-dup oracles."""
    h = D.h56_sql("t", "sim")
    votes = ", ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(_SIMBITS)
    )
    combine = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMBITS))
    return f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes)"""


def _simhash_sql() -> str:
    return f"""
WITH {_simhash_ctes()}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding near-dup: pairs within Hamming ≤ 2 of the 32-bit
    fingerprint, candidates via 4-bit chunk buckets."""
    return D.simhash_neardup(
        load(spark, sf_dir, "documents"), "doc_id", "text", _SIMBITS, 4, 2
    ).orderBy("id_a", "id_b")


def _simhash_neardup_sql() -> str:
    ham = "bit_count(xor(x.simhash, y.simhash))"
    return f"""
WITH {_simhash_ctes()},
bands AS ({D.simhash_bands_sql(_SIMBITS, 4)}),
{D.band_pairs_sql(None)}
SELECT id_a, id_b, {ham} AS hamming
FROM {D.join_sides_sql('sh')} WHERE {ham} <= 2
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# SimHash-banded, edit-distance-verified fuzzy dedup
# ---------------------------------------------------------------------------


# fuzzy_match bands the fingerprint that _simhash_ctes produces, so its
# bit width MUST stay the SimHash width
_FUZZY_BITS = _SIMBITS
_FUZZY_BAND_BITS, _FUZZY_MAX_DIST = 16, 120


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Edit-distance-verified near-dup (operators/dedup.fuzzy_neardup):
    SimHash 16-bit band candidates, bounded-Levenshtein verify (JVM
    banded DP, O(threshold·n)) — the fuzzy tier between exact digest
    dedup and MinHash resemblance."""
    from ..operators.dedup import fuzzy_neardup

    return fuzzy_neardup(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=_FUZZY_BITS,
        band_bits=_FUZZY_BAND_BITS,
        max_dist=_FUZZY_MAX_DIST,
    ).orderBy("id_a", "id_b")


def _fuzzy_sql() -> str:
    from ..operators.dedup import band_pairs_sql, join_sides_sql, simhash_bands_sql

    return f"""
WITH {_simhash_ctes()},
bands AS ({simhash_bands_sql(_FUZZY_BITS, _FUZZY_BAND_BITS)}),
{band_pairs_sql(None)},
verified AS (
  SELECT id_a, id_b, levenshtein(x.text, y.text) AS dist
  FROM {join_sides_sql('documents')}
)
SELECT id_a, id_b, dist FROM verified
WHERE dist <= {_FUZZY_MAX_DIST}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (metric demo; scale path is minhash_lsh)
# ---------------------------------------------------------------------------


def _ngram_blocked(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(pairs(id_a, id_b), docs(doc_id, sh)): candidate pairs blocked by
    (lang, |n_chars| diff ≤ 20) and the word-3-gram shingles the verify
    reads — shared by `ngram_jaccard` and `ngram_containment`."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", D.word_ngrams_expr(F.col("text"), 3).alias("sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (
        a.join(b, "lang")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20)
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return pairs, docs.select("doc_id", "sh")


def _ngram_blocked_ctes() -> str:
    """SQL twin of :func:`_ngram_blocked`: ``s(doc_id, lang, n_chars, sh)``
    and ``pairs(id_a, id_b)``."""
    return f"""s AS (SELECT doc_id, lang, n_chars, {D.word_ngrams_sql("text", 3)} AS sh FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.lang = b.lang
  WHERE a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 20
)"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for candidate pairs blocked by (lang,
    |n_chars| diff ≤ 20) — demonstrates the exact metric; at 10^12 docs the
    blocked self-join is replaced by the MinHash-LSH candidate generator."""
    out = D.jaccard_verify(*_ngram_blocked(spark, sf_dir))
    return out.filter(F.col("jaccard") >= 0.5).orderBy("id_a", "id_b")


def _ngram_jaccard_sql() -> str:
    return f"""
WITH {_ngram_blocked_ctes()},
p AS (SELECT id_a, id_b, {D.jaccard_sql('x.sh', 'y.sh')} AS jaccard FROM {D.join_sides_sql('s')})
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# n-gram containment (asymmetric near-dup / quote detection)
# ---------------------------------------------------------------------------


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ One-sided n-gram containment (operators/dedup.containment_verify,
    Broder 1997's containment vs resemblance): |A∩B|/|A| and |A∩B|/|B|
    for the same blocked candidate pairs as ngram_jaccard — catches the
    short-page-quoted-in-long-page duplicates Jaccard misses."""
    from ..operators import dedup as D

    out = D.containment_verify(*_ngram_blocked(spark, sf_dir))
    return out.filter(
        F.greatest("cont_a", "cont_b") >= 0.5
    ).orderBy("id_a", "id_b")


def _ngram_containment_sql() -> str:
    from ..operators import dedup as D

    inter = "len(list_intersect(x.sh, y.sh)) * 1.0"
    return f"""
WITH {_ngram_blocked_ctes()},
p AS (
  SELECT id_a, id_b,
         round({inter} / len(x.sh), 6) AS cont_a,
         round({inter} / len(y.sh), 6) AS cont_b
  FROM {D.join_sides_sql('s')}
)
SELECT id_a, id_b, cont_a, cont_b FROM p
WHERE GREATEST(cont_a, cont_b) >= 0.5 ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ winnowing document fingerprints (Schleimer et al. 2003): Arrow-
    batched rolling-hash kernel, exploded to (doc_id, fp) rows. Oracle is
    an identical-arithmetic DuckDB pipeline (60-bit md5-prefix grams)."""
    from ..functions.text import winnow_udf

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(winnow_udf(F.col("text"))).alias("fp")).orderBy(
        "doc_id", "fp"
    )


def _winnowing_sql() -> str:
    from ..functions.text import winnow_table_sql

    return winnow_table_sql("documents")


# ---------------------------------------------------------------------------
# embedding near-dup + LSH ANN (☆ similarity search)
# ---------------------------------------------------------------------------

_DIM = 64


def _w_sql(j: int, vec: str = "embedding") -> str:
    """DuckDB projection j: weights derived inline from index arithmetic —
    identical to operators/dedup.projection_weights."""
    return (
        f"list_sum(list_transform(range({_DIM}), i -> "
        f"CAST({vec}[i + 1] AS DOUBLE) * (((i * 31 + {j} * 17 + 13) % 7) - 3)))"
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: 8-bit sign-LSH bucket join + exact cosine
    verification. Gate threshold 0.35 exercises real pairs in the synthetic
    embeddings (max pairwise cosine there is ~0.51); production near-dup
    threshold defaults to 0.99 in operators/dedup.embedding_neardup. The
    degenerate-bucket cap (4096, mirrored in the oracle SQL) bounds the
    quadratic pair expansion per bucket."""
    return D.embedding_neardup(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", _DIM, 8, 0.35, max_bucket=4096
    ).orderBy("id_a", "id_b")


def _bucket_sql(vec: str, num_proj: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_w_sql(j, vec)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(num_proj)
    )


_COS_SQL = """round(
  list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (SQRT(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * SQRT(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""


def _embed_neardup_sql() -> str:
    cos = _COS_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
WITH bands AS (SELECT vec_id AS id, 0 AS band, ({_bucket_sql('embedding', 8)}) AS key FROM embeddings),
{D.band_pairs_sql(4096)},
p AS (SELECT id_a, id_b, {cos} AS cos_sim FROM {D.join_sides_sql('embeddings', 'vec_id')})
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.35 ORDER BY id_a, id_b
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors per query (vec_id < 3) via 4-bit
    sign-LSH bucket probe — the scale path next to brute-force cosine_topk."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") >= 3)
    return D.ann_lsh_topk(base, q, 5, "vec_id", "embedding", "query_id", "qe", _DIM, 4).orderBy(
        "query_id", "rank"
    )


def _ann_lsh_sql() -> str:
    cos = _COS_SQL.format(a="e.embedding", b="q.qe")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, ({_bucket_sql('embedding', 4)}) AS bucket
  FROM embeddings WHERE vec_id >= 3
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, ({_bucket_sql('embedding', 4)}) AS bucket
  FROM embeddings WHERE vec_id < 3
),
c AS (
  SELECT q.query_id, e.vec_id, {cos} AS cos_sim
  FROM base e JOIN q ON e.bucket = q.bucket
)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM c) t
WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ multi-probe ANN top-5 (Lv et al., VLDB'07): probe the query's
    sign-LSH bucket plus all Hamming-1 neighbor buckets. Higher recall than
    single-probe `ann_lsh` at ≤ (num_proj+1)× the candidate volume — the
    production recall knob at fixed index size."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") >= 3)
    return D.ann_lsh_topk(
        base, q, 5, "vec_id", "embedding", "query_id", "qe", _DIM, 4, multiprobe=True
    ).orderBy("query_id", "rank")


def _ann_multiprobe_sql() -> str:
    cos = _COS_SQL.format(a="e.embedding", b="q.qe")
    probes = ", ".join(["bucket0"] + [f"xor(bucket0, {1 << j})" for j in range(4)])
    return f"""
WITH base AS (
  SELECT vec_id, embedding, ({_bucket_sql('embedding', 4)}) AS bucket
  FROM embeddings WHERE vec_id >= 3
),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qe, ({_bucket_sql('embedding', 4)}) AS bucket0
  FROM embeddings WHERE vec_id < 3
),
q AS (SELECT query_id, qe, unnest([{probes}]) AS bucket FROM q0),
c AS (
  SELECT q.query_id, e.vec_id, {cos} AS cos_sim
  FROM base e JOIN q ON e.bucket = q.bucket
)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM c) t
WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ IVF-style ANN top-5: coarse-quantizer assignment (8 deterministic
    seed centroids, literal-projection argmax — zero shuffle) + nprobe=2
    query probing + exact-cosine re-rank. The third ANN flavor next to
    `ann_lsh`/`ann_multiprobe`: candidate volume ≈ nprobe/n_centroids of
    the table, recall grows with nprobe."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") >= 3)
    return D.ivf_topk(
        base, q, k=5, nprobe=2, n_centroids=8,
        id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", query_vec_col="qe",
    ).orderBy("query_id", "rank")


def _ann_ivf_sql() -> str:
    cos_bc = _COS_SQL.format(a="b.embedding", b="c.cvec")
    cos_qc = _COS_SQL.format(a="q.embedding", b="c.cvec")
    cos_eq = _COS_SQL.format(a="a.embedding", b="qp.qe")
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3 ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT b.vec_id, b.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {cos_bc} DESC, c.centroid_id ASC) AS rn
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3) b
    CROSS JOIN cents c) t
  WHERE rn = 1
),
qprobe AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qe, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos_qc} DESC, c.centroid_id ASC) AS rn
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
    CROSS JOIN cents c) t
  WHERE rn <= 2
),
cand AS (
  SELECT qp.query_id, a.vec_id, {cos_eq} AS cos_sim
  FROM assign a JOIN qprobe qp USING (centroid_id)
)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM cand) t
WHERE rank <= 5 ORDER BY query_id, rank
"""


_BM25_TERMS = ["spark", "join", "window"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ BM25 relevance scoring over the documents table (query terms
    'spark join window'): token-array term stats per row (no explode), one
    single-row corpus-stats aggregate broadcast back, map-side scoring —
    the ranking layer of the training-data pipeline (functions/rank.py)."""
    from ..functions.rank import bm25_scores

    return bm25_scores(load(spark, sf_dir, "documents"), _BM25_TERMS).orderBy(
        F.desc("bm25"), "doc_id"
    )


def _bm25_sql() -> str:
    from ..functions.rank import bm25_sql

    return bm25_sql("documents", _BM25_TERMS) + " ORDER BY bm25 DESC, doc_id"


# ---------------------------------------------------------------------------
# inverted-index postings
# ---------------------------------------------------------------------------

_POST_MAX_DF = 0.5


def q_build_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Inverted-index construction (functions/rank.build_postings): per
    term df/cf + the doc:tf posting list sorted by doc id, with the
    standard max-df stopword cut bounding the worst list by construction."""
    from ..functions.rank import build_postings

    d = load(spark, sf_dir, "documents")
    return build_postings(d, max_df_ratio=_POST_MAX_DF).orderBy("term")


def _build_postings_sql() -> str:
    from ..functions.rank import build_postings_sql

    return build_postings_sql(max_df_ratio=_POST_MAX_DF) + " ORDER BY term"


# ---------------------------------------------------------------------------
# windowed co-occurrence PMI
# ---------------------------------------------------------------------------

_PMI_WINDOW, _PMI_MIN = 2, 5


def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Windowed co-occurrence with the PMI ratio (operators/corpus.
    cooccur_pmi, Church & Hanks 1990) — the word2vec/GloVe training
    statistic; ratio form keeps the oracle bit-exact (no libm log)."""
    d = load(spark, sf_dir, "documents")
    return C.cooccur_pmi(d, window=_PMI_WINDOW, min_count=_PMI_MIN).orderBy("a", "b")


def _cooccur_pmi_sql(window: int = _PMI_WINDOW, min_count: int = _PMI_MIN) -> str:
    per_d = ", ".join(
        f"list_transform(range(1, len(w) + 1 - {d}), "
        f"i -> CASE WHEN w[i] <= w[i+{d}] THEN w[i] || ' ' || w[i+{d}] "
        f"ELSE w[i+{d}] || ' ' || w[i] END)"
        for d in range(1, window + 1)
    )
    return f"""
WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
p AS (SELECT unnest(flatten([{per_d}])) AS pair FROM t),
c AS (SELECT pair, COUNT(*) AS n_ab FROM p GROUP BY pair),
tot AS (SELECT COUNT(*) AS total FROM p),
m AS (SELECT wd, COUNT(*) AS n_w
      FROM (SELECT unnest(string_split(pair, ' ')) AS wd FROM p) GROUP BY wd)
SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b,
       n_ab, ma.n_w AS n_a, mb.n_w AS n_b,
       ROUND((n_ab * (SELECT total FROM tot)) / (ma.n_w * mb.n_w), 6) AS pmi_ratio
FROM c
JOIN m ma ON ma.wd = split_part(pair, ' ', 1)
JOIN m mb ON mb.wd = split_part(pair, ' ', 2)
WHERE n_ab >= {min_count} ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# per-document TF-IDF top terms
# ---------------------------------------------------------------------------


_TFIDF_K = 5


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Per-document top-k TF-IDF terms, inverse-frequency score in the
    engine-exact ratio form ``tf·N/df`` (tf·N is an exact BIGINT, the
    division is the single float op — the cooccur_pmi log-avoidance
    trick; ln-damped IDF would need libm). Ranking ties break on term.
    Scale: tf and df are two hash aggregates over (doc, tok) / (tok);
    the join is keyed by tok (vocabulary-sized); the top-k window
    shuffles (doc_id, tok, 2 longs)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double")
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "tok", "tf", "df", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .orderBy("doc_id", "rank")
    )


_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
s AS (
  SELECT doc_id, tok, tf, df,
         CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC, tok ASC) AS rank
  FROM tf JOIN dfreq USING (tok), n
)
SELECT doc_id, tok, tf, df, score, CAST(rank AS INT) AS rank
FROM s WHERE rank <= {_TFIDF_K} ORDER BY doc_id, rank
"""
