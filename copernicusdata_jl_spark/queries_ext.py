"""Extended query registry: dedup/similarity suite, k-ring kNN, lineage,
skew-salted aggregation, interpolation — each a (Spark callable, DuckDB
oracle SQL) pair, merged into the main REGISTRY by queries.py.

Parity rules as in queries.py: identical column aliases, explicit round(6)
on doubles, portable md5-prefix hashing (operators/dedup.py h56) so both
engines derive identical hash values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup as D


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (☆ training-data dedup)
# ---------------------------------------------------------------------------

_NH, _BANDS, _ROWS, _THRESH = 8, 4, 2, 0.8


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4×2) near-dup pairs over documents, exact-Jaccard
    verified at ≥ 0.8. Portable-hash flavor for the oracle; the production
    path is operators/dedup.minhash_dedup(fast=True) (xxhash64)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", D.word_ngrams_expr(F.col("text"), 3).alias("sh")
    )
    sig = D.minhash_signatures(docs, "doc_id", "sh", _NH, fast=False)
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
    """☆ Duplicate-cluster resolution: MinHash-LSH near-dup pairs (portable
    flavor, same parameters as `minhash_lsh`) grouped into connected
    components — transitive closure of the pair graph — with the minimum
    doc_id as the canonical survivor per cluster.  Every document of the
    corpus is labeled (singletons survive as their own cluster).  Spark
    side: pointer-jumping min-label propagation (operators/components.py);
    oracle side: exact reachability via a DuckDB recursive CTE."""
    from .operators.components import resolve_duplicates

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, "doc_id", "text", ngram=3, num_hashes=_NH, bands=_BANDS,
        threshold=_THRESH, fast=False, max_bucket=64,
    )
    return resolve_duplicates(docs, pairs, "doc_id").orderBy("doc_id")


_SESSION_GAP = 43_200  # 12 h


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Gap-based sessionization: per-user event sessions with a 12-hour
    inactivity gap, aggregated to (n_events, first/last ts, decimal-exact
    value sum) per session. Single shuffle by user + two windowed passes
    (operators/asof.sessionize) — the canonical clickstream building
    block."""
    from .operators.asof import sessionize

    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", _SESSION_GAP)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


def _sessionize_sql() -> str:
    return f"""
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {_SESSION_GAP}
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts, value,
         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS first_ts, max(ts) AS last_ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM t GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ As-of join: every purchase event gets the user's latest click at
    or before it (attribution / point-in-time snapshot semantics — the
    reference's start/stop_time window selection made per-row). Spark
    side is the single-shuffle union+window formulation
    (operators/asof.py) — no range join, linear per partition."""
    from .operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases, clicks, keys=["user_id"], ts_col="ts",
        value_cols=["value"], tiebreak_col="event_id", prefix="click_",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("click_ts"), F.col("click_value").alias("click_value"),
    ).orderBy("event_id")


def _asof_sql() -> str:
    return """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.value AS click_value,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
         ) AS rn
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT event_id, user_id, ts, click_ts, click_value FROM j WHERE rn = 1
ORDER BY event_id
"""


_MIX_RATES = {"en": 0.5, "fr": 0.25, "zh": 0.1}
_MIX_DEFAULT = 0.05


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Deterministic training-mix sampler: per-language keep rates
    (en 50%, fr 25%, zh 10%, rest 5%) via a salted hash threshold on
    doc_id — reproducible under any partitioning/cluster size/resume, no
    RNG (functions/sample.py). Pure map-side filter; the oracle re-derives
    the exact same selection from the portable md5 arithmetic."""
    from .functions.sample import stratified_sample

    docs = load(spark, sf_dir, "documents").withColumn(
        "_k", F.col("doc_id").cast("string")
    )
    out = stratified_sample(docs, "_k", "lang", _MIX_RATES, _MIX_DEFAULT, salt="mix")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def _stratified_sample_sql() -> str:
    from .functions.sample import _DENOM, sample_mod_sql

    h = sample_mod_sql("CAST(doc_id AS VARCHAR)", salt="mix")
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {int(r * _DENOM)}" for v, r in sorted(_MIX_RATES.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE {h} < (CASE {cases} ELSE {int(_MIX_DEFAULT * _DENOM)} END)
ORDER BY doc_id
"""


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
    return D.simhash(load(spark, sf_dir, "documents"), "doc_id", "text", _SIMBITS, fast=False).orderBy(
        "doc_id"
    )


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
        load(spark, sf_dir, "documents"), "doc_id", "text", _SIMBITS, 4, 2, fast=False
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


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ URL canonicalization (functions/url.py): messy crawl urls —
    mixed-case scheme/host, default ports, tracking params, unsorted
    query, fragments — synthesized deterministically from doc_id on both
    engines, then canonicalized. The hygiene step before url dedup."""
    from .functions.url import canonicalize_url_expr

    d = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://Example.COM:443")).otherwise(
            F.lit("http://Example.COM:80")
        ),
        F.lit("/P/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&b=2&a=1&gclid=g"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        messy.alias("url_raw"),
        canonicalize_url_expr(messy).alias("url_canon"),
    ).orderBy("doc_id")


def _url_canon_sql() -> str:
    from .functions.url import canonicalize_url_sql

    messy = (
        "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example.COM:443' "
        "ELSE 'http://Example.COM:80' END, '/P/', CAST(doc_id AS VARCHAR), "
        "'?utm_source=x&b=2&a=1&gclid=g', "
        "CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END)"
    )
    return f"""
SELECT doc_id, {messy} AS url_raw, {canonicalize_url_sql(messy)} AS url_canon
FROM documents ORDER BY doc_id
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Gopher-style repetition quality filter (Rae et al. 2021): 1 -
    distinct/total 3-gram ratio per document, flagged above 0.02 — the
    within-document twin of the cross-document dedup family."""
    from .functions.text import repetition_ratio_expr

    d = load(spark, sf_dir, "documents")
    rep = repetition_ratio_expr(F.col("text"), 3)
    return d.select(
        "doc_id", rep.alias("rep3"), (rep > 0.02).alias("flagged")
    ).orderBy("doc_id")


def _repetition_filter_sql() -> str:
    from .functions.text import repetition_ratio_sql

    rep = repetition_ratio_sql("text", 3)
    return f"""
SELECT doc_id, {rep} AS rep3, ({rep}) > 0.02 AS flagged FROM documents ORDER BY doc_id
"""


_BM25_TERMS = ["spark", "join", "window"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ BM25 relevance scoring over the documents table (query terms
    'spark join window'): token-array term stats per row (no explode), one
    single-row corpus-stats aggregate broadcast back, map-side scoring —
    the ranking layer of the training-data pipeline (functions/rank.py)."""
    from .functions.rank import bm25_scores

    return bm25_scores(load(spark, sf_dir, "documents"), _BM25_TERMS).orderBy(
        F.desc("bm25"), "doc_id"
    )


def _bm25_sql() -> str:
    from .functions.rank import bm25_sql

    return bm25_sql("documents", _BM25_TERMS) + " ORDER BY bm25 DESC, doc_id"


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ winnowing document fingerprints (Schleimer et al. 2003): Arrow-
    batched rolling-hash kernel, exploded to (doc_id, fp) rows. Oracle is
    an identical-arithmetic DuckDB pipeline (60-bit md5-prefix grams)."""
    from .functions.text import winnow_udf

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(winnow_udf(F.col("text"))).alias("fp")).orderBy(
        "doc_id", "fp"
    )


def _winnowing_sql() -> str:
    from .functions.text import winnow_table_sql

    return winnow_table_sql("documents")


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-flavor MinHash-LSH near-dup: xxhash64 base hash (JVM
    intrinsic, ~20× cheaper than the md5 oracle flavor), same banding and
    exact-Jaccard ≥ 0.8 verification. This is the path bench.py times as
    the headline.

    Value oracle (VERDICT r2 #1): DuckDB re-derives the PORTABLE-hash LSH
    pipeline with exact Jaccard. That checks soundness exactly (every
    emitted jaccard is the true shingle Jaccard, ≥ 0.8) and completeness
    up to LSH-candidate equality of the two hash families — both filter
    the same exact-Jaccard predicate over probabilistically-equivalent
    candidate sets, and on the deterministic test corpus the surviving
    pair sets coincide at sf0.01 AND sf0.1 (pinned by
    tests/test_dedup.py::test_fast_and_portable_minhash_same_pairs; in
    general a J∈[0.8,1) pair can be banded by one family and not the
    other with probability ≈ (1-J²)⁴)."""
    docs = load(spark, sf_dir, "documents")
    return D.minhash_dedup(
        docs, "doc_id", "text", ngram=3, num_hashes=_NH, bands=_BANDS,
        threshold=_THRESH, fast=True, max_bucket=64,
    ).orderBy("id_a", "id_b")


EXT_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "minhash_lsh": (q_minhash_lsh, _minhash_sql()),
    "minhash_lsh_fast": (q_minhash_lsh_fast, _minhash_sql()),
    "neardup_components": (q_neardup_components, _components_sql()),
    "stratified_sample": (q_stratified_sample, _stratified_sample_sql()),
    "asof_join": (q_asof_join, _asof_sql()),
    "sessionize": (q_sessionize, _sessionize_sql()),
    "winnowing": (q_winnowing, _winnowing_sql()),
    "simhash": (q_simhash, _simhash_sql()),
    "simhash_neardup": (q_simhash_neardup, _simhash_neardup_sql()),
    "ngram_jaccard": (q_ngram_jaccard, _ngram_jaccard_sql()),
    "embed_neardup": (q_embed_neardup, _embed_neardup_sql()),
    "ann_lsh": (q_ann_lsh, _ann_lsh_sql()),
    "ann_multiprobe": (q_ann_multiprobe, _ann_multiprobe_sql()),
    "ann_ivf": (q_ann_ivf, _ann_ivf_sql()),
    "bm25": (q_bm25, _bm25_sql()),
    "url_canon": (q_url_canon, _url_canon_sql()),
    "repetition_filter": (q_repetition_filter, _repetition_filter_sql()),
}


# ---------------------------------------------------------------------------
# ☆ J4: kNN via k-ring expansion
# ---------------------------------------------------------------------------

# geotag derivation — identical literals as queries.py (kept in sync; pure
# integer/double arithmetic so Spark and DuckDB produce identical doubles)
LAT_SQL = "(CAST((user_id * 37) % 1600 AS DOUBLE) / 10.0 - 80.0 + CAST(event_id % 97 AS DOUBLE) / 1000.0)"
LON_SQL = "(CAST((event_id * 73) % 3600 AS DOUBLE) / 10.0 - 180.0 + CAST(user_id % 89 AS DOUBLE) / 1000.0)"
GEO_EVENTS_SQL = f"(SELECT *, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events)"


def _geo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .withColumn("lat", F.expr(LAT_SQL))
        .withColumn("lon", F.expr(LON_SQL))
    )


KNN_QUERIES = [("Q1", 10.0, 20.0), ("Q2", -45.0, 170.0), ("Q3", 60.0, -100.0), ("Q4", 0.0, 0.0), ("Q5", -78.0, 11.0)]
_KNN_RES, _KNN_RING, _KNN_K = 5, 2, 5


def q_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ J4: kNN via k-ring candidate cells (res 5, starting ring 2) with
    guaranteed ring escalation — the scale path next to knn_bruteforce.
    Because escalation (operators/knn.ring_guarantee_m) provably reaches the
    true top-k, the oracle is the EXACT brute-force kNN SQL: the ring is a
    pruning accelerator, not a semantics change."""
    from .operators.knn import knn_kring

    qdf = spark.createDataFrame(
        [(q, la, lo) for q, la, lo in KNN_QUERIES], "query_id string, qlat double, qlon double"
    )
    return knn_kring(
        _geo_events(spark, sf_dir), qdf, res=_KNN_RES, k_ring=_KNN_RING, k=_KNN_K, escalate=True
    ).orderBy("query_id", "rank")


def _knn_kring_sql() -> str:
    from .functions.geo import haversine_m_sql

    k = _KNN_K
    vals = ", ".join(f"('{q}', {la}, {lo})" for q, la, lo in KNN_QUERIES)
    return f"""
WITH q(query_id, qlat, qlon) AS (VALUES {vals}),
c AS (
  SELECT q.query_id, g.event_id,
         ROUND({haversine_m_sql('g.lat', 'g.lon', 'q.qlat', 'q.qlon')}, 3) AS dist_m
  FROM {GEO_EVENTS_SQL} g CROSS JOIN q
)
SELECT query_id, event_id, rank, dist_m FROM (
  SELECT query_id, event_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_m ASC, event_id ASC) AS rank
  FROM c) t
WHERE rank <= {k} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ☆ lineage rows (O8/J6 checkpoint protocol)
# ---------------------------------------------------------------------------


def q_lineage_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ per-bucket lineage (cell range, row count, order-insensitive
    checksum) — the checkpoint-table row protocol. Portable-hash flavor so
    DuckDB re-derives identical checksums."""
    from .functions import cells as C
    from .operators.lineage import lineage_rows

    ev = _geo_events(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell_expr("lat", "lon", 7)
    ).withColumn("bucket", F.pmod(F.col("cell_id"), F.lit(32)))
    return lineage_rows(ev, "bucket", "cell_id", hash_cols=["event_id"], portable=True).orderBy(
        "bucket"
    )


def _lineage_sql() -> str:
    from .functions import cells as C

    h = D.h56_sql("CAST(event_id AS VARCHAR)", "lin")
    return f"""
WITH e AS (
  SELECT event_id, {C.latlng_to_cell_sql('lat', 'lon', 7)} AS cell_id
  FROM {GEO_EVENTS_SQL} g
),
b AS (SELECT event_id, cell_id, ((cell_id % 32) + 32) % 32 AS bucket FROM e)
SELECT bucket, min(cell_id) AS cell_min, max(cell_id) AS cell_max,
       count(*) AS row_count, bit_xor({h}) AS checksum
FROM b GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# ☆ salted (skew-safe) aggregation — identical result to plain groupBy
# ---------------------------------------------------------------------------


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ two-phase salted aggregation over skewed cells: the oracle is the
    PLAIN group-by — asserting salting changes the plan, not the answer."""
    from .functions import cells as C
    from .operators.skew import salted_groupby

    ev = _geo_events(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell_expr("lat", "lon", 4)
    )
    out = salted_groupby(
        ev,
        ["cell_id"],
        {
            "n_events": ("count", "event_id"),
            "sum_value": ("sum", F.round(F.col("value"), 3).cast("decimal(18,3)")),
            "max_event": ("max", "event_id"),
        },
        salt_mod=8,
        salt_cols=["event_id"],
    )
    return out.select(
        "cell_id", "n_events", F.col("sum_value").cast("double").alias("sum_value"), "max_event"
    ).orderBy("cell_id")


def _salted_agg_sql() -> str:
    from .functions import cells as C

    return f"""
SELECT {C.latlng_to_cell_sql('lat', 'lon', 4)} AS cell_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       max(event_id) AS max_event
FROM {GEO_EVENTS_SQL} g
GROUP BY cell_id ORDER BY cell_id
"""


# ---------------------------------------------------------------------------
# T7: linear interpolation along a dimension
# ---------------------------------------------------------------------------

_INTERP_AT = 1705276800.0  # 2024-01-15 00:00:00 UTC epoch


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (reference src/interpolation.jl:10-24): per-user linear
    interpolation of `value` at a target time over the ts axis."""
    from .functions.interp import linear_interp_at

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("double").alias("x"),
        F.round("value", 6).alias("y"),
    )
    return linear_interp_at(ev, ["user_id"], "x", "y", _INTERP_AT, out_col="value_interp").orderBy(
        "user_id"
    )


def _linear_interp_sql() -> str:
    at = _INTERP_AT
    return f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS DOUBLE) AS x, round(value, 6) AS y FROM events
),
b0 AS (
  SELECT e.user_id, e.x AS x0, min(e.y) AS y0
  FROM e JOIN (SELECT user_id, max(x) AS x0 FROM e WHERE x <= {at} GROUP BY user_id) m
    ON e.user_id = m.user_id AND e.x = m.x0
  GROUP BY e.user_id, e.x
),
b1 AS (
  SELECT e.user_id, e.x AS x1, min(e.y) AS y1
  FROM e JOIN (SELECT user_id, min(x) AS x1 FROM e WHERE x >= {at} GROUP BY user_id) m
    ON e.user_id = m.user_id AND e.x = m.x1
  GROUP BY e.user_id, e.x
)
SELECT COALESCE(b0.user_id, b1.user_id) AS user_id,
       round(CASE WHEN x1 = x0 THEN y0
                  ELSE y0 + (y1 - y0) * (({at} - x0) / (x1 - x0)) END, 6) AS value_interp
FROM b0 FULL OUTER JOIN b1 ON b0.user_id = b1.user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# event-time tumbling windows (streaming semantics, batch-checkable)
# ---------------------------------------------------------------------------


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type — the batch twin of
    the Structured Streaming aggregation (streaming/windowed.py runs the
    same plan incrementally with a watermark)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value"), 3).cast("decimal(18,3)")).cast("double"), 3).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


_EVENT_WINDOWS_SQL = """
SELECT date_trunc('day', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


EXT_REGISTRY.update(
    {
        "knn_kring": (q_knn_kring, _knn_kring_sql()),
        "lineage_rows": (q_lineage_rows, _lineage_sql()),
        "salted_agg": (q_salted_agg, _salted_agg_sql()),
        "linear_interp": (q_linear_interp, _linear_interp_sql()),
        "event_windows": (q_event_windows, _EVENT_WINDOWS_SQL),
    }
)


# ---------------------------------------------------------------------------
# multimodal: media decode plumbing (deterministic fake codec)
# ---------------------------------------------------------------------------


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode via mapInPandas (Arrow batches, no shuffle): dims +
    byte counts + mean feature from the deterministic stand-in codec. The
    oracle re-derives everything from byte arithmetic (documents text is
    ASCII, so strlen == octet_length == n media bytes)."""
    from .operators.multimodal import decode_media, media_from_documents

    media = media_from_documents(load(spark, sf_dir, "documents"))
    feats = decode_media(media, n_features=4)
    return feats.select(
        "doc_id",
        "kind",
        "width",
        "height",
        "n_channels",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")) / 4.0, 6).alias(
            "feat_mean"
        ),
    ).orderBy("doc_id")


def _media_meta_sql() -> str:
    # np.array_split(n, 4): slice k spans [off_k, off_{k+1}) where
    # off_k = k*(n//4) + min(k, n%4). mean byte of a slice of ASCII text =
    # mean ord of those chars.
    off = lambda k: f"({k} * (n // 4) + least({k}, n % 4))"
    feats = []
    for k in range(4):
        lo, hi = off(k), off(k + 1)
        feats.append(
            f"(CASE WHEN {hi} > {lo} THEN "
            f"(list_avg(list_transform(range({lo} + 1, {hi} + 1), i -> CAST(ord(text[i]) AS DOUBLE))) / 255.0) "
            f"ELSE 0.0 END)"
        )
    mean4 = " + ".join(f"f{k}" for k in range(4))
    sel = ", ".join(f"{e} AS f{k}" for k, e in enumerate(feats))
    return f"""
WITH d AS (SELECT doc_id, 'image' AS kind, strlen(text) AS n, text FROM documents),
f AS (SELECT doc_id, kind, n, {sel} FROM d)
SELECT doc_id, kind,
       CAST(n % 640 + 1 AS INTEGER) AS width,
       CAST((n // 7) % 480 + 1 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_bytes,
       round(({mean4}) / 4.0, 6) AS feat_mean
FROM f ORDER BY doc_id
"""


EXT_REGISTRY.update({"media_meta": (q_media_meta, _media_meta_sql())})


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ skew-balanced salted join (operators/skew.salted_join): events
    (big, skewed side) join a tiny event_type dim on (key, salt) with the
    dim replicated salt_mod ways — row-identical to the plain join, which
    is exactly what the oracle computes."""
    from .operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_label", F.upper(F.col("event_type")))
    )
    out = salted_join(ev, dim, "event_type", salt_mod=8)
    return out.select("event_id", "event_type", "type_label").orderBy("event_id")


_SALTED_JOIN_SQL = """
WITH dim AS (SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events)
SELECT e.event_id, e.event_type, d.type_label
FROM events e JOIN dim d USING (event_type)
ORDER BY e.event_id
"""

EXT_REGISTRY.update({"salted_join": (q_salted_join, _SALTED_JOIN_SQL)})


_PYR_FINE, _PYR_COARSE = 7, 4


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Multi-resolution tile pyramid (operators/spatial_join.
    tile_pyramid): cell counts at res 7..4, each coarser level
    re-aggregated from the previous level's rows — events scanned once."""
    from .operators.spatial_join import tile_pyramid

    return tile_pyramid(
        _geo_events(spark, sf_dir), res_fine=_PYR_FINE, res_coarse=_PYR_COARSE
    ).orderBy("res", "cell_id")


def _tile_pyramid_sql() -> str:
    from .functions import cells as C

    fine = _PYR_FINE
    levels = []
    for r in range(_PYR_COARSE, _PYR_FINE + 1):
        cell = "cell_f" if r == fine else C.cell_parent_sql("cell_f", fine, r)
        levels.append(f"""
SELECT {r} AS res, {cell} AS cell_id,
       CAST(sum(n) AS BIGINT) AS n_events, CAST(count(*) AS BIGINT) AS n_fine_cells
FROM f GROUP BY 2""")
    union = " UNION ALL ".join(levels)
    return f"""
WITH f AS (SELECT {C.latlng_to_cell_sql('lat', 'lon', fine)} AS cell_f, count(*) AS n
           FROM {GEO_EVENTS_SQL} e GROUP BY 1)
SELECT * FROM ({union}) ORDER BY res, cell_id
"""


EXT_REGISTRY.update({"tile_pyramid": (q_tile_pyramid, _tile_pyramid_sql())})
