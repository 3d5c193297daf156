"""Training-corpus hygiene and sampling queries (operators/corpus.py,
functions/pii.py, functions/sample.py): URL canonicalisation, text
normalisation, Gopher rules, decontamination, duplicated spans, unigram-LM
scores, blocklists, host caps, PII redaction, line dedup, chunking,
sequence packing, BPE, deterministic samplers and splits, the composed
training mix, corpus diffs, DSIR weights and host-graph priors.

Regex patterns stay in the Java-regex ∩ RE2 subset, samplers draw from
the portable md5 arithmetic instead of an RNG, and ratios are single IEEE
divisions (no libm log), so every oracle is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import pii as P
from ..operators import corpus as C
from ..operators import dedup as D
from ..operators.dedup import h56_sql
from .shared import load


# ---------------------------------------------------------------------------
# URL canonicalisation and the repetition filter
# ---------------------------------------------------------------------------


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ URL canonicalization (functions/url.py): messy crawl urls —
    mixed-case scheme/host, default ports, tracking params, unsorted
    query, fragments — synthesized deterministically from doc_id on both
    engines, then canonicalized. The hygiene step before url dedup."""
    from ..functions.url import canonicalize_url_expr

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
    from ..functions.url import canonicalize_url_sql

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
    from ..functions.text import repetition_ratio_expr

    d = load(spark, sf_dir, "documents")
    rep = repetition_ratio_expr(F.col("text"), 3)
    return d.select(
        "doc_id", rep.alias("rep3"), (rep > 0.02).alias("flagged")
    ).orderBy("doc_id")


def _repetition_filter_sql() -> str:
    from ..functions.text import repetition_ratio_sql

    rep = repetition_ratio_sql("text", 3)
    return f"""
SELECT doc_id, {rep} AS rep3, ({rep}) > 0.02 AS flagged FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text normalization
# ---------------------------------------------------------------------------

# the fixture text is clean ASCII; wrap it in deterministic web junk so
# every normalization pass fires (same pattern as url_canon's messy urls)
_MESSY_PREFIX = "“RT” – "


_MESSY_SUFFIX = "…\t it’s  over "


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Pre-tokenization normalization (functions/text.
    normalize_text_expr): curly quotes/dashes/NBSP folded to ASCII,
    ellipsis expanded, C0 controls stripped, space runs collapsed —
    applied to documents wrapped in deterministic web junk so every pass
    is exercised by the oracle comparison."""
    from ..functions.text import normalize_text_expr

    d = load(spark, sf_dir, "documents")
    messy = F.concat(F.lit(_MESSY_PREFIX), F.col("text"), F.lit(_MESSY_SUFFIX))
    return d.select(
        "doc_id", normalize_text_expr(messy).alias("norm_text")
    ).orderBy("doc_id")


def _text_normalize_sql() -> str:
    from ..functions.text import normalize_text_sql

    messy = (
        f"'{_MESSY_PREFIX}' || text || "
        f"'{_MESSY_SUFFIX.replace(chr(39), chr(39) * 2)}'"
    )
    messy = messy.replace("\t", "' || chr(9) || '")
    return (
        f"SELECT doc_id, {normalize_text_sql(messy)} AS norm_text "
        f"FROM documents ORDER BY doc_id"
    )


# ---------------------------------------------------------------------------
# Gopher document-quality rules
# ---------------------------------------------------------------------------

# the sf fixture's documents are shorter than real web pages; a 20-word
# floor keeps both rule outcomes represented in the oracle comparison
_GOPHER_MIN_WORDS = 20


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Full Gopher quality rule set (Rae et al. 2021 Table A1) as one
    JVM-side Catalyst projection (operators/corpus.gopher_rules): per-rule
    booleans + keep verdict per document."""
    d = load(spark, sf_dir, "documents")
    out = C.gopher_rules(d, min_words=_GOPHER_MIN_WORDS)
    return out.select(
        "doc_id", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
        "keep",
    ).orderBy("doc_id")


def _gopher_rules_sql() -> str:
    return C.gopher_rules_sql("documents", min_words=_GOPHER_MIN_WORDS) + " ORDER BY doc_id"


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

_DECON_N = 4  # 4-grams give a non-trivial contaminated set on the fixture vocab


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Benchmark decontamination (operators/corpus.decontaminate): docs
    with doc_id % 50 == 0 stand in for a held-out eval suite; every other
    document sharing a word 4-gram with it is flagged with its hit count.
    The eval gram set broadcasts; the corpus never shuffles data rows."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    rest = docs.filter(F.col("doc_id") % 50 != 0)
    return C.decontaminate(rest, bench, n=_DECON_N).orderBy("doc_id")


def _decontaminate_sql() -> str:
    grams = D.word_ngrams_sql("text", _DECON_N)
    return f"""
WITH g AS (SELECT doc_id, unnest({grams}) AS gram FROM documents),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
SELECT doc_id, count(*) AS n_contaminated
FROM g JOIN bench USING (gram)
WHERE doc_id % 50 <> 0
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# duplicated-span statistics
# ---------------------------------------------------------------------------

_SPAN_K, _SPAN_MIN_DOCS = 5, 2


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Cross-document duplicated-span stats (operators/corpus.
    dup_span_stats, Lee et al. 2021 reduced to positional k-gram
    multiplicity): per doc, how many of its 5-gram positions also occur in
    ≥2 distinct documents."""
    docs = load(spark, sf_dir, "documents")
    return C.dup_span_stats(docs, k=_SPAN_K, min_docs=_SPAN_MIN_DOCS).orderBy("doc_id")


def _dup_spans_sql() -> str:
    k = _SPAN_K
    grams = D.word_ngrams_sql("text", k, distinct=False)
    return f"""
WITH base AS (
  SELECT doc_id, greatest(len(string_split(text, ' ')) - {k - 1}, 0) AS total_grams
  FROM documents),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM documents),
hot AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram) t
  WHERE nd >= {_SPAN_MIN_DOCS}),
d AS (SELECT doc_id, count(*) AS dup_grams FROM g JOIN hot USING (gram) GROUP BY doc_id)
SELECT b.doc_id, b.total_grams,
       coalesce(d.dup_grams, 0) AS dup_grams,
       CASE WHEN b.total_grams > 0
            THEN round(coalesce(d.dup_grams, 0) / b.total_grams, 6)
            ELSE 0.0 END AS dup_ratio
FROM base b LEFT JOIN d USING (doc_id) ORDER BY doc_id
"""


def q_dup_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Contiguous duplicated spans (operators/corpus.dup_span_islands):
    maximal runs of consecutive duplicated 5-gram positions merged to
    (doc_id, span_start, n_grams, span_tokens) rows via the
    gaps-and-islands window — Lee et al. 2021's removal unit."""
    docs = load(spark, sf_dir, "documents")
    return C.dup_span_islands(docs, k=_SPAN_K, min_docs=_SPAN_MIN_DOCS).orderBy(
        "doc_id", "span_start"
    )


def _dup_span_islands_sql() -> str:
    k = _SPAN_K
    grams = D.word_ngrams_sql("text", k, distinct=False)
    return f"""
WITH g AS (SELECT doc_id, {grams} AS gl FROM documents),
pos AS (SELECT doc_id, CAST(u.i AS BIGINT) AS p, gl[CAST(u.i AS INT)] AS gram
        FROM g, unnest(range(1, len(gl) + 1)) AS u(i)),
hot AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gram) t
  WHERE nd >= {_SPAN_MIN_DOCS}),
dp AS (SELECT doc_id, p FROM pos JOIN hot USING (gram)),
isl AS (SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM dp)
SELECT doc_id, min(p) AS span_start, CAST(count(*) AS BIGINT) AS n_grams,
       max(p) - min(p) + {k} AS span_tokens
FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start
"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Dup-span REMOVAL (operators/corpus.remove_dup_spans): every token
    covered by a duplicated island is deleted and the residual text kept —
    Lee et al. 2021's ExactSubstr removal applied, not just detected."""
    docs = load(spark, sf_dir, "documents")
    return C.remove_dup_spans(docs, k=_SPAN_K, min_docs=_SPAN_MIN_DOCS).orderBy("doc_id")


def _dup_span_removal_sql() -> str:
    k = _SPAN_K
    grams = D.word_ngrams_sql("text", k, distinct=False)
    return f"""
WITH g AS (SELECT doc_id, {grams} AS gl FROM documents),
pos AS (SELECT doc_id, CAST(u.i AS BIGINT) AS p, gl[CAST(u.i AS INT)] AS gram
        FROM g, unnest(range(1, len(gl) + 1)) AS u(i)),
hot AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gram) t
  WHERE nd >= {_SPAN_MIN_DOCS}),
dp AS (SELECT doc_id, p FROM pos JOIN hot USING (gram)),
isl AS (SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM dp),
islands AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + {k} AS n
            FROM isl GROUP BY doc_id, grp),
toks AS (SELECT doc_id, CAST(u.i AS BIGINT) AS tp, tl[CAST(u.i AS INT)] AS tok
         FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM documents) t,
              unnest(range(1, len(tl) + 1)) AS u(i)),
keep AS (SELECT t.* FROM toks t
         WHERE NOT EXISTS (SELECT 1 FROM islands s
                           WHERE s.doc_id = t.doc_id
                             AND t.tp BETWEEN s.s AND s.s + s.n - 1))
SELECT d.doc_id,
       coalesce((SELECT string_agg(kp.tok, ' ' ORDER BY kp.tp)
                 FROM keep kp WHERE kp.doc_id = d.doc_id), '') AS clean_text,
       CAST(len(string_split(d.text, ' '))
            - (SELECT count(*) FROM keep kp WHERE kp.doc_id = d.doc_id)
            AS BIGINT) AS n_removed
FROM documents d ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# unigram-LM quality score
# ---------------------------------------------------------------------------


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Corpus-LM quality score (operators/corpus.unigram_logprob, CCNet
    unigram reduction): avg add-one-smoothed unigram log-prob per doc; the
    vocab stats broadcast back onto the exploded tokens."""
    docs = load(spark, sf_dir, "documents")
    return C.unigram_logprob(docs).orderBy("doc_id")


def _unigram_logprob_sql() -> str:
    return """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
s AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM s),
lp AS (SELECT tok, ln((cnt + 1.0) / (total + vocab)) AS logp FROM s, tot)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(coalesce(logp, ln(1.0 / (total + vocab)))), 4) AS avg_logp
FROM t CROSS JOIN tot LEFT JOIN lp USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ CCNet head/middle/tail split (operators/corpus.ccnet_buckets,
    Wenzek et al. 2020 §4.4): exact equal-frequency bands over the
    unigram-LM score — ntile over (rounded score desc, doc_id)."""
    docs = load(spark, sf_dir, "documents")
    return C.ccnet_buckets(docs).orderBy("doc_id")


def _ccnet_buckets_sql() -> str:
    return """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
s AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM s),
lp AS (SELECT tok, ln((cnt + 1.0) / (total + vocab)) AS logp FROM s, tot),
sc AS (SELECT doc_id, count(*) AS n_tokens,
              round(avg(coalesce(logp, ln(1.0 / (total + vocab)))), 4) AS avg_logp
       FROM t CROSS JOIN tot LEFT JOIN lp USING (tok) GROUP BY doc_id)
SELECT doc_id, n_tokens, avg_logp,
       (['head', 'middle', 'tail'])[ntile(3) OVER (ORDER BY avg_logp DESC, doc_id)] AS bucket
FROM sc ORDER BY doc_id
"""


_BLOCKED = ("spam.farm", "tracker.net")


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Domain blocklist (operators/corpus.blocklist_filter, UT1/C4
    style): hosts synthesized deterministically from doc_id; documents on
    a blocked domain or any subdomain of one are dropped. The Spark plan
    explodes dot-suffixes map-side against the broadcast blocklist; the
    oracle states the same semantics as a LIKE."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "host",
        F.when(F.col("doc_id") % 4 == 0, F.lit("spam.farm"))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("sub"), (F.col("doc_id") % 7).cast("string"), F.lit(".spam.farm")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("host"), (F.col("doc_id") % 50).cast("string"), F.lit(".example.com")),
        )
        .otherwise(F.lit("ads.tracker.net")),
    )
    bl = spark.createDataFrame([(d,) for d in _BLOCKED], "domain string")
    return (
        C.blocklist_filter(docs, bl, host_col="host")
        .select("doc_id", "host")
        .orderBy("doc_id")
    )


def _blocklist_filter_sql() -> str:
    vals = ", ".join(f"('{d}')" for d in _BLOCKED)
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'spam.farm'
              WHEN doc_id % 4 = 1 THEN 'sub' || CAST(doc_id % 7 AS VARCHAR) || '.spam.farm'
              WHEN doc_id % 4 = 2 THEN 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
              ELSE 'ads.tracker.net' END AS host
  FROM documents),
b(domain) AS (VALUES {vals})
SELECT doc_id, host FROM d
WHERE NOT EXISTS (SELECT 1 FROM b WHERE d.host = b.domain OR d.host LIKE '%.' || b.domain)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# host frequency cap
# ---------------------------------------------------------------------------

_HOST_CAP = 10


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Per-host document cap (operators/corpus.host_frequency_cap, C4/
    CCNet style): keep ≤10 docs per source, ranked by md5(doc_id) — a
    deterministic unbiased per-host sample via two-phase top-k."""
    docs = load(spark, sf_dir, "documents")
    return C.host_frequency_cap(docs, cap=_HOST_CAP).orderBy("host", "rk")


def _host_cap_sql() -> str:
    return f"""
SELECT doc_id, host, rk FROM (
  SELECT doc_id, source AS host,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) t
WHERE rk <= {_HOST_CAP} ORDER BY host, rk
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def _messy_text_expr() -> F.Column:
    """Deterministic PII injected into the fixture text (the fixture corpus
    itself contains none): every doc gets an email, even docs an IPv4,
    doc_id % 3 == 0 docs a phone number."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@mail.example.com"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" call +1 555-123-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
               ).otherwise(F.lit("")),
    )


def _messy_text_sql() -> str:
    return (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'"
        " || CASE WHEN doc_id % 2 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0 THEN ' call +1 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ PII redaction (functions/pii.py): scrub emails/phones/IPv4 into
    typed placeholders and count each class — pure Catalyst regexp ops in
    whole-stage codegen, RE2-compatible patterns for the DuckDB twin."""
    docs = load(spark, sf_dir, "documents")
    messy = _messy_text_expr()
    return docs.select(
        "doc_id",
        P.pii_count_expr(messy, "email").alias("n_email"),
        P.pii_count_expr(messy, "phone").alias("n_phone"),
        P.pii_count_expr(messy, "ipv4").alias("n_ip"),
        P.redact_pii_expr(messy).alias("redacted"),
    ).orderBy("doc_id")


def _pii_redact_sql() -> str:
    m = _messy_text_sql()
    return f"""
SELECT doc_id,
       {P.pii_count_sql(m, "email")} AS n_email,
       {P.pii_count_sql(m, "phone")} AS n_phone,
       {P.pii_count_sql(m, "ipv4")} AS n_ip,
       {P.redact_pii_sql(m)} AS redacted
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# C4-style global line dedup
# ---------------------------------------------------------------------------

# the fixture corpus is single-line; fold it to 4-word lines with a regex
# that is verbatim-portable between Java and DuckDB RE2-subset engines
_LINE_FOLD = r"((\S+ ){3}\S+) "


_LINE_MIN_CHARS = 2


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ C4 line-level dedup (operators/corpus.line_dedup, Raffel et al.
    2020 §2.2 at line granularity): exact duplicate lines keep only their
    first (min (doc_id, pos)) occurrence corpus-wide; docs are rebuilt
    from surviving lines. The hashed (xxhash64-keyed) flavor's equality
    is pinned by pytest."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", _LINE_FOLD, "$1\n").alias("text")
    )
    return C.line_dedup(d, min_chars=_LINE_MIN_CHARS).orderBy("doc_id")


_LINE_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '{_LINE_FOLD}', '\\1' || chr(10), 'g'),
                      chr(10)) AS ll
  FROM documents
), l AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, ll[CAST(u.i AS INT)] AS line
  FROM t, unnest(range(1, len(ll) + 1)) AS u(i)
), losers AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY line) AS n
    FROM l WHERE length(line) >= {_LINE_MIN_CHARS})
  WHERE rn > 1
), keep AS (
  SELECT l.doc_id, l.pos, l.line FROM l
  WHERE NOT EXISTS (SELECT 1 FROM losers x
                    WHERE x.doc_id = l.doc_id AND x.pos = l.pos)
)
SELECT d.doc_id,
       coalesce((SELECT string_agg(k.line, chr(10) ORDER BY k.pos)
                 FROM keep k WHERE k.doc_id = d.doc_id), '') AS clean_text,
       CAST((SELECT count(*) FROM losers x WHERE x.doc_id = d.doc_id)
            AS BIGINT) AS n_removed
FROM documents d ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# overlapping document chunking
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 8, 4


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Sliding-window document chunking (operators/corpus.
    chunk_documents): chunk=8 words, stride=4, tail window included —
    the context-window prep between hygiene and tokenization."""
    d = load(spark, sf_dir, "documents")
    return C.chunk_documents(d, chunk=_CHUNK, stride=_STRIDE).orderBy("doc_id", "start")


def _chunk_overlap_sql() -> str:
    return C.chunk_documents_sql(chunk=_CHUNK, stride=_STRIDE) + " ORDER BY doc_id, start"


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

_SEQ_LEN = 64


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Sequence packing (operators/corpus.pack_sequences): docs
    concatenated in deterministic md5 order, each assigned the fixed-
    length training sequence holding its first token. Distributed
    prefix sum (range partitions + per-partition windows + tiny offset
    aggregate) — the oracle is the equivalent single-window cumsum."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    return C.pack_sequences(docs, seq_len=_SEQ_LEN).orderBy("doc_id")


def _pack_sequences_sql() -> str:
    from ..functions.text import token_count_sql

    n = token_count_sql("text")
    s = _SEQ_LEN
    return f"""
WITH b AS (SELECT doc_id, {n} AS n_tokens, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             - n_tokens AS start
      FROM b)
SELECT doc_id, n_tokens, start,
       CAST(floor(start / {s}) AS BIGINT) AS seq_id,
       start % {s} AS offset,
       (start + n_tokens) > (CAST(floor(start / {s}) AS BIGINT) + 1) * {s} AS straddles
FROM c ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE pair counts + corpus version diff
# ---------------------------------------------------------------------------


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ One distributed BPE-training iteration (operators/corpus.
    bpe_pair_counts, Sennrich et al. 2016): corpus-wide adjacent-symbol
    pair counts weighted by word frequency — the corpus collapses to its
    vocabulary BEFORE the pair explode (10^7 vocab rows vs 10^12 tokens)."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    return C.bpe_pair_counts(docs).orderBy(F.desc("cnt"), "pair")


def _bpe_pairs_sql() -> str:
    return """
WITH w AS (SELECT tok AS w, count(*) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
           WHERE tok <> '' GROUP BY tok),
p AS (SELECT unnest(list_transform(range(1, length(w)), i -> w[i] || ' ' || w[i+1])) AS pair, wc
      FROM w)
SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair
"""


_BPE_MERGES = 3


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Full BPE-trainer loop (operators/corpus.bpe_train_merges,
    Sennrich et al. 2016 Alg. 1): 3 merge iterations — pair count, argmax,
    greedy leftmost vocab rewrite — over the vocab-collapsed corpus; the
    learned merge table (merge_rank, lft, rgt, cnt) is the result."""
    docs = load(spark, sf_dir, "documents")
    return C.bpe_train_merges(docs, n_merges=_BPE_MERGES).orderBy("merge_rank")


def _bpe_merges_sql() -> str:
    """Chained-CTE iterative twin: one (pairs, argmax, rewrite) block per
    merge, the rewrite as the same greedy leftmost list_reduce fold Spark
    runs (string accumulator; CROSS JOIN carries the argmax row into the
    lambda)."""
    ctes = [
        """words AS (SELECT tok AS w, count(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
  WHERE tok <> '' GROUP BY tok)""",
        "v0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS sym, wc FROM words)",
    ]
    for r in range(1, _BPE_MERGES + 1):
        ctes.append(f"""p{r} AS (
  SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS pair, wc
  FROM (SELECT string_split(sym, ' ') AS l, wc FROM v{r - 1}) t)""")
        ctes.append(f"""m{r} AS (
  SELECT {r} AS merge_rank, split_part(pair, ' ', 1) AS lft, split_part(pair, ' ', 2) AS rgt,
         CAST(sum(wc) AS BIGINT) AS cnt
  FROM p{r} GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)""")
        if r < _BPE_MERGES:
            ctes.append(f"""v{r} AS (
  SELECT list_reduce(string_split(sym, ' '), (acc, x) -> CASE
    WHEN regexp_extract(acc, '[^ ]*$') = lft AND x = rgt
    THEN CASE WHEN acc = lft THEN '' ELSE regexp_replace(acc, ' [^ ]*$', '') || ' ' END
         || lft || rgt
    ELSE acc || ' ' || x END) AS sym, wc
  FROM v{r - 1} CROSS JOIN m{r})""")
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, _BPE_MERGES + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT merge_rank, lft, rgt, cnt FROM ({union}) ORDER BY merge_rank"
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ BPE encode (operators/corpus.bpe_encode): apply the 3 learned
    merges to the corpus — vocab-side rewrite with the trainer's own fold,
    broadcast join back, per-doc reassembly by position. Train → encode,
    end to end."""
    docs = load(spark, sf_dir, "documents")
    merges = C.bpe_train_merges(docs, n_merges=_BPE_MERGES)
    return C.bpe_encode(docs, merges).orderBy("doc_id")


def _bpe_encode_sql() -> str:
    """The trainer's chained-CTE twin extended through ALL merge rewrites
    (keyed by the original word) + positional document reassembly."""
    rewrite = """list_reduce(string_split(sym, ' '), (acc, x) -> CASE
    WHEN regexp_extract(acc, '[^ ]*$') = lft AND x = rgt
    THEN CASE WHEN acc = lft THEN '' ELSE regexp_replace(acc, ' [^ ]*$', '') || ' ' END
         || lft || rgt
    ELSE acc || ' ' || x END) AS sym"""
    ctes = [
        """tw AS (SELECT tok AS w, count(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
  WHERE tok <> '' GROUP BY tok)""",
        "v0 AS (SELECT w, array_to_string(string_split(w, ''), ' ') AS sym, wc FROM tw)",
    ]
    for r in range(1, _BPE_MERGES + 1):
        ctes.append(f"""p{r} AS (
  SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS pair, wc
  FROM (SELECT string_split(sym, ' ') AS l, wc FROM v{r - 1}) t)""")
        ctes.append(f"""m{r} AS (
  SELECT split_part(pair, ' ', 1) AS lft, split_part(pair, ' ', 2) AS rgt
  FROM (SELECT pair, sum(wc) AS cnt FROM p{r} GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT 1) t)""")
        ctes.append(f"v{r} AS (SELECT w, {rewrite}, wc FROM v{r - 1} CROSS JOIN m{r})")
    ctes.append("""docw AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, tl[CAST(u.i AS INT)] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM documents) t,
       unnest(range(1, len(tl) + 1)) AS u(i)
  WHERE tl[CAST(u.i AS INT)] <> '')""")
    ctes.append(f"""enc AS (
  SELECT d.doc_id, count(*) AS n_words, string_agg(v.sym, ' | ' ORDER BY d.pos) AS encoded
  FROM docw d JOIN v{_BPE_MERGES} v USING (w) GROUP BY d.doc_id)""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(len(string_split(encoded, ' ')) - (n_words - 1) AS BIGINT) AS n_symbols,
       encoded
FROM enc ORDER BY doc_id
"""
    )


_MIX_RATES = {"en": 0.5, "fr": 0.25, "zh": 0.1}


_MIX_DEFAULT = 0.05


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Deterministic training-mix sampler: per-language keep rates
    (en 50%, fr 25%, zh 10%, rest 5%) via a salted hash threshold on
    doc_id — reproducible under any partitioning/cluster size/resume, no
    RNG (functions/sample.py). Pure map-side filter; the oracle re-derives
    the exact same selection from the portable md5 arithmetic."""
    from ..functions.sample import stratified_sample

    docs = load(spark, sf_dir, "documents").withColumn(
        "_k", F.col("doc_id").cast("string")
    )
    out = stratified_sample(docs, "_k", "lang", _MIX_RATES, _MIX_DEFAULT, salt="mix")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def _stratified_sample_sql() -> str:
    from ..functions.sample import DENOM, sample_mod_sql

    h = sample_mod_sql("CAST(doc_id AS VARCHAR)", salt="mix")
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {int(r * DENOM)}" for v, r in sorted(_MIX_RATES.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE {h} < (CASE {cases} ELSE {int(_MIX_DEFAULT * DENOM)} END)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Deterministic train/val/test assignment (functions/sample.
    dataset_split): hash-threshold bands over the portable h56 hash —
    re-runs, resumes and corpus growth never move a row between splits
    (the leakage rule). Pure map-side projection."""
    from ..functions.sample import dataset_split

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return dataset_split(d, "doc_id", _SPLIT_FRACTIONS).orderBy("doc_id")


def _dataset_split_sql() -> str:
    from ..functions.sample import dataset_split_sql

    label = dataset_split_sql("CAST(doc_id AS VARCHAR)", _SPLIT_FRACTIONS)
    return f"SELECT doc_id, lang, {label} FROM documents ORDER BY doc_id"


# ---------------------------------------------------------------------------
# priority sampling (weighted without replacement, unbiased estimator)
# ---------------------------------------------------------------------------

_PRI_K = 10


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Priority sampling (functions/sample.priority_sample — Duffield,
    Lund & Thorup 2007): k=10 docs per lang weighted by n_chars, with the
    Horvitz-Thompson ``est_w`` whose per-group sum is unbiased for the
    group's total weight. Exact-arithmetic scheme (u from the portable
    hash, priority w/u) — the oracle reproduces the sample bit-for-bit."""
    from ..functions.sample import priority_sample

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
    )
    out = priority_sample(d, "w", k=_PRI_K, key_col="doc_id", group_cols=["lang"])
    return out.select(
        "doc_id", "lang", "w", F.round("est_w", 6).alias("est_w")
    ).orderBy("lang", "doc_id")


def _priority_sample_sql() -> str:
    from ..functions.sample import DENOM, sample_mod_sql

    m = sample_mod_sql("CAST(doc_id AS VARCHAR)", salt="pri")
    return f"""
WITH s AS (
  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
         CAST(n_chars AS DOUBLE) / ((({m}) + 0.5) / {float(DENOM)}) AS q
  FROM documents
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS rk
  FROM s
), t AS (
  SELECT lang, MAX(CASE WHEN rk = {_PRI_K + 1} THEN q ELSE 0.0 END) AS tau
  FROM r WHERE rk <= {_PRI_K + 1} GROUP BY lang
)
SELECT r.doc_id, r.lang, r.w, ROUND(GREATEST(r.w, t.tau), 6) AS est_w
FROM r JOIN t USING (lang) WHERE rk <= {_PRI_K}
ORDER BY lang, doc_id
"""


# ---------------------------------------------------------------------------
# temperature resampling
# ---------------------------------------------------------------------------

_TEMP_ALPHA, _TEMP_FRAC = 0.5, 0.4


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Temperature resampling of the source mix (operators/corpus.
    temperature_sample, p_s ∝ count^0.5): deterministic salted-hash
    selection at per-source rates; rates derive from integerized sqrt
    weights so the normalizer is bit-deterministic."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    return (
        C.temperature_sample(docs, "source", _TEMP_ALPHA, _TEMP_FRAC)
        .select("doc_id", "source", "_keep_p")
        .orderBy("doc_id")
    )


def _temperature_sample_sql() -> str:
    from ..functions.sample import DENOM, sample_mod_sql

    h = sample_mod_sql("CAST(doc_id AS VARCHAR)", "tmp")
    # the `* 1000000` in _w is the 6-decimal weight integerisation of
    # operators/corpus.temperature_sample, not the sampler's DENOM
    return f"""
WITH c AS (SELECT source, count(*) AS _c,
                  CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS _w
           FROM documents GROUP BY source),
t AS (SELECT SUM(_c) AS _n, SUM(_w) AS _s FROM c),
r AS (SELECT source, least(1.0, ({_TEMP_FRAC} * _n * _w / _s) / _c) AS p FROM c, t)
SELECT d.doc_id, d.source, round(p, 6) AS _keep_p
FROM documents d JOIN r USING (source)
WHERE {h} < floor(p * {DENOM})
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# composed corpus flagship: the full hygiene chain in one plan
# ---------------------------------------------------------------------------

_MIX_CAP, _MIX_MIN_TOKENS, _MIX_MAX_REP, _MIX_FRAC = 15, 40, 0.3, 0.6


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ The corpus-side flagship: host frequency cap → exact text dedup
    (min doc_id survives) → quality gates (token floor, Gopher repetition
    ceiling) → temperature resampling of the surviving source mix — the
    whole training-mix construction as ONE declarative plan (each stage's
    individual oracle lives in its own registry entry; this one pins the
    composition). The dedup stage keys its one Exchange on
    ``xxhash64(text)`` (8 bytes) — never the text bytes — and the window
    runs over ``(_h, text)`` on top of that distribution (a hash
    partitioning on a subset of the clustering satisfies the window's
    requirement, so Catalyst adds no second Exchange; the text column in
    the window spec is the equality tie-check that keeps the result exact
    under hash collisions). Plan-asserted in tests/test_plans.py: no
    Exchange carries text."""
    from pyspark.sql import Window

    from ..functions.text import repetition_ratio_expr, token_count_expr
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    capped = C.host_frequency_cap(docs, _MIX_CAP).select("doc_id")
    base = docs.join(capped, "doc_id")
    hashed = base.withColumn("_h", F.xxhash64("text")).repartition(F.col("_h"))
    w = Window.partitionBy("_h", "text").orderBy("doc_id")
    deduped = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_h")
    )
    gated = deduped.filter(
        (token_count_expr(F.col("text")) >= _MIX_MIN_TOKENS)
        & (repetition_ratio_expr(F.col("text"), 3) <= _MIX_MAX_REP)
    )
    mixed = C.temperature_sample(gated, "source", 0.5, _MIX_FRAC)
    return mixed.select(
        "doc_id",
        "source",
        token_count_expr(F.col("text")).alias("n_tokens"),
        "_keep_p",
    ).orderBy("doc_id")


def _training_mix_sql() -> str:
    from ..functions.sample import DENOM, sample_mod_sql
    from ..functions.text import repetition_ratio_sql, token_count_sql

    tok = token_count_sql("text")
    rep = repetition_ratio_sql("text", 3)
    h = sample_mod_sql("CAST(doc_id AS VARCHAR)", "tmp")
    # `* 1000000` in _w: the weight integerisation, as in _temperature_sample_sql
    return f"""
WITH capped AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents) t WHERE rk <= {_MIX_CAP}),
base AS (SELECT d.* FROM documents d JOIN capped USING (doc_id)),
ded AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM base) t
  WHERE rn = 1),
gated AS (SELECT * FROM ded WHERE {tok} >= {_MIX_MIN_TOKENS} AND ({rep}) <= {_MIX_MAX_REP}),
c AS (SELECT source, count(*) AS _c,
             CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS _w
      FROM gated GROUP BY source),
t AS (SELECT SUM(_c) AS _n, SUM(_w) AS _s FROM c),
r AS (SELECT source, least(1.0, ({_MIX_FRAC} * _n * _w / _s) / _c) AS p FROM c, t)
SELECT g.doc_id, g.source, {tok} AS n_tokens, round(p, 6) AS _keep_p
FROM gated g JOIN r USING (source)
WHERE {h} < floor(p * {DENOM})
ORDER BY doc_id
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Corpus version diff by content digest: v2 simulated
    deterministically (doc_id % 7 == 0 removed, % 11 == 0 edited); full
    outer join on id, status from digest comparison — the audit step
    between two releases of a training set."""
    docs = load(spark, sf_dir, "documents")
    v2 = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    a = docs.select("doc_id", F.md5(F.col("text")).alias("h1"))
    b = v2.select("doc_id", F.md5(F.col("text")).alias("h2"))
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select("doc_id", status.alias("status")).orderBy("doc_id")


def _corpus_diff_sql() -> str:
    return """
WITH a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
b AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h2
      FROM documents WHERE doc_id % 7 <> 0)
SELECT doc_id,
       CASE WHEN h2 IS NULL THEN 'removed'
            WHEN h1 IS NULL THEN 'added'
            WHEN h1 <> h2 THEN 'changed'
            ELSE 'same' END AS status
FROM a FULL OUTER JOIN b USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR importance scoring (hashed unigram features, ratio form)
# ---------------------------------------------------------------------------

_DSIR_B, _DSIR_SALT = 1024, "dsir"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ DSIR-style importance scores (operators/corpus.dsir_scores; Xie
    et al. 2023): hashed-unigram target/raw likelihood ratio per document,
    target = the English slice. Ratio form — integer-exact numerators,
    one IEEE division (the cooccur_pmi log-avoidance trick)."""
    from ..operators.corpus import dsir_scores

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_scores(
        docs, target, n_buckets=_DSIR_B, salt=_DSIR_SALT
    ).orderBy("doc_id")


def _dsir_sql(b: int = _DSIR_B, salt: str = _DSIR_SALT) -> str:
    hb = h56_sql("tok", salt)
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tb AS (SELECT doc_id, lang, {hb} % {b} AS b FROM tok),
tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY b),
tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tgt),
tr AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr FROM raw),
j AS (
  SELECT doc_id, COALESCE(ct, 0) AS ct, cr
  FROM tb LEFT JOIN tgt USING (b) JOIN raw USING (b)
),
pd AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(ct) AS BIGINT) AS sum_target,
         CAST(SUM(cr) AS BIGINT) AS sum_raw
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_target, sum_raw,
       (CAST(sum_target AS DOUBLE) * CAST(tr AS DOUBLE))
       / (CAST(sum_raw AS DOUBLE) * CAST(tt AS DOUBLE)) AS score
FROM pd, tt, tr ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# host-graph PageRank
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85


_PR_ITERS = 5


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Weighted PageRank over the host link graph (operators/graph.py):
    edges are consecutive-crawl host transitions (doc_id → doc_id+1,
    self-loops dropped, parallel edges summed to weights); 5 fixed power
    iterations with dangling-mass redistribution. The host-authority
    prior a web pipeline joins into its quality gate."""
    from ..operators.graph import pagerank

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    a, b = d.alias("a"), d.alias("b")
    edges = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.source") != F.col("b.source"))
        .select(F.col("a.source").alias("src"), F.col("b.source").alias("dst"))
    )
    nodes = d.select(F.col("source").alias("host")).distinct()
    pr = pagerank(edges, damping=_PR_DAMP, iterations=_PR_ITERS, nodes=nodes)
    return pr.select("host", F.round("rank", 6).alias("rank")).orderBy("host")


def _pagerank_sql(iters: int = _PR_ITERS, d: float = _PR_DAMP) -> str:
    """Unrolled power-iteration CTE chain — identical arithmetic to
    operators/graph.pagerank (base + d·(link mass + dangling/N))."""
    parts = [
        """WITH edges AS (
  SELECT a.source AS src, b.source AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source GROUP BY 1, 2
), nodes AS (SELECT DISTINCT source AS host FROM documents),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
trans AS (
  SELECT e.src, e.dst, e.w / o.ow AS p
  FROM edges e
  JOIN (SELECT src, SUM(w) AS ow FROM edges GROUP BY src) o ON o.src = e.src
),
r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
d{k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r{k - 1}
         WHERE host NOT IN (SELECT src FROM trans)),
r{k} AS (
  SELECT n.host,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (COALESCE(c.c, 0.0) + (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT t.dst AS host, SUM(p.rank * t.p) AS c
    FROM r{k - 1} p JOIN trans t ON t.src = p.host GROUP BY t.dst) c
  ON c.host = n.host)""")
    parts.append(f"\nSELECT host, ROUND(rank, 6) AS rank FROM r{iters} ORDER BY host")
    return "".join(parts)


# ---------------------------------------------------------------------------
# host-graph triangle count
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Triangle census of the host link graph (operators/graph.
    triangle_count): degree-ordered wedge enumeration — the clustering
    prior next to pagerank_hosts. Edges are the same consecutive-crawl
    host transitions; the oracle enumerates a<b<c directly."""
    from ..operators.graph import triangle_count

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    a, b = d.alias("a"), d.alias("b")
    edges = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.source") != F.col("b.source"))
        .select(F.col("a.source").alias("src"), F.col("b.source").alias("dst"))
    )
    return triangle_count(edges)


_TRIANGLE_SQL = """
WITH e0 AS (
  SELECT a.source AS s, b.source AS t
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source
),
und AS (SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM e0),
nodes AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_nodes
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) q
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, tri
"""
