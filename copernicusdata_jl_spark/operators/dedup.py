"""Deduplication & similarity operators for the training-data pipeline:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup, LSH ANN.

All shingling/hashing is expressed as Catalyst column expressions (JVM-side,
inside whole-stage codegen) — no Python in the hot path. Each kernel has an
identical-arithmetic SQL twin so DuckDB can independently re-derive results
(the driver's correctness gate).

Every banded similarity join is the same two stages, in Spark and in SQL:
- CANDIDATES: a ``(id, band, key)`` relation (``lsh_bands``,
  ``simhash_bands``, or one sign bucket per vector) goes through
  :func:`candidate_pairs` — the one band self-join and the one skew cap —
  twinned by :func:`band_pairs_sql`.
- VERIFY: :func:`join_sides` (twin :func:`join_sides_sql`) attaches to
  each pair only the payload the exact check reads — shingles,
  fingerprint, text or vector — by id, one plain join per side.

Scale design (100 TB):
- MinHash signatures are 8 longs/doc — a ~64-byte sidecar per document; the
  band self-join shuffles only (id, band, key), never text.
- Band buckets are the classic S-curve knob: 4 bands × 2 rows ≈ catches
  J ≥ 0.8 with high probability; exact-Jaccard verification joins shingle
  arrays back only for candidate pairs (O(candidates), not O(n²)).
- Hot buckets (boilerplate pages) are bounded by a per-bucket size cap
  before pairing (`max_bucket` — drop degenerate buckets like an empty-text
  bucket; at 10^12 docs an uncapped boilerplate bucket is a quadratic bomb).
- One hash flavour: the portable 56-bit md5-prefix hash, so DuckDB
  re-derives every value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# portable hashing — identical values in Spark and DuckDB
# ---------------------------------------------------------------------------


def h56_expr(col: Column, salt: str) -> Column:
    """56-bit salted hash: the first 14 hex digits of md5(salt||s) —
    reproducible in any SQL engine (twin :func:`h56_sql`)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 14), 16, 10).cast("long")


def h56_sql(expr: str, salt: str) -> str:
    return f"CAST(('0x' || substr(md5('{salt}' || {expr}), 1, 14)) AS BIGINT)"


# ---------------------------------------------------------------------------
# affine hash family — H hashes from ONE base hash (md5 is the expensive
# part; h_j = (a_j * (base mod P) + b_j) mod P with P = 2^31-1 keeps every
# intermediate < 2^62, safe under Spark 4 ANSI overflow checking, and is
# byte-identical arithmetic in DuckDB)
# ---------------------------------------------------------------------------

_P31 = 2_147_483_647


def _affine_params(j: int) -> tuple[int, int]:
    a = (2_654_435_761 * (j + 1) + 0x9E3779B9) % _P31 or 1
    b = (40_503 * 65_537 * (j + 1) + 17) % _P31
    return a, b


def affine_expr(base: Column, j: int) -> Column:
    a, b = _affine_params(j)
    return (F.pmod(base, F.lit(_P31)) * F.lit(a) + F.lit(b)) % F.lit(_P31)


def affine_sql(base_expr: str, j: int) -> str:
    a, b = _affine_params(j)
    return f"(((({base_expr}) % {_P31} + {_P31}) % {_P31}) * {a} + {b}) % {_P31}"


# ---------------------------------------------------------------------------
# shingling — word n-grams as JVM array expressions
# ---------------------------------------------------------------------------


def word_ngrams_expr(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles of ``text`` (single-space tokenized), distinct
    by default (shingle-set semantics); ``distinct=False`` keeps one gram
    per position, in order (span semantics — operators/corpus.py).

    Built from ``slice`` + folded ``zip_with`` over n shifted views of the
    token array. Deliberately NOT ``transform(sequence, element_at(toks, i))``:
    CollapseProject inlines the ``split`` into every ``element_at`` inside the
    interpreted lambda, re-tokenizing the text O(tokens·n) times per row —
    measured ~8× slower at sf0.1. Here the token array is referenced a
    constant number of times regardless of length. Empty array when the text
    has fewer than n tokens (slice count clamps to 0) AND for NULL text —
    the trailing coalesce preserves the empty-array contract that callers
    counting shingles (size/array ops without a null guard) rely on."""
    toks = F.split(text, " ")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, cnt)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, j + 1, cnt), lambda x, y: F.concat_ws(" ", x, y))
    if distinct:
        out = F.array_distinct(out)
    return F.coalesce(out, F.array().cast("array<string>"))


def word_ngrams_sql(text_expr: str, n: int = 3, distinct: bool = True) -> str:
    toks = f"string_split({text_expr}, ' ')"
    gram = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    grams = f"list_transform(range(1, len({toks}) - {n - 2}), i -> {gram})"
    if distinct:
        grams = f"list_distinct({grams})"
    return f"CASE WHEN len({toks}) >= {n} THEN {grams} ELSE CAST([] AS VARCHAR[]) END"


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "sh",
    num_hashes: int = 8,
) -> DataFrame:
    """(id, m0..m{H-1}) — min of H affine transforms of ONE salted base
    hash per shingle (md5 computed once, not H times). One explode
    + one partial-aggregated groupBy (map-side combine makes the shuffle
    carry only H longs per doc)."""
    ex = docs.select(id_col, F.explode(shingle_col).alias("_g"))
    base = h56_expr(F.col("_g"), "mh")
    ex = ex.select(id_col, base.alias("_h"))
    return ex.groupBy(id_col).agg(
        *[F.min(affine_expr(F.col("_h"), j)).alias(f"m{j}") for j in range(num_hashes)]
    )


def _explode_bands(df: DataFrame, id_col: str, keys: list[Column]) -> DataFrame:
    """(id, band, key) with one row per ``keys[band]``."""
    structs = [F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)]
    return df.select(id_col, F.explode(F.array(*structs)).alias("_bk")).select(
        id_col, F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key")
    )


def lsh_bands(sig: DataFrame, id_col: str = "doc_id", bands: int = 4, rows: int = 2) -> DataFrame:
    """(id, band, key): signature chopped into ``bands`` keys of ``rows``
    hashes each — the LSH bucketing relation."""
    return _explode_bands(sig, id_col, [
        F.concat_ws("_", *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)])
        for b in range(bands)
    ])


def candidate_pairs(
    bands_df: DataFrame, id_col: str = "doc_id", max_bucket: int | None = 64
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket — the one band
    self-join of every banded similarity query. ``max_bucket`` drops
    degenerate mega-buckets (boilerplate) before the quadratic pair
    expansion — the skew guard at web scale."""
    b = bands_df
    if max_bucket is not None:
        w = Window.partitionBy("band", "key")
        b = b.withColumn("_n", F.count(F.lit(1)).over(w)).filter(F.col("_n") <= max_bucket).drop("_n")
    a = b.alias("a")
    c = b.alias("b")
    return (
        a.join(c, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def band_pairs_sql(max_bucket: int | None) -> str:
    """SQL twin of :func:`candidate_pairs`: the ``kept`` and ``pairs``
    CTEs over a caller-defined ``bands(id, band, key)`` CTE."""
    cap = "" if max_bucket is None else f" QUALIFY count(*) OVER (PARTITION BY band, key) <= {max_bucket}"
    return f"""kept AS (SELECT id, band, key FROM bands{cap}),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b USING (band, key) WHERE a.id < b.id
)"""


def join_sides(pairs: DataFrame, df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """Attach ``cols`` of ``df`` to each side of ``(id_a, id_b)`` pairs by
    id, as ``<col>_a`` / ``<col>_b`` — one plain join per side."""
    for side in ("a", "b"):
        payload = df.select(
            F.col(id_col).alias(f"id_{side}"), *[F.col(c).alias(f"{c}_{side}") for c in cols]
        )
        pairs = pairs.join(payload, f"id_{side}")
    return pairs


def join_sides_sql(src: str, id_col: str = "doc_id") -> str:
    """SQL twin of :func:`join_sides`: ``pairs`` joined to ``src`` once
    per side, as aliases ``x`` (id_a) and ``y`` (id_b)."""
    return f"pairs JOIN {src} x ON x.{id_col} = id_a JOIN {src} y ON y.{id_col} = id_b"


def _candidate_docs(pairs: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """``docs`` semi-joined to the candidate id set, so shingles are
    re-derived only for candidate docs — at web scale candidates are a
    vanishing fraction of the corpus, and without the prune both join
    sides re-shingle the full table."""
    ids = pairs.select(F.col("id_a").alias(id_col)).union(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    return docs.join(ids, id_col, "left_semi")


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "sh",
) -> DataFrame:
    """Exact Jaccard on shingle arrays for candidate pairs → (id_a, id_b,
    jaccard), shingles joined back for candidate docs only."""
    sa, sb = F.col(f"{shingle_col}_a"), F.col(f"{shingle_col}_b")
    return join_sides(pairs, _candidate_docs(pairs, docs, id_col), id_col, shingle_col).select(
        "id_a",
        "id_b",
        F.round(
            F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb)).cast("double"), 6
        ).alias("jaccard"),
    )


def jaccard_sql(a: str, b: str) -> str:
    """SQL twin of the :func:`jaccard_verify` formula over two lists."""
    return f"round(len(list_intersect({a}, {b})) * 1.0 / len(list_distinct({a} || {b})), 6)"


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → (id_a, id_b, jaccard ≥ threshold)."""
    rows = num_hashes // bands
    docs = df.select(id_col, word_ngrams_expr(F.col(text_col), ngram).alias("sh"))
    sig = minhash_signatures(docs, id_col, "sh", num_hashes)
    cand = candidate_pairs(lsh_bands(sig, id_col, bands, rows), id_col, max_bucket=max_bucket)
    return jaccard_verify(cand, docs, id_col, "sh").filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_expr_agg(token_hash: Column, bits: int = 16) -> list[Column]:
    """Per-bit vote aggregates for a groupBy over exploded tokens."""
    return [
        F.sum(
            F.when(F.shiftright(token_hash, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]


def simhash_value_expr(bits: int = 16) -> Column:
    """Combine per-bit votes (columns _v0.._v{bits-1}) into the simhash."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return out


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) — classic tf-weighted SimHash: every token occurrence
    votes ±1 per bit (Charikar 2002), so near-identical word histograms →
    near-identical fingerprints. One explode + one groupBy; votes
    partial-aggregate map-side."""
    toks = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("_t"))
    h = h56_expr(F.col("_t"), "sim")
    votes = toks.groupBy(id_col).agg(*simhash_expr_agg(h, bits))
    return votes.select(id_col, simhash_value_expr(bits).alias("simhash"))


def simhash_bands(
    sh: DataFrame,
    id_col: str = "doc_id",
    bits: int = 16,
    band_bits: int = 4,
) -> DataFrame:
    """(id, band, key): the ``bits``-bit simhash chopped into
    ``bits/band_bits`` chunks — the SimHash counterpart of
    :func:`lsh_bands` (a pair within Hamming ≤ chunks-1 shares ≥1 chunk)."""
    mask = (1 << band_bits) - 1
    return _explode_bands(sh, id_col, [
        F.shiftright(F.col("simhash"), c * band_bits).bitwiseAND(F.lit(mask))
        for c in range(bits // band_bits)
    ])


def simhash_bands_sql(bits: int, band_bits: int) -> str:
    """SQL twin of :func:`simhash_bands` over a ``sh(doc_id, simhash)``
    CTE: the body of a ``bands(id, band, key)`` CTE."""
    mask = (1 << band_bits) - 1
    return "\nUNION ALL\n".join(
        f"SELECT doc_id AS id, {c} AS band, (simhash >> {c * band_bits}) & {mask} AS key FROM sh"
        for c in range(bits // band_bits)
    )


def simhash_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash: uncapped :func:`candidate_pairs` over
    :func:`simhash_bands`, fingerprints joined back, verify exact Hamming
    ≤ ``max_hamming``."""
    sh = simhash(df, id_col, text_col, bits)
    pairs = candidate_pairs(simhash_bands(sh, id_col, bits, band_bits), id_col, max_bucket=None)
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return join_sides(pairs, sh, id_col, "simhash").select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def fuzzy_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    band_bits: int = 4,
    max_dist: int = 40,
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: SimHash band candidates →
    BOUNDED Levenshtein verification (``levenshtein(a, b, threshold)``,
    Spark 3.5+ — O(threshold·n) banded DP instead of the O(n²) full
    matrix, and it early-outs on the length-difference bound). Returns
    ``(id_a, id_b, dist)`` with ``dist ≤ max_dist``.

    Scale shape: the candidate generator (uncapped :func:`candidate_pairs`
    over :func:`simhash_bands`) shuffles only ids and band keys; text is
    joined back ONLY for candidate pairs (:func:`join_sides`; the
    verifiers' candidate-id semi-join is left out on purpose: on a
    300-document corpus it made the query ~1.6× slower for the same
    pairs), and the verify kernel is JVM codegen — no Python, no
    cartesian.
    Cross-engine note: Spark's Levenshtein counts CODEPOINTS, DuckDB's
    counts BYTES — identical on ASCII text only. The oracle fixture's
    ASCII-only text is asserted by
    tests/test_dedup.py::test_documents_text_is_ascii; non-ASCII corpora
    need a byte-level cast on the Spark side for parity."""
    sh = simhash(df, id_col, text_col, bits)
    pairs = candidate_pairs(simhash_bands(sh, id_col, bits, band_bits), id_col, max_bucket=None)
    dist = F.levenshtein(F.col(f"{text_col}_a"), F.col(f"{text_col}_b"), max_dist)
    return (
        join_sides(pairs, df, id_col, text_col)
        .select("id_a", "id_b", dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


# ---------------------------------------------------------------------------
# Embedding sign-LSH (near-dup + ANN bucketing)
# ---------------------------------------------------------------------------


def projection_weights(dim: int, num_proj: int) -> list[list[int]]:
    """Deterministic integer projection vectors (no RNG — reproducible in
    SQL literals): w[j][i] = ((i*31 + j*17 + 13) % 7) - 3."""
    return [[((i * 31 + j * 17 + 13) % 7) - 3 for i in range(dim)] for j in range(num_proj)]


def sign_bucket_expr(vec: Column, weights: list[list[int]]) -> Column:
    """Bit-string bucket id from projection signs (long)."""
    out = F.lit(0).cast("long")
    for j, w in enumerate(weights):
        dot = dot_cols_expr(vec, F.array(*[F.lit(float(x)) for x in w]))
        out = out + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return out


def dot_cols_expr(a: Column, b: Column) -> Column:
    """a · b as the one JVM vector fold (zip_with + aggregate), elements
    cast double and summed left to right."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_cols_expr(a, b) / (F.sqrt(dot_cols_expr(a, a)) * F.sqrt(dot_cols_expr(b, b)))


def embedding_neardup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_proj: int = 8,
    threshold: float = 0.99,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-duplicate vector pairs: sign-LSH bucket (band 0, key = bucket)
    through :func:`candidate_pairs` → exact cosine ≥ threshold. The bucket
    join shuffles (id, bucket) only; vectors are joined back for the exact
    check on candidates.

    ``max_bucket`` is :func:`candidate_pairs`' skew guard: a
    degenerate bucket (e.g. all-zero embeddings from empty docs all land in
    bucket 0, since 0·w = 0 fails every sign test) would otherwise expand
    quadratically at 10^12 rows — buckets above the cap are dropped before
    pairing (VERDICT r1 #2)."""
    w = projection_weights(dim, num_proj)
    bands = emb.select(id_col, F.lit(0).alias("band"), sign_bucket_expr(F.col(vec_col), w).alias("key"))
    pairs = candidate_pairs(bands, id_col, max_bucket=max_bucket)
    cos = F.round(cosine_expr(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")), 6)
    return join_sides(pairs, emb, id_col, vec_col).select(
        "id_a", "id_b", cos.alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def ivf_centroid_rows(
    emb: DataFrame, n_centroids: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF coarse centroids: the ``n_centroids`` lowest-id
    vectors serve as seeds (production swaps in ``pyspark.ml`` KMeans;
    fixed seeds keep the index reproducible and oracle-checkable — same
    trade as the deterministic sign-LSH projections above). Collecting k
    rows is index CONSTRUCTION (one-time, k small), not a data-path
    collect."""
    rows = emb.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    return [(j, [float(x) for x in r[vec_col]]) for j, r in enumerate(rows)]


def ivf_train_kmeans(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 9,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the deterministic IVF seeds (k-means with the
    cosine assignment the index itself uses — FAISS's IVF training step,
    DataFrame-native instead of a side library):

    - ASSIGNMENT is the same literal-projection expression as the index
      (:func:`ivf_assign_expr`): map-side whole-stage codegen over the
      full table, zero shuffle, identical tie-breaks — so training and
      serving can never disagree about a boundary vector.
    - UPDATE is one ``posexplode`` + (cid, pos) average whose shuffle
      carries k × dim aggregate rows (map-side partials), not vectors.
    - Only the k × dim centroid matrix reaches the driver per iteration
      (index construction, same contract as :func:`ivf_centroid_rows`).

    Empty clusters keep their previous centroid. Components are rounded
    to ``round_dp`` so a retrain is bit-reproducible across partitionings
    (double-sum reassociation is below the rounding grain). Parity with a
    NumPy reference implementation is pinned in tests/test_dedup.py."""
    cents = ivf_centroid_rows(emb, n_centroids, id_col, vec_col)
    base = emb.withColumn("_vn", norm_expr(F.col(vec_col)))
    for _ in range(iters):
        assigned = base.select(
            ivf_assign_expr(vec_col, cents, norm_col="_vn").alias("cid"),
            F.col(vec_col).alias("v"),
        )
        rows = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by: dict[int, dict[int, float]] = {}
        for r in rows:
            by.setdefault(r["cid"], {})[r["pos"]] = round(float(r["m"]), round_dp)
        cents = [
            (j, [by[j][p] for p in range(len(cv))]) if j in by else (j, cv)
            for j, cv in cents
        ]
    return cents


def norm_expr(vec: Column) -> Column:
    """sqrt(v·v) — hoisted into its own column by the IVF operators so the
    per-centroid cosine trees don't each re-embed the self-dot fold."""
    return F.sqrt(dot_cols_expr(vec, vec))


def _lit_norm(values: list[float]) -> float:
    """Python twin of :func:`norm_expr` for a LITERAL vector — same
    left-to-right IEEE summation order as the Catalyst fold, so the
    compiled constant is bit-identical to what the expression would
    compute."""
    import math

    acc = 0.0
    for x in values:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cosine_vs_lit_expr(vec: Column, vnorm: Column, values: list[float]) -> Column:
    """cos(vec, literal values) with the vec norm supplied as a column and
    the literal norm folded at compile time: ONE fold per call instead of
    the three inside :func:`cosine_expr` — numerically identical (same
    ops, same order), ~3× smaller expression tree. Analysis/codegen time
    of literal-heavy ANN plans is dominated by tree size (the 2^k
    when/otherwise blowup note below), so this matters even though the
    per-row work is unchanged."""
    warr = F.array(*[F.lit(float(x)) for x in values])
    return dot_cols_expr(vec, warr) / (vnorm * F.lit(_lit_norm(values)))


def ivf_assign_expr(
    vec_col: str, centroids: list[tuple[int, list[float]]], norm_col: str
) -> Column:
    """Nearest-centroid id as a PURE PROJECTION: the centroid vectors are
    compiled into the expression as literals, so at 10^12 rows assignment
    is map-side whole-stage codegen — no join, no shuffle, the partition-
    prunable ``centroid_id`` comes for free at scan time if persisted.
    Ties (equal rounded cosine) go to the smallest centroid id.

    Implementation notes: the argmax is ONE ``array_max`` over
    struct(cos, -id) — struct ordering compares cosine first, then the
    negated id, so the max is (highest cosine, smallest id). A chained
    when/otherwise fold was tried first and REVERTED: each step embeds the
    previous step's whole expression tree, so k centroids produce 2^k
    copies of the cosine expressions and analysis/codegen time explodes
    (measured 9.5 s vs 0.9 s for the sibling ANN queries at sf0.1).
    ``norm_col`` is a pre-computed :func:`norm_expr` column, so each
    centroid struct holds one dot-fold instead of three — same values,
    ~2.5× smaller tree, visibly less fixed analysis cost."""
    structs = [
        F.struct(
            F.round(cosine_vs_lit_expr(F.col(vec_col), F.col(norm_col), cv), 6).alias("c"),
            F.lit(-j).alias("ncid"),
        )
        for j, cv in centroids
    ]
    return (-F.array_max(F.array(*structs)).getField("ncid")).alias("centroid_id")


def ivf_probe_expr(qvec, qnorm, cents, nprobe: int):
    """Per-query probe list: the ``nprobe`` nearest centroids as an array,
    sorted by ``struct(cos desc, cid asc)`` (6dp-rounded cosine so the
    tie-break is stable). The SINGLE source of truth for which IVF lists a
    query scans — ``ivf_topk`` and the recall artifact's measured
    candidate cost (tools/ann_recall.py) agree by construction instead of
    by keeping two copies in lock-step (r5 review / ADVICE r4)."""
    probe_structs = F.array(
        *[
            F.struct(
                F.round(cosine_vs_lit_expr(qvec, qnorm, cv), 6).alias("c"),
                F.lit(-j).alias("ncid"),
            )
            for j, cv in cents
        ]
    )
    return F.slice(F.sort_array(probe_structs, asc=False), 1, nprobe)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k — the coarse-quantizer scale path next
    to sign-LSH (`ann_lsh_topk`): every base vector is assigned to its
    nearest coarse centroid (literal projection, zero shuffle); each query
    probes its ``nprobe`` nearest centroids and re-ranks candidates by
    exact cosine. Cost per query ≈ nprobe/n_centroids of the table vs
    brute force; recall grows with nprobe (the IVF knob). The candidate
    join broadcasts the exploded queries, so the base table is scanned
    once, map-side, regardless of query count. Pass ``centroids`` (e.g.
    from :func:`ivf_train_kmeans`) to probe a trained index; default is
    the deterministic seed index."""
    cents = centroids if centroids is not None else ivf_centroid_rows(emb, n_centroids, id_col, vec_col)
    # hoisted self-norms: every per-centroid cosine (assignment, probes)
    # and the final re-rank reuse ONE norm column instead of re-embedding
    # the self-dot fold — identical values, much smaller expression trees
    base = emb.withColumn("_vn", norm_expr(F.col(vec_col))).select(
        id_col, vec_col, "_vn",
        ivf_assign_expr(vec_col, cents, norm_col="_vn").alias("centroid_id"),
    )
    probes = ivf_probe_expr(F.col(query_vec_col), F.col("_qn"), cents, nprobe)
    q = (
        queries.withColumn("_qn", norm_expr(F.col(query_vec_col)))
        .select(query_id_col, query_vec_col, "_qn", F.explode(probes).alias("p"))
        .select(query_id_col, query_vec_col, "_qn", (-F.col("p.ncid")).alias("centroid_id"))
    )
    cand = base.join(F.broadcast(q), "centroid_id")
    sim = F.round(
        dot_cols_expr(F.col(vec_col), F.col(query_vec_col)) / (F.col("_vn") * F.col("_qn")), 6
    )
    win = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cos_sim")
    )


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    dim: int = 64,
    num_proj: int = 4,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates = same sign-LSH bucket as the query
    (queries broadcast), ranked by exact cosine. The scale path vs
    brute-force: each query touches ~n/2^num_proj candidates.

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket (flip each of the ``num_proj`` sign
    bits) — the classic multi-probe LSH recall knob (Lv et al., VLDB'07):
    a query near a projection hyperplane recovers neighbors that landed
    just across it. Cost scales the candidate set by ≤ (num_proj+1)× but
    stays on the broadcast side: only the exploded QUERY rows multiply,
    the base table is scanned once either way, and a base vector matches
    at most one probe per query (probe buckets are distinct), so no
    candidate dedup is needed."""
    w = projection_weights(dim, num_proj)
    base = emb.select(id_col, vec_col, sign_bucket_expr(F.col(vec_col), w).alias("bucket"))
    q = queries.select(
        query_id_col, query_vec_col, sign_bucket_expr(F.col(query_vec_col), w).alias("bucket")
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("long") for j in range(num_proj)],
        )
        q = q.select(
            query_id_col, query_vec_col, F.explode(probes).alias("bucket")
        )
    cand = base.join(F.broadcast(q), "bucket")
    sim = F.round(cosine_expr(F.col(vec_col), F.col(query_vec_col)), 6)
    win = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cos_sim")
    )


def containment_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "sh",
) -> DataFrame:
    """☆ One-sided n-gram CONTAINMENT for candidate pairs → (id_a, id_b,
    cont_a, cont_b): |A∩B|/|A| and |A∩B|/|B| over distinct shingles.
    Containment catches the asymmetric duplicates Jaccard structurally
    misses — a short page quoted wholesale inside a long one has
    containment ≈ 1 from the short side while Jaccard ≈ |A|/|B| → 0
    (Broder 1997 distinguishes resemblance from containment for exactly
    this case; quote/boilerplate inclusion is the webtext norm).

    Same scale shape as ``jaccard_verify``: shingles joined back for
    candidate docs only, one join per side, map-side set arithmetic."""
    sa, sb = F.col(f"{shingle_col}_a"), F.col(f"{shingle_col}_b")
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    return join_sides(pairs, _candidate_docs(pairs, docs, id_col), id_col, shingle_col).select(
        "id_a",
        "id_b",
        F.round(inter / F.size(F.array_distinct(sa)), 6).alias("cont_a"),
        F.round(inter / F.size(F.array_distinct(sb)), 6).alias("cont_b"),
    )
