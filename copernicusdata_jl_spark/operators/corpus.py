"""☆ Corpus-hygiene operators for training-data pipelines (north-rule
extension beyond the reference; see SURVEY.md §2 ☆ suite).

Four operators a 100 TB web-text pipeline runs between dedup and training,
each expressed as declarative DataFrame plans (no Python on the data path):

- :func:`decontaminate` — benchmark n-gram decontamination (flag training
  documents sharing any n-gram with a held-out eval set; Brown et al. 2020
  §C "13-gram dedup", Touvron et al. 2023). The eval set is orders of
  magnitude smaller than the corpus, so its distinct grams BROADCAST and
  the corpus scan never shuffles data — only per-doc hit counts do.
- :func:`dup_span_stats` — cross-document duplicated-span detection
  (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
  Better"): the Spark-native approximation of their suffix-array pass is
  positional k-gram multiplicity — one explode, one count-distinct-docs
  aggregate per gram, one co-partitioned join back (AQE reuses the
  hash partitioning on ``gram`` from the aggregate for the join).
- :func:`unigram_logprob` — corpus-LM quality score (CCNet, Wenzek et al.
  2020, with the KenLM stage reduced to its unigram term): pass 1
  aggregates token frequencies (map-side partials; vocab is tiny relative
  to the corpus), pass 2 broadcast-joins log-probs onto exploded tokens
  and averages per document. OOV tokens get add-one smoothing mass.
- :func:`host_frequency_cap` — per-host document cap (CCNet/C4 keep at
  most N pages per host to stop boilerplate farms from dominating the
  mix): deterministic hash-ordered rank per host via the two-phase
  ``topk_per_group`` (local prune to ≤ cap per partition, then the global
  window only ranks survivors — a mega-host never funnels all its rows
  through one task before pruning).

Reference provenance: the reference has no corpus layer (it is a granule
engine); these mirror its *style* — pure declarative plans + an exact SQL
oracle twin per operator (src/YAXTrees.jl's select/where family is the
pattern: every op is an expression over arrays, never a driver loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_ngrams_expr
from .knn import topk_per_group


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with ``benchmark``.

    Returns ``(id_col, n_contaminated)`` for contaminated documents only —
    the list a pipeline quarantines before training. ``n_contaminated``
    counts the document's DISTINCT grams that hit the benchmark set.

    Scale shape: ``benchmark`` grams are distinct-reduced then BROADCAST
    (eval suites are ~MBs against a ~100 TB corpus); the corpus side
    explodes its distinct grams map-side and the only shuffle carries
    (id, count) pairs for documents with ≥1 hit.
    """
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    doc_grams = corpus.select(
        id_col, F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def _dup_positions(
    corpus: DataFrame, k: int, id_col: str, text_col: str, min_docs: int
) -> DataFrame:
    """``(id, p)`` of every duplicated 1-based k-gram position: one whose
    gram occurs in ≥ ``min_docs`` distinct documents. The positional
    explode feeds ONE aggregate keyed by gram (map-side partial
    count-distinct via the (gram, doc) pre-distinct), and the join back to
    positions reuses that hash partitioning (AQE). The gram string is the
    key, which keeps the DuckDB oracle exact."""
    pos = corpus.select(
        F.col(id_col),
        F.posexplode(word_ngrams_expr(F.col(text_col), k, distinct=False)).alias("_p0", "gram"),
    ).select(id_col, (F.col("_p0") + 1).alias("p"), "gram")
    hot = (
        pos.select(id_col, "gram").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    return pos.join(hot, "gram").select(id_col, "p")


def dup_span_stats(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span statistics via positional k-grams.

    A position is *duplicated* when its k-gram occurs in ≥ ``min_docs``
    distinct documents. Returns one row per document:
    ``(id, total_grams, dup_grams, dup_ratio)`` — the per-doc signal Lee
    et al. threshold to drop or trim documents built from boilerplate.

    Scale shape: ``total_grams`` is computed map-side from the token count
    (no explode); the duplicated positions are :func:`_dup_positions`,
    counted per document.
    """
    toks = F.split(F.col(text_col), " ")
    total = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    dup = (
        _dup_positions(corpus, k, id_col, text_col, min_docs)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_grams"))
    )
    return (
        corpus.select(F.col(id_col), total.alias("total_grams"))
        .join(dup, id_col, "left")
        .select(
            id_col,
            "total_grams",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.when(F.col("total_grams") > 0,
                   F.round(F.coalesce("dup_grams", F.lit(0)) / F.col("total_grams"), 6))
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )


def unigram_token_stats(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Pass 1 of :func:`unigram_logprob`: ``(tok, cnt)`` corpus frequencies.
    One explode + one hash aggregate with map-side partials."""
    return (
        corpus.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_logprob(
    corpus: DataFrame,
    stats: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Average unigram log-probability per document (CCNet-style quality
    score, unigram reduction). Higher = closer to the corpus distribution.

    ``p(tok) = (cnt + 1) / (total + |V|)`` (add-one smoothing); a token
    absent from ``stats`` (scoring one corpus against another's
    frequencies) scores the smoothed ``log(1 / (total + |V|))`` rather
    than dropping out of the average. Returns ``(id, n_tokens, avg_logp)``
    with ``avg_logp`` rounded to 4dp (both engines round identically;
    unrounded doubles differ in the last ulp across summation orders).

    Scale shape: ``stats`` is |vocab|-sized (≤ a few M rows for web text)
    → BROADCAST onto the exploded tokens; per-doc average shuffles only
    (id, partial-sum) pairs. Pass ``stats`` explicitly to score a slice
    against frequencies of the full corpus (the production shape).
    """
    if stats is None:
        stats = unigram_token_stats(corpus, text_col)
    totals = stats.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_vocab")
    )
    scored = stats.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.log((F.col("cnt") + 1) / (F.col("_total") + F.col("_vocab"))).alias("logp"),
    )
    toks = corpus.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    # LEFT join + coalesce: an OOV token (scoring corpus B against corpus
    # A's stats) receives the add-one mass log(1/(total+|V|)) instead of
    # silently dropping out of the average — dropping OOV would bias the
    # score UP for exactly the junk documents the filter exists to catch
    oov = F.log(F.lit(1.0) / (F.col("_total") + F.col("_vocab")))
    return (
        toks.crossJoin(F.broadcast(totals))
        .join(F.broadcast(scored), "tok", "left")
        .withColumn("_lp", F.coalesce("logp", oov))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("_lp"), 4).alias("avg_logp"),
        )
    )


def ccnet_buckets(
    corpus: DataFrame,
    stats: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail quality split (Wenzek et al. 2020 §4.4):
    documents ranked by LM score (:func:`unigram_logprob`) and cut into
    ``n_buckets`` equal-frequency bands — head = closest to the target
    corpus distribution. Returns ``(id, n_tokens, avg_logp, bucket)``
    with bucket names for the canonical 3-split, ``b<k>`` otherwise.

    Scale shape: scoring is :func:`unigram_logprob` unchanged (broadcast
    vocab); the banding is one global ``ntile`` window over (score, id) —
    an (id, score) pair sort, never the text. At 10^12 docs the exact
    global sort is the known cost of exact quantile banding; the cheaper
    production variant cuts at sampled quantile thresholds, trading
    boundary exactness (the oracle pins the exact flavor).
    """
    scored = unigram_logprob(corpus, stats, id_col, text_col)
    w = Window.orderBy(F.desc("avg_logp"), F.col(id_col).asc())
    names = ["head", "middle", "tail"] if n_buckets == 3 else [
        f"b{i}" for i in range(1, n_buckets + 1)
    ]
    name_arr = F.array(*[F.lit(x) for x in names])
    return scored.withColumn(
        "bucket", F.element_at(name_arr, F.ntile(n_buckets).over(w))
    )


def pack_sequences(
    corpus: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int = 8,
) -> DataFrame:
    """Assign documents to fixed-length training sequences (sequence
    packing): documents are concatenated in a deterministic global order
    (``md5(id)``, id tie-break) and each lands at a token offset; the
    sequence id is the one holding its first token, with a ``straddles``
    flag when it crosses a boundary (the trainer's cut-or-pad decision).

    Returns ``(id, n_tokens, start, seq_id, offset, straddles)``.

    Scale shape — a DISTRIBUTED prefix sum, not a global window (a single
    ``Window.orderBy`` funnels 10^12 rows through ONE reducer):

    1. range-partition by the order key and cumsum WITHIN each partition
       (window keyed by ``spark_partition_id`` — parallel);
    2. one tiny aggregate collects per-partition token totals
       (``n_parts`` rows — index construction, not data);
    3. each row adds its partition's exclusive offset, map-side.

    The result is identical to the one-reducer global cumsum (oracle-
    checked against exactly that in DuckDB) and invariant to
    partitioning, because the order key is total."""
    from ..functions.text import token_count_expr

    base = corpus.select(
        F.col(id_col),
        token_count_expr(F.col(text_col)).alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
    )
    parts = base.repartitionByRange(n_parts, "_k", id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("_k", id_col)
    local = parts.withColumn("_end", F.sum("n_tokens").over(w))
    totals = (
        local.groupBy("_pid").agg(F.max("_end").alias("_t")).orderBy("_pid").collect()
    )
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["_t"]
    if offsets:
        off_map = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
        off = off_map[F.col("_pid")]
    else:  # empty corpus: no partitions materialized, no offsets to add
        off = F.lit(0)
    start = off + F.col("_end") - F.col("n_tokens")
    seq_id = F.floor(start / seq_len)
    return local.select(
        id_col,
        "n_tokens",
        start.alias("start"),
        seq_id.alias("seq_id"),
        (start % seq_len).alias("offset"),
        ((start + F.col("n_tokens")) > (seq_id + 1) * seq_len).alias("straddles"),
    )


def temperature_sample(
    corpus: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    id_col: str = "doc_id",
    salt: str = "tmp",
) -> DataFrame:
    """Temperature resampling of a multi-source mix (the multilingual-LM
    upsampling rule, p_s ∝ count_s^alpha — Conneau & Lample 2019; alpha<1
    flattens the mix toward small sources). Expected kept total is
    ``target_frac × N``; per-stratum keep probability
    ``p_s = min(1, T·w_s/c_s)`` with ``w_s = c_s^alpha / Σ c^alpha``.
    Selection is the engine's deterministic salted-hash threshold
    (functions/sample.py) — reproducible under any partitioning/resume.

    Scale shape: one small per-stratum aggregate, rates broadcast back,
    map-side filter; nothing but (stratum, count) rows ever shuffle.
    Returns the kept rows with their ``_keep_p`` for mix accounting."""
    from ..functions.sample import DENOM, sample_mod_expr

    counts = corpus.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_c"))
    # weights integerized at 6dp BEFORE summation: Σ of integers is exact,
    # so the normalizer (and with it every threshold) is bit-deterministic
    # under any aggregation order — a raw double Σ c^alpha varies in the
    # last ulp with partition order and can flip a floor() boundary. This
    # 6-decimal scale is not the sampler's DENOM, though both are 10^6.
    pw = F.sqrt("_c") if alpha == 0.5 else F.pow("_c", F.lit(alpha))
    counts = counts.withColumn("_w", F.round(pw * 1_000_000).cast("long"))
    tot = counts.agg(F.sum("_c").alias("_n"), F.sum("_w").alias("_s"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        strata_col,
        F.least(
            F.lit(1.0),
            (F.lit(target_frac) * F.col("_n") * F.col("_w") / F.col("_s"))
            / F.col("_c"),
        ).alias("_keep_p"),
    )
    h = sample_mod_expr(F.col(id_col).cast("string"), salt)
    return (
        corpus.join(F.broadcast(rates), strata_col)
        .filter(h < F.floor(F.col("_keep_p") * DENOM))
        .select(*corpus.columns, F.round("_keep_p", 6).alias("_keep_p"))
    )


def bpe_pair_counts(
    corpus: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """One BPE-training iteration, distributed (Sennrich et al. 2016):
    corpus-wide counts of adjacent symbol pairs, weighted by word
    frequency. Returns ``(pair, cnt)`` (optionally top-k by count).

    Scale shape: the word-frequency aggregate collapses the corpus to its
    vocabulary FIRST (map-side partials; web-scale corpora have ~10^7
    distinct words vs 10^12 tokens), so the pair explode runs over vocab
    rows, not corpus rows — the standard trick that makes BPE training
    tractable. Pairs come from the same slice+zip_with construction as
    the shingles (JVM-side, no Python).
    """
    words = (
        corpus.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.split(F.col("w"), "")
    cnt = F.greatest(F.size(chars) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(chars, 1, cnt), F.slice(chars, 2, cnt),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    out = (
        words.select(F.explode(pairs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
    )
    if top_k is not None:
        out = out.orderBy(F.desc("cnt"), "pair").limit(top_k)
    return out


def host_frequency_cap(
    corpus: DataFrame,
    cap: int,
    host_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per host, chosen deterministically.

    Selection key is ``md5(id)`` — an unbiased, partitioning/resume-stable
    sample of each host (re-running after adding files keeps the same
    winners unless new docs hash earlier). Returns
    ``(id, host, rk)`` for survivors, ``rk`` in [1, cap].

    Scale shape: two-phase top-k (``topk_per_group``) — each input
    partition locally prunes to ≤ cap rows per host BEFORE the shuffle, so
    a 10^9-page host contributes cap × n_partitions rows to the window,
    not 10^9.
    """
    sel = corpus.select(
        F.col(id_col), F.col(host_col).alias("host"),
        F.md5(F.col(id_col).cast("string")).alias("_ord"),
    )
    kept = topk_per_group(sel, ["host"], [F.col("_ord").asc(), F.col(id_col).asc()],
                          cap, rank_col="rk")
    return kept.select(id_col, "host", "rk")


def dup_span_islands(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Contiguous duplicated spans per document — Lee et al. 2021's actual
    removal unit, built from the same positional k-gram multiplicity as
    :func:`dup_span_stats` (:func:`_dup_positions`) plus a gaps-and-islands
    window.

    A gram *position* (1-based) is duplicated when its k-gram occurs in
    ≥ ``min_docs`` distinct documents; maximal runs of consecutive
    duplicated positions collapse to one row
    ``(id, span_start, n_grams, span_tokens)`` where ``span_tokens =
    last_pos - span_start + k`` is the token length the span covers.

    Scale shape: identical to ``dup_span_stats`` up to the join back
    (gram-keyed aggregate, hot-gram semi side reuses the partitioning),
    then the islands window shuffles only ``(id, pos)`` int pairs keyed by
    the document id — the text and grams never reach it. The classic
    ``pos - row_number()`` grouping key turns each maximal run into one
    group so the whole merge is a single window + aggregate, no iteration.
    """
    dup = _dup_positions(corpus, k, id_col, text_col, min_docs)
    w = Window.partitionBy(id_col).orderBy("p")
    return (
        dup.withColumn("_grp", F.col("p") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("p").alias("span_start"),
            F.count(F.lit(1)).alias("n_grams"),
            (F.max("p") - F.min("p") + k).alias("span_tokens"),
        )
        .drop("_grp")
    )


def blocklist_filter(
    corpus: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop documents whose host is a blocklisted domain OR any subdomain
    of one (suffix match on label boundaries) — the UT1/C4-style domain
    blocklist stage. ``blocklist`` has a ``domain`` column.

    Scale shape: each host expands map-side into its O(labels) dot-suffix
    chain (``a.b.spam.farm`` → 4 suffixes) and joins the BROADCAST
    blocklist on exact string equality — never a LIKE per blocklist row,
    never a cartesian regex scan; the only shuffle is the distinct id set
    of hits feeding one anti join.
    """
    labels = F.split(F.col(host_col), r"\.")
    n = F.size(labels)
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    hits = (
        corpus.select(id_col, F.explode(sufs).alias("_suf"))
        .join(F.broadcast(blocklist.select(F.col("domain").alias("_suf"))), "_suf")
        .select(id_col)
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


def remove_dup_spans(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Lee et al. 2021's removal step applied: delete every token covered
    by a duplicated span (:func:`dup_span_islands`, optionally only spans
    ≥ ``min_span_tokens`` — their paper uses 50) and return each document
    with its residual text: ``(id, clean_text, n_removed)``.

    Scale shape: the islands computation is :func:`dup_span_islands`
    unchanged; per-doc spans collapse to a small struct array
    (``collect_list`` bounded by islands-per-doc, not tokens), and the
    token drop is a JVM higher-order ``filter`` with the position index —
    the text is rewritten map-side after one (id)-keyed join, never
    exploded to token rows.
    """
    spans = dup_span_islands(corpus, k, id_col, text_col, min_docs)
    if min_span_tokens is not None:
        spans = spans.filter(F.col("span_tokens") >= min_span_tokens)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_tokens").alias("n"))
        ).alias("_spans")
    )
    kept = F.filter(
        F.col("_toks"),
        lambda tok, i: ~F.coalesce(
            F.exists(
                F.col("_spans"),
                lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["s"] + sp["n"] - 1),
            ),
            F.lit(False),
        ),
    )
    # materialize the lambda-bearing filter ONCE: Spark's common-
    # subexpression elimination skips higher-order functions (SPARK-35410),
    # so referencing `kept` from two output columns would run the
    # tokens × spans scan twice per document
    return (
        corpus.join(per_doc, id_col, "left")
        .withColumn("_toks", F.split(F.col(text_col), " "))
        .withColumn("_kept", kept)
        .select(
            id_col,
            F.array_join(F.col("_kept"), " ").alias("clean_text"),
            (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def bpe_encode(
    corpus: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus with a learned BPE merge table
    (:func:`bpe_train_merges` output): returns
    ``(id, n_words, n_symbols, encoded)`` where ``encoded`` is the
    space-joined symbol stream of the whole document (words separated by
    the word-boundary marker ``|`` so the decode is unambiguous).

    Scale shape — merges apply to the VOCABULARY, never the corpus: the
    corpus collapses to distinct words (10^7 rows at web scale vs 10^12
    tokens), each merge rewrites vocab rows with the same greedy leftmost
    JVM fold the trainer used (training and serving can never disagree),
    and the encoded vocab broadcast-joins back onto exploded document
    words. The per-doc reassembly is one (id)-keyed aggregate over
    (position, symbols) pairs — ``array_join(array_sort(collect_list(
    struct(pos, syms))))`` — so document text never rides a shuffle key.

    The merge table is collected to the driver (it is the MODEL — k rows,
    same contract as the IVF centroid matrix) and applied in learned rank
    order.
    """
    ranked = sorted(
        ((r["merge_rank"], r["lft"], r["rgt"]) for r in merges.collect()),
        key=lambda t: t[0],
    )
    vocab = (
        corpus.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
        .select("w", F.array_join(F.split("w", ""), " ").alias("sym"))
    )
    for _, lft, rgt in ranked:
        syms = F.split(F.col("sym"), " ")
        vocab = vocab.select(
            "w", _merge_pair_fold(syms, lft, rgt).alias("sym")
        )
    words = corpus.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    enc = words.join(F.broadcast(vocab), "w")
    return (
        enc.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                    lambda s: s["sym"],
                ),
                " | ",
            ).alias("encoded"),
        )
        .select(
            id_col,
            "n_words",
            (F.size(F.split(F.col("encoded"), " ")) - (F.col("n_words") - 1))
            .cast("long")
            .alias("n_symbols"),
            "encoded",
        )
    )


def _merge_pair_fold(syms: Column, lft: str, rgt: str) -> Column:
    """Greedy leftmost application of one BPE merge to a symbol list —
    the shared rewrite kernel of :func:`bpe_train_merges` and
    :func:`bpe_encode` (string-accumulator ``F.aggregate`` fold; exact on
    overlapping occurrences like "a b a b" → "ab ab")."""
    merged = lft + rgt

    def step(acc: Column, x: Column) -> Column:
        is_merge = (F.regexp_extract(acc, "[^ ]*$", 0) == F.lit(lft)) & (x == F.lit(rgt))
        head = F.when(acc == F.lit(lft), F.lit("")).otherwise(
            F.concat(F.regexp_replace(acc, " [^ ]*$", ""), F.lit(" "))
        )
        return F.when(is_merge, F.concat(head, F.lit(merged))).otherwise(
            F.concat(acc, F.lit(" "), x)
        )

    return F.aggregate(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.element_at(syms, 1),
        step,
    )


def bpe_train_merges(
    corpus: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Full BPE-trainer loop (Sennrich et al. 2016 Alg. 1) on top of the
    :func:`bpe_pair_counts` step: iterate ``n_merges`` times — count
    adjacent symbol pairs weighted by word frequency, pick the argmax
    (ties broken on the pair string for determinism), rewrite the
    vocabulary by merging that pair, repeat. Returns the learned merge
    table ``(merge_rank, lft, rgt, cnt)``.

    Scale shape: the corpus collapses to its vocabulary ONCE (~10^7 rows
    at web scale vs 10^12 tokens) and every iteration thereafter touches
    vocab rows only — the per-round work is one pair explode + one
    aggregate whose result reduces to a single collected row (the argmax
    is the algorithm's sequential dependency; nothing data-sized ever
    reaches the driver). The merge rewrite is a greedy leftmost fold
    (``F.aggregate``) over the symbol list with a string accumulator —
    exact BPE semantics incl. the overlapping-occurrence case
    ("a b a b" → "ab ab") that a naive padded string replace gets wrong —
    and stays entirely JVM-side (static regex patterns only, so symbol
    content never needs escaping). Each round persists the rewritten
    vocab and unpersists the previous one, keeping lineage flat for
    large ``n_merges``.
    """
    spark = corpus.sparkSession
    vocab = (
        corpus.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(F.array_join(F.split("w", ""), " ").alias("sym"), "wc")
        .persist()
    )
    merges: list[tuple[int, str, str, int]] = []
    prev = vocab
    try:
        for rank in range(1, n_merges + 1):
            syms = F.split(F.col("sym"), " ")
            n = F.greatest(F.size(syms) - 1, F.lit(0))
            pairs = F.zip_with(
                F.slice(syms, 1, n), F.slice(syms, 2, n),
                lambda a, b: F.concat_ws(" ", a, b),
            )
            top = (
                prev.select(F.explode(pairs).alias("pair"), "wc")
                .groupBy("pair")
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.desc("cnt"), "pair")
                .limit(1)
                .collect()
            )
            if not top:
                break
            lft, rgt = top[0]["pair"].split(" ", 1)
            merges.append((rank, lft, rgt, int(top[0]["cnt"])))
            nxt = prev.select(_merge_pair_fold(syms, lft, rgt).alias("sym"), "wc").persist()
            prev.unpersist()
            prev = nxt
    finally:
        prev.unpersist()
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("merge_rank", T.IntegerType()),
            T.StructField("lft", T.StringType()),
            T.StructField("rgt", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


# ---------------------------------------------------------------------------
# ☆ Gopher document-quality rules (Rae et al. 2021, Table A1)
# ---------------------------------------------------------------------------

#: "contains at least two of the following English words" (Rae et al. A1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wl: float = 3.0,
    max_mean_wl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """☆ The full Gopher document-quality rule set (Rae et al. 2021 Table
    A1) as ONE Catalyst projection emitting per-rule booleans plus a
    ``keep`` verdict — the quality gate a training-data pipeline runs
    between dedup and tokenization (extends ``repetition_filter``).

    Rules: word count in [min,max]; mean word length in [3,10]; '#'/'...'
    symbol-to-word ratio ≤ 0.1; ≤90% of lines bullet-led; ≤30% of lines
    ellipsis-terminated; ≥80% of words contain an alphabetic char; ≥2 of
    the 8 Gopher stopwords present.

    Scale: pure JVM higher-order functions over a split-once word/line
    array — no shuffle, no Python, whole-stage-codegen eligible. The
    word/line arrays are materialized in their own projection so the
    non-cheap lambdas are evaluated once (SPARK-35410 CollapseProject
    behavior — see ``remove_dup_spans``)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.withColumns({
        "_words": F.filter(F.split(text, r"\s+"), lambda w: w != ""),
        "_lines": F.split(text, "\n"),
        "_hash_n": F.length(text) - F.length(F.regexp_replace(text, "#", "")),
        "_ell_n": (F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))) / 3,
    })
    n = F.size(F.col("_words"))
    nl = F.size(F.col("_lines"))
    mean_wl = (
        F.aggregate(
            F.transform(F.col("_words"), lambda w: F.length(w)),
            F.lit(0), lambda a, x: a + x,
        ) / n
    )
    bullet = F.size(F.filter(
        F.col("_lines"),
        lambda l: l.startswith("- ") | l.startswith("• ") | l.startswith("* "),
    ))
    ell_lines = F.size(F.filter(F.col("_lines"), lambda l: l.endswith("...")))
    alpha = F.size(F.filter(F.col("_words"), lambda w: w.rlike("[a-zA-Z]")))
    lowered = F.transform(F.col("_words"), F.lower)
    stop_hits = sum(
        F.array_contains(lowered, w).cast("int") for w in GOPHER_STOPWORDS
    )
    rules = {
        "r_word_count": (n >= min_words) & (n <= max_words),
        "r_mean_word_len": (n > 0) & (mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl),
        "r_symbol_ratio": (n > 0)
        & ((F.col("_hash_n") + F.col("_ell_n")) / n <= max_symbol_ratio),
        "r_bullet_lines": bullet / nl <= max_bullet_frac,
        "r_ellipsis_lines": ell_lines / nl <= max_ellipsis_frac,
        "r_alpha_words": (n > 0) & (alpha / n >= min_alpha_frac),
        "r_stopwords": stop_hits >= min_stopwords,
    }
    out = base.withColumns(rules)
    keep = F.lit(True)
    for r in rules:
        keep = keep & F.col(r)
    return out.withColumn("keep", keep).drop("_words", "_lines", "_hash_n", "_ell_n")


def gopher_rules_sql(
    table: str = "documents",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    """DuckDB twin of ``gopher_rules`` (identical rule arithmetic) for the
    oracle gate; returns a SELECT over ``table`` with the same columns."""
    t = f"coalesce({text_col}, '')"
    stop = " + ".join(
        f"CAST(list_contains(lw, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    return f"""
WITH g AS (
  SELECT *,
    list_filter(string_split_regex({t}, '\\s+'), x -> x <> '') AS words,
    string_split({t}, chr(10)) AS lines,
    length({t}) - length(replace({t}, '#', '')) AS hash_n,
    (length({t}) - length(replace({t}, '...', ''))) / 3 AS ell_n
  FROM {table}
), m AS (
  SELECT *,
    len(words) AS n, len(lines) AS nl,
    list_aggregate(list_transform(words, x -> length(x)), 'sum') AS wl_sum,
    len(list_filter(lines, x -> starts_with(x, '- ') OR starts_with(x, '• ')
        OR starts_with(x, '* '))) AS bullet,
    len(list_filter(lines, x -> ends_with(x, '...'))) AS ell_lines,
    len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
    list_transform(words, x -> lower(x)) AS lw
  FROM g
)
SELECT doc_id,
  n >= {min_words} AND n <= {max_words} AS r_word_count,
  n > 0 AND wl_sum / n >= 3.0 AND wl_sum / n <= 10.0 AS r_mean_word_len,
  n > 0 AND (hash_n + ell_n) / n <= 0.1 AS r_symbol_ratio,
  bullet / nl <= 0.9 AS r_bullet_lines,
  ell_lines / nl <= 0.3 AS r_ellipsis_lines,
  n > 0 AND alpha / n >= 0.8 AS r_alpha_words,
  ({stop}) >= 2 AS r_stopwords,
  (n >= {min_words} AND n <= {max_words})
    AND (n > 0 AND wl_sum / n >= 3.0 AND wl_sum / n <= 10.0)
    AND (n > 0 AND (hash_n + ell_n) / n <= 0.1)
    AND (bullet / nl <= 0.9)
    AND (ell_lines / nl <= 0.3)
    AND (n > 0 AND alpha / n >= 0.8)
    AND (({stop}) >= 2) AS keep
FROM m
"""


def chunk_documents(
    corpus: DataFrame,
    *,
    chunk: int = 8,
    stride: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """☆ Overlapping sliding-window chunking → ``(id, start, n_words,
    chunk_text)`` — the context-window prep step between hygiene and
    tokenization (RAG indexing / long-doc training both consume it).

    Window rule (the HF ``return_overflowing_tokens`` convention): starts
    at 0, stride, 2·stride … up to ``n-chunk``, plus a final tail window
    AT ``n-chunk`` when the stride doesn't land there exactly — every
    word is covered, no window runs past the end, and a document shorter
    than ``chunk`` yields exactly one whole-document chunk.

    Scale: split-once word array + one generator explode per document —
    no shuffle, no Python, each output row is built map-side by JVM
    ``slice``/``array_join``. Output size is input·(1 + overlap factor),
    which is the irreducible cost of overlap, not a plan defect.
    """
    words = F.split(F.col(text_col), " ")
    t = corpus.select(F.col(id_col), words.alias("_w"))
    n = F.size(F.col("_w"))
    tail = n - F.lit(chunk)
    starts = F.when(n <= chunk, F.array(F.lit(0))).otherwise(
        F.array_distinct(
            F.concat(F.sequence(F.lit(0), tail, F.lit(stride)), F.array(tail))
        )
    )
    t = t.select(id_col, "_w", F.explode(starts).alias("_start"))
    return t.select(
        id_col,
        F.col("_start").cast("long").alias("start"),
        F.least(F.lit(chunk), F.size("_w") - F.col("_start")).cast("long").alias("n_words"),
        F.array_join(F.slice("_w", F.col("_start") + 1, chunk), " ").alias("chunk_text"),
    )


def chunk_documents_sql(
    table: str = "documents",
    chunk: int = 8,
    stride: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``chunk_documents`` (identical window rule)."""
    return f"""
WITH t AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS w FROM {table}
), s AS (
  SELECT {id_col}, w, UNNEST(
    CASE WHEN len(w) <= {chunk} THEN [CAST(0 AS BIGINT)]
         ELSE list_distinct(list_append(
                range(0, len(w) - {chunk} + 1, {stride}), len(w) - {chunk}))
    END) AS start
  FROM t
)
SELECT {id_col}, CAST(start AS BIGINT) AS start,
       CAST(LEAST({chunk}, len(w) - start) AS BIGINT) AS n_words,
       array_to_string(list_slice(w, start + 1, start + {chunk}), ' ') AS chunk_text
FROM s
"""


def line_dedup(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """☆ Global line-level dedup (the C4 recipe, Raffel et al. 2020 §2.2:
    'we discarded all but one of any three-sentence span occurring more
    than once', applied at line granularity): every exact duplicate LINE
    across the whole corpus keeps only its FIRST occurrence (minimum
    (id, pos) — deterministic, partitioning-invariant) and each document
    is rebuilt from its surviving lines. Returns ``(id, clean_text,
    n_removed)``.

    ``min_chars`` exempts short lines (blank separators and one-word
    bullets would otherwise dedup across the entire corpus). The line
    string is the election key, which keeps the DuckDB oracle exact.

    Scale: the winner election groups (key, id, pos) triples only; the
    loser list joins back as (id, pos) int pairs; the rebuild is one
    map-side JVM index-filter over a split-once line array (materialized
    in its own projection — the SPARK-35410 rule, see
    ``remove_dup_spans``).
    """
    lines = corpus.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    elig = lines.filter(F.length("line") >= min_chars)
    win = (
        elig.groupBy("line")
        .agg(F.min(F.struct(id_col, "pos")).alias("_w"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
    )
    losers = (
        elig.join(win, "line")
        .filter(
            ~((F.col(id_col) == F.col(f"_w.{id_col}")) & (F.col("pos") == F.col("_w.pos")))
        )
        .select(id_col, "pos")
    )
    drops = losers.groupBy(id_col).agg(F.collect_set("pos").alias("_drop"))
    base = corpus.join(drops, id_col, "left").withColumns({
        "_lines": F.split(F.col(text_col), "\n"),
        "_dropset": F.coalesce(F.col("_drop"), F.array().cast("array<int>")),
    })
    kept = F.filter("_lines", lambda line, i: ~F.array_contains(F.col("_dropset"), i))
    return base.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size("_dropset").cast("long").alias("n_removed"),
    )


def cooccur_pmi(
    corpus: DataFrame,
    window: int = 2,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """☆ Word co-occurrence with pointwise-mutual-information RATIO
    (Church & Hanks 1990) — the embedding-prep statistic (word2vec/GloVe
    both train on exactly these windowed pair counts). For the unordered
    pair (a, b) within ``window`` tokens:

        pmi_ratio = n_ab * n_pairs / (n_a * n_b)

    (the exact argument of the log; emitting the ratio instead of
    ``log(...)`` keeps every arithmetic step integer-derived division, so
    the DuckDB oracle matches bit-for-bit — transcendental libm calls are
    the one operation two engines may round differently). Pairs are
    canonically ordered (a <= b); marginals count windowed pair slots,
    making Σ P(a,b) a true distribution.

    Scale: pair generation is one JVM flatten over the split-once token
    array (no self-join, no explode-then-rejoin — the window is a
    compile-time list of ``zip_with`` offsets); one groupBy for pair
    counts, one for marginals, both map-side partial. ``min_count``
    drops the hapax tail before the join-back.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = F.split(F.col(text_col), " ")
    pair_arrays = [
        F.zip_with(
            toks,
            F.slice(toks, d + 1, F.greatest(F.size(toks) - d, F.lit(0))),
            # zip_with pads the shorter side with NULL; concat_ws would
            # silently swallow it into a one-word "pair", so emit NULL
            # explicitly for the padded tail slots
            lambda a, b: F.when(b.isNull(), F.lit(None)).otherwise(
                F.when(a <= b, F.concat_ws(" ", a, b)).otherwise(F.concat_ws(" ", b, a))
            ),
        )
        for d in range(1, window + 1)
    ]
    pairs = corpus.select(
        F.explode(F.concat(*pair_arrays)).alias("pair")
    ).filter(F.col("pair").isNotNull())
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_ab"))
    # total and the marginals both derive from the VOCABULARY-SIZED pair
    # counts, not from re-scanning the corpus: the three consumers then
    # share one identical aggregate subtree, which Spark plans as a single
    # exchange (ReusedExchange) — one corpus pass total, not three (r5
    # review). The weighted word explode is exact: an (a, a) self-pair
    # splits to two 'a' slots, matching the unweighted definition.
    total = counts.select(F.sum("n_ab").alias("_total"))
    marg = (
        counts.select(F.explode(F.split("pair", " ")).alias("w"), "n_ab")
        .groupBy("w")
        .agg(F.sum("n_ab").alias("n_w"))
    )
    out = (
        counts.filter(F.col("n_ab") >= min_count)
        .withColumn("a", F.split("pair", " ")[0])
        .withColumn("b", F.split("pair", " ")[1])
        .join(F.broadcast(marg.withColumnRenamed("w", "a").withColumnRenamed("n_w", "n_a")), "a")
        .join(F.broadcast(marg.withColumnRenamed("w", "b").withColumnRenamed("n_w", "n_b")), "b")
        .crossJoin(F.broadcast(total))
    )
    ratio = (F.col("n_ab") * F.col("_total")) / (F.col("n_a") * F.col("n_b"))
    return out.select(
        "a", "b", "n_ab", "n_a", "n_b", F.round(ratio, 6).alias("pmi_ratio")
    )


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """☆ DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every corpus
    document by how target-like its hashed unigram features are, so a
    training mix can resample raw crawl toward a small trusted target set.

    Features are salted-hash buckets of whitespace tokens (the paper's
    hashed n-gram reduction). The score is the ratio form
    ``score = sum_t cnt_target[b(t)] * R / (sum_t cnt_raw[b(t)] * T)``
    with R/T the global token totals — one integer-exact
    numerator/denominator pair and a single IEEE division, reproducible
    bit-for-bit in any engine (the same log-avoidance trick as
    cooccur_pmi; see the queries/ parity rules). The paper's log-weight
    ``sum_t log((cnt_t+1)/(T+B)) - log((cnt_r+1)/(R+B))`` is not offered:
    libm log is not guaranteed identical across engines.

    Scale shape: both distributions aggregate to ``n_buckets`` rows —
    broadcast-sized sidecars joined onto the exploded token stream
    (map-side, no shuffle of text); the per-doc rollup shuffles only
    (id, two longs). The target set is typically 10^4-10^6 docs vs a
    10^12 raw corpus; it is scanned once.
    """
    from .dedup import h56_expr

    def toks(df: DataFrame, *cols: str) -> DataFrame:
        return df.select(*cols, F.explode(F.split(F.col(text_col), " ")).alias("tok"))

    bucket = (F.pmod(h56_expr(F.col("tok"), salt), F.lit(n_buckets))).alias("b")
    raw_toks = toks(corpus, id_col).select(id_col, bucket)
    tgt_counts = (
        toks(target).select(bucket).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    )
    raw_counts = raw_toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot_t = tgt_counts.agg(F.sum("ct").alias("tt"))
    tot_r = raw_counts.agg(F.sum("cr").alias("tr"))
    joined = (
        raw_toks.join(F.broadcast(tgt_counts), "b", "left")
        .join(F.broadcast(raw_counts), "b")
        .select(id_col, F.coalesce("ct", F.lit(0)).alias("ct"), "cr")
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("ct").alias("sum_target"),
        F.sum("cr").alias("sum_raw"),
    )
    out = per_doc.crossJoin(F.broadcast(tot_t)).crossJoin(F.broadcast(tot_r))
    return out.select(
        id_col,
        "n_tokens",
        "sum_target",
        "sum_raw",
        # cast each factor to double BEFORE multiplying: integer products
        # overflow BIGINT at corpus scale (sum*total ~ 1e23), and the
        # double multiply/divide chain is identical IEEE in any engine
        (
            (F.col("sum_target").cast("double") * F.col("tr").cast("double"))
            / (F.col("sum_raw").cast("double") * F.col("tt").cast("double"))
        ).alias("score"),
    )
