"""Corpus-hygiene suite (operators/corpus.py, functions/pii.py): semantics
pinned on hand fixtures, plan shapes pinned for the scale claims."""

from __future__ import annotations

from pyspark.sql import functions as F

from copernicusdata_jl_spark.functions import pii as P
from copernicusdata_jl_spark.operators import corpus as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------


def test_decontaminate_flags_shared_ngrams(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps high")])
    corpus = _docs(
        spark,
        [
            (1, "we saw the quick brown fox yesterday"),
            (2, "entirely different words here okay"),
            (3, "quick brown fox jumps and the quick brown fox jumps again"),
        ],
    )
    out = {r.doc_id: r.n_contaminated for r in C.decontaminate(corpus, bench, n=4).collect()}
    # doc 1 shares exactly "the quick brown fox"; doc 3 shares that AND
    # "quick brown fox jumps" (distinct grams per doc, repeats count once);
    # doc 2 is clean and therefore absent.
    assert out == {1: 1, 3: 2}


def test_decontaminate_broadcasts_benchmark(spark):
    bench = _docs(spark, [(100, "a b c d")])
    corpus = _docs(spark, [(1, "a b c d e")])
    plan = C.decontaminate(corpus, bench, n=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# dup_span_stats
# ---------------------------------------------------------------------------


def test_dup_span_stats_counts_positions(spark):
    # "a b c d e" appears in docs 1 and 2 → its single 5-gram position is
    # duplicated in both; doc 3 is unique; doc 4 is shorter than k.
    corpus = _docs(
        spark,
        [
            (1, "a b c d e x y z w v"),
            (2, "q a b c d e"),
            (3, "p q r s t u"),
            (4, "a b c"),
        ],
    )
    rows = {r.doc_id: r for r in C.dup_span_stats(corpus, k=5).collect()}
    assert rows[1].total_grams == 6 and rows[1].dup_grams == 1
    assert rows[2].total_grams == 2 and rows[2].dup_grams == 1
    assert rows[3].total_grams == 2 and rows[3].dup_grams == 0
    assert rows[4].total_grams == 0 and rows[4].dup_ratio == 0.0
    assert abs(rows[1].dup_ratio - 1 / 6) < 1e-6


def test_dup_span_stats_within_doc_repeat_not_duplicated(spark):
    # the same 5-gram twice in ONE doc is not a cross-document duplicate
    corpus = _docs(spark, [(1, "a b c d e a b c d e"), (2, "z y x w v u")])
    rows = {r.doc_id: r for r in C.dup_span_stats(corpus, k=5).collect()}
    assert rows[1].dup_grams == 0


# ---------------------------------------------------------------------------
# unigram_logprob
# ---------------------------------------------------------------------------


def test_unigram_logprob_hand_value(spark):
    import math

    corpus = _docs(spark, [(1, "a a b"), (2, "b")])
    # counts: a=2, b=2; total=4, vocab=2 → p = (cnt+1)/6
    rows = {r.doc_id: r for r in C.unigram_logprob(corpus).collect()}
    lp = math.log(3 / 6)
    assert rows[1].n_tokens == 3
    assert abs(rows[1].avg_logp - round(lp, 4)) < 1e-9
    assert abs(rows[2].avg_logp - round(lp, 4)) < 1e-9


def test_unigram_logprob_external_stats_smooths_oov(spark):
    import math

    # scoring a slice against OTHER stats: oov tokens get the add-one mass
    # log(1/(total+|V|)) instead of dropping out of the average
    stats_src = _docs(spark, [(1, "a a a b")])  # total=4, vocab=2
    stats = C.unigram_token_stats(stats_src)
    known = _docs(spark, [(8, "a b")])
    rows = C.unigram_logprob(known, stats=stats).collect()
    assert rows[0].n_tokens == 2
    out = {r.doc_id: r for r in C.unigram_logprob(
        _docs(spark, [(9, "zzz zzz"), (10, "a zzz")]), stats=stats
    ).collect()}
    oov = math.log(1 / 6)
    assert out[9].n_tokens == 2 and abs(out[9].avg_logp - round(oov, 4)) < 1e-9
    mixed = (math.log(4 / 6) + oov) / 2
    assert out[10].n_tokens == 2 and abs(out[10].avg_logp - round(mixed, 4)) < 2e-4


# ---------------------------------------------------------------------------
# host_frequency_cap
# ---------------------------------------------------------------------------


def test_host_cap_respects_cap_and_is_partition_invariant(spark):
    rows = [(i, f"doc {i}", f"host{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept1 = sorted((r.host, r.rk, r.doc_id) for r in C.host_frequency_cap(df, cap=5).collect())
    kept2 = sorted(
        (r.host, r.rk, r.doc_id)
        for r in C.host_frequency_cap(df.repartition(13), cap=5).collect()
    )
    assert kept1 == kept2  # md5 order is partitioning-invariant
    assert len(kept1) == 15
    per_host = {}
    for h, rk, _ in kept1:
        per_host.setdefault(h, []).append(rk)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_host.values())


def test_host_cap_keeps_small_hosts_whole(spark):
    df = spark.createDataFrame(
        [(1, "t", "tiny"), (2, "t", "tiny")], "doc_id long, text string, source string"
    )
    assert C.host_frequency_cap(df, cap=10).count() == 2


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_sequences_accounting_and_partition_invariance(spark):
    rows = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: tuple(r)[1:] for r in C.pack_sequences(df, 16, n_parts=1).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in C.pack_sequences(df.repartition(7), 16, n_parts=5).collect()}
    assert a == b  # distributed prefix sum == single-partition cumsum
    total = sum(3 + i % 7 for i in range(50))
    ends = {r.doc_id: r.start + r.n_tokens for r in C.pack_sequences(df, 16).collect()}
    assert max(ends.values()) == total  # spans tile the token stream
    out = {r.doc_id: r for r in C.pack_sequences(df, 16).collect()}
    starts = sorted(r.start for r in out.values())
    assert starts[0] == 0 and len(set(starts)) == 50  # contiguous, no overlap
    for r in out.values():
        assert r.seq_id == r.start // 16 and r.offset == r.start % 16
        assert r.straddles == (r.start + r.n_tokens > (r.seq_id + 1) * 16)


# ---------------------------------------------------------------------------
# temperature_sample
# ---------------------------------------------------------------------------


def test_temperature_sample_flattens_and_is_deterministic(spark):
    rows = [(i, "t", "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = C.temperature_sample(df, "source", alpha=0.5, target_frac=0.5)
    p = {r.source: r._keep_p for r in kept.select("source", "_keep_p").distinct().collect()}
    # alpha<1 flattens: the small source keeps a HIGHER fraction
    assert p["small"] > p["big"]
    # expected totals: T*w_s, capped at 1
    import math

    w_big, w_small = math.sqrt(900), math.sqrt(100)
    s = w_big + w_small
    assert abs(p["big"] - min(1.0, 500 * (w_big / s) / 900)) < 1e-6
    assert abs(p["small"] - min(1.0, 500 * (w_small / s) / 100)) < 1e-6
    ids1 = sorted(r.doc_id for r in kept.collect())
    ids2 = sorted(r.doc_id for r in C.temperature_sample(df.repartition(9), "source", 0.5, 0.5).collect())
    assert ids1 == ids2  # partitioning-invariant selection


def test_temperature_sample_alpha_one_is_uniform(spark):
    rows = [(i, "t", f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    p = {
        r.source: r._keep_p
        for r in C.temperature_sample(df, "source", alpha=1.0, target_frac=0.3)
        .select("source", "_keep_p").distinct().collect()
    }
    assert all(abs(v - 0.3) < 1e-6 for v in p.values())


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_pii_redaction_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or +1 555-123-4567 from 192.168.0.1"),
            (2, "no pii here at all"),
            (3, "edge a@192.168.0.1.example.com ip-in-email-domain"),
            (4, "bare a@192.168.0.1 numeric-tld is not an email"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            P.redact_pii_expr(F.col("text")).alias("red"),
            P.pii_count_expr(F.col("text"), "email").alias("ne"),
            P.pii_count_expr(F.col("text"), "phone").alias("np"),
            P.pii_count_expr(F.col("text"), "ipv4").alias("ni"),
        ).collect()
    }
    assert out[1].red == "mail me at <EMAIL> or <PHONE> from <IP>"
    assert (out[1].ne, out[1].np, out[1].ni) == (1, 1, 1)
    assert out[2].red == "no pii here at all"
    assert (out[2].ne, out[2].np, out[2].ni) == (0, 0, 0)
    # an IP inside an email's domain is attributed to the EMAIL rule…
    assert out[3].red == "edge <EMAIL> ip-in-email-domain"
    assert (out[3].ne, out[3].np, out[3].ni) == (1, 0, 0)
    # …but an all-numeric "domain" is no email (alpha TLD required); the
    # embedded address still gets scrubbed by the IP rule
    assert out[4].red == "bare a@<IP> numeric-tld is not an email"
    assert (out[4].ne, out[4].np, out[4].ni) == (0, 0, 1)


def test_pii_redaction_idempotent(spark):
    """Placeholders contain no redactable substrings, so a second pass is
    a no-op — pipelines can re-run the scrub on mixed clean/dirty data."""
    rng_texts = [
        f"u{i}@x{i}.org +1 555-{i % 10}23-4567 10.0.{i % 256}.1 word{i}" for i in range(50)
    ] + ["clean text", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(rng_texts)], "i long, text string")
    once = P.redact_pii_expr(F.col("text"))
    out = df.select(once.alias("a"), P.redact_pii_expr(once).alias("b")).collect()
    assert all(r.a == r.b for r in out)


def test_pii_duckdb_twin_matches_spark(spark):
    import duckdb

    texts = [
        "a b c x@y.io d 10.0.0.1 +12 555-000-1111 end",
        "plain",
        "two mails a@b.co c@d.org and ip 8.8.8.8",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    sres = (
        df.select("doc_id", P.redact_pii_expr(F.col("text")).alias("red"),
                  P.pii_count_expr(F.col("text"), "email").alias("ne"))
        .orderBy("doc_id").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    dres = con.execute(
        f"SELECT doc_id, {P.redact_pii_sql('text')} AS red, "
        f"{P.pii_count_sql('text', 'email')} AS ne FROM t ORDER BY doc_id"
    ).fetchall()
    assert [(r.doc_id, r.red, r.ne) for r in sres] == [tuple(r) for r in dres]


def test_corpus_ops_on_empty_input(spark):
    """Every corpus operator must return an empty (not crashing) frame on
    an empty corpus — resume/retry paths hit this routinely."""
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert C.pack_sequences(empty, 16).count() == 0
    assert C.temperature_sample(empty, "source", 0.5, 0.5).count() == 0
    assert C.host_frequency_cap(empty, 5).count() == 0
    assert C.dup_span_stats(empty, k=5).count() == 0
    assert C.unigram_logprob(empty).count() == 0
    bench = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert C.decontaminate(empty, bench, n=4).count() == 0


def test_blocklist_filter_suffix_semantics(spark):
    """Exact domain and subdomains are blocked; lookalike hosts that only
    END with the domain string (no dot boundary) survive."""
    docs = spark.createDataFrame(
        [
            (1, "spam.farm"),
            (2, "a.b.spam.farm"),
            (3, "notspam.farm"),        # no dot boundary -> kept
            (4, "clean.example.com"),
            (5, "farm"),                # bare TLD-ish, not listed -> kept
        ],
        "doc_id long, host string",
    )
    bl = spark.createDataFrame([("spam.farm",)], "domain string")
    kept = sorted(r.doc_id for r in C.blocklist_filter(docs, bl).collect())
    assert kept == [3, 4, 5]


def test_ccnet_buckets_rank_by_lm_score(spark):
    """Docs made of frequent tokens land in head, rare-token docs in tail;
    each tercile gets one doc on a 3-doc corpus."""
    common = "the the the the the the"
    docs = _docs(spark, [(1, common), (2, common + " rare1"), (3, "zz yy xx ww vv uu")])
    rows = {r["doc_id"]: r["bucket"] for r in C.ccnet_buckets(docs).collect()}
    assert rows == {1: "head", 2: "middle", 3: "tail"}


# ---------------------------------------------------------------------------
# dup_span_islands
# ---------------------------------------------------------------------------


def test_dup_span_islands_merges_consecutive_positions(spark):
    """Two docs share the 8-token prefix -> positions 1..4 of 5-grams are
    duplicated and must collapse to ONE island covering 8 tokens; the
    distinct tails produce no island."""
    shared = "a b c d e f g h"
    docs = _docs(spark, [(1, shared + " x1 y1 z1"), (2, shared + " x2 y2 z2")])
    rows = {
        (r["doc_id"], r["span_start"]): r
        for r in C.dup_span_islands(docs, k=5, min_docs=2).collect()
    }
    assert set(rows) == {(1, 1), (2, 1)}
    for key in rows:
        assert rows[key]["n_grams"] == 4
        assert rows[key]["span_tokens"] == 8  # 4 gram positions + k-1


def test_dup_span_islands_splits_on_gap(spark):
    """Duplicated positions separated by a unique gap form TWO islands."""
    d1 = "p q r s t U1 U2 U3 U4 U5 v w x y z"
    d2 = "p q r s t A1 A2 A3 A4 A5 v w x y z"
    docs = _docs(spark, [(1, d1), (2, d2)])
    out = C.dup_span_islands(docs, k=5, min_docs=2).filter(F.col("doc_id") == 1)
    isl = sorted((r["span_start"], r["n_grams"], r["span_tokens"]) for r in out.collect())
    # only gram position 1 ("p q r s t") and position 11 ("v w x y z")
    # are cross-doc duplicates; the overlap grams mix unique tokens
    assert isl == [(1, 1, 5), (11, 1, 5)]


def test_dup_grams_equal_island_gram_sum_per_document(spark):
    """dup_span_stats and dup_span_islands count the same duplicated
    positions: on the sf0.001 documents, every document's dup_grams is the
    sum of its islands' n_grams (0 for a document without islands)."""
    from conftest import SF_DIR

    from copernicusdata_jl_spark.queries.corpus import _SPAN_K, _SPAN_MIN_DOCS
    from copernicusdata_jl_spark.queries.shared import load

    docs = load(spark, SF_DIR, "documents")
    stats = {
        r.doc_id: r.dup_grams
        for r in C.dup_span_stats(docs, _SPAN_K, min_docs=_SPAN_MIN_DOCS).collect()
    }
    islands = (
        C.dup_span_islands(docs, _SPAN_K, min_docs=_SPAN_MIN_DOCS)
        .groupBy("doc_id").agg(F.sum("n_grams").alias("n"))
    )
    summed = {r.doc_id: r.n for r in islands.collect()}
    assert len(stats) == docs.count() and any(summed.values())
    assert stats == {d: summed.get(d, 0) for d in stats}


def test_remove_dup_spans_deletes_covered_tokens(spark):
    """The shared 8-token prefix is removed from BOTH docs; unique tails
    survive; n_removed counts deleted tokens."""
    shared = "a b c d e f g h"
    docs = _docs(spark, [(1, shared + " x1 y1 z1"), (2, shared + " x2 y2 z2")])
    rows = {r["doc_id"]: r for r in C.remove_dup_spans(docs, k=5, min_docs=2).collect()}
    assert rows[1]["clean_text"] == "x1 y1 z1" and rows[1]["n_removed"] == 8
    assert rows[2]["clean_text"] == "x2 y2 z2" and rows[2]["n_removed"] == 8


def test_remove_dup_spans_min_span_threshold_and_untouched_docs(spark):
    """min_span_tokens filters short islands (text survives intact), and a
    doc with no duplicated grams is returned unchanged with n_removed=0."""
    shared = "a b c d e f g h"
    docs = _docs(
        spark,
        [(1, shared + " x1 y1 z1"), (2, shared + " x2 y2 z2"), (3, "totally unique words only here now")],
    )
    rows = {r["doc_id"]: r for r in
            C.remove_dup_spans(docs, k=5, min_docs=2, min_span_tokens=9).collect()}
    assert rows[1]["n_removed"] == 0 and rows[1]["clean_text"].startswith(shared)
    assert rows[3]["n_removed"] == 0 and rows[3]["clean_text"] == "totally unique words only here now"


# ---------------------------------------------------------------------------
# bpe_train_merges
# ---------------------------------------------------------------------------


def test_bpe_trainer_matches_sennrich_by_hand(spark):
    """Classic fixture: corpus 'low low lower' -> first merge is the most
    frequent adjacent char pair; hand-traced two iterations."""
    docs = _docs(spark, [(1, "low low lower")])
    m = {r["merge_rank"]: (r["lft"], r["rgt"], r["cnt"]) for r in
         C.bpe_train_merges(docs, n_merges=2).collect()}
    # vocab: low:2, lower:1 -> pairs l-o:3, o-w:3, w-e:1, e-r:1
    # tie l o vs o w broken on pair string: "l o" < "o w"
    assert m[1] == ("l", "o", 3)
    # after merge: "lo w":2, "lo w e r":1 -> lo-w:3 wins
    assert m[2] == ("lo", "w", 3)


def test_bpe_merge_rewrite_handles_overlapping_occurrences(spark):
    """The greedy fold must merge BOTH 'a b' occurrences in 'abab' (the
    case a padded string-replace misses because the shared space is
    consumed by the first match) and merge 'a a a' left-to-right."""
    docs = _docs(spark, [(1, "abab abab aaa")])
    m = {r["merge_rank"]: (r["lft"], r["rgt"], r["cnt"]) for r in
         C.bpe_train_merges(docs, n_merges=2).collect()}
    # pairs: a-b x2 per 'abab' word (wc=2) = 4; b-a = 2; a-a = 2 -> a b wins
    assert m[1] == ("a", "b", 4)
    # rewrite: 'a b a b' -> 'ab ab' (both!), 'a a a' -> 'a a a' (no b)
    # round 2 pairs: ab-ab:2, a-a:2 -> tie broken on string: "a a" < "ab ab"
    assert m[2] == ("a", "a", 2)


def test_bpe_encode_applies_merges_in_rank_order(spark):
    """Hand-traced encode on the Sennrich fixture: merge 1 = (l,o) gives
    'lo w' / 'lo w e r'; merge 2 = (lo,w) fuses them to 'low' / 'low e r';
    word boundaries are '|'-separated."""
    docs = _docs(spark, [(1, "low low lower")])
    merges = C.bpe_train_merges(docs, n_merges=2)
    row = C.bpe_encode(docs, merges).collect()[0]
    assert row["encoded"] == "low | low | low e r"
    assert row["n_words"] == 3 and row["n_symbols"] == 1 + 1 + 3


def test_bpe_encode_no_merges_is_char_stream(spark):
    docs = _docs(spark, [(1, "ab ba")])
    empty = C.bpe_train_merges(docs, n_merges=0)
    row = C.bpe_encode(docs, empty).collect()[0]
    assert row["encoded"] == "a b | b a" and row["n_symbols"] == 4


def test_bpe_trainer_empty_and_exhausted_corpus(spark):
    """Single-char vocab has no pairs: trainer returns an empty merge
    table with the documented schema instead of looping or crashing."""
    docs = _docs(spark, [(1, "a b c")])
    out = C.bpe_train_merges(docs, n_merges=3)
    assert out.count() == 0
    assert out.columns == ["merge_rank", "lft", "rgt", "cnt"]


def test_gopher_rules_each_rule(spark):
    """Each Gopher rule (Rae et al. 2021 Table A1) trips on a crafted doc
    and holds on a clean one; keep is the conjunction."""
    from copernicusdata_jl_spark.operators.corpus import gopher_rules

    good = "the cat sat on the mat and that dog ran off with all of its food"
    docs = spark.createDataFrame(
        [
            (0, good),                                   # passes everything
            (1, "too short"),                            # word count floor
            (2, " ".join(["a"] * 20)),                   # mean word len < 3
            (3, good + " " + "#" * 1 + " # # #"),        # symbol ratio > 0.1
            (4, "\n".join(["- item one here"] * 10)),    # bullet lines > 90%
            (5, "\n".join(["we kept going..."] * 10)),   # ellipsis lines > 30%
            (6, good + " " + " ".join(["123456"] * 16)), # alpha frac < 80%
            (7, "zebra quartz jumble " * 7),             # < 2 stopwords
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(docs, min_words=10).collect()
    }
    assert out[0]["keep"] is True
    assert out[1]["r_word_count"] is False
    assert out[2]["r_mean_word_len"] is False
    assert out[3]["r_symbol_ratio"] is False
    assert out[4]["r_bullet_lines"] is False
    assert out[5]["r_ellipsis_lines"] is False
    assert out[6]["r_alpha_words"] is False
    assert out[7]["r_stopwords"] is False
    for i in range(1, 8):
        assert out[i]["keep"] is False


def test_gopher_rules_plan_is_jvm_only(spark):
    """The rule set is one JVM projection: no Python eval nodes, no
    Exchange."""
    from copernicusdata_jl_spark.operators.corpus import gopher_rules

    docs = spark.createDataFrame([(0, "the cat")], "doc_id long, text string")
    plan = gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


# ---------------------------------------------------------------------------
# overlapping chunking
# ---------------------------------------------------------------------------


def test_chunk_windows_cover_and_overlap(spark):
    from copernicusdata_jl_spark.operators.corpus import chunk_documents

    # 10 words, chunk=4, stride=2 → starts 0,2,4,6 (tail 6 already on the
    # stride grid, no duplicate window)
    text = " ".join(f"w{i}" for i in range(10))
    d = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = chunk_documents(d, chunk=4, stride=2).orderBy("start").collect()
    assert [r["start"] for r in rows] == [0, 2, 4, 6]
    assert all(r["n_words"] == 4 for r in rows)
    assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[-1]["chunk_text"] == "w6 w7 w8 w9"


def test_chunk_tail_window_added_off_grid(spark):
    from copernicusdata_jl_spark.operators.corpus import chunk_documents

    # 9 words, chunk=4, stride=3 → grid starts 0,3 plus tail 5 (9-4):
    # the last word is covered exactly once by the tail window
    text = " ".join(f"w{i}" for i in range(9))
    d = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = chunk_documents(d, chunk=4, stride=3).orderBy("start").collect()
    assert [r["start"] for r in rows] == [0, 3, 5]
    assert rows[-1]["chunk_text"] == "w5 w6 w7 w8"


def test_chunk_short_doc_single_whole_chunk(spark):
    from copernicusdata_jl_spark.operators.corpus import chunk_documents

    d = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    rows = chunk_documents(d, chunk=8, stride=4).collect()
    assert len(rows) == 1
    assert rows[0]["start"] == 0 and rows[0]["n_words"] == 3
    assert rows[0]["chunk_text"] == "a b c"


def test_chunk_matches_duckdb_twin(spark):
    import duckdb

    from copernicusdata_jl_spark.operators.corpus import (
        chunk_documents,
        chunk_documents_sql,
    )

    d = spark.createDataFrame(
        [(i, " ".join(f"t{i}x{j}" for j in range(3 + i))) for i in range(12)],
        ["doc_id", "text"],
    )
    got = sorted(
        (r["doc_id"], r["start"], r["n_words"], r["chunk_text"])
        for r in chunk_documents(d, chunk=5, stride=2).collect()
    )
    con = duckdb.connect()
    con.register("documents", d.toPandas())
    want = sorted(map(tuple, con.execute(chunk_documents_sql(chunk=5, stride=2)).fetchall()))
    assert got == want


# ---------------------------------------------------------------------------
# C4 line dedup
# ---------------------------------------------------------------------------


def test_line_dedup_first_occurrence_wins(spark):
    from copernicusdata_jl_spark.operators.corpus import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nshared line one\nunique a"),
            (2, "shared line one\ngamma\nshared line one"),
            (3, "x\nshared line one\nunique c"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in line_dedup(docs, min_chars=2).collect()}
    # doc 1 holds the first occurrence; within-doc repeats also dedup;
    # "x" is below min_chars and exempt
    assert got[1] == ("alpha beta\nshared line one\nunique a", 0)
    assert got[2] == ("gamma", 2)
    assert got[3] == ("x\nunique c", 1)


def test_line_dedup_partitioning_invariant(spark):
    from copernicusdata_jl_spark.operators.corpus import line_dedup

    docs = spark.createDataFrame(
        [(i, f"common header line\nbody {i} text here") for i in range(40)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, line_dedup(docs).collect()))
    b = sorted(map(tuple, line_dedup(docs.repartition(7)).collect()))
    assert a == b
    # exactly one survivor of the common header (doc 0, the min id)
    keepers = [r for r in a if "common header line" in r[1]]
    assert len(keepers) == 1 and keepers[0][0] == 0


# ---------------------------------------------------------------------------
# co-occurrence PMI
# ---------------------------------------------------------------------------


def test_cooccur_pmi_hand_checked(spark):
    from copernicusdata_jl_spark.operators.corpus import cooccur_pmi

    d = spark.createDataFrame([(1, "a b c a b"), (2, "a b x")], ["doc_id", "text"])
    got = {(r["a"], r["b"]): (r["n_ab"], r["n_a"], r["n_b"], r["pmi_ratio"])
           for r in cooccur_pmi(d, window=2, min_count=1).collect()}
    # window-2 slots: doc1 has 4+3, doc2 has 2+1 -> total 10
    # (a,b) co-occurs 4x; each word's marginal counts its slot memberships
    assert got[("a", "b")] == (4, 7, 7, round(4 * 10 / 49, 6))
    assert got[("a", "c")][0] == 2
    # pairs are canonically ordered: no (b, a) key exists
    assert all(a <= b for a, b in got)


def test_cooccur_pmi_no_phantom_pairs_from_padding(spark):
    from copernicusdata_jl_spark.operators.corpus import cooccur_pmi

    # a 2-token doc under window=3: the padded zip_with tail must not
    # produce one-word pairs (the concat_ws-swallows-NULL trap)
    d = spark.createDataFrame([(1, "x y")], ["doc_id", "text"])
    rows = cooccur_pmi(d, window=3, min_count=1).collect()
    assert [(r["a"], r["b"], r["n_ab"]) for r in rows] == [("x", "y", 1)]
