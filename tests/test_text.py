"""Extractor invariant: byte-identical text per url, two independent
derivations (expected_text fixture vs extractor over rendered HTML), stable
across partitions/parallelism (BASELINE.json per-row invariant)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from copernicusdata_jl_spark.functions import text

from reference import (
    expected_text,
    expected_text_rich,
    extract_text_py,
    pages_pdf,
    render_html_rich,
    winnow_fingerprints,
)


def test_extractor_matches_expected_text():
    for i in range(200):
        assert extract_text_py(text.render_html(i)) == expected_text(i)


def test_extractor_handles_entities_and_nested():
    h = "<html><body><p>a &amp; b &lt;tag&gt; &quot;q&quot;</p><script>if(1<2){x}</script></body></html>"
    assert extract_text_py(h) == 'a & b <tag> "q"'


def test_extractor_sql_twin_parity():
    """DuckDB regexp pipeline must reproduce the Python extractor byte-for-
    byte on the synthetic corpus — the independent oracle of the invariant."""
    htmls = [text.render_html(i) for i in range(150)]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"html": htmls}))
    sql = f"SELECT {text.extract_text_sql('html')} AS txt FROM t"
    got = [r[0] for r in con.execute(sql).fetchall()]
    want = [extract_text_py(h) for h in htmls]
    assert got == want


def test_spark_extraction_deterministic_across_parallelism(spark):
    pdf = pages_pdf(300)
    digests = {}
    for parts in (1, 7):
        df = spark.createDataFrame(pdf[["url", "warc_ts", "html"]]).repartition(parts)
        out = (
            text.with_extracted_text(df)
            .select("url", "warc_ts", "text_sha256")
            .toPandas()
            .sort_values(["url", "warc_ts"])
            .reset_index(drop=True)
        )
        digests[parts] = out
    pd.testing.assert_frame_equal(digests[1], digests[7])
    # and equals the fixture's golden text column
    golden = pdf[["url", "warc_ts", "text"]].copy()
    import hashlib

    golden["want"] = golden["text"].map(lambda t: hashlib.sha256(t.encode()).hexdigest())
    merged = digests[1].merge(golden, on=["url", "warc_ts"])
    assert (merged["text_sha256"] == merged["want"]).all()


def test_winnow_fingerprints_detect_near_dupes():
    a = expected_text(1)
    b = a.replace("granule", "granule")  # identical
    c = a + " extra tail words appended here"
    d = expected_text(99)
    fa = set(winnow_fingerprints(a))
    fc = set(winnow_fingerprints(c))
    fd = set(winnow_fingerprints(d))
    assert fa == set(winnow_fingerprints(b))
    jac_ac = len(fa & fc) / len(fa | fc)
    jac_ad = len(fa & fd) / max(1, len(fa | fd))
    assert jac_ac > 0.5 > jac_ad


def test_rich_extractor_matches_expected_text():
    # rich (Common-Crawl-weight) pages: same byte-identical contract,
    # independently derived golden (boilerplate nav/footer/entities)
    for i in (0, 1, 7, 99, 1234, 54321):
        assert extract_text_py(render_html_rich(i)) == expected_text_rich(i)
    assert len(render_html_rich(123)) > 2000


def test_jvm_expr_extractor_byte_parity(spark):
    """Parity: python spec == JVM codegen expression, byte-for-byte, over
    plain and rich pages (string + binary)."""
    from pyspark.sql import functions as F

    htmls = [text.render_html(i) for i in range(100)] + [
        render_html_rich(i) for i in range(60)
    ]
    want = [extract_text_py(h) for h in htmls]
    df = spark.createDataFrame([(h,) for h in htmls], "html string").repartition(5)
    got_expr = [
        r.t
        for r in df.select(text.extract_text_expr(F.col("html")).alias("t"), "html")
        .orderBy("html")
        .collect()
    ]
    want_sorted = [extract_text_py(h) for h in sorted(htmls)]
    assert got_expr == want_sorted
    # binary input path (pages schema html:binary)
    dfb = spark.createDataFrame([(h.encode(),) for h in htmls], "html binary")
    got_bin = sorted(
        r.t for r in dfb.select(text.extract_text_expr(F.col("html")).alias("t")).collect()
    )
    assert got_bin == sorted(want)


def test_extractor_edge_charset_parity(spark):
    """ADVICE r1: parity must hold beyond the fixture charset — Unicode
    whitespace (NBSP), vertical tab, uppercase tags, and \\b-adjacent tag
    names must extract identically on the python spec, the JVM expression,
    and the DuckDB SQL twin."""
    cases = [
        "<html><body>\xa0 hello\x0bworld \xa0</body></html>",  # unicode ws edges
        " \t<p>lead and trail</p>\n ",
        "<SCRIPT>drop()</SCRIPT><p>Keep</p>",
        "<scriptx>not a script tag</scriptx><p>ok</p>",
        "<script type='t'>drop</script>kept",
        "<style media=print>p{}</style>styled text",
        "café — résumé<script>x</script>",
    ]
    want = [extract_text_py(h) for h in cases]
    # JVM expression (string + binary input)
    df = spark.createDataFrame([(h,) for h in cases], "html string")
    got = [r.t for r in df.select(text.extract_text_expr(F.col("html")).alias("t")).collect()]
    assert got == want
    dfb = spark.createDataFrame([(h.encode(),) for h in cases], "html binary")
    gotb = [r.t for r in dfb.select(text.extract_text_expr(F.col("html")).alias("t")).collect()]
    assert gotb == want
    # DuckDB SQL twin
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"html": cases}))
    gots = [r[0] for r in con.execute(f"SELECT {text.extract_text_sql('html')} FROM t").fetchall()]
    assert gots == want


def test_bm25_ranking_semantics_and_plan(spark):
    """BM25 (functions/rank.py): zero score iff no query term present;
    a term-dense doc outranks a single-mention doc at equal length; the
    scoring side is a broadcast of the single-row corpus stats (no
    sort-merge join, no data-sized shuffle on the scoring path)."""
    from copernicusdata_jl_spark.functions.rank import bm25_scores

    rows = [
        (0, "spark " * 10 + "filler " * 10),        # dense in 'spark'
        (1, "spark " + "filler " * 19),             # one mention, same length
        (2, "completely unrelated words here only"),
        (3, None),                                  # NULL text -> empty tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_scores(docs, ["spark"])
    got = {r.doc_id: r.bm25 for r in out.collect()}
    assert got[0] > got[1] > 0.0
    assert got[2] == 0.0 and got[3] == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# inverted index
# ---------------------------------------------------------------------------


def test_build_postings_counts_and_order(spark):
    from copernicusdata_jl_spark.functions.rank import build_postings

    d = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c c c")], ["doc_id", "text"]
    )
    got = {r["term"]: (r["df"], r["cf"], r["postings"])
           for r in build_postings(d).collect()}
    assert got["a"] == (1, 2, "1:2")
    assert got["b"] == (2, 2, "1:1 2:1")
    assert got["c"] == (2, 4, "2:1 3:3")


def test_build_postings_max_df_cut(spark):
    import pytest

    from copernicusdata_jl_spark.functions.rank import build_postings

    d = spark.createDataFrame(
        [(i, "stop word" + (" rare" if i == 0 else "")) for i in range(10)],
        ["doc_id", "text"],
    )
    got = {r["term"] for r in build_postings(d, max_df_ratio=0.5).collect()}
    assert got == {"rare"}  # 'stop'/'word' appear in all 10 docs -> cut
    with pytest.raises(ValueError):
        build_postings(d, max_df_ratio=0.0)


# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------


def test_normalize_text_folds_web_junk(spark):
    import duckdb

    from copernicusdata_jl_spark.functions.text import (
        normalize_text_expr,
        normalize_text_sql,
    )

    raw = "“Hello” – it’s  a\ttest…\x07 end\nline2  x"
    d = spark.createDataFrame([(raw,)], ["t"])
    got = d.select(normalize_text_expr(F.col("t")).alias("n")).first()["n"]
    assert got == "\"Hello\" - it's a test... end\nline2 x"
    # newline survives (line structure feeds line_dedup / Gopher rules)
    assert "\n" in got
    # the DuckDB twin is byte-identical (incl. the quote-escaping path)
    want = duckdb.sql(
        f"SELECT {normalize_text_sql('t')} AS n FROM (SELECT ? AS t)", params=[raw]
    ).fetchone()[0]
    assert got == want
