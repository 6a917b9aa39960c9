"""Gates for the corpus-cleaning operators (operators/scrub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prom_spark.operators.scrub import (
    boilerplate_lines,
    mask_pii,
    repetition_stats,
    strip_boilerplate,
)


def test_mask_pii_hand_fixture(spark):
    rows = [
        (0, "mail me at a.user+tag@example.co.uk or see https://ex.com/p?q=1 now"),
        (1, "server 10.0.255.7 port 8080 acct 12345678 short 123456"),
        (2, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.masked for r in mask_pii(df, "text").collect()}
    assert got[0] == "mail me at <EMAIL> or see <URL> now"
    # 8080 stays (short); 12345678 masked; 123456 stays (6 digits)
    assert got[1] == "server <IP> port 8080 acct <NUM> short 123456"
    assert got[2] == "no pii here"


def test_mask_pii_url_consumes_embedded_email(spark):
    df = spark.createDataFrame(
        [(0, "x https://ex.com/u@v.com y")], "doc_id long, text string"
    )
    got = mask_pii(df, "text").collect()[0].masked
    assert got == "x <URL> y"


def test_repetition_stats_hand_fixture(spark):
    # 18 of 26 chars (incl. the 2 newlines) sit in duplicated lines
    dup_doc = "spam line\nspam line\nunique"
    clean_doc = "alpha beta\ngamma delta"
    degenerate = "go go go go"  # bigrams: 3 total, 1 distinct
    df = spark.createDataFrame(
        [(0, dup_doc), (1, clean_doc), (2, degenerate), (3, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert got[0].dup_line_char_frac == pytest.approx(18 / 26, abs=1e-6)
    assert got[1].dup_line_char_frac == 0.0
    assert got[1].dup_bigram_frac == 0.0
    assert got[2].dup_bigram_frac == pytest.approx(1 - 1 / 3, abs=1e-6)
    # empty doc: defined, all zeros (no NULLs leak from the left joins)
    assert got[3].dup_line_char_frac == 0.0 and got[3].dup_bigram_frac == 0.0


def test_boilerplate_detection_matches_duckdb_twin(spark):
    import duckdb

    rows = [
        ("web", 0, "COOKIE BANNER\nreal content A\nfooter inc"),
        ("web", 1, "COOKIE BANNER\nreal content B\nfooter inc"),
        ("web", 2, "COOKIE BANNER\nreal content C"),
        ("web", 3, "totally unique page"),
        ("pdf", 4, "COOKIE BANNER\nbody text"),  # 1 of 2 pdf docs < min_docs
        ("pdf", 5, "other body"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {
        (r.source, r.line, r.n_docs, r.doc_frac)
        for r in boilerplate_lines(
            df, "source", "doc_id", "text", min_doc_frac=0.5, min_docs=2
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = {
        tuple(r)
        for r in con.execute(
            """
            WITH pres AS (
              SELECT DISTINCT source, doc_id, trim(unnest(string_split(text, chr(10)))) AS line
              FROM docs),
            pl AS (
              SELECT source, line, count(*) AS n_docs FROM pres
              WHERE length(line) > 0 GROUP BY 1, 2),
            tot AS (SELECT source, count(DISTINCT doc_id) AS n FROM docs GROUP BY 1)
            SELECT pl.source, pl.line, pl.n_docs,
                   round(pl.n_docs / tot.n, 6) AS doc_frac
            FROM pl JOIN tot USING (source)
            WHERE pl.n_docs >= 2 AND pl.n_docs / tot.n >= 0.5
            """
        ).fetchall()
    }
    assert got == want
    assert ("web", "COOKIE BANNER", 3, 0.75) in got
    assert not any(s == "pdf" for s, *_ in got)


def test_strip_boilerplate_preserves_order_and_content(spark):
    rows = [
        ("web", 0, "COOKIE BANNER\nreal content A\nfooter inc"),
        ("web", 1, "COOKIE BANNER\nreal content B\nfooter inc"),
        ("web", 2, "real content C\nCOOKIE BANNER\nmore C"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {
        r.doc_id: r.clean
        for r in strip_boilerplate(
            df, "source", "doc_id", "text", min_doc_frac=0.6, min_docs=2
        ).collect()
    }
    assert got[0] == "real content A"
    assert got[1] == "real content B"
    # interior boilerplate removed, surrounding order kept
    assert got[2] == "real content C\nmore C"


def test_strip_boilerplate_keeps_all_boilerplate_documents(spark):
    """A document whose every line is boilerplate stays in the output
    with empty text; no document may vanish."""
    rows = [
        ("web", 0, "COOKIE BANNER\nreal content A"),
        ("web", 1, "COOKIE BANNER\nreal content B"),
        ("web", 2, "COOKIE BANNER"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {
        r.doc_id: r.clean
        for r in strip_boilerplate(
            df, "source", "doc_id", "text", min_doc_frac=0.6, min_docs=2
        ).collect()
    }
    assert got == {0: "real content A", 1: "real content B", 2: ""}


def test_strip_boilerplate_broadcasts_detected_set(spark):
    df = spark.createDataFrame(
        [("web", 0, "a\nb"), ("web", 1, "a\nc")],
        "source string, doc_id long, text string",
    )
    plan = strip_boilerplate(
        df, "source", "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    # the anti-join against detected lines must be broadcast, never a
    # shuffled join of the corpus against the boilerplate table
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mask_pii_idempotent_property(spark):
    """Masking is idempotent: placeholders contain no maskable
    patterns, so a second pass is a no-op (property over random-ish
    fixtures covering every pattern class and their concatenations)."""
    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "a@b.io c@d.org two emails",
                "http://a.b https://c.d/e?f=1#g",
                "1.2.3.4 10.20.30.40 255.255.255.255",
                "1234567 12345678901234567890",
                "mixed a@b.co http://x.y 9.9.9.9 7654321 end",
                "",
                "   ",
                "<EMAIL> already masked <URL>",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = mask_pii(df, "text", out_col="m1")
    twice = mask_pii(once, "m1", out_col="m2")
    bad = twice.filter(F.col("m1") != F.col("m2")).count()
    assert bad == 0


def test_repetition_stats_bounded_property(spark):
    """Both fractions live in [0, 1] for arbitrary documents."""
    rows = [
        (0, "x\nx\nx\nx"),
        (1, "a " * 500),
        (2, "\n\n\n"),
        (3, "one"),
        (4, "a b\na b\nc d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_stats(df, "doc_id", "text").collect()
    assert len(out) == len(rows)
    for r in out:
        assert 0.0 <= r.dup_line_char_frac <= 1.0, r
        assert 0.0 <= r.dup_bigram_frac <= 1.0, r
