"""Corpus-cleaning operators: PII masking, repetition stats, boilerplate.

The standard web-corpus hygiene passes an LLM training-data pipeline
runs before dedup/quality filtering (the C4/Gopher/RefinedWeb recipe
family, re-expressed as Catalyst plans):

- ``mask_pii`` — emails / URLs / IPv4s / long digit runs replaced by
  typed placeholder tokens. A chain of ``regexp_replace`` expressions:
  pure whole-stage-codegen, zero Python, zero shuffles — at 100 TB this
  is a map-only pass that rides whatever scan already runs.
- ``repetition_stats`` — per-document repetition signals (fraction of
  characters inside duplicate lines, fraction of duplicate word
  bigrams): the Gopher-style degenerate-text detectors. One explode +
  one per-document aggregation, map-side combinable, keyed by the
  document id — no corpus-wide state at all.
- ``boilerplate_lines`` / ``strip_boilerplate`` — lines repeated across
  a large share of one source's documents (nav bars, cookie banners,
  footers). Detection is a (source, line) count against per-source doc
  counts; removal re-joins the detected set. The detected table is
  vocabulary-bounded (distinct frequent lines), so the removal join
  broadcasts; the detection shuffle is on (source, line_hash) — hashed
  so a hot identical line is ONE key with a combinable count, never a
  widening row explosion.

No reference analogue (the reference corpus is curated ontology text);
training-data-pipeline extras per the build brief. Oracle-grade gates
live in tests/test_scrub.py (hand-computed fixtures + a DuckDB twin for
the boilerplate counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "boilerplate_lines",
    "mask_pii",
    "repetition_stats",
    "strip_boilerplate",
]

# deliberately simple regexes that parse identically under Java
# (Spark), RE2, and DuckDB dialects: no backrefs, no lookaround
_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_URL = r"https?://[^\s]+"
_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_LONG_DIGITS = r"\b\d{7,}\b"  # phone-ish / account-ish runs


def mask_pii(
    df: DataFrame,
    text_col: str,
    out_col: str = "masked",
) -> DataFrame:
    """Replace emails, URLs, IPv4 addresses and 7+-digit runs with
    typed placeholders (``<EMAIL>`` etc.). Order matters: URLs first so
    an address inside a URL is consumed by ``<URL>``, then emails, then
    IPs, then bare digit runs. Adds ``out_col``; the input column is
    kept (drop it at the call site when lineage is not wanted)."""
    c: Column = F.col(text_col)
    c = F.regexp_replace(c, _URL, "<URL>")
    c = F.regexp_replace(c, _EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, _IPV4, "<IP>")
    c = F.regexp_replace(c, _LONG_DIGITS, "<NUM>")
    return df.withColumn(out_col, c)


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document repetition signals: ``(id_col, n_chars,
    dup_line_char_frac, dup_bigram_frac)``.

    - ``dup_line_char_frac``: fraction of the document's characters
      (raw length, newlines included) that sit in a line occurring more
      than once in the document (empty lines ignored).
    - ``dup_bigram_frac``: fraction of word-bigram occurrences that are
      repeats of an earlier-seen bigram, i.e. 1 - distinct/total (0.0
      when the document has fewer than 2 tokens).

    Both are per-document aggregations keyed by ``id_col`` — the
    shuffle is the document id, partial aggregation is map-side, and no
    state crosses documents, so the pass scales with the corpus like
    any grouped count."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.length(text_col).alias("n_chars"),
        F.explode(F.split(F.col(text_col), r"\n")).alias("_line"),
    ).filter(F.length(F.trim("_line")) > 0)
    line_stats = (
        lines.groupBy("_id", "n_chars", "_line")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_id", "n_chars")
        .agg(
            F.sum(
                F.when(F.col("_c") > 1, F.col("_c") * F.length("_line")).otherwise(0)
            ).alias("_dup_chars")
        )
        .select(
            "_id",
            "n_chars",
            F.round(F.col("_dup_chars") / F.greatest("n_chars", F.lit(1)), 6).alias(
                "dup_line_char_frac"
            ),
        )
    )
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(text_col), r"\s+", " "), " "),
        lambda t: t != "",
    )
    bigrams = df.select(
        F.col(id_col).alias("_id"),
        F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
        .otherwise(F.array())
        .alias("_bg"),
    ).select(
        "_id",
        F.size("_bg").alias("_n_bg"),
        F.size(F.array_distinct("_bg")).alias("_n_bg_distinct"),
    )
    bigram_stats = bigrams.select(
        "_id",
        F.when(F.col("_n_bg") <= 0, F.lit(0.0))
        .otherwise(
            F.round(1.0 - F.col("_n_bg_distinct") / F.col("_n_bg"), 6)
        )
        .alias("dup_bigram_frac"),
    )
    return (
        df.select(F.col(id_col).alias("_id"), F.length(text_col).alias("n_chars"))
        .join(line_stats.drop("n_chars"), on="_id", how="left")
        .join(bigram_stats, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "n_chars",
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias(
                "dup_line_char_frac"
            ),
            F.coalesce("dup_bigram_frac", F.lit(0.0)).alias("dup_bigram_frac"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    min_doc_frac: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Lines appearing in at least ``min_doc_frac`` of a group's
    documents (and at least ``min_docs`` of them): ``(group_col, line,
    n_docs, doc_frac)``.

    Presence is per-document (a line repeated inside one document
    counts once), so the count stream is (group, line, doc) DISTINCT —
    one shuffle keyed by (group, line); per-group doc totals are a tiny
    aggregate broadcast back. The survivors are by construction few and
    short (they must recur across half a source), so downstream removal
    can broadcast them."""
    if not 0.0 < min_doc_frac <= 1.0:
        raise ValueError(f"boilerplate_lines: bad min_doc_frac {min_doc_frac}")
    pres = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), r"\n")).alias("line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.length("line") > 0)
        .distinct()
    )
    per_line = pres.groupBy("_g", "line").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.countDistinct(id_col).alias("_n_total")
    )
    return (
        per_line.join(F.broadcast(totals), on="_g")
        .withColumn("doc_frac", F.round(F.col("n_docs") / F.col("_n_total"), 6))
        .filter(
            (F.col("n_docs") >= F.lit(min_docs))
            & (F.col("doc_frac") >= F.lit(min_doc_frac))
        )
        .select(F.col("_g").alias(group_col), "line", "n_docs", "doc_frac")
    )


def strip_boilerplate(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    out_col: str = "clean",
    min_doc_frac: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Remove detected boilerplate lines from every document, keeping
    line order. The detected set is broadcast (it is small by
    construction — see ``boilerplate_lines``); the re-assembly groups
    by the document id, the same key as any downstream per-document
    stage."""
    bp = boilerplate_lines(
        df, group_col, id_col, text_col,
        min_doc_frac=min_doc_frac, min_docs=min_docs,
    ).select(F.col(group_col).alias("_g"), F.col("line").alias("_bp_line"))
    lines = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("_pos", "_line"),
    )
    # boilerplate lines are marked by a broadcast left join and skipped
    # by the aggregate (collect_list drops nulls), not removed before it:
    # a document whose every line is boilerplate keeps its group and
    # comes out with empty text instead of vanishing
    marked = lines.join(
        F.broadcast(bp),
        on=(lines["_g"] == bp["_g"]) & (F.trim(lines["_line"]) == bp["_bp_line"]),
        how="left",
    )
    return (
        marked.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_bp_line").isNull(),
                                F.struct(F.col("_pos"), F.col("_line")),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias(out_col)
        )
        .select(F.col("_id").alias(id_col), out_col)
    )
