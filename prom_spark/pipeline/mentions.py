"""Stage 1: batched mention detection over transcript text.

north_star: "batched mention detection and candidate entity generation
via vectorized pandas/Arrow UDFs". The stage tokenizes each turn and
emits candidate grams (unigrams + bigrams) with token positions — the
re-expression of the reference's per-label spaCy analysis
(reference src/compare_by_labels.py:58-123) for transcript turns.

Two interchangeable implementations (tested for identical output):

  native  pure JVM column expressions (split / transform / sequence),
          fully inside whole-stage codegen — the default. Tokenization
          this simple never needs to leave the JVM; per the engine's
          design rules the Python path is reserved for logic Spark
          cannot express.
  arrow   vectorized pandas UDF — the slot a real NER model plugs into
          (per-executor lazy init, Arrow batches, no per-row Python).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN = re.compile(r"[a-z0-9#\-]+")

STOP_GRAMS = ("the", "a", "an", "in", "this", "of")

_GRAM_STRUCT = "struct<gram:string,start:int,end:int>"

_GRAMS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("gram", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


def tokens(text_col) -> Column:
    """Lowercase token array, identical to ``_TOKEN.findall(text.lower())``.

    Implemented as ``regexp_extract_all`` of the TOKEN pattern — the
    direct findall — rather than ``split`` on its complement: Java's
    split over the negated character class measured ~10x slower on
    transcript text (14.9s vs 1.7s per 300k turns at 8 cores), and the
    extract form needs no empty-string filter HOF afterwards.
    """
    return F.regexp_extract_all(F.lower(text_col), F.lit(_TOKEN.pattern), 0)


@F.pandas_udf(_GRAMS_TYPE)
def _candidate_grams(texts: pd.Series) -> pd.Series:
    out = []
    for text in texts:
        toks = _TOKEN.findall((text or "").lower())
        grams = [(t, i, i) for i, t in enumerate(toks)]
        grams += [
            (f"{toks[i]} {toks[i+1]}", i, i + 1) for i in range(len(toks) - 1)
        ]
        out.append(grams)
    return pd.Series(out)


def with_tokens(transcripts: DataFrame) -> DataFrame:
    """``transcripts`` with its ``_toks`` token-array column — reused
    when the caller already threads one through, derived otherwise."""
    if "_toks" in transcripts.columns:
        return transcripts
    return transcripts.withColumn("_toks", tokens(F.col("text")))


def _bigram_array(
    make,
    empty_type: str,
    bigram_first_tokens: list[str] | None = None,
    keep=None,
) -> Column:
    """Per-turn bigram array over a ``_toks`` column, JVM-only: the one
    expression every gram scanner shares. ``make(gram, i)`` builds the
    element for the bigram starting at token ``i``; ``keep`` optionally
    filters the elements; turns under two tokens give an empty
    ``empty_type`` array.

    ``bigram_first_tokens`` prunes candidate bigrams at the source: a
    bigram is emitted only when its first token can start a multiword
    dictionary alias. Multiword aliases are a small fraction of any real
    entity dictionary, so unpruned bigram generation would DOUBLE the
    mention stream — rows whose only fate is to miss the dictionary join
    — and at corpus scale that doubling is pure shuffle/write bandwidth.
    (For dictionaries whose first-token set is itself huge, swap the
    literal array for a Bloom filter — the expression shape is the same.)
    """
    positions = F.sequence(F.lit(0), F.size("_toks") - 2)
    if bigram_first_tokens is not None:
        first_set = F.array(*[F.lit(t) for t in sorted(set(bigram_first_tokens))])
        positions = F.filter(
            positions,
            lambda i: F.array_contains(
                first_set, F.element_at(F.col("_toks"), i + 1)
            ),
        )
    arr = F.transform(
        positions,
        lambda i: make(
            F.concat_ws(
                " ",
                F.element_at(F.col("_toks"), i + 1),
                F.element_at(F.col("_toks"), i + 2),
            ),
            i,
        ),
    )
    if keep is not None:
        arr = F.filter(arr, keep)
    return F.when(F.size("_toks") >= 2, arr).otherwise(
        F.array().cast(empty_type)
    )


def _gram_struct(gram, start, end) -> Column:
    return F.struct(
        gram.alias("gram"),
        start.cast("int").alias("start"),
        end.cast("int").alias("end"),
    )


def detect_mentions(
    transcripts: DataFrame,
    impl: str = "native",
    keep_cols: tuple[str, ...] = (),
    bigram_first_tokens: list[str] | None = None,
) -> DataFrame:
    """Explode each turn into candidate mention grams.

    Output: (conv_id, turn_idx, gram, start, end[, *keep_cols]).
    Stopword grams are filtered before the explode output ever shuffles;
    the dictionary join downstream prunes the rest. Narrow (no shuffle):
    scan -> project -> explode. ``keep_cols`` threads extra turn columns
    (e.g. ``ts`` on a stream) through the explode — callers must never
    re-join the output to its own input to recover them (on a stream
    that would be a stateful stream-stream join).
    """
    if impl == "arrow":
        grams = _candidate_grams(F.col("text"))
    else:
        # native: ONE pass over the token array — tokenization (the regex
        # split) is the dominant per-turn cost, so a two-branch
        # unigram/bigram union that re-tokenizes the text measures ~3x
        # slower end-to-end despite its prettier unigram plan. A
        # transcript frame that already carries a ``_toks`` column skips
        # the regex entirely — callers that tokenize once and fan out
        # several scans can thread the array through. (kg.build_kg
        # deliberately does NOT store ``_toks`` at ingest: the +50%
        # stage-table write cost exceeded what the downstream scans save
        # — see the measured trade documented at the ingest stage in
        # kg.build_kg.)
        transcripts = with_tokens(transcripts)
        grams = F.concat(
            F.transform("_toks", lambda x, i: _gram_struct(x, i, i)),
            _bigram_array(
                lambda gram, i: _gram_struct(gram, i, i + 1),
                f"array<{_GRAM_STRUCT}>",
                bigram_first_tokens,
            ),
        )
    g = transcripts.select(
        "conv_id",
        "turn_idx",
        *keep_cols,
        F.explode(grams).alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        *keep_cols,
        F.col("m.gram").alias("gram"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
    )
    return g.filter(~F.col("gram").isin(*STOP_GRAMS))


_KGRAM_STRUCT = "struct<gram:string,start:int,end:int,kind:string>"


def detect_matching_mentions(
    transcripts: DataFrame,
    match_keys: list[str],
    predicates: list[str] | None = None,
) -> DataFrame:
    """Mention occurrences whose gram is in ``match_keys`` — the fused
    form of ``detect_mentions(...).join(match_keys, how="left_semi")``
    for key sets small enough to inline (kg.build_kg gates on
    ``cfg.inline_keyset_limit``).

    The membership test runs INSIDE the per-turn arrays (an InSet hash
    probe per gram), so only matching grams are ever materialized as
    rows: the full mention stream is ~tokens-per-corpus wide (~50x the
    turn count) while true mentions are a few percent of it, and pushing
    the non-matches through explode + join purely to drop them measured
    2.5x slower than this form at identical output. Bigrams are
    constructed for every adjacent position and InSet-probed (hash,
    O(1)) before the explode — a first-token ``array_contains``
    prefilter was measured SLOWER (linear scan per position inside an
    interpreted HOF beats no hash probe it saves).

    Output and semantics are identical to the explode+semi-join plan
    (same columns, same rows — equivalence-tested): stop grams are
    excluded from the key set here exactly as ``detect_mentions``
    filters them from the stream.

    ``predicates``: when given, predicate-token occurrences ride the
    SAME scan as extra rows and the output gains a ``kind`` column
    ('m' mention / 'p' predicate). Predicate probing is a direct
    ``isin(*predicates)`` over the token array — it does NOT apply the
    stop-gram filter, and a token that is both an alias and a predicate
    emits both rows. Fusing the predicate
    scan here is what lets the triple-extraction stage run with no
    second pass over the corpus text (see kg.extract_triples).
    """
    keys = sorted(set(match_keys) - set(STOP_GRAMS))
    uni_keys = [k for k in keys if " " not in k]
    bi_keys = [k for k in keys if " " in k]
    kinds = predicates is not None
    struct_t = _KGRAM_STRUCT if kinds else _GRAM_STRUCT
    _EMPTY = f"array<{struct_t}>"

    def _struct(gram, start, end, kind):
        fields = [gram.alias("gram"), start.alias("start"), end.alias("end")]
        if kinds:
            fields.append(F.lit(kind).alias("kind"))
        return F.struct(*fields)

    parts = []
    if uni_keys:
        parts.append(
            F.filter(
                F.transform(
                    "_toks",
                    lambda x, i: _struct(x, i.cast("int"), i.cast("int"), "m"),
                ),
                lambda s: s["gram"].isin(*uni_keys),
            )
        )
    if bi_keys:
        parts.append(
            _bigram_array(
                lambda gram, i: _struct(
                    gram, i.cast("int"), (i + 1).cast("int"), "m"
                ),
                _EMPTY,
                keep=lambda s: s["gram"].isin(*bi_keys),
            )
        )
    if predicates:
        parts.append(
            F.filter(
                F.transform(
                    "_toks",
                    lambda x, i: _struct(x, i.cast("int"), i.cast("int"), "p"),
                ),
                lambda s: s["gram"].isin(*sorted(set(predicates))),
            )
        )
    if not parts:
        parts = [F.array().cast(_EMPTY)]
    out_cols = ["gram", "start", "end"] + (["kind"] if kinds else [])
    return with_tokens(transcripts).select(
        "conv_id",
        "turn_idx",
        F.explode(F.concat(*parts) if len(parts) > 1 else parts[0]).alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        *[F.col(f"m.{c}").alias(c) for c in out_cols],
    )


def distinct_grams(
    transcripts: DataFrame, bigram_first_tokens: list[str] | None = None
) -> DataFrame:
    """Distinct candidate grams of the corpus — exactly
    ``detect_mentions(...).select("gram").distinct()`` but strings-only:
    no position structs are ever built, and ``array_distinct`` inside
    each turn removes per-turn repeats BEFORE the explode (Zipf text
    repeats tokens within a turn), so the partial-aggregate hash table
    sees materially fewer rows. This is the fuzzy-scoring input
    (vocabulary-bounded, corpus-independent output)."""
    big = _bigram_array(
        lambda gram, i: gram, "array<string>", bigram_first_tokens
    )
    g = with_tokens(transcripts).select(
        F.explode(F.array_distinct(F.concat(F.col("_toks"), big))).alias("gram")
    )
    return g.filter(~F.col("gram").isin(*STOP_GRAMS)).distinct()
