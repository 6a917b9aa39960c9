"""Two-stage label/text translation: domain dictionary, then MT model.

Re-expresses the reference's translation stages N3/N4 (MarianMT with
per-process preloaded models at ``reference src/translate_onto.py:28-32``
and ``:67-82``; the two-stage domain-dict-then-model fallback at
``src/translate_onto.py:98-112``) as a distributed plan:

  stage 1  exact domain-dictionary hits — a BROADCAST join of the
           token stream against the (small, curated) dictionary; zero
           Python, resolves the overwhelming share of in-domain terms.
  stage 2  model fallback for the misses only — an Arrow-batched
           ``pandas_udf`` whose "model" is loaded ONCE PER EXECUTOR
           PROCESS and cached (the distributed analogue of the
           reference's module-level model preload): the UDF body
           checks a process-global cache before instantiating.

KERNEL IS A DETERMINISTIC STAND-IN: no MT runtime ships in this
container, so the cached "model" is a fixed lexicon lookup (unknown
tokens pass through unchanged). The Spark-side plumbing — broadcast
stage, Arrow batching, per-executor model cache, dict-before-model
precedence, order-preserving re-assembly — is real, tested, and
oracle-gated (q55); swapping the stand-in for MarianMT changes only
``_load_model``.

At 10^12 turns: the dictionary join is broadcast (dictionaries are
curated, bounded); the model stage sees only dictionary MISSES
(typically a small fraction), batched through Arrow; re-assembly
groups by the source row key — one shuffle keyed like the token
explode, so the exchange is shared.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["DOMAIN_DICT", "MODEL_LEXICON", "translate_texts"]

# stage-1 curated domain dictionary (en -> de), deliberately small —
# the reference's Electropedia-derived dict analogue
DOMAIN_DICT = {
    "table": "tabelle",
    "row": "zeile",
    "query": "abfrage",
    "column": "spalte",
    "value": "wert",
}

# stand-in "model" lexicon (what MarianMT would produce for tokens the
# domain dict does not pin); loaded per executor through _load_model.
# 'query' deliberately overlaps DOMAIN_DICT with a DIFFERENT rendering
# so tests can prove dict-before-model precedence end-to-end.
MODEL_LEXICON = {
    "join": "verbund",
    "window": "fenster",
    "stream": "strom",
    "fast": "schnell",
    "slow": "langsam",
    "key": "schluessel",
    "query": "anfrage",
}

_MODEL_CACHE: dict[str, dict[str, str]] = {}

# config switch for the real-kernel slot: set PROM_SPARK_MT_MODEL to a
# Hugging Face MarianMT id (e.g. "Helsinki-NLP/opus-mt-en-de") to load
# the real model per executor process; unset/"standin" keeps the
# deterministic lexicon stand-in. The swap touches ONLY _load_model and
# the per-token map in _mt_translate_token — plan, Arrow batching,
# dict-precedence and re-assembly are identical either way.
MT_MODEL_ENV = "PROM_SPARK_MT_MODEL"
_STANDIN_MODEL = "standin-en-de"


def _load_model(name: str):
    """Per-executor-process model cache — the distributed analogue of
    the reference's module-level MarianMT preload. The stand-in
    'model' is the fixed lexicon; with ``PROM_SPARK_MT_MODEL`` set to a
    real model id this loads the MarianMT pipeline instead (requires
    the ``transformers`` runtime, absent in this container — the
    failure is loud, never a silent fallback)."""
    if name not in _MODEL_CACHE:
        if name == _STANDIN_MODEL:
            _MODEL_CACHE[name] = dict(MODEL_LEXICON)
        else:
            try:
                from transformers import pipeline  # type: ignore
            except ImportError as e:  # pragma: no cover - no MT runtime here
                raise NotImplementedError(
                    f"{MT_MODEL_ENV}={name!r} requests a real MT model but "
                    "the 'transformers' runtime is not installed in this "
                    "environment; unset the variable to use the "
                    "deterministic stand-in kernel"
                ) from e
            _MODEL_CACHE[name] = pipeline("translation", model=name)
    return _MODEL_CACHE[name]


def _mt_translate_token(name: str):
    """Arrow-batched stage-2 fallback for model ``name``: the
    deterministic stand-in kernel (lexicon hit else pass-through), or
    the real MarianMT pipeline (batched ``model(...)`` call). ``name``
    is resolved on the driver and captured in the UDF closure — an
    executor never reads ``PROM_SPARK_MT_MODEL`` from its own
    environment. The pandas UDF is created lazily: the decorator parses
    its return-type DDL through the active session, so a module-level
    ``@pandas_udf`` would make `import translate` require Spark."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    def translate_tokens(tokens: pd.Series) -> pd.Series:
        model = _load_model(name)
        if isinstance(model, dict):
            return tokens.map(lambda t: model.get(t, t))
        out = model(tokens.tolist())  # pragma: no cover - needs MT runtime
        return pd.Series([o["translation_text"] for o in out], index=tokens.index)

    return pandas_udf(translate_tokens, StringType())


def translate_texts(
    df: DataFrame,
    text_col: str,
    key_cols: list[str],
    out_col: str = "translated",
) -> DataFrame:
    """Translate whitespace-tokenized ``text_col``: domain-dict
    broadcast join first, Arrow-batched model fallback for the misses,
    order-preserving re-assembly per ``key_cols`` row. Returns
    ``key_cols + [out_col]``. The model switch (``PROM_SPARK_MT_MODEL``)
    is read here, on the driver, when the plan is built."""
    keys = [F.col(c) for c in key_cols]
    toks = df.select(
        *keys,
        F.posexplode(F.split(F.trim(F.lower(text_col)), r"\s+")).alias(
            "_pos", "_tok"
        ),
    )
    dict_df = F.broadcast(
        toks.sparkSession.createDataFrame(
            list(DOMAIN_DICT.items()), "_tok string, _dict_tr string"
        )
    )
    # pin the token explode + broadcast dictionary join: the hit/miss
    # split consumes this subtree twice, and column pruning specializes
    # each consumer so Spark would otherwise plan AND execute the
    # explode twice (the q26/q27/q31 lazy-localCheckpoint pattern).
    # Trade at 10^12 turns: one materialization of the exploded token
    # stream to executor storage vs two full corpus scans + explodes —
    # the materialized stream feeds both branches of the single
    # re-assembly shuffle, so the exchange downstream is still one.
    joined = toks.join(dict_df, on="_tok", how="left").localCheckpoint(
        eager=False
    )
    # split, don't coalesce: a pandas UDF inside coalesce would still
    # be evaluated for every row (ArrowEvalPython hoists it) — routing
    # only the dictionary MISSES through the model stage is the point
    hits = joined.filter(F.col("_dict_tr").isNotNull()).withColumn(
        "_tr", F.col("_dict_tr")
    )
    model = os.environ.get(MT_MODEL_ENV, _STANDIN_MODEL)
    misses = joined.filter(F.col("_dict_tr").isNull()).withColumn(
        "_tr", _mt_translate_token(model)(F.col("_tok"))
    )
    staged = hits.unionByName(misses)
    return (
        staged.groupBy(*key_cols)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_pos"), F.col("_tr")))
                    ),
                    lambda s: s["_tr"],
                ),
                " ",
            ).alias(out_col)
        )
    )
