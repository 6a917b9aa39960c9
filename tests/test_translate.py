"""Two-stage translation plumbing (N3/N4 stand-in): precedence,
per-executor model cache, order preservation, miss-only model stage."""

import pytest
from pyspark.sql import functions as F

from prom_spark.functions.translate import (
    DOMAIN_DICT,
    MODEL_LEXICON,
    _load_model,
    translate_texts,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 'query' is in BOTH stages with different renderings: the
        # dictionary must win ('abfrage', not the lexicon's 'anfrage')
        (0, "query join table"),
        (1, "fast row slow unknownword"),
        (2, "table table window"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dict_beats_model_and_order_preserved(spark, docs):
    out = {
        r.doc_id: r.translated
        for r in translate_texts(docs, "text", ["doc_id"]).collect()
    }
    assert out[0] == "abfrage verbund tabelle"  # dict, model, dict — in order
    assert out[1] == "schnell zeile langsam unknownword"  # pass-through miss
    assert out[2] == "tabelle tabelle fenster"  # duplicates keep positions


def test_model_cache_is_per_process_singleton():
    a = _load_model("standin-en-de")
    b = _load_model("standin-en-de")
    assert a is b  # loaded once, cached — the MarianMT preload analogue
    assert a["join"] == "verbund"


def test_overlap_key_really_overlaps():
    # the precedence test above is vacuous unless the two stages
    # genuinely disagree on some token
    overlap = set(DOMAIN_DICT) & set(MODEL_LEXICON)
    assert overlap and any(DOMAIN_DICT[k] != MODEL_LEXICON[k] for k in overlap)


def test_model_stage_sees_only_dict_misses(spark, docs):
    # the Arrow stage must sit under the dict-miss filter, not over the
    # full token stream: check the analyzed plan places ArrowEvalPython
    # on the null-dict branch only (one arrow node, one filter above it)
    df = translate_texts(docs, "text", ["doc_id"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("pythonUDF") > 0 or "ArrowEvalPython" in str(
        df._jdf.queryExecution().executedPlan().toString()
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ArrowEvalPython") == 1
    # the union has exactly two children: dict-hit projection and the
    # filtered miss branch feeding the single Arrow stage
    assert "Union" in executed


def test_real_kernel_switch_fails_loudly_without_runtime():
    """The PROM_SPARK_MT_MODEL config switch must either load a real
    model or fail loudly — never fall back silently to the stand-in."""
    import pytest

    try:
        import transformers  # noqa: F401

        pytest.skip("transformers available: real path would load")
    except ImportError:
        pass
    from prom_spark.functions.translate import _load_model

    with pytest.raises(NotImplementedError, match="PROM_SPARK_MT_MODEL"):
        _load_model("Helsinki-NLP/opus-mt-en-de")


def test_model_switch_set_on_driver_reaches_the_model_stage(spark, docs, monkeypatch):
    """PROM_SPARK_MT_MODEL set on the driver after the session started
    must decide what the executors' model stage runs: without the MT
    runtime the Spark job fails loudly instead of silently translating
    with the stand-in."""
    try:
        import transformers  # noqa: F401

        pytest.skip("transformers available: real path would load")
    except ImportError:
        pass
    monkeypatch.setenv("PROM_SPARK_MT_MODEL", "Helsinki-NLP/opus-mt-en-de")
    out = translate_texts(docs, "text", ["doc_id"])
    with pytest.raises(Exception, match="NotImplementedError: PROM_SPARK_MT_MODEL"):
        out.collect()
