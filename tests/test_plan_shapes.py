"""Static physical-plan shape gates.

tools/explain_audit.py asserts the engine's load-bearing plan
properties when run by hand; these tests pin the most important one in
the suite so a refactor cannot silently re-introduce the costs the
round-3 plan work removed: the fused triple-extraction stage must plan
exactly ONE exchange (the bucketed-layout repartition doubles as the
cross-turn `follows` window's distribution) and NO join back to the
transcripts. At 10^12 turns a second exchange of the largest
intermediate is the single biggest avoidable cost in the pipeline.
"""

import io
from contextlib import redirect_stdout

import pytest


def _formatted_plan(spark, df) -> str:
    # AQE wraps pre-execution plans in AdaptiveSparkPlan and hides node
    # detail until runtime; disable it around the explain only
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def _op_tree(plan: str) -> str:
    # the formatted details section repeats every operator name; shape
    # predicates must look only at the operator tree
    return plan.split("\n\n")[0]


@pytest.fixture()
def linked_shape(spark):
    return spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, "
        "ents array<struct<ts:int,te:int,entity_id:string>>, "
        "preds array<struct<p:int,tok:string>>",
    )


def test_fused_triples_plan_single_exchange(spark, linked_shape):
    """Layout exchange == window distribution: one Exchange, no Join,
    Window present (the `follows` lag). Covers both the sub-split and
    plain layouts — keep_sub must satisfy the window either way."""
    from prom_spark.pipeline.kg import _bucket_layout, extract_triples

    for n_rows, min_rows in ((None, None), (10_000_000, 1)):
        fused = extract_triples(
            _bucket_layout(
                linked_shape, 32, keep_sub=True,
                n_rows=n_rows, min_bucket_rows=min_rows,
            ),
        )
        tree = _op_tree(_formatted_plan(spark, fused))
        assert tree.count("Exchange") == 1, tree
        assert "Join" not in tree, tree
        assert "Window" in tree, tree


def test_link_selection_plan_is_partial_agg(spark):
    """Entity-link selection must plan as a partial aggregation (single
    shuffle with map-side combine), never a window sort; the dictionary
    join must broadcast in the broadcast regime."""
    from prom_spark.pipeline.kg import link_mentions, term_dictionary
    from prom_spark.pipeline.mentions import detect_mentions

    tr = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string"
    )
    linked = link_mentions(
        detect_mentions(tr), term_dictionary(spark, ["alpha", "beta"])
    )
    tree = _op_tree(_formatted_plan(spark, linked))
    assert "Window" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_build_kg_triple_stage_single_shuffle(spark):
    """The whole linking+extraction stage — scored candidates (broadcast
    joins), per-turn aggregation, `follows` window, triple explode —
    must plan over exactly ONE shuffle exchange: the bucket-layout
    repartition that `build_kg` threads through the grouping keys, the
    window partition keys and the bucketed write (round-4 fusion: the
    per-turn linked intermediate is never materialized)."""
    from pyspark.sql import functions as F

    from prom_spark.pipeline.kg import (
        _per_turn_select,
        _score_candidates,
        extract_triples,
    )

    candidates = spark.createDataFrame(
        [], "conv_id string, turn_idx int, gram string, start int, "
        "end int, kind string"
    )
    dict_slim = spark.createDataFrame(
        [], "alias string, entity_id string, embedding array<double>"
    )
    fuzzy = spark.createDataFrame(
        [], "gram string, entity_id string, rating double"
    )
    emap = spark.createDataFrame([], "entity_id string, canonical_id string")

    scored = _score_candidates(
        candidates.filter(F.col("kind") == "m").drop("kind"),
        dict_slim, fuzzy, use_salting=False, fuzzy_rows=0,
    )
    for n_rows, min_rows in ((None, None), (10_000_000, 1)):
        lp = _per_turn_select(
            scored,
            entity_map=emap,
            preds=candidates.filter(F.col("kind") == "p"),
            layout=dict(n_buckets=32, n_rows=n_rows, min_bucket_rows=min_rows),
        )
        fused = extract_triples(lp).drop("_sub")
        tree = _op_tree(_formatted_plan(spark, fused))
        n_shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
        assert n_shuffles == 1, tree
        assert "SortMergeJoin" not in tree, tree
        assert "Window" in tree, tree


def test_stream_micro_batch_plan(spark):
    """One stream micro-batch runs batch's per-turn plan: the fuzzy
    distinct, the per-turn grouping (links and predicates in one
    shuffle) and the `follows` window. No flat span selection, no
    per-turn regrouping of selected links and no join of them back to
    a predicate re-scan of the turn text."""
    from prom_spark.streaming.pipeline import micro_batch_triples

    batch = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string"
    )
    dictionary = spark.createDataFrame(
        [], "alias string, entity_id string, embedding array<double>"
    )
    emap = spark.createDataFrame([], "entity_id string, canonical_id string")
    tree = _op_tree(_formatted_plan(
        spark, micro_batch_triples(batch, dictionary, emap)
    ))
    n_shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert n_shuffles <= 4, tree
    assert tree.count("SortMergeJoin") <= 1, tree


def test_stratified_sample_stream_never_shuffled(spark):
    """The sampling filter must reach the stream through a BROADCAST
    join of the tiny stratum-count table — if the stream side ever
    plans a shuffle Exchange, the operator has regressed to moving the
    corpus to sample it."""
    from prom_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(100)], "id long, grp string"
    )
    plan = _op_tree(_formatted_plan(spark, stratified_sample(df, ["grp"], "id", cap=5)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly ONE shuffle exchange — the tiny count aggregation's; a
    # second one would mean the stream itself is being moved
    import re

    shuffles = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln) and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1, plan


def test_bloom_probe_is_broadcast(spark):
    """The bit table must broadcast onto the probe stream."""
    from prom_spark.operators.sketch import bloom_bits, bloom_passing_keys

    members = spark.createDataFrame([(i,) for i in range(50)], "k long")
    probes = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = bloom_passing_keys(bloom_bits(members, "k"), probes, "k")
    plan = _op_tree(_formatted_plan(spark, out))
    assert "BroadcastHashJoin" in plan


def test_simhash_single_explode_single_exchange(spark):
    """The 64-bit SimHash signature plan must stay at ONE Generate (the
    token explode) and ONE Exchange (the per-doc aggregation with
    map-side parity sums). The per-bit row-explosion formulation —
    Generate over sequence(1, 64) multiplying the token stream 64× —
    was a measured 2× regression on q29 and must not come back."""
    from prom_spark.operators.dedup import simhash

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    )
    plan = (
        simhash(d, "doc_id", "text", 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "sequence(1" not in plan
