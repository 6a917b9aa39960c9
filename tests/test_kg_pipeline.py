"""End-to-end KG-construction pipeline tests (north_rule contract):
extraction quality, per-turn text invariant, resume-from-checkpoint,
determinism, lineage metrics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from prom_spark.datagen import PREDICATES, entity_dictionary, synth_transcripts
from prom_spark.pipeline.kg import build_kg


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("kg"))
    tr = synth_transcripts(spark, n_convs=60, turns_per_conv=6).cache()
    d = entity_dictionary(spark, 48).cache()
    res = build_kg(spark, tr, d, base, resume=False)
    return tr, d, res, base


def _ground_truth(tr, d, entity_map):
    pat = r"the (.+) (uses|feeds|precedes|controls) the (.+) in this step"
    gt = tr.select(
        "conv_id", "turn_idx",
        F.regexp_extract("text", pat, 1).alias("s_alias"),
        F.regexp_extract("text", pat, 2).alias("pred"),
        F.regexp_extract("text", pat, 3).alias("o_alias"),
    )
    dm = d.select("alias", "entity_id")
    return (
        gt.join(dm.withColumnRenamed("alias", "s_alias").withColumnRenamed("entity_id", "s_eid"), "s_alias")
        .join(dm.withColumnRenamed("alias", "o_alias").withColumnRenamed("entity_id", "o_eid"), "o_alias")
        .join(entity_map.withColumnRenamed("entity_id", "s_eid").withColumnRenamed("canonical_id", "subj"), "s_eid")
        .join(entity_map.withColumnRenamed("entity_id", "o_eid").withColumnRenamed("canonical_id", "obj"), "o_eid")
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )


def test_triple_quality(spark, kg):
    tr, d, res, _ = kg
    got = (
        res.triples.filter(~F.col("pred").isin("follows", "co_occurs"))
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )
    want = _ground_truth(tr, d, res.entity_canonical)
    inter = got.join(want, on=["conv_id", "turn_idx", "subj", "pred", "obj"]).count()
    p = inter / got.count()
    r = inter / want.count()
    assert p >= 0.95, (p, r)
    assert r >= 0.95, (p, r)


def test_per_turn_text_invariant(spark, kg):
    """input_hint invariant: the ingest checkpoint must preserve per-turn
    text exactly under stable (conv_id, turn_idx) keys."""
    tr, _, res, _ = kg
    ingest = res.store.read("ingest")
    diff = (
        tr.select("conv_id", "turn_idx", "text")
        .exceptAll(ingest.select("conv_id", "turn_idx", "text"))
        .count()
    )
    assert diff == 0
    # stable dense ordering: per conv, turn_idx covers 0..n-1
    agg = ingest.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.max("turn_idx").alias("mx"), F.countDistinct("turn_idx").alias("d")
    )
    assert agg.filter((F.col("mx") != F.col("n") - 1) | (F.col("d") != F.col("n"))).count() == 0


@pytest.fixture()
def stage_writes(monkeypatch):
    """Names of the stages StageStore.write materializes while the test
    runs — a resume proves it loaded a checkpoint by NOT writing it."""
    from prom_spark.sinks import StageStore

    written = []
    write = StageStore.write

    def spy(self, stage, *args, **kwargs):
        written.append(stage)
        return write(self, stage, *args, **kwargs)

    monkeypatch.setattr(StageStore, "write", spy)
    return written


def test_resume_reuses_checkpoints_and_is_identical(spark, kg, stage_writes):
    tr, d, res, base = kg
    # resume run on the same inputs must not recompute any stage
    res2 = build_kg(spark, tr, d, base, resume=True)
    assert stage_writes == []
    t1 = {tuple(r) for r in res.triples.collect()}
    t2 = {tuple(r) for r in res2.triples.collect()}
    assert t1 == t2 and len(t1) > 0


def test_resume_after_midrun_kill(spark, kg, tmp_path, stage_writes):
    """SURVEY §5 resumability: kill after stage k, resume, identical
    output. Simulates two kill points against a COPY of the checkpoint
    store: (a) killed between stages — the downstream stage dirs are
    gone entirely; (b) killed mid-write — a stage left partial data but
    no metrics.json (written only after the data write completes, so
    its absence marks the stage incomplete). Both resumes rewrite only
    the lost stage, proving recovery starts from the surviving
    checkpoints, never the raw input."""
    import shutil

    tr, d, res, base = kg
    t1 = {tuple(r) for r in res.triples.collect()}

    # (a) killed between candidates and triple extraction
    base_a = str(tmp_path / "kill_between")
    shutil.copytree(base, base_a)
    for stage in ("triples_raw", "triples"):
        shutil.rmtree(os.path.join(base_a, stage))
    res_a = build_kg(spark, tr, d, base_a, resume=True)
    assert stage_writes == ["triples_raw"]
    assert {tuple(r) for r in res_a.triples.collect()} == t1

    # (b) killed mid-write: partial data present, metrics.json missing
    base_b = str(tmp_path / "kill_mid_write")
    shutil.copytree(base, base_b)
    os.remove(os.path.join(base_b, "triples_raw", "metrics.json"))
    data_dir = os.path.join(base_b, "triples_raw", "data")
    victim = sorted(
        f for f in os.listdir(data_dir) if not f.startswith("_")
    )[0]
    victim_path = os.path.join(data_dir, victim)
    (shutil.rmtree if os.path.isdir(victim_path) else os.remove)(victim_path)
    stage_writes.clear()
    res_b = build_kg(spark, tr, d, base_b, resume=True)
    assert stage_writes == ["triples_raw"]
    assert {tuple(r) for r in res_b.triples.collect()} == t1


def test_determinism_fresh_dir(spark, kg, tmp_path):
    tr, d, res, _ = kg
    res2 = build_kg(spark, tr, d, str(tmp_path / "kg2"), resume=False)
    t1 = {tuple(r) for r in res.triples.collect()}
    t2 = {tuple(r) for r in res2.triples.collect()}
    assert t1 == t2


def test_metrics_lineage(spark, kg):
    _, _, res, base = kg
    for stage in ["ingest", "grams", "fuzzy_scores", "candidates", "triples_raw", "entity_map", "triples"]:
        assert res.store.exists(stage), stage
        m = res.store.metrics(stage)
        assert m["rows"] > 0
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        if not m.get("alias_of"):
            # the write's read-back schema is the one a resume infers
            inferred = spark.read.parquet(os.path.join(base, stage, "data"))
            assert json.loads(m["schema_json"]) == inferred.schema.jsonValue()
    assert "triples_raw" in res.store.metrics("triples")["inputs"]


def test_canonicalization_merges_duplicates(spark, kg):
    _, d, res, _ = kg
    merged = res.entity_canonical.filter("entity_id != canonical_id").count()
    assert merged > 0  # datagen plants duplicate entities every 8th id
    # canonical ids must be cluster minima present in the dictionary
    ids = {r.entity_id for r in d.select("entity_id").distinct().collect()}
    for r in res.entity_canonical.collect():
        assert r.canonical_id in ids
        assert r.canonical_id <= r.entity_id


def test_mentions_native_equals_arrow(spark):
    """The JVM-native mention detector and the Arrow-UDF variant are
    interchangeable: identical (conv_id, turn_idx, gram, start, end)."""
    from prom_spark.pipeline.mentions import detect_mentions

    tr = synth_transcripts(spark, n_convs=25, turns_per_conv=4)
    tr = tr.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(F.col("text")),
    )
    native = {tuple(r) for r in detect_mentions(tr, impl="native").collect()}
    arrow = {tuple(r) for r in detect_mentions(tr, impl="arrow").collect()}
    assert native == arrow and len(native) > 0


def test_detect_matching_mentions_equals_semi_join(spark):
    """The in-array membership plan (detect_matching_mentions) must emit
    exactly the rows of detect_mentions + left-semi join on the same key
    set — including multiword keys, stop-gram keys (always dropped: the
    stream path filters them before the join), and absent keys."""
    from prom_spark.pipeline.mentions import (
        STOP_GRAMS,
        detect_matching_mentions,
        detect_mentions,
    )

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    tr = tr.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(F.col("text")),
    )
    # real aliases from the corpus vocabulary + a bigram that occurs +
    # a stop gram + keys that match nothing
    some = [
        r.gram
        for r in detect_mentions(tr).groupBy("gram").count()
        .orderBy(F.desc("count")).limit(12).collect()
    ]
    bigram = next((g for g in some if " " in g), None)
    keys = some + [STOP_GRAMS[0], "zz-never-present", "zz never present"]
    if bigram is None:
        first = some[0]
        bigram_df = detect_mentions(tr).filter(F.col("gram").contains(" "))
        bg = bigram_df.limit(1).collect()
        if bg:
            keys.append(bg[0].gram)
    semi = detect_mentions(tr).join(
        spark.createDataFrame([(k,) for k in keys], ["gram"]),
        on="gram",
        how="left_semi",
    )
    cols = ["conv_id", "turn_idx", "gram", "start", "end"]
    a = {tuple(r) for r in semi.select(*cols).collect()}
    b = {tuple(r) for r in detect_matching_mentions(tr, keys).select(*cols).collect()}
    assert a == b and len(a) > 0
    # empty keyset / no-bigram-keys edges
    assert detect_matching_mentions(tr, ["zz-never-present"]).count() == 0
    assert detect_matching_mentions(tr, []).count() == 0


def test_inline_keyset_gate_matches_semi_join_pipeline(spark, tmp_path):
    """build_kg with the inline keyset plan disabled (limit 0) must emit
    the identical triple set — the three candidate plans are
    interchangeable by construction."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import build_kg

    tr = synth_transcripts(spark, n_convs=25, turns_per_conv=4, n_entities=24)
    d = entity_dictionary(spark, 24)
    res_inline = build_kg(spark, tr, d, str(tmp_path / "a"), resume=False)
    no_inline = dataclasses.replace(DEFAULT_CONFIG, inline_keyset_limit=0)
    res_semi = build_kg(spark, tr, d, str(tmp_path / "b"), resume=False, cfg=no_inline)
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    a = {tuple(r) for r in res_inline.triples.select(*cols).collect()}
    b = {tuple(r) for r in res_semi.triples.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_distinct_grams_equals_mention_stream_distinct(spark):
    """distinct_grams (strings-only, per-turn pre-dedup) must equal
    detect_mentions(...).select('gram').distinct() exactly — same
    stop-gram filter, same first-token bigram blocking, empty turns."""
    from prom_spark.pipeline.mentions import detect_mentions, distinct_grams

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    tr = tr.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(F.col("text")),
    )
    for ft in (None, ["the", "conveyor", "zz-nope"]):
        a = {
            r.gram
            for r in detect_mentions(tr, bigram_first_tokens=ft)
            .select("gram").distinct().collect()
        }
        b = {r.gram for r in distinct_grams(tr, bigram_first_tokens=ft).collect()}
        assert a == b and len(a) > 0, (ft, len(a), len(b))


def test_detect_matching_mentions_predicates(spark):
    """predicates= fuses predicate-occurrence detection into the same
    scan: kind='m' rows equal the predicate-less output, kind='p' rows
    equal a direct isin() probe of the token arrays (NO stop-gram filter
    — extract_triples semantics), and a gram that is both alias and
    predicate emits both rows."""
    from prom_spark.pipeline.mentions import (
        STOP_GRAMS,
        detect_matching_mentions,
        tokens,
    )

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    keys = [
        r.gram
        for r in detect_matching_mentions(tr, ["conveyor", "robot", "sensor"])
        .select("gram").distinct().collect()
    ] or ["conveyor"]
    # 'uses' occurs in every synth turn; STOP_GRAMS[0] ('the') does too
    preds = ["uses", STOP_GRAMS[0], keys[0]]
    out = detect_matching_mentions(tr, keys, predicates=preds)
    cols = ["conv_id", "turn_idx", "gram", "start", "end"]
    m = {tuple(r) for r in out.filter("kind = 'm'").select(*cols).collect()}
    base = {
        tuple(r)
        for r in detect_matching_mentions(tr, keys).select(*cols).collect()
    }
    assert m == base and len(m) > 0
    p = {tuple(r) for r in out.filter("kind = 'p'").select(*cols).collect()}
    direct = {
        tuple(r)
        for r in tr.withColumn("_toks", tokens(F.col("text")))
        .select(
            "conv_id",
            "turn_idx",
            F.posexplode("_toks").alias("pos", "tok"),
        )
        .filter(F.col("tok").isin(*preds))
        .select("conv_id", "turn_idx", "tok", "pos", "pos")
        .collect()
    }
    assert p == direct and len(p) > 0
    # the stop-gram predicate must be present (no stop filter on 'p')
    assert any(g == STOP_GRAMS[0] for (_, _, g, _, _) in p)
    # alias-and-predicate gram: both kinds at the same position
    both = out.filter(F.col("gram") == keys[0])
    kinds = {r.kind for r in both.select("kind").distinct().collect()}
    assert kinds == {"m", "p"}
    # predicate-only scan (the explode plans' union input): same 'p' rows
    alt = detect_matching_mentions(tr, [], predicates=preds)
    assert {r.kind for r in alt.select("kind").distinct().collect()} == {"p"}
    assert {tuple(r) for r in alt.select(*cols).collect()} == p


def test_fused_triples_equal_unfused_extraction(spark, kg):
    """build_kg's single-exchange triples stage (candidate and fuzzy
    checkpoints, inline-keyset candidate scan, window keyed on the
    layout columns) must emit exactly the triples of the stream's
    micro-batch plan — ``_scored_mentions`` -> ``_per_turn_select`` ->
    ``extract_triples`` — over the same first-token-blocked mentions."""
    from prom_spark.pipeline.kg import (
        _per_turn_select,
        _scored_mentions,
        canonicalize_entities,
        extract_triples,
    )
    from prom_spark.pipeline.mentions import detect_matching_mentions, detect_mentions

    tr, d, res, _ = kg
    first_tokens = [
        r.w
        for r in d.filter(F.size(F.split("alias", " ")) > 1)
        .select(F.split("alias", " ").getItem(0).alias("w"))
        .distinct()
        .collect()
    ]
    m = detect_mentions(tr, bigram_first_tokens=first_tokens)
    emap = canonicalize_entities(d)
    stream_plan = extract_triples(
        _per_turn_select(
            _scored_mentions(m, d),
            entity_map=emap,
            preds=detect_matching_mentions(tr, [], predicates=PREDICATES),
        )
    )
    want = {
        tuple(r)
        for r in stream_plan.select(
            "conv_id", "turn_idx", "subj", "pred", "obj"
        ).collect()
    }
    got = {
        tuple(r)
        for r in res.triples.select(
            "conv_id", "turn_idx", "subj", "pred", "obj"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_per_turn_linking_equals_flat_linking(spark):
    """build_kg's per-turn linking (_per_turn_select over
    _score_candidates: in-array span selection) must make exactly the
    flat path's (link_mentions) choices after canonical mapping."""
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import (
        _fuzzy_scores,
        _per_turn_select,
        _score_candidates,
        canonicalize_entities,
        link_mentions,
    )
    from prom_spark.pipeline.mentions import detect_matching_mentions, detect_mentions

    tr = synth_transcripts(spark, n_convs=40, turns_per_conv=5, n_entities=48)
    d = entity_dictionary(spark, 48).cache()
    emap = canonicalize_entities(d).cache()
    m = detect_mentions(tr)

    flat = link_mentions(m, d).join(F.broadcast(emap), on="entity_id", how="left")
    flat = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.canonical_id or r.entity_id)
        for r in flat.collect()
    }
    dict_slim = d.select("alias", "entity_id", "embedding")
    scored = _score_candidates(
        m, dict_slim, _fuzzy_scores(m.select("gram").distinct(), dict_slim),
        use_salting=False,
    )
    fused = {
        (r.conv_id, r.turn_idx, r.e.ts, r.e.te, r.e.entity_id)
        for r in _per_turn_select(
            scored, entity_map=emap,
            preds=detect_matching_mentions(tr, [], predicates=PREDICATES),
        )
        .select("conv_id", "turn_idx", F.explode("ents").alias("e"))
        .collect()
    }
    assert fused == flat and len(fused) > 0


def test_salted_paths_equal_broadcast_paths(spark):
    """The beyond-broadcast join designs (salted exact join, salted
    alias semi-reduction, replicated-fragment fuzzy join) must produce
    exactly the broadcast paths' links when forced on small data."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import _fuzzy_scores, link_mentions
    from prom_spark.pipeline.mentions import detect_mentions

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    d = entity_dictionary(spark, 32).cache()
    m = detect_mentions(tr)

    def links(**kw):
        return {
            tuple(r)
            for r in link_mentions(m, d, **kw)
            .select("conv_id", "turn_idx", "start", "end", "entity_id")
            .collect()
        }

    base = links(use_salting=False)
    assert links(use_salting=True) == base
    # force the every-broadcast-budget-exceeded regime: alias semi-join
    # salts, fuzzy join goes replicated-fragment
    tiny = dataclasses.replace(
        DEFAULT_CONFIG, dict_broadcast_limit=0, alias_broadcast_limit=0
    )
    assert links(cfg=tiny, use_salting=True) == base and len(base) > 0

    # the replicated-fragment fuzzy join must not plan a broadcast of the
    # embedding-carrying dictionary (the exact inconsistency the salted
    # path exists to avoid). Near-miss grams (one char off an alias) +
    # a low threshold make the fuzzy output deterministically non-empty.
    dict_slim = d.select("alias", "entity_id", "embedding")
    near_miss = d.select(
        F.concat(F.substring("alias", 1, F.length("alias") - 1), F.lit("x")).alias("gram")
    ).distinct()
    grams = m.select("gram").distinct().unionByName(near_miss).distinct()
    lo = dataclasses.replace(DEFAULT_CONFIG, link_threshold=0.2)
    fz = _fuzzy_scores(grams, dict_slim, lo, broadcast_dict=False)
    plan = fz._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan, plan
    fz_b = _fuzzy_scores(grams, dict_slim, lo, broadcast_dict=True)
    got = {tuple(r) for r in fz.collect()}
    assert got == {tuple(r) for r in fz_b.collect()} and len(got) > 0


def test_bucket_layout_balanced(spark):
    """_bucket_layout must (a) route every row to its published bucket
    directory, (b) engage the composite sub-split when buckets ~ cores
    AND the data is large enough per bucket, so no shuffle partition
    holds more than ~2 buckets' share of rows, (c) keep the sub-split a
    pure layout concern (no schema change), and (d) stay split=1 when
    the row count is unknown or under the per-bucket gate (tiny inputs
    must not pay k× per-file overhead — the sf0.1 flagship regression)."""
    from prom_spark.pipeline.kg import _bucket_layout

    df = spark.range(20_000).select(
        F.concat(F.lit("c"), (F.col("id") % 997).cast("string")).alias("conv_id"),
        F.col("id").alias("turn_idx"),
    )
    n_rows = df.count()
    out = _bucket_layout(df, 32, n_rows=n_rows, min_bucket_rows=100)
    assert out.columns == ["conv_id", "turn_idx", "bucket"]
    # bucket is the published hash(conv_id) bucket, unchanged by the split
    exp = df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int")
    )
    assert (
        out.exceptAll(exp).isEmpty() and exp.exceptAll(out).isEmpty()
    )
    # shuffle-partition balance: max partition load bounded well below the
    # 2-3-buckets-per-task straggler the plain repartition(32, bucket)
    # layout produces (here cores=4 -> split=1 would be legal, so force
    # the composite regime by asking for fewer buckets than 8*cores; the
    # row-count gate is satisfied explicitly)
    small = _bucket_layout(df, 4, n_rows=n_rows, min_bucket_rows=1000)
    sizes = small.rdd.glom().map(len).collect()
    assert max(sizes) < 0.40 * n_rows  # plain hash-on-4-values can hit 0.5+
    assert sum(sizes) == n_rows
    # data gate: unknown row count, or rows-per-bucket under the gate,
    # keeps the plain one-partition-per-bucket layout
    assert _bucket_layout(df, 4).rdd.getNumPartitions() == 4
    assert (
        _bucket_layout(df, 4, n_rows=n_rows, min_bucket_rows=50_000)
        .rdd.getNumPartitions()
        == 4
    )
    # keep_sub with split=1 must not leave a _sub column behind
    assert "_sub" not in _bucket_layout(df, 4, keep_sub=True).columns


def test_fuzzy_rejoin_salted_path(spark):
    """Beyond the broadcast budget the fuzzy score re-join must route
    through the salted shuffle (same design as the exact join) — plan
    carries the composite (gram, _salt) key — and emit exactly the
    broadcast path's rows."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import _fuzzy_rejoin, _fuzzy_scores, build_kg
    from prom_spark.pipeline.mentions import detect_mentions

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    d = entity_dictionary(spark, 32).cache()
    m = detect_mentions(tr)
    dict_slim = d.select("alias", "entity_id", "embedding")
    lo = dataclasses.replace(DEFAULT_CONFIG, link_threshold=0.2)
    # near-miss grams guarantee non-empty fuzzy scores
    near_miss = d.select(
        F.concat(F.substring("alias", 1, F.length("alias") - 1), F.lit("x")).alias("gram")
    ).distinct()
    occ = m.unionByName(
        near_miss.select(
            F.lit("cx").alias("conv_id"), F.lit(0).alias("turn_idx"),
            "gram", F.lit(0).alias("start"), F.lit(0).alias("end"),
        )
    )
    fscores = _fuzzy_scores(
        occ.select("gram").distinct(), dict_slim, lo
    ).localCheckpoint(eager=True)
    assert fscores.count() > 0
    bc = {tuple(r) for r in _fuzzy_rejoin(occ, fscores, lo, broadcast=True).collect()}
    salted = _fuzzy_rejoin(occ, fscores, lo, broadcast=False)
    assert {tuple(r) for r in salted.collect()} == bc and len(bc) > 0
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan, plan

    # end-to-end: forcing every broadcast budget to zero (salted exact
    # join, salted semi-reduction, replicated-fragment fuzzy scoring,
    # salted fuzzy re-join via fuzzy_rows > 0 = dict_broadcast_limit)
    # must reproduce the default build's triples exactly
    import tempfile

    tiny = dataclasses.replace(
        DEFAULT_CONFIG, dict_broadcast_limit=0, alias_broadcast_limit=0,
        inline_keyset_limit=0,
    )
    tr2 = synth_transcripts(spark, n_convs=25, turns_per_conv=4, n_entities=24)
    d2 = entity_dictionary(spark, 24)
    tcols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    base = {
        tuple(r)
        for r in build_kg(
            spark, tr2, d2, tempfile.mkdtemp(prefix="kg_fz_a_"), resume=False
        ).triples.select(*tcols).collect()
    }
    forced = {
        tuple(r)
        for r in build_kg(
            spark, tr2, d2, tempfile.mkdtemp(prefix="kg_fz_b_"),
            resume=False, cfg=tiny, use_salting=True,
        ).triples.select(*tcols).collect()
    }
    assert forced == base and len(base) > 0


def test_checkpoint_staleness_invalidation(spark, tmp_path):
    """get_or_compute must recompute (not reuse) a checkpoint whose
    recorded inputs differ or whose schema misses required columns, and
    must reuse without calling compute when both match."""
    from prom_spark.sinks import StageStore

    store = StageStore(spark, str(tmp_path))
    calls = {"n": 0}

    def make(cols="a int, b string", row=(1, "x")):
        def _compute():
            calls["n"] += 1
            return spark.createDataFrame([row], cols)
        return _compute

    store.get_or_compute("s", make(), resume=True, inputs=["u1"])
    assert calls["n"] == 1
    # valid: same inputs, required col present -> no recompute
    store.get_or_compute("s", make(), resume=True, inputs=["u1"], require_cols=["b"])
    assert calls["n"] == 1
    # inputs changed (e.g. a plan-gate tag) -> recompute
    store.get_or_compute("s", make(), resume=True, inputs=["u1", "gate:x"])
    assert calls["n"] == 2
    # required column missing from the stored schema -> recompute
    store.get_or_compute(
        "s", make("a int, b string, kind string", (1, "x", "m")), resume=True,
        inputs=["u1", "gate:x"], require_cols=["kind"],
    )
    assert calls["n"] == 3
    assert "kind" in store.read("s").columns
    # and now valid again
    store.get_or_compute(
        "s", make(), resume=True, inputs=["u1", "gate:x"], require_cols=["kind"]
    )
    assert calls["n"] == 3


def _emap_rows(df):
    return sorted(df.collect(), key=lambda r: (r.entity_id is None, r.entity_id or ""))


def _dict_rows(rows):
    return lambda spark: spark.createDataFrame(rows, "alias string, entity_id string")


@pytest.mark.parametrize(
    "make_dict, merged",
    [
        (lambda spark: entity_dictionary(spark, 256), 32),
        # transitive chain: E3-E1 share "x", E1-E2 share "y"
        (_dict_rows([("x", "E3"), ("x", "E1"), ("y", "E1"), ("y", "E2"), ("z", "E4")]), 2),
        # null alias, null entity_id, duplicate rows
        (_dict_rows([("a", "E2"), ("a", "E2"), ("a", "E1"), (None, "E5"), (None, "E1"),
                     ("b", None), ("b", "E5"), ("c", "E6")]), 1),
        (_dict_rows([]), 0),
    ],
    ids=["synthetic_256", "chain", "nulls_dups", "empty"],
)
def test_entity_map_driver_pass_equals_connected_components(spark, make_dict, merged):
    """The in-budget driver pass must emit exactly the large-star/
    small-star path's relation (forced by a zero broadcast budget),
    schema included, as one partition."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.pipeline.kg import canonicalize_entities

    d = make_dict(spark).cache()
    spark_path = canonicalize_entities(
        d, dataclasses.replace(DEFAULT_CONFIG, dict_broadcast_limit=0)
    )
    local = canonicalize_entities(d)
    assert local.schema.simpleString() == (
        "struct<entity_id:string,canonical_id:string>"
    )
    assert local.rdd.getNumPartitions() == 1
    got = _emap_rows(local)
    assert got == _emap_rows(spark_path)
    assert sum(r.entity_id != r.canonical_id for r in got) == merged


def test_entity_map_driver_pass_job_count(spark):
    """An in-budget dictionary canonicalizes in at most two Spark jobs
    (row count + collect) — never the iterative components loop."""
    from prom_spark.pipeline.kg import canonicalize_entities

    d = entity_dictionary(spark, 256).cache()
    d.count()
    sc = spark.sparkContext
    group = "test_entity_map_driver_pass_job_count"
    sc.setJobGroup(group, "canonicalize_entities, in budget")
    try:
        canonicalize_entities(d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 2, jobs


def test_resume_recomputes_stage_after_failed_rewrite(
    spark, kg, tmp_path, stage_writes
):
    """A stage rewrite whose job fails partway (the overwrite has already
    deleted the old data) must not leave the old checkpoint marker
    behind: resume recomputes the stage and the triples come out
    unchanged."""
    import shutil

    from prom_spark.sinks import StageStore

    tr, d, res, base = kg
    t1 = {tuple(r) for r in res.triples.collect()}
    base_f = str(tmp_path / "failed_rewrite")
    shutil.copytree(base, base_f)
    store = StageStore(spark, base_f)
    # four write tasks; the last one fails after the others committed
    broken = spark.range(0, 400, 1, 4).select(
        F.when(F.col("id") == 399, F.raise_error(F.lit("injected failure")))
        .otherwise(F.col("id") % 8)
        .alias("bucket"),
        F.col("id").cast("string").alias("subj"),
    )
    with pytest.raises(Exception, match="injected failure"):
        store.write("triples_raw", broken, partition_by=["bucket"])
    assert not store.exists("triples_raw")

    stage_writes.clear()
    again = build_kg(spark, tr, d, base_f, resume=True)
    assert stage_writes == ["triples_raw"]
    assert again.store.exists("triples_raw")
    assert {tuple(r) for r in again.triples.collect()} == t1


def _triple_set(res):
    return {
        tuple(r)
        for r in res.triples.select(
            "conv_id", "turn_idx", "subj", "pred", "obj"
        ).collect()
    }


def test_resume_recomputes_on_changed_transcripts(spark, tmp_path):
    """Resuming in the same checkpoint dir over DIFFERENT transcripts —
    in-memory, or files rewritten in place — must give the fresh
    build's triples: ingest records a source fingerprint, and every
    stage downstream of a rewritten stage recomputes."""
    d = entity_dictionary(spark, 24).cache()

    def transcripts(seed):
        return synth_transcripts(
            spark, n_convs=16, turns_per_conv=4, n_entities=24, seed=seed
        )

    a, b = transcripts("1"), transcripts("2")
    want = _triple_set(build_kg(spark, b, d, str(tmp_path / "fresh"), resume=False))
    base = str(tmp_path / "kg")
    assert _triple_set(build_kg(spark, a, d, base, resume=False)) != want
    assert _triple_set(build_kg(spark, b, d, base, resume=True)) == want

    src, base_f = str(tmp_path / "src"), str(tmp_path / "kg_files")
    a.write.parquet(src)
    build_kg(spark, spark.read.parquet(src), d, base_f, resume=False)
    b.write.mode("overwrite").parquet(src)
    resumed = build_kg(spark, spark.read.parquet(src), d, base_f, resume=True)
    assert _triple_set(resumed) == want


def test_resume_recomputes_on_changed_dictionary(spark, tmp_path):
    """Resuming over a different dictionary must give the fresh build's
    triples, not the old dictionary's entity map and links."""
    tr = synth_transcripts(spark, n_convs=16, turns_per_conv=4, n_entities=24)
    d1 = entity_dictionary(spark, 24)
    d2 = d1.withColumn("entity_id", F.concat(F.lit("X"), "entity_id"))
    want = _triple_set(build_kg(spark, tr, d2, str(tmp_path / "fresh"), resume=False))
    base = str(tmp_path / "kg")
    assert _triple_set(build_kg(spark, tr, d1, base, resume=False)) != want
    assert _triple_set(build_kg(spark, tr, d2, base, resume=True)) == want


def test_checkpoint_stale_when_input_stage_rewritten(spark, tmp_path):
    """A checkpoint whose input stage was rewritten in this run is stale
    even though its recorded inputs still match; with nothing rewritten
    both checkpoints are reused."""
    from prom_spark.sinks import StageStore

    calls = []

    def make(name):
        def _compute():
            calls.append(name)
            return spark.createDataFrame([(1,)], "a int")
        return _compute

    def run(**kw):
        store = StageStore(spark, str(tmp_path))
        store.get_or_compute("up", make("up"), inputs=["src"], **kw)
        store.get_or_compute("down", make("down"), inputs=["up"])

    run()
    assert calls == ["up", "down"]
    run(resume=False)
    assert calls == ["up", "down"] * 2
    run()
    assert calls == ["up", "down"] * 2


def test_source_fingerprint_is_metadata_only(spark, tmp_path):
    """Fingerprints tell sources apart (data, files, filters), are equal
    for the same files read twice, and start no Spark job."""
    from prom_spark.sinks import source_fingerprint

    a = synth_transcripts(spark, n_convs=4, turns_per_conv=2, seed="1")
    b = synth_transcripts(spark, n_convs=4, turns_per_conv=2, seed="2")
    src = str(tmp_path / "src")
    a.write.parquet(src)
    read1, read2 = spark.read.parquet(src), spark.read.parquet(src)
    sc = spark.sparkContext
    group = "test_source_fingerprint_is_metadata_only"
    sc.setJobGroup(group, "source fingerprints")
    try:
        fa, fb = source_fingerprint(a), source_fingerprint(b)
        f1, f2 = source_fingerprint(read1), source_fingerprint(read2)
        f_filtered = source_fingerprint(read1.filter("turn_idx > 0"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert fa != fb
    assert f1 == f2 and f1 not in (fa, f_filtered)
    b.write.mode("overwrite").parquet(src)
    assert source_fingerprint(spark.read.parquet(src)) != f1
