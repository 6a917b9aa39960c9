"""Multimodal plumbing + streaming pipeline tests."""

import os

from pyspark.sql import functions as F

from prom_spark.multimodal import (
    extract_features,
    resize_images,
    sample_frames,
    synth_assets,
)


def test_multimodal_feature_extraction(spark):
    assets = synth_assets(spark, 16, "image")
    feats = extract_features(assets).collect()
    assert len(feats) == 16
    for r in feats:
        assert r.n_bytes == 128  # 8 x 32-hex-char md5 -> 128 bytes
        assert len(r.features) == 8
        assert all(0.0 <= x <= 1.0 for x in r.features)
    # determinism: same asset -> same features
    feats2 = extract_features(synth_assets(spark, 16, "image")).collect()
    assert {r.asset_id: r.features for r in feats} == {
        r.asset_id: r.features for r in feats2
    }


def test_multimodal_resize_and_frames(spark):
    assets = synth_assets(spark, 8, "video")
    resized = resize_images(assets, 128, 128).collect()
    assert all(r.meta.width == 128 and r.meta.format == "fake-resized" for r in resized)
    frames = sample_frames(assets, every_ms=1000).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r.frame_idx)
    # duration_ms = (id % 5) * 1000 + 1000 -> id%5+1 frames
    for aid, idxs in by_asset.items():
        assert sorted(idxs) == list(range(aid % 5 + 1))


def test_q36_q37_fixture_discriminates(spark):
    """Parity proves Spark == DuckDB; this pins what the q36/q37 asset
    fixture was built to distinguish: features genuinely depend on the
    payload bytes (not fixture constants both twins could emit), and
    the frame chunks are real slices that reassemble to a payload
    prefix in frame order."""
    from prom_spark.queries import _doc_assets, q37_frame_sample

    sf_dir = "/root/testdata/sf0.001"
    feats = extract_features(_doc_assets(spark, sf_dir)).collect()
    distinct_vectors = {tuple(r.features) for r in feats}
    assert len(distinct_vectors) == len(feats)  # payload-dependent

    payloads = {
        r.asset_id: bytes(r.content)
        for r in _doc_assets(spark, sf_dir).filter("modality = 'video'").collect()
    }
    frames = q37_frame_sample(spark, sf_dir).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append((r.frame_idx, r.frame_hex))
    assert set(by_asset) == set(payloads)
    for aid, chunks in by_asset.items():
        joined = bytes.fromhex("".join(h for _, h in sorted(chunks)))
        assert payloads[aid].startswith(joined) and len(joined) > 0


def _flat_reference_triples(transcripts, links, entity_map=None):
    """Triples from flat ``link_mentions`` rows, grouped per turn here:
    canonical ids mapped AFTER span selection, predicate positions from
    a direct token scan of the turn text — an independent route to the
    per-turn arrays ``extract_triples`` reads."""
    from prom_spark.datagen import PREDICATES
    from prom_spark.pipeline.kg import extract_triples
    from prom_spark.pipeline.mentions import tokens

    if entity_map is not None:
        links = links.join(F.broadcast(entity_map), on="entity_id", how="left")
        links = links.withColumn(
            "entity_id", F.coalesce("canonical_id", "entity_id")
        )
    ents = links.groupBy("conv_id", "turn_idx").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("start").alias("ts"), F.col("end").alias("te"), "entity_id"
                )
            )
        ).alias("ents")
    )
    preds = transcripts.select(
        "conv_id",
        "turn_idx",
        F.filter(
            F.transform(
                tokens(F.col("text")),
                lambda x, i: F.struct(i.cast("int").alias("p"), x.alias("tok")),
            ),
            lambda s: s["tok"].isin(*PREDICATES),
        ).alias("preds"),
    )
    return extract_triples(ents.join(preds, on=["conv_id", "turn_idx"]))


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow streaming run must produce the same CANONICAL
    triples as an independent batch reference on the same input: flat
    ``link_mentions`` selection (the q25-oracle-checked path) plus the
    canonical map, grouped per turn in the test (the stream threads the
    dictionary-derived entity_map into every micro-batch)."""
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import canonicalize_entities, link_mentions
    from prom_spark.pipeline.mentions import detect_mentions
    from prom_spark.streaming.pipeline import run_streaming_kg

    tr = synth_transcripts(spark, n_convs=20, turns_per_conv=5, n_entities=32)
    d = entity_dictionary(spark, 32).cache()
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tr.write.parquet(in_dir)

    run_streaming_kg(spark, in_dir, d, out_dir, ckpt)
    got = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    }

    batch_tr = spark.read.parquet(in_dir)
    entity_map = canonicalize_entities(d).cache()
    linked = link_mentions(detect_mentions(batch_tr), d, use_salting=False)
    want = {
        tuple(r)
        for r in _flat_reference_triples(batch_tr, linked, entity_map)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    assert got == want and len(got) > 0
    # the canonicalization must be non-vacuous: the dictionary contains
    # duplicate entities (every 8th), so raw ids differ from canonical
    raw = {
        tuple(r)
        for r in _flat_reference_triples(batch_tr, linked)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    assert raw != want
    # streamed output ids are canonical ids only
    canon = {r.canonical_id for r in entity_map.collect()}
    ids_in_got = {s for (_, _, s, _, _) in got} | {o for (_, _, _, _, o) in got}
    assert ids_in_got <= canon

    # the salted big-dictionary join design must stream identically
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    run_streaming_kg(spark, in_dir, d, out2, ckpt2, use_salting=True)
    salted = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in spark.read.parquet(out2).drop("batch_id").collect()
    }
    assert salted == want


def test_windowed_counts_schema(spark, tmp_path):
    """Watermarked windowed aggregation compiles and drains on a stream."""
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.streaming.pipeline import (
        stream_transcripts,
        streaming_entity_mentions,
        windowed_entity_counts,
    )

    tr = synth_transcripts(spark, n_convs=10, turns_per_conv=4, n_entities=16)
    d = entity_dictionary(spark, 16)
    in_dir = str(tmp_path / "in2")
    tr.write.parquet(in_dir)
    stream = stream_transcripts(spark, in_dir)
    counts = windowed_entity_counts(streaming_entity_mentions(stream, d))
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from win_counts").collect()
    # append mode only emits windows closed by the watermark; schema and
    # drain behavior are the contract here
    assert {c for c in spark.table("win_counts").columns} == {
        "window_start", "window_end", "entity_id", "n_mentions"
    }
    assert all(r.n_mentions > 0 for r in rows)


def test_stateful_first_seen_entities(spark, tmp_path):
    """applyInPandasWithState keeps per-conversation state ACROSS
    micro-batches: an entity emitted in batch 1 must not re-emit in
    batch 2, and first_ts is the earliest mention."""
    import datetime

    from prom_spark.streaming.pipeline import (
        TRANSCRIPT_SCHEMA,
        stream_transcripts,
        streaming_entity_mentions,
        streaming_first_seen_entities,
    )
    from prom_spark.datagen import entity_dictionary

    d = entity_dictionary(spark, 8).cache()
    aliases = [r.alias for r in d.collect() if " " not in r.alias][:3]
    a0, a1, a2 = aliases
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def turn(conv, idx, text):
        return (conv, idx, "user", text, None, t0 + datetime.timedelta(seconds=idx))

    in_dir = tmp_path / "in3"
    in_dir.mkdir()
    # batch 1: conv-a mentions a0 and a1
    spark.createDataFrame(
        [turn("conv-a", 0, f"the {a0} feeds the {a1} now")], TRANSCRIPT_SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "b1"))
    # batch 2: conv-a re-mentions a0 (must NOT re-emit) + new a2
    spark.createDataFrame(
        [turn("conv-a", 1, f"the {a0} uses the {a2} today")], TRANSCRIPT_SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "b2"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    out = streaming_first_seen_entities(streaming_entity_mentions(stream, d))
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from first_seen").collect()
    by_entity = {}
    for r in rows:
        by_entity.setdefault(r.entity_id, []).append(r.first_ts)
    # each entity appears exactly once despite the batch-2 re-mention
    assert all(len(v) == 1 for v in by_entity.values()), by_entity
    ent_of = {r.alias: r.entity_id for r in d.collect()}
    assert set(by_entity) == {ent_of[a0], ent_of[a1], ent_of[a2]}


def test_image_decoder_switch_fails_loudly_without_codec(monkeypatch):
    """PROM_SPARK_IMAGE_DECODER=pillow must either decode for real or
    fail loudly — never fall back silently to the stand-in."""
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow available: real path would decode")
    except ImportError:
        pass
    from prom_spark.multimodal import _decode_pixels_stub, _image_decoder

    monkeypatch.setenv("PROM_SPARK_IMAGE_DECODER", "pillow")
    with pytest.raises(NotImplementedError, match="PROM_SPARK_IMAGE_DECODER"):
        _decode_pixels_stub(b"\x89PNG", _image_decoder())


def test_image_decoder_switch_set_on_driver_reaches_the_decode(spark, monkeypatch):
    """PROM_SPARK_IMAGE_DECODER=pillow set on the driver after the
    session started must decide what the executors decode with: without
    Pillow the Spark job fails loudly instead of silently running the
    stand-in."""
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow available: real path would decode")
    except ImportError:
        pass
    monkeypatch.setenv("PROM_SPARK_IMAGE_DECODER", "pillow")
    feats = extract_features(synth_assets(spark, 4, "image"))
    with pytest.raises(
        Exception, match="NotImplementedError: PROM_SPARK_IMAGE_DECODER"
    ):
        feats.collect()
