"""Streaming KG construction (Structured Streaming).

Transcripts arrive as files (Kafka on a real deployment — same API).
The stateless stages (mention detection, exact dictionary linking) run
directly on the stream; windowed/watermarked aggregation handles late
turns. Triple construction runs per micro-batch via ``foreachBatch``
(the cross-turn window and canonicalization need batch semantics —
exactly the stages the reference could never stream at all), and each
micro-batch runs batch's own linking + extraction plan
(``micro_batch_triples``): scored candidates, per-turn link selection,
fused triple extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prom_spark.config import DEFAULT_CONFIG
from prom_spark.datagen import PREDICATES
from prom_spark.pipeline.kg import (
    _per_turn_select,
    _scored_mentions,
    canonicalize_entities,
    extract_triples,
)
from prom_spark.pipeline.mentions import detect_matching_mentions, detect_mentions

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def streaming_entity_mentions(stream: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Stateless stage: mention detection + exact dictionary linking on a
    stream. ``ts`` rides through the explode via ``keep_cols`` — the
    whole stage is narrow (scan -> explode -> broadcast join), no
    stream-stream join, no state store."""
    mentions = detect_mentions(
        stream.select("conv_id", "turn_idx", "text", "ts"), keep_cols=("ts",)
    )
    return mentions.join(
        F.broadcast(dictionary.select(F.col("alias").alias("gram"), "entity_id")),
        on="gram",
    )


def windowed_entity_counts(
    linked_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window mention counts per entity — the
    streaming analogue of the per-stage metrics table; late turns beyond
    the watermark are dropped deterministically."""
    return (
        linked_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "entity_id")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_id",
            "n_mentions",
        )
    )


def streaming_first_seen_entities(
    linked_stream: DataFrame,
) -> DataFrame:
    """Custom stateful operator: cross-batch per-conversation dedup.

    ``applyInPandasWithState`` keeps, per conv_id, the set of entity ids
    already emitted; each micro-batch appends only FIRST-seen entities
    with their earliest timestamp. This is the streaming analogue of the
    batch pipeline's per-turn ``array_distinct`` dedup lifted to the
    whole conversation across batches — state the stateless stages and
    ``foreachBatch`` cannot express (a batch only sees its own rows).

    State size is bounded by |distinct entities per conversation| — the
    dictionary's entity count in the worst case — so the state store
    stays small no matter how long the conversation runs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, entity_id string, first_ts timestamp"
    state_schema = "seen array<string>"

    def emit_first_seen(key, pdf_iter, state):
        seen = set(state.get[0]) if state.exists else set()
        rows = []
        for pdf in pdf_iter:
            for r in pdf.sort_values("ts").itertuples():
                if r.entity_id not in seen:
                    seen.add(r.entity_id)
                    rows.append((key[0], r.entity_id, r.ts))
        state.update((sorted(seen),))
        yield pd.DataFrame(rows, columns=["conv_id", "entity_id", "first_ts"])

    return (
        linked_stream.select("conv_id", "entity_id", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            emit_first_seen,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def micro_batch_triples(
    batch: DataFrame,
    dictionary: DataFrame,
    entity_map: DataFrame,
    use_salting: bool = False,
    hot_keys=None,
) -> DataFrame:
    """Canonical triples of one micro-batch through ``build_kg``'s plan:
    ``_scored_mentions`` over the batch's mention stream, per-turn link
    selection with the predicate occurrences riding the same shuffle
    (``_per_turn_select``), then ``extract_triples`` over the per-turn
    arrays.

    Unlike ``build_kg``, bigrams stay unblocked (``detect_mentions``
    without first tokens): no per-batch dictionary collect, and a fuzzy
    link may start at a token that starts no multiword alias — so a
    stream can emit a few triples the batch run blocks (10,193 vs
    10,173 on perfbench's seed-42 ``kg_stream`` input)."""
    scored = _scored_mentions(
        detect_mentions(batch), dictionary, DEFAULT_CONFIG,
        use_salting=use_salting, hot_keys=hot_keys,
    )
    return extract_triples(
        _per_turn_select(
            scored, DEFAULT_CONFIG, entity_map,
            preds=detect_matching_mentions(batch, [], predicates=PREDICATES),
        )
    )


def run_streaming_kg(
    spark: SparkSession,
    input_path: str,
    dictionary: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    entity_map: DataFrame | None = None,
    use_salting: bool = False,
    hot_keys=None,
) -> None:
    """Micro-batch KG construction: each batch runs batch's linking +
    triple extraction plan (``micro_batch_triples`` in foreachBatch),
    appending to the triple table.
    availableNow trigger: drains all pending files then stops — the
    deterministic test/batch-backfill mode.

    Canonicalization state is CROSS-batch: the dictionary-derived
    ``entity_map`` (computed once, broadcast into every micro-batch)
    maps candidate entity ids to canonical cluster ids before per-turn
    selection, so streamed triples are canonical exactly like batch
    triples.

    ``use_salting`` / ``hot_keys`` reuse the batch join design for
    beyond-broadcast dictionaries: micro-batches are usually small
    enough that the broadcast path wins (the default), but a stream
    linked against a 10^8-alias dictionary needs the same salted
    shuffle + semi-reduction as batch, with the hot-alias set supplied
    a priori (per-batch hot-key detection would add a count pass to
    every trigger).
    """
    if entity_map is None:
        entity_map = canonicalize_entities(dictionary)
    entity_map = entity_map.localCheckpoint(eager=True)

    stream = stream_transcripts(spark, input_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        triples = micro_batch_triples(
            batch, dictionary, entity_map,
            use_salting=use_salting, hot_keys=hot_keys,
        )
        triples.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            output_dir
        )

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
