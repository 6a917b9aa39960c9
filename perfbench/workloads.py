"""The benchmark's workloads: input generation from a seed, the timed
operation through the public API, and the output check.

Each workload is a closed loop: one operation at a time, the next one
starting only after the previous one returned and was checked.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stats import digest, precision_recall

TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx")
MAP_COLS = ("entity_id", "canonical_id")
# relations the extractor derives on its own; every other predicate is a
# verb planted by the generator's fact sentence
DERIVED_PREDS = ("follows", "co_occurs")
FACT_PATTERN = r"the (.+) (uses|feeds|precedes|controls) the (.+) in this step"
MIN_PRECISION = MIN_RECALL = 0.95


def dir_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the files under ``path`` whose names end in ``suffix``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n))
                     for n in names if n.endswith(suffix))
    return total


def collect_with_hash(df: DataFrame, cols) -> tuple[list[tuple], tuple[int, str]]:
    """Rows of ``cols`` and the table's order-independent digest."""
    pdf = df.select(*cols, F.xxhash64(*cols).alias("_h")).toPandas()
    rows = list(pdf[list(cols)].itertuples(index=False, name=None))
    return rows, digest(int(h) for h in pdf["_h"])


def reference_entity_map(dict_rows) -> dict[str, str]:
    """Canonical id per entity, computed on the driver without the
    pipeline: entities sharing an alias are one concept (transitively),
    named by its smallest entity id."""
    parent: dict[str, str] = {}

    def find(e):
        while parent.setdefault(e, e) != e:
            parent[e] = parent[parent[e]]
            e = parent[e]
        return e

    first_owner: dict[str, str] = {}
    for r in dict_rows:
        find(r.entity_id)
        owner = first_owner.setdefault(r.alias, r.entity_id)
        a, b = find(owner), find(r.entity_id)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {e: find(e) for e in parent}


@dataclass
class Inputs:
    transcripts: DataFrame
    dictionary: DataFrame
    stream_dir: str | None = None
    facts: set = field(default_factory=set)
    entity_map: dict[str, str] = field(default_factory=dict)


@dataclass
class OpOutput:
    triples: int
    stored_bytes: int
    digests: dict[str, tuple[int, str]]
    errors: list[str]


class Workload:
    name: str
    convs: int
    turns_per_conv = 10
    entities: int

    def describe(self) -> dict:
        return {"convs": self.convs, "turns": self.convs * self.turns_per_conv,
                "entities": self.entities}

    def generate(self, spark: SparkSession, seed: int) -> tuple[DataFrame, DataFrame]:
        from prom_spark.datagen import entity_dictionary, synth_transcripts

        tr = synth_transcripts(
            spark, n_convs=self.convs, turns_per_conv=self.turns_per_conv,
            n_entities=self.entities, seed=str(seed),
        )
        return tr, entity_dictionary(spark, self.entities)

    def release(self, inputs: Inputs) -> None:
        inputs.transcripts.unpersist()
        inputs.dictionary.unpersist()
        if inputs.stream_dir:
            shutil.rmtree(inputs.stream_dir, ignore_errors=True)

    def prepare_checks(self, spark: SparkSession, inputs: Inputs) -> dict:
        """Reference entity map and the facts the generator planted."""
        dict_rows = inputs.dictionary.select("alias", "entity_id").collect()
        inputs.entity_map = reference_entity_map(dict_rows)
        canon = {r.alias: inputs.entity_map[r.entity_id] for r in dict_rows}
        turns = inputs.transcripts.select(
            "conv_id", "turn_idx",
            *[F.regexp_extract("text", FACT_PATTERN, i).alias(f"g{i}") for i in (1, 2, 3)],
            F.octet_length("text").alias("n_bytes"),
        ).toPandas()
        inputs.facts = {
            (canon[s_alias], pred, canon[o_alias], conv, int(turn))
            for conv, turn, s_alias, pred, o_alias in turns[
                ["conv_id", "turn_idx", "g1", "g2", "g3"]].itertuples(index=False)
            if s_alias in canon and o_alias in canon
        }
        return {"input_bytes": int(turns["n_bytes"].sum()),
                "planted_facts": len(inputs.facts), "aliases": len(dict_rows)}

    def check_triples(self, triples: DataFrame, inputs: Inputs):
        """Triple count and digest; precision/recall of the verb triples
        against the planted facts."""
        rows, dig = collect_with_hash(triples, TRIPLE_COLS)
        got = {r for r in rows if r[1] not in DERIVED_PREDS}
        p, r = precision_recall(len(got), len(inputs.facts), len(got & inputs.facts))
        errors = []
        if p < MIN_PRECISION or r < MIN_RECALL:
            errors.append(f"verb triples precision {p:.4f} recall {r:.4f}")
        return dig, errors


class BuildKg(Workload):
    """``build_kg`` over generated transcripts, fresh checkpoint dir per op."""

    def __init__(self, name: str, convs: int, entities: int):
        self.name, self.convs, self.entities = name, convs, entities

    def setup(self, spark, seed, scratch):
        tr, d = self.generate(spark, seed)
        tr, d = tr.cache(), d.cache()
        tr.count()
        d.count()
        return Inputs(tr, d)

    def run(self, spark, inputs: Inputs, out_dir: str):
        from prom_spark.pipeline.kg import build_kg

        return build_kg(
            spark, inputs.transcripts, inputs.dictionary, out_dir, resume=False,
            n_transcript_rows=self.convs * self.turns_per_conv,
        )

    def check(self, spark, inputs: Inputs, result, out_dir: str) -> OpOutput:
        d_triples, errors = self.check_triples(result.triples, inputs)
        map_rows, d_map = collect_with_hash(result.entity_canonical, MAP_COLS)
        if dict(map_rows) != inputs.entity_map:
            errors.append("entity map differs from the alias-overlap components")
        return OpOutput(
            triples=d_triples[0], stored_bytes=dir_bytes(out_dir),
            digests={"triples": d_triples, "entity_map": d_map}, errors=errors,
        )


class StreamKg(Workload):
    """``run_streaming_kg`` draining pre-staged parquet files
    (availableNow; the source takes 8 files per micro-batch)."""

    files_per_trigger = 8

    def __init__(self, name: str, convs: int, entities: int, batches: int):
        self.name, self.convs, self.entities = name, convs, entities
        self.n_files = batches * self.files_per_trigger

    def describe(self) -> dict:
        return {**super().describe(), "files": self.n_files,
                "micro_batches": self.n_files // self.files_per_trigger}

    def setup(self, spark, seed, scratch):
        tr, d = self.generate(spark, seed)
        tr, d = tr.cache(), d.cache()
        d.count()
        path = os.path.join(scratch, f"stream-input-{seed}")
        # whole conversations per file, files in conversation order: every
        # micro-batch sees complete conversations, so the drained triple
        # table does not depend on how files group into batches
        tr.repartitionByRange(self.n_files, "conv_id").write.parquet(path)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if len(files) != self.n_files:
            raise RuntimeError(f"staged {len(files)} files, wanted {self.n_files}")
        for i, f in enumerate(files):  # the file source orders by mtime
            os.utime(os.path.join(path, f), (1_700_000_000 + i, 1_700_000_000 + i))
        return Inputs(tr, d, stream_dir=path)

    def run(self, spark, inputs: Inputs, out_dir: str):
        from prom_spark.streaming.pipeline import run_streaming_kg

        run_streaming_kg(
            spark, inputs.stream_dir, inputs.dictionary,
            os.path.join(out_dir, "triples"), os.path.join(out_dir, "checkpoint"),
        )

    def check(self, spark, inputs: Inputs, result, out_dir: str) -> OpOutput:
        path = os.path.join(out_dir, "triples")
        triples = spark.read.parquet(path)
        d_triples, errors = self.check_triples(triples, inputs)
        return OpOutput(
            triples=d_triples[0], stored_bytes=dir_bytes(path),
            digests={"triples": d_triples}, errors=errors,
        )


# Why these two (BENCHMARK.json says it per workload): kg_corpus runs the
# stage-store pipeline and never the flat linking path; kg_stream runs
# only the flat path and skips fuzzy scoring and the stage store. Sizes
# keep one run near a minute on 4 cores; both are fixed-cost dominated.
WORKLOADS = {
    w.name: w
    for w in (
        BuildKg("kg_corpus", convs=400, entities=256),
        StreamKg("kg_stream", convs=200, entities=256, batches=1),
    )
}
