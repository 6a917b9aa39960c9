"""Stage checkpoint tables with lineage metrics + resume.

north_rule: the pipeline must run "resumably from per-stage checkpoints
with per-partition lineage and triple-count metrics". Each stage writes:

    <base>/<stage>/data/           parquet (optionally bucketed/partitioned)
    <base>/<stage>/metrics.json    row counts total + per partition, schema,
                                   upstream stage names (lineage)

On an Iceberg-enabled cluster the same writes go through
``df.writeTo(...).partitionedBy(bucket(N, "conv_id"))``; this module
probes for the Iceberg SQL extensions and falls back to plain parquet
(this container carries no Iceberg runtime jar). The checkpoint/resume
logic is identical either way.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime classes are on the JVM classpath.

    Must use ``Class.forName``: attribute access on ``spark._jvm`` never
    fails for missing classes (py4j returns a truthy ``JavaPackage``).
    """
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[attr-defined]
            "org.apache.iceberg.Schema"
        )
        return True
    except Exception:
        return False


def write_iceberg(
    df: DataFrame,
    table: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 32,
) -> None:
    """Bucketed Iceberg table write (north_rule sink: triples + canonical
    mapping "into Iceberg, partitioned by hash(conv_id)").

    ``df.writeTo(table).partitionedBy(bucket(N, col))`` is Iceberg's
    native hash-bucket transform — the cluster-side equivalent of the
    parquet fallback's explicit pmod-bucket column (reference sink
    analogue: src/create_link_onto.py:72-95). Requires the Iceberg
    runtime jar + a configured catalog; callers probe
    ``iceberg_available`` first (StageStore falls back to parquet and
    records why).
    """
    from pyspark.sql.functions import bucket, col

    writer = df.writeTo(table).using("iceberg")
    if bucket_col in df.columns:
        writer = writer.partitionedBy(bucket(n_buckets, col(bucket_col)))
    writer.createOrReplace()


def source_fingerprint(df: DataFrame) -> str:
    """Metadata-only identity of a pipeline's external input, recorded
    in the checkpoint ``inputs`` of the stages that read it, so a resume
    over different source data recomputes instead of reusing.

    A file-backed frame is named by its schema, its canonicalized plan
    (the filters/projections over the files, expression ids normalized)
    and every input file's path, size and modification time — stable
    across processes, so a restarted run still resumes. Any other frame
    (in-memory rows, generated data) is named by its schema and its
    analyzed plan's ``semanticHash()``. Neither form starts a Spark
    job: file sizes come from the file system, not from the data."""
    h = hashlib.sha256(df.schema.json().encode())
    files = sorted(df.inputFiles())
    if files:
        jvm = df.sparkSession._jvm
        conf = df.sparkSession._jsc.hadoopConfiguration()
        h.update(
            df._jdf.queryExecution().analyzed().canonicalized().toString().encode()
        )
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            st = path.getFileSystem(conf).getFileStatus(path)
            h.update(f"\n{f}\t{st.getLen()}\t{st.getModificationTime()}".encode())
    else:
        h.update(f"\nsemantic:{df.semanticHash()}".encode())
    return f"source:{h.hexdigest()[:32]}"


@dataclass
class StageStore:
    """Parquet-backed stage checkpoint store."""

    spark: SparkSession
    base_dir: str
    # stage -> inputs, for every stage this store wrote in this run
    lineage: dict[str, list[str]] = field(default_factory=dict)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def exists(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage), "metrics.json"))

    def read(self, stage: str) -> DataFrame:
        from pyspark.sql import types as T
        from pyspark.errors.exceptions.captured import AnalysisException

        if self.exists(stage):
            m = self.metrics(stage)
            if m.get("alias_of"):
                return self.read(m["alias_of"])
        path = os.path.join(self._dir(stage), "data")
        try:
            return self.spark.read.parquet(path)
        except AnalysisException:
            # zero-row stage: partitioned writes of empty frames leave no
            # data files; reconstruct the empty frame from stored schema
            m = self.metrics(stage)
            if m.get("rows") == 0 and m.get("schema_json"):
                schema = T.StructType.fromJson(json.loads(m["schema_json"]))
                return self.spark.createDataFrame([], schema)
            raise

    def write(
        self,
        stage: str,
        df: DataFrame,
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage; returns the re-read DataFrame (so
        downstream lineage starts from the checkpoint, not the full plan).
        """
        import time

        t0 = time.time()
        path = os.path.join(self._dir(stage), "data")
        # the overwrite below deletes the old data first: drop the
        # completion marker before it, so a write that dies partway
        # leaves the stage absent (recomputed on resume), not "done"
        # over an empty or partial directory
        marker = os.path.join(self._dir(stage), "metrics.json")
        if os.path.exists(marker):
            os.remove(marker)
        out = df
        if sort_within_partitions:
            out = out.sortWithinPartitions(*sort_within_partitions)
        iceberg_note = None
        if iceberg_available(self.spark):
            # cluster path: bucketed Iceberg table per stage
            try:
                write_iceberg(out, f"prom.stages.{stage}")
                iceberg_note = f"prom.stages.{stage}"
            except Exception as e:  # no catalog configured, etc.
                iceberg_note = f"fallback-parquet ({type(e).__name__})"
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        from pyspark.errors.exceptions.captured import AnalysisException

        reader = self.spark.read
        if not partition_by:
            # read back with the schema just written (a file scan makes
            # it nullable, as inference does): a schema-less read launches
            # a footer-inference job per stage. Partition column types
            # stay inferred, as on resume.
            reader = reader.schema(out.schema)
        try:
            persisted = reader.parquet(path)
        except AnalysisException:
            # empty partitioned write leaves no data files
            persisted = self.spark.createDataFrame([], out.schema)
        # per-partition lineage counts from parquet footers: metadata-only
        # reads, no second pass over the data (the old per-partition
        # count job re-scanned every stage — a full extra read per stage).
        # On a real cluster the same numbers come from the write
        # committer's task stats; footers are the portable equivalent.
        per_part = self._footer_counts(path)
        if not per_part:
            # non-local storage (hdfs://, s3a://) is invisible to os.walk;
            # fall back to a Spark-side count rather than silently
            # recording rows=0 for a non-empty stage
            n = persisted.count()
            if n > 0:
                per_part = [{"partition": 0, "file": None, "rows": int(n)}]
        metrics = {
            "stage": stage,
            "rows": int(sum(p["rows"] for p in per_part)),
            "partitions": per_part,
            "schema": persisted.schema.simpleString(),
            "schema_json": json.dumps(persisted.schema.jsonValue()),
            "inputs": inputs or [],
            "duration_sec": round(time.time() - t0, 3),
        }
        if iceberg_note:
            metrics["iceberg"] = iceberg_note
        with open(marker, "w") as f:
            json.dump(metrics, f, indent=1)
        self.lineage[stage] = inputs or []
        return persisted

    def _checkpoint_stale(
        self,
        stage: str,
        inputs: list[str] | None,
        require_cols: list[str] | None = None,
    ) -> str | None:
        """Why an existing checkpoint may NOT be resumed (None = valid).

        Three invalidation rules, all against stored metrics only (no
        data read): the recorded ``inputs`` lineage must equal what the
        caller would record today (upstream stage set, source
        fingerprints, plan-gate tags); no input stage may have been
        rewritten by this store in this run (its data is newer than the
        checkpoint built from it); and the stored schema must carry every
        ``require_cols`` column (a format from before a pipeline change
        must recompute, not crash mid-plan on a missing column)."""
        m = self.metrics(stage)
        if inputs is not None and m.get("inputs") != inputs:
            return f"inputs changed: {m.get('inputs')} -> {inputs}"
        rewritten = [s for s in inputs or [] if s in self.lineage]
        if rewritten:
            return f"input stages rewritten in this run: {rewritten}"
        if require_cols:
            if m.get("schema_json"):
                have = {
                    f["name"] for f in json.loads(m["schema_json"])["fields"]
                }
            else:  # pre-schema_json metrics: fall back to simpleString
                have = {
                    c.split(":", 1)[0]
                    for c in m.get("schema", "struct<>")[7:-1].split(",")
                    if c
                }
            missing = [c for c in require_cols if c not in have]
            if missing:
                return f"schema missing required columns: {missing}"
        return None

    def get_or_compute(
        self,
        stage: str,
        compute,
        resume: bool = True,
        inputs: list[str] | None = None,
        require_cols: list[str] | None = None,
        **write_kwargs,
    ) -> DataFrame:
        """Resume point: reuse the stage's checkpoint when present AND
        still valid (same recorded inputs, schema carries
        ``require_cols``); recompute otherwise."""
        if resume and self.exists(stage):
            stale = self._checkpoint_stale(stage, inputs, require_cols)
            if stale is None:
                return self.read(stage)
        return self.write(stage, compute(), inputs=inputs, **write_kwargs)

    def alias(
        self, stage: str, source: str, inputs: list[str] | None = None
    ) -> DataFrame:
        """Register ``stage`` as a metadata-only view of ``source``'s
        data: lineage + metrics are recorded, but no second write (or
        shuffle) of the data happens — the publish step for a stage whose
        physical layout was already produced upstream."""
        import time

        t0 = time.time()
        m = self.metrics(source)
        os.makedirs(self._dir(stage), exist_ok=True)
        metrics = {
            **m,
            "stage": stage,
            "inputs": inputs or [source],
            "alias_of": source,
            "duration_sec": round(time.time() - t0, 3),
        }
        with open(os.path.join(self._dir(stage), "metrics.json"), "w") as f:
            json.dump(metrics, f, indent=1)
        self.lineage[stage] = inputs or [source]
        return self.read(stage)

    def get_or_alias(
        self,
        stage: str,
        source: str,
        resume: bool = True,
        inputs: list[str] | None = None,
    ) -> DataFrame:
        if resume and self.exists(stage):
            if self._checkpoint_stale(stage, inputs) is None:
                return self.read(stage)
        return self.alias(stage, source, inputs=inputs)

    @staticmethod
    def _footer_counts(path: str) -> list[dict]:
        """Row count per data file (= per write partition) from parquet
        footers; file order is the stable sorted relative path.

        Footer reads fan out over a thread pool (pyarrow releases the
        GIL): this runs serially on the driver between stages, so at
        hundreds of files per bucketed stage it is exactly the kind of
        fixed per-stage cost that dilutes scaling efficiency at the
        wider parallelism level."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(os.path.join(root, n))
        files.sort()
        if not files:
            return []
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            counts = list(
                ex.map(lambda f: int(pq.ParquetFile(f).metadata.num_rows), files)
            )
        return [
            {
                "partition": i,
                "file": os.path.relpath(f, path),
                "rows": counts[i],
            }
            for i, f in enumerate(files)
        ]

    def metrics(self, stage: str) -> dict:
        with open(os.path.join(self._dir(stage), "metrics.json")) as f:
            return json.load(f)
