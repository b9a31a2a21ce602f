"""JSONL (newline-delimited JSON) ingestion — the lingua franca of
LLM corpus interchange (one document object per line), with the same
malformed-row accounting contract as CSVSource.

Beyond-reference source (the reference ingests only delimited files,
csv_file.rb): web-scale text corpora ship as JSONL shards, so a
training-data pipeline needs this boundary first-class. Design mirrors
CSVSource (S1/S4/S6 semantics transposed):

- explicit schema (declared columns, all parse failures NULL-safe) or
  one-pass sampled inference
- PERMISSIVE parse + corrupt-record accounting: a syntactically bad
  line never kills the load; the dropped count is auditable
  (malformed_count, the A7 contract)
- nested payloads stay queryable (struct/array columns) — flattening
  is a projection decision, not an ingest decision

Scale posture: a JSONL scan is a distributed text read; schema
inference samples (`samplingRatio`) instead of scanning twice at
100 TB. Explicit schemas skip inference entirely — the production
path, same posture as the reference's declared staging schemas.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from voter_gateway_spark.session import ckpt_lazy


@dataclass
class JSONLSource:
    path: str
    schema: str | None = None      # DDL string; None → sampled inference
    sampling_ratio: float = 1.0    # inference sample fraction
    multiline: bool = False        # True for pretty-printed JSON arrays
    remove_malformed: bool = False

    _corrupt_col: str = field(default="_corrupt_record", repr=False)

    def read(self, spark: SparkSession) -> DataFrame:
        reader = (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", self._corrupt_col)
            .option("multiLine", str(self.multiline).lower())
        )
        if self.schema is not None:
            # corrupt-record column must be declared in an explicit schema
            reader = reader.schema(f"{self.schema}, `{self._corrupt_col}` STRING")
        else:
            # infer first, then ALWAYS read with (inferred + corrupt
            # column): when samplingRatio < 1 misses every bad line,
            # inference omits _corrupt_record and a plain inferred read
            # would surface bad lines as all-NULL data rows with
            # malformed_count() == 0 — breaking the A7 auditable-drop
            # contract. Declaring the column makes flagging independent
            # of what the sample happened to see.
            from pyspark.sql.types import StringType, StructField, StructType

            inferred = (
                spark.read.option("samplingRatio", str(self.sampling_ratio))
                .option("multiLine", str(self.multiline).lower())
                .json(self.path)
                .schema
            )
            fields = [f for f in inferred.fields if f.name != self._corrupt_col]
            reader = reader.schema(
                StructType(fields + [StructField(self._corrupt_col, StringType())])
            )
        df = reader.json(self.path)
        flagged = df.withColumn(
            "_malformed", F.col(self._corrupt_col).isNotNull()
        )
        if self.remove_malformed:
            # a checkpoint, not a cache: it belongs to this read, where a
            # cache would also serve a later read of the same path after
            # the file was rewritten. A re-read supersedes the previous
            # parse (malformed_count always reflects the LATEST read)
            flagged = ckpt_lazy(flagged)
            self._flagged = flagged
            return flagged.where(~F.col("_malformed")).drop(
                self._corrupt_col, "_malformed"
            )
        return flagged.drop("_malformed")

    def malformed_count(self) -> int:
        """Dropped-line count for auditing (A7 contract, CSVSource parity).
        Reflects the most recent read()."""
        if getattr(self, "_flagged", None) is None:
            raise ValueError("read() with remove_malformed=True first")
        return self._flagged.where(F.col("_malformed")).count()

    def release(self) -> None:
        """Drop the checkpointed parse backing malformed_count(); Spark's
        cleaner frees its blocks once nothing references it. Call when
        done auditing; safe to call repeatedly or before read()."""
        self._flagged = None
