"""CSV ingestion with the reference's mess-handling semantics (S1–S6).

Reference behavior reproduced (lib/voter_file/csv_driver/csv_file.rb):
- custom delimiter (default ','), custom quote char (default '^'),
  header row, Latin-1 encoding option (csv_file.rb:13-15, :143-152)
- optional whole-file regex strip preprocessor (csv_file.rb:30-38,
  `sed -E 's/expr//g'`)
- malformed-row removal: rows whose field count differs from the header
  or that fail CSV parsing are dropped, with a count retained for
  auditing (csv_file.rb:40-63; count used by csv_audit.rb:123-133)
- all-TEXT staging schema derived from the header (csv_file.rb:154-171)

Spark-first design: past the one-line header sniff, the file is read
ONCE as a distributed scan of raw lines. Spark's csv reader drops each
file's header by position (`header=true`), the regex strip is a column
expression before the `from_csv` re-parse (no second pass over the file
on disk), and malformed handling uses PERMISSIVE mode + corrupt-record
accounting, so the dropped-row count (A7) needs no extra scan of the
parse.
"""

from __future__ import annotations

import csv
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from voter_gateway_spark.session import ckpt_lazy, reuse


@dataclass
class CSVSource:
    path: str
    delimiter: str = ","
    quote: str = "^"  # reference default quote char (csv_file.rb:14)
    header: bool = True
    encoding: str = "UTF-8"  # reference uses LATIN1 for voter files
    remove_expression: str | None = None  # S5 regex strip (whole line, global)
    remove_malformed: bool = False  # S6

    _corrupt_col: str = field(default="_corrupt_record", repr=False)
    _malformed_pair: tuple[int, int] | None = field(default=None, repr=False)

    def _raw_lines(self, spark: SparkSession, header: bool) -> DataFrame:
        """Raw non-blank lines decoded with `encoding`, one string column
        `value`. NOT spark.read.text: the text source is UTF-8-only and
        silently ignores the encoding option, so a Latin-1 voter file
        (the reference's stated case) would decode every non-ASCII byte
        as U+FFFD. The csv reader DOES honor encoding — read with a
        separator that cannot occur in text (SOH) and quoting disabled,
        and each line arrives intact as one field.

        `header=True` drops each file's first non-blank line by
        position, never by value, so a data row identical to the header
        survives. Spark logs a header-conformance WARN per file then,
        because the one-column schema never matches the header."""
        return (
            spark.read.option("sep", "\x01")
            .option("quote", "")
            .option("header", str(header).lower())
            .option("encoding", self.encoding)
            .schema("value STRING")
            .csv(self.path)
        )

    def _first_fields(self, spark: SparkSession) -> list[str]:
        """The first non-blank line, regex-stripped (S5) and parsed with
        the csv dialect; [] for an empty file. One `limit(1)` job, run
        once per Job while the file is unchanged (`session.reuse`)."""
        lines = self._raw_lines(spark, header=False)
        key = ("CSVSource._first_fields", self.remove_expression, self.delimiter, self.quote)
        return reuse([lines], key, lambda: self._parse_first(lines))

    def _parse_first(self, lines: DataFrame) -> list[str]:
        first = lines.limit(1).collect()
        if not first:
            return []
        line = first[0][0]
        if self.remove_expression:
            line = re.sub(self.remove_expression, "", line)
        reader = csv.reader(
            io.StringIO(line), delimiter=self.delimiter, quotechar=self.quote
        )
        return next(reader)

    def headers(self, spark: SparkSession) -> list[str]:
        """S3 header sniffing — read only the first row."""
        return [h.strip() for h in self._first_fields(spark)]

    def read(self, spark: SparkSession) -> DataFrame:
        """Load to an all-string DataFrame (S1/S4), applying the regex
        strip (S5) and malformed-row policy (S6).

        Returns a DataFrame with exactly the header-derived string
        columns (`_c0.._cN` when `header=False`). With neither a regex
        strip nor `remove_malformed` it is Spark's own csv read. Otherwise
        the column names come from a one-line sniff (`from_csv` needs
        them at plan time), each file's header line is dropped by the
        reader, and every line is re-parsed with `from_csv`. With
        `remove_malformed` the parse is checkpointed (lazily: inside the
        first job that reads it), malformed rows are dropped, and their
        count is available via `malformed_count`. The checkpoint belongs
        to this read: a later read of a rewritten file parses the new
        contents. Inside a Job's memo (`session.reuse`) a later read of
        the same unchanged file with the same options is handed this
        parse back.
        """
        # escape = quote on both paths: a doubled quote char inside a
        # quoted field is one literal quote char and a backslash is an
        # ordinary char, as in COPY ... (FORMAT CSV), whose ESCAPE
        # defaults to QUOTE, and in _first_fields' csv.reader
        if self.remove_expression is None and not self.remove_malformed:
            return (
                spark.read.option("sep", self.delimiter)
                .option("quote", self.quote)
                .option("escape", self.quote)
                .option("header", str(self.header).lower())
                .option("encoding", self.encoding)
                .option("inferSchema", "false")
                .csv(self.path)
            )

        if self.header:
            cols = self.headers(spark)
        else:
            # header=False: the first line is DATA — deriving column
            # names from it would turn field values into a (possibly
            # duplicate-named) schema; synthesize _c0.._cN exactly like
            # the fast csv path, sizing N from the first line's fields
            cols = [f"_c{i}" for i in range(len(self._first_fields(spark)))]
        schema_ddl = ", ".join(f"`{c}` STRING" for c in cols)
        lines = self._raw_lines(spark, header=self.header)
        value = F.col("value")
        if self.remove_expression:
            value = F.regexp_replace(value, self.remove_expression, "")

        opts = {
            "sep": self.delimiter,
            "quote": self.quote,
            "escape": self.quote,
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": self._corrupt_col,
        }
        # The reference drops exactly the rows whose RAW field count
        # differs from the header's (csv_file.rb:40-63) — a trailing
        # empty field is a present field, so 'a,b,' with a 3-column
        # header is well-formed. Count delimiters outside quoted
        # segments on the raw line and compare to len(cols)-1; the
        # corrupt-record flag still catches quote/parse failures.
        qe = re.escape(self.quote)
        unquoted = F.regexp_replace(value, f"{qe}[^{qe}]*{qe}", "")
        n_delims = F.length(unquoted) - F.length(
            F.replace(unquoted, F.lit(self.delimiter), F.lit(""))
        )
        staged = lines.select(
            value.alias("_raw"),
            (n_delims / len(self.delimiter)).cast("int").alias("_n_delims"),
        )
        parsed = staged.select(
            F.from_csv(
                F.col("_raw"), f"{schema_ddl}, `{self._corrupt_col}` STRING", opts
            ).alias("r"),
            "_n_delims",
        ).select("r.*", "_n_delims")
        malformed = F.col(self._corrupt_col).isNotNull() | (
            F.col("_n_delims") != F.lit(len(cols) - 1)
        )
        flagged = parsed.withColumn("_malformed", malformed).drop("_n_delims")
        if self.remove_malformed:
            flagged = reuse([flagged], "CSVSource.read", lambda: ckpt_lazy(flagged))
            self._flagged = flagged
            self._spark = spark
            self._malformed_pair = None
            flagged = flagged.where(~F.col("_malformed"))
        return flagged.drop(self._corrupt_col, "_malformed")

    def malformed_count(self) -> int:
        """A7 malformed-row count (reference: wc -l diff, csv_audit.rb:123-133).

        The sum of two counts, taken together by one union-and-aggregate
        query on the first call and kept on the instance until the
        next read():
        - flagged rows of the checkpointed parse (field-count or parse
          failures);
        - blank physical lines. Spark's csv reader (used by _raw_lines
          for its encoding support) drops them before the field-count
          check, but the reference's line-count-minus-loaded-rows
          arithmetic counts each as malformed. They are recovered as a
          physical line count (spark.read.text keeps blank lines)
          minus the csv-visible line count. The text source decodes
          UTF-8 only, which cannot change a line COUNT as long as '\\n'
          encodes to the single byte 0x0A — checked below, raising for
          UTF-16/UTF-32/EBCDIC, where that arithmetic would be wrong.
        """
        if not hasattr(self, "_flagged"):
            raise ValueError("read() with remove_malformed=True first")
        if self._malformed_pair is None:
            # precise newline-byte check instead of an encoding-name
            # allowlist (which wrongly rejected 0x0A-safe single-byte
            # codecs like cp437/koi8-r and ASCII-compatible multi-byte
            # ones like shift_jis/gbk, whose continuation-byte ranges
            # exclude 0x0A by design): '\n' must encode to exactly the
            # byte 0x0A. UTF-16/UTF-32 (multi-byte '\n', 0x0A inside
            # code units) and EBCDIC ('\n' -> 0x15/0x25) fail it.
            if "\n".encode(self.encoding) != b"\n":
                raise ValueError(
                    f"malformed_count with encoding {self.encoding!r}: "
                    "blank-line recovery needs an encoding where '\\n' "
                    "is the single byte 0x0A; UTF-16/UTF-32/EBCDIC "
                    "line counts from the byte-oriented text source "
                    "would be wrong"
                )
            parts = [
                self._spark.read.text(self.path),
                self._raw_lines(self._spark, header=False),
                self._flagged.where(F.col("_malformed")),
            ]
            tagged = [p.select(F.lit(i).alias("_k")) for i, p in enumerate(parts)]
            physical, seen, flagged = (
                tagged[0].unionByName(tagged[1]).unionByName(tagged[2])
                .agg(*[F.count(F.when(F.col("_k") == i, 1)) for i in range(3)])
                .collect()[0]
            )
            self._malformed_pair = (flagged, physical - seen)
        return sum(self._malformed_pair)
