"""Sink stages. Thin wrappers over ``df.write``: each file-format sink is a
declaration over :class:`Load` (``stage_type``, Spark ``format``,
``options`` table).

At scale: ``partition_by`` maps to hive-style directory partitioning (the
unit of partition pruning for downstream readers); ``num_partitions``
controls output file count (repartition before write — at 100 TB, small-file
storms are as fatal as skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .base import PipelineContext, PipelineStage, format_options


class Load(PipelineStage):
    """``input_view`` → optional repartition → ``df.write`` of ``format``.

    ``options`` maps each format-specific config key to the writer option it
    sets and that option's default; a ``None`` value leaves the option to
    Spark. ``mode``, ``partition_by`` and ``num_partitions`` apply to every
    format."""

    format: str
    options: dict[str, tuple[str, object]] = {}

    def __init__(
        self,
        name: str,
        input_view: str,
        output_uri: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        num_partitions: int | None = None,
        description: str | None = None,
        environments: list[str] | None = None,
        **options,
    ):
        super().__init__(name, description, environments)
        self.input_view = input_view
        self.output_uri = output_uri
        self.mode = mode
        self.partition_by = partition_by or []
        self.num_partitions = num_partitions
        self.writer_options = format_options(self, options)

    def run(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.input_view)
        out = df.repartition(self.num_partitions) if self.num_partitions else df
        writer = out.write.mode(self.mode).format(self.format).options(**self.writer_options)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.save(self.output_uri)
        self.stage_detail.update(inputView=self.input_view, outputURI=self.output_uri)
        return df


class ParquetLoad(Load):
    stage_type = "ParquetLoad"
    format = "parquet"


class DelimitedLoad(Load):
    stage_type = "DelimitedLoad"
    format = "csv"
    options = {"header": ("header", True), "delimiter": ("sep", ",")}


class JSONLoad(Load):
    stage_type = "JSONLoad"
    format = "json"


class ORCLoad(Load):
    stage_type = "ORCLoad"
    format = "orc"


class XMLLoad(Load):
    """XML sink — built into Spark since 4.0 (``rowTag`` element per row)."""

    stage_type = "XMLLoad"
    format = "xml"
    options = {"row_tag": ("rowTag", "row"), "root_tag": ("rootTag", "rows")}


class TextLoad(Load):
    """Single-string-column text sink (one line per row)."""

    stage_type = "TextLoad"
    format = "text"


class CompactParquet(PipelineStage):
    """Small-files compaction: rewrite a parquet dataset into ~target-sized
    files.

    At 100 TB, streaming sinks and over-parallel writers leave millions of
    KB-sized files; every downstream scan then pays per-file open/footer cost
    and the driver pays listing memory. Compaction = read → repartition to
    ceil(bytes / target) → rewrite. Partitioned layouts are preserved by
    repartitioning on the partition columns so each output directory gets
    coherent files.
    """

    stage_type = "CompactParquet"

    def __init__(
        self,
        name: str,
        input_uri: str,
        output_uri: str,
        target_file_mb: int = 512,
        partition_by: list[str] | None = None,
        **kw,
    ):
        super().__init__(name, **kw)
        self.input_uri = input_uri
        self.output_uri = output_uri
        self.target_file_mb = target_file_mb
        self.partition_by = partition_by or []

    def run(self, ctx: PipelineContext) -> DataFrame:
        import math

        spark = ctx.spark
        df = spark.read.parquet(self.input_uri)
        # size the output from the source bytes (parquet-compressed), not row
        # counts — compression ratio varies too much across schemas; Catalyst
        # already computed the relation size for this scan
        total_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        n_files = max(math.ceil(total_bytes / (self.target_file_mb * 1024 * 1024)), 1)
        out = (
            df.repartition(n_files, *self.partition_by)
            if self.partition_by
            else df.repartition(n_files)
        )
        writer = out.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.output_uri)
        self.stage_detail.update(
            inputURI=self.input_uri,
            outputURI=self.output_uri,
            estimatedBytes=total_bytes,
            targetFiles=n_files,
        )
        return df
