"""Source stages.

The reference's tests depend on the host framework's ``DelimitedExtract``
(CSV with header → all-string columns, reference:
MaskDataTransformSuite.scala:67-77); Parquet/JSON are the other formats the
host Arc framework provides. All are thin wrappers over ``spark.read`` so
Catalyst/DSv2 handle pushdown, pruning, and split planning — at 100 TB the
scan IS the query plan's foundation, so nothing custom sits between the
format and Spark.

Each file-format source is a declaration over :class:`Extract`: its
``stage_type``, the Spark ``format`` and its ``options`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .base import PipelineContext, PipelineStage, format_options


class Extract(PipelineStage):
    """``spark.read`` (or ``readStream``) of ``format`` → optional
    repartition → ``output_view``.

    ``options`` maps each format-specific config key to the reader option it
    sets and that option's default; a ``None`` value leaves the option to
    Spark. ``schema``, ``num_partitions`` and ``streaming`` apply to every
    format."""

    format: str
    options: dict[str, tuple[str, object]] = {}

    def __init__(
        self,
        name: str,
        input_uri: str,
        output_view: str,
        schema=None,
        num_partitions: int | None = None,
        streaming: bool = False,
        description: str | None = None,
        environments: list[str] | None = None,
        **options,
    ):
        super().__init__(name, description, environments)
        self.input_uri = input_uri
        self.output_view = output_view
        self.schema = schema
        self.num_partitions = num_partitions
        self.streaming = streaming
        self.reader_options = format_options(self, options)

    def load(self, reader) -> DataFrame:
        return reader.load(self.input_uri)

    def run(self, ctx: PipelineContext) -> DataFrame:
        reader = ctx.spark.readStream if self.streaming else ctx.spark.read
        reader = reader.format(self.format).options(**self.reader_options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        df = self.load(reader)
        if self.num_partitions:
            df = df.repartition(self.num_partitions)
        ctx.register_view(df, self.output_view)
        self.stage_detail.update(inputURI=self.input_uri, outputView=self.output_view)
        return df


class DelimitedExtract(Extract):
    stage_type = "DelimitedExtract"
    format = "csv"
    options = {
        "header": ("header", True),
        "delimiter": ("sep", ","),
        "quote": ("quote", '"'),
        "multi_line": ("multiLine", False),
        # ignored by Spark when a schema is given
        "infer_schema": ("inferSchema", None),
    }


class ParquetExtract(Extract):
    stage_type = "ParquetExtract"
    format = "parquet"
    # schema drift is a fact of life for a years-old 100 TB dataset;
    # mergeSchema unions footers across files (costlier listing, so opt-in)
    options = {"merge_schema": ("mergeSchema", None)}


class JSONExtract(Extract):
    stage_type = "JSONExtract"
    format = "json"
    options = {"multi_line": ("multiLine", False)}


class ORCExtract(Extract):
    stage_type = "ORCExtract"
    format = "orc"


class TextExtract(Extract):
    """Line-per-row (or whole-file-per-row) text source.

    ``whole_text=True`` gives one row per file — the right granularity for
    document-corpus ingestion where a file IS a document; line mode splits at
    newlines and is splittable, so a 100 TB corpus parallelizes by block.
    """

    stage_type = "TextExtract"
    format = "text"
    options = {"whole_text": ("wholetext", False), "line_sep": ("lineSep", None)}


class BinaryFileExtract(Extract):
    """Opaque-binary source for multimodal ingestion (images/audio/video).

    Spark's built-in ``binaryFile`` format yields
    ``(path, modificationTime, length, content: binary)`` — the schema the
    multimodal operators (operators/multimodal.py) expect as input. At scale
    the directory listing is distributed, each file is one row, and
    ``pathGlobFilter`` prunes by extension server-side; pair with
    ``spark.sql.files.maxPartitionBytes`` so a few giant media files don't
    serialize into one task.
    """

    stage_type = "BinaryFileExtract"
    format = "binaryFile"
    options = {
        "path_glob_filter": ("pathGlobFilter", None),
        "recursive": ("recursiveFileLookup", None),
    }


class AvroExtract(Extract):
    """Avro source. Spark ships the `avro` format in the external
    spark-avro module; when the jar is absent, fail with a clear message
    instead of Spark's ClassNotFound chain."""

    stage_type = "AvroExtract"
    format = "avro"

    def load(self, reader) -> DataFrame:
        try:
            return super().load(reader)
        except Exception as exc:  # noqa: BLE001
            raise RuntimeError(
                "AvroExtract requires the spark-avro module on the classpath "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
            ) from exc


class XMLExtract(Extract):
    """XML source — built into Spark since 4.0 (no external spark-xml jar).

    ``row_tag`` selects the repeating element that becomes one row; schema
    inference walks the documents unless an explicit schema is given (always
    give one at scale — inference is an extra full pass over 100 TB)."""

    stage_type = "XMLExtract"
    format = "xml"
    options = {"row_tag": ("rowTag", "row")}


class JDBCExtract(PipelineStage):
    """JDBC source. ``partition_column``/``num_partitions``/bounds map to
    Spark's parallel JDBC reads — without them the whole table funnels
    through ONE connection, which at 100 TB is not a plan."""

    stage_type = "JDBCExtract"

    def __init__(
        self,
        name: str,
        jdbc_url: str,
        table: str,
        output_view: str,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        num_partitions: int | None = None,
        fetch_size: int = 10000,
        properties: dict | None = None,
        **kw,
    ):
        super().__init__(name, **kw)
        self.jdbc_url = jdbc_url
        self.table = table
        self.output_view = output_view
        self.partition_column = partition_column
        self.lower_bound = lower_bound
        self.upper_bound = upper_bound
        self.num_partitions = num_partitions
        self.fetch_size = fetch_size
        self.properties = properties or {}

    def run(self, ctx: PipelineContext) -> DataFrame:
        reader = (
            ctx.spark.read.format("jdbc")
            .option("url", self.jdbc_url)
            .option("dbtable", self.table)
            .option("fetchsize", self.fetch_size)
        )
        if self.partition_column is not None:
            reader = (
                reader.option("partitionColumn", self.partition_column)
                .option("lowerBound", self.lower_bound)
                .option("upperBound", self.upper_bound)
                .option("numPartitions", self.num_partitions or 8)
            )
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        df = reader.load()
        ctx.register_view(df, self.output_view)
        self.stage_detail.update(table=self.table, outputView=self.output_view)
        return df
