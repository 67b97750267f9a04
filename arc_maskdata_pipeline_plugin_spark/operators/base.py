"""Stage framework.

Mirrors the reference lifecycle (SURVEY.md §3): config → validated stage
object → ``execute()`` reads ``spark.table(inputView)``, transforms, registers
``outputView``. Errors accumulate as ``StageError`` with the stage index/name,
like Arc's ``Either[List[StageError], PipelineStage]``
(reference: MaskDataTransform.scala:47-85).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class StageError(Exception):
    def __init__(self, index: int, name: str, errors: list[str]):
        self.index = index
        self.name = name
        self.errors = errors
        super().__init__(f"stage {index} '{name}': " + "; ".join(errors))


@dataclass
class PipelineContext:
    spark: SparkSession
    environment: str = "production"
    immutable_views: bool = False
    storage_level: StorageLevel = dc_field(
        default_factory=lambda: StorageLevel.MEMORY_AND_DISK
    )
    # accumulated stage execution details (the reference's stageDetail log map)
    details: list[dict] = dc_field(default_factory=list)

    def register_view(self, df: DataFrame, name: str) -> None:
        if self.immutable_views:
            df.createTempView(name)  # raises if the view exists
        else:
            df.createOrReplaceTempView(name)


class PipelineStage:
    """Base stage. Subclasses set ``stage_type`` and implement ``run``."""

    stage_type: str = "?"

    def __init__(
        self,
        name: str,
        description: str | None = None,
        environments: list[str] | None = None,
    ):
        self.name = name
        self.description = description
        self.environments = environments or []
        self.stage_detail: dict = {"type": self.stage_type, "name": name}

    def applicable(self, environment: str) -> bool:
        return not self.environments or environment in self.environments

    def run(self, ctx: PipelineContext) -> DataFrame | None:
        raise NotImplementedError

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        start = time.monotonic()
        df = self.run(ctx)
        self.stage_detail["duration_ms"] = int((time.monotonic() - start) * 1000)
        ctx.details.append(self.stage_detail)
        return df

    def _instrument(self, ctx: PipelineContext, df: DataFrame, persist: bool) -> None:
        """Batch-only instrumentation + optional persist/count — the reference
        skips this for streaming DataFrames (MaskDataTransform.scala:158-169)."""
        if df.isStreaming:
            return
        self.stage_detail["outputColumns"] = len(df.schema)
        if persist:
            t0 = time.monotonic()
            df.persist(ctx.storage_level)
            count = df.count()
            elapsed_ms = (time.monotonic() - t0) * 1000
            self.stage_detail["records"] = count
            self.stage_detail["rate"] = int(elapsed_ms / count) if count else 0


def format_options(stage: PipelineStage, given: dict) -> dict:
    """Resolve a format stage's ``options`` table (config key → (Spark
    option, default)) against the config keys ``given``; options whose value
    is ``None`` are left out. Unknown keys are rejected like any other
    unexpected keyword argument."""
    unknown = sorted(set(given) - set(stage.options))
    if unknown:
        raise TypeError(
            f"{type(stage).__name__}() got unexpected keyword argument(s) "
            + ", ".join(f"'{k}'" for k in unknown)
        )
    opts = {option: given.get(key, default) for key, (option, default) in stage.options.items()}
    return {option: value for option, value in opts.items() if value is not None}
