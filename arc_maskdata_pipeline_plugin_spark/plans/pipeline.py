"""Pipeline runner — config → validated stages → sequential execution.

Reference lifecycle (SURVEY.md §3): ``ArcPipeline.parseConfig`` + ``ARC.run``:
parse the config, look up each stage plugin by ``type``, validate (errors
accumulate), filter stages by environment, execute sequentially on the
driver, return the last stage's DataFrame. Stage configs use the reference's
camelCase key names (``inputView``, ``outputView``, ``persist``, …).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .. import operators
from ..operators import PipelineContext, PipelineStage, StageError

# every stage class ``operators`` exports, keyed by its config ``type``
STAGE_TYPES: dict[str, type[PipelineStage]] = {
    cls.stage_type: cls
    for cls in vars(operators).values()
    if isinstance(cls, type) and issubclass(cls, PipelineStage) and cls is not PipelineStage
}

# camelCase → snake_case; an acronym stays one word (inputURI → input_uri)
_CAMEL = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")


def _snake(key: str) -> str:
    return _CAMEL.sub("_", key).lower()


def stage_from_config(index: int, conf: dict) -> PipelineStage:
    conf = dict(conf)
    stage_type = conf.pop("type", None)
    name = conf.pop("name", "unnamed stage")
    errors = []
    if stage_type is None:
        errors.append("missing 'type'")
    elif stage_type not in STAGE_TYPES:
        errors.append(f"unknown stage type '{stage_type}'")
    if errors:
        raise StageError(index, name, errors)
    kwargs = {_snake(k): v for k, v in conf.items()}
    try:
        return STAGE_TYPES[stage_type](name=name, **kwargs)
    except (TypeError, ValueError) as e:
        raise StageError(index, name, [str(e)]) from e


class Pipeline:
    def __init__(self, stages: list[PipelineStage]):
        self.stages = stages

    @classmethod
    def from_config(cls, config: str | dict | list) -> Pipeline:
        """Accepts a HOCON or JSON string (Arc configs are HOCON — the
        reference's own test configs parse here, see tests/test_hocon.py), a
        dict with a ``stages`` list, or the list itself. Validation errors
        accumulate across stages before raising."""
        if isinstance(config, str):
            try:
                config = json.loads(config)
            except json.JSONDecodeError:
                from .hocon import loads as hocon_loads

                config = hocon_loads(config)
        if isinstance(config, dict):
            config = config.get("stages", [])
        stages, errors = [], []
        for i, conf in enumerate(config):
            try:
                stages.append(stage_from_config(i, conf))
            except StageError as e:
                errors.append(e)
        if errors:
            # the first stage's prefix comes from the raised error itself
            first = errors[0]
            raise StageError(
                first.index, first.name, first.errors + [str(e) for e in errors[1:]]
            )
        return cls(stages)

    def run(self, ctx: PipelineContext) -> DataFrame | None:
        last = None
        for stage in self.stages:
            if not stage.applicable(ctx.environment):
                continue
            result = stage.execute(ctx)
            if result is not None:
                last = result
        return last
