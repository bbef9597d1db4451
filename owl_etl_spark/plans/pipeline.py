"""Composable pipeline runner: a pipeline is an ordered list of
``DataFrame -> DataFrame`` steps.

Replaces the reference's script-per-stage orchestration
(extract/transform/load drivers with ThreadPoolExecutor fan-out —
SURVEY.md §3) with plan composition: Catalyst fuses all steps into one
physical plan unless a step explicitly materializes (medallion
persistence is a sink decision, not an orchestration one).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

Step = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """Ordered composition of named transform steps."""

    steps: list[tuple[str, Step]] = field(default_factory=list)

    def then(self, name: str, step: Step) -> "Pipeline":
        self.steps.append((name, step))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        for _, step in self.steps:
            df = step(df)
        return df
