"""Pipeline counters via ``df.observe`` — the reference's HandlerData
statistics (src/handler.rs:84-117, summary 232-324) without extra passes.

``ElementCounter`` at Input/Accepted/Output stages (src/handler/info.rs:
10-43) maps to one Observation per stage attached to the flowing DataFrame;
Spark evaluates them during the single action, exactly like the reference's
inline counters."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class PipelineMetrics:
    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def count_stage(self, df: DataFrame, stage: str) -> DataFrame:
        """ElementCounter analog: rows seen at this point of the plan."""
        obs = Observation(stage)
        self._obs[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def observe(self, df: DataFrame, name: str, *exprs) -> DataFrame:
        obs = Observation(name)
        self._obs[name] = obs
        return df.observe(obs, *exprs)

    def get(self) -> dict[str, dict]:
        """Call after an action has materialized the plan."""
        return {name: obs.get for name, obs in self._obs.items()}

    def summary(self) -> str:
        """Reference-style run summary (handler.rs:232-324 shape)."""
        lines = []
        for name, vals in self.get().items():
            kv = " ".join(f"{k}={v}" for k, v in vals.items())
            lines.append(f"{name}: {kv}")
        return "\n".join(lines)
