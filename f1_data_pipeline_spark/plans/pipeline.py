"""Pipeline orchestration (SURVEY.md §2.J; reference config.py + main.py).

A `PipelineSpec` mirrors the reference's `TableConfig` (config.py:21-29):
name, load strategy, dependencies, and mode membership. The runner keeps the
reference's behaviors — dependency-ordered execution, per-table status
accounting {success, failed, skipped}, watermark gating, shared-extract
reuse (the ZIP fetched once, main.py:102-106) — re-expressed over Spark
DataFrames and the Parquet watermark store.

The reference's known registry bug (race_result named "sprint_result",
config.py:117) is *not* replicated (SURVEY.md §7.6).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from f1_data_pipeline_spark.operators import sinks
from f1_data_pipeline_spark.plans.incremental import WatermarkStore
from f1_data_pipeline_spark.schemas import NATURAL_KEYS

# strategy values mirror config.py: "full_refresh" dims (insert-ignore) vs
# "incremental" facts (merge-upsert).
FULL_REFRESH = "full_refresh"
INCREMENTAL = "incremental"


@dataclass
class PipelineSpec:
    """TableConfig analog (config.py:21-29)."""

    name: str
    strategy: str  # FULL_REFRESH | INCREMENTAL
    # extract(spark, **kwargs) -> DataFrame of this table's schema
    extract: Callable[..., DataFrame]
    dependencies: tuple[str, ...] = ()
    keys: Sequence[str] | None = None  # defaults to schemas.NATURAL_KEYS

    def resolved_keys(self) -> list[str]:
        return list(self.keys or NATURAL_KEYS[self.name])


# Load modes (config.py:160-164): the dim/fact split drives scheduling.
PRE_SEASON_TABLES = (
    "season", "circuit", "round", "session", "driver", "team", "team_driver",
)
POST_RACE_TABLES = (
    "race_result", "qualifying_result", "sprint_result",
    "driver_championship", "team_championship",
)
LOAD_MODES: dict[str, tuple[str, ...]] = {
    "pre_season": PRE_SEASON_TABLES,
    "post_race": POST_RACE_TABLES,
    "all": PRE_SEASON_TABLES + POST_RACE_TABLES,
}


@dataclass
class TableResult:
    table: str
    status: str  # success | failed | skipped
    records: int = 0
    seconds: float = 0.0
    error: str | None = None


@dataclass
class Pipeline:
    """F1Pipeline analog (main.py:61-127): ordered run loop with per-table
    status accounting and watermark bookkeeping."""

    spark: SparkSession
    warehouse_dir: str
    specs: dict[str, PipelineSpec] = field(default_factory=dict)

    def __post_init__(self):
        self.store = WatermarkStore(self.spark, f"{self.warehouse_dir}/_meta")

    def register(self, spec: PipelineSpec) -> None:
        self.specs[spec.name] = spec

    def table_path(self, name: str) -> str:
        return f"{self.warehouse_dir}/{name}"

    def _ordered(self, tables: Sequence[str]) -> list[str]:
        """Dependency-respecting order; validates the hand-ordered list the
        way the reference's registry implies (config.py:144-157)."""
        done: list[str] = []
        pending = [t for t in tables if t in self.specs]
        while pending:
            progressed = False
            for t in list(pending):
                deps = self.specs[t].dependencies
                if all(d in done or d not in self.specs or d not in pending for d in deps):
                    done.append(t)
                    pending.remove(t)
                    progressed = True
            if not progressed:
                raise ValueError(f"dependency cycle among {pending}")
        return done

    def _process_table(
        self, name: str, gate: Callable[[str], bool] | None, **kwargs
    ) -> TableResult:
        """main.py:169-237 analog: gate → extract → load → watermark."""
        spec = self.specs[name]
        if gate is not None and not gate(name):
            return TableResult(name, "skipped")
        t0 = time.time()
        try:
            df = spec.extract(self.spark, **kwargs)
            keys = spec.resolved_keys()
            path = self.table_path(name)
            if spec.strategy == FULL_REFRESH:
                n = sinks.insert_ignore(self.spark, df, path, keys)
            else:
                n = sinks.merge_upsert(self.spark, df, path, keys)
            dt_s = time.time() - t0
            self.store.complete(
                name,
                n,
                season_year=kwargs.get("year"),
                round_number=kwargs.get("round_num"),
                duration_seconds=int(dt_s),
            )
            return TableResult(name, "success", records=n, seconds=dt_s)
        except Exception as exc:  # per-table failure isolation (main.py:114-119)
            dt_s = time.time() - t0
            self.store.complete(
                name, 0, status="failed", error_message=str(exc)[:500],
                duration_seconds=int(dt_s),
            )
            return TableResult(name, "failed", seconds=dt_s, error=str(exc))

    def run_mode(
        self,
        mode: str,
        gate: Callable[[str], bool] | None = None,
        **kwargs,
    ) -> list[TableResult]:
        """Run all tables of a mode in dependency order; a failed dependency
        skips its dependents (stricter than the reference, which barrels on)."""
        results: list[TableResult] = []
        failed: set[str] = set()
        for t in self._ordered(LOAD_MODES[mode]):
            if any(d in failed for d in self.specs[t].dependencies):
                results.append(TableResult(t, "skipped", error="dependency failed"))
                continue
            res = self._process_table(t, gate, **kwargs)
            if res.status == "failed":
                failed.add(t)
            results.append(res)
        return results

    def run_table(self, name: str, **kwargs) -> TableResult:
        """Single-table run — bypasses gates, force-like (main.py:129-167)."""
        return self._process_table(name, gate=None, **kwargs)

    @staticmethod
    def summarize(results: list[TableResult]) -> dict[str, int]:
        """Per-mode rollup (main.py:92-122 / §2.D D5)."""
        out = {"success": 0, "failed": 0, "skipped": 0}
        for r in results:
            out[r.status] += 1
        return out
