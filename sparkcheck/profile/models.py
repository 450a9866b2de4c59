"""Profile result model.

Driver-side analogs of the reference dataclasses
(profiler/models.py:10-54 ColumnStatistics, :67-99 TableProfile) — these
hold the OUTPUT of one distributed agg pass; they are small (one per
column) and JSON-serializable so a profile can be persisted as the drift
baseline (sparkcheck.drift)."""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from typing import Any


@dataclass
class ColumnStatistics:
    name: str
    data_type: str
    total_count: int = 0
    null_count: int = 0
    non_null_count: int = 0
    distinct_count: int | None = None  # DataSketches HLL (lg_k 14) estimate, or exact
    min_value: Any = None
    max_value: Any = None
    mean: float | None = None
    stddev: float | None = None  # SAMPLE stddev (pandas std default, ddof=1)
    quartiles: list[float] | None = None  # [q25, q50, q75]
    skewness: float | None = None
    kurtosis: float | None = None
    min_length: int | None = None
    max_length: int | None = None
    avg_length: float | None = None
    top_values: list[dict[str, Any]] = field(default_factory=list)
    histogram: list[dict[str, Any]] = field(default_factory=list)
    # Bin edges the histogram was computed over — drift PSI/KS is only
    # meaningful when current counts are re-binned on the BASELINE's
    # edges (compare.py guards on this).
    histogram_lo: float | None = None
    histogram_hi: float | None = None
    patterns: list[dict[str, Any]] = field(default_factory=list)
    # PK-candidate inference (reference enriches profiles with primary
    # keys, profiler/__init__.py:258-269; schema_introspector.py:168-455
    # reads them from the catalog — parquet has no catalog, but the
    # candidate test ndv == non-null ∧ null_count == 0 is free from the
    # stats already computed). Under HLL ndv this is an ESTIMATE (3%
    # tolerance) — confirm with a uniqueness rule before relying on it.
    pk_candidate: bool = False

    @property
    def null_percentage(self) -> float:
        # Against the population total, not a sample (analyzer.py:77-86).
        return 100.0 * self.null_count / self.total_count if self.total_count else 0.0

    @property
    def unique_percentage(self) -> float:
        if not self.non_null_count or self.distinct_count is None:
            return 0.0
        return 100.0 * self.distinct_count / self.non_null_count


@dataclass
class TableProfile:
    table: str
    total_rows: int
    columns: dict[str, ColumnStatistics]
    profiled_at: float = field(default_factory=time.time)

    @property
    def primary_key_candidates(self) -> list[str]:
        """Columns whose profile says every row is distinct and non-null
        (the reference's primary_keys enrichment)."""
        return [name for name, cs in self.columns.items() if cs.pk_candidate]

    def to_dict(self) -> dict[str, Any]:
        d = asdict(self)
        for name, cs in self.columns.items():
            d["columns"][name]["null_percentage"] = cs.null_percentage
            d["columns"][name]["unique_percentage"] = cs.unique_percentage
        return d

    def to_json(self, path: str | None = None) -> str:
        s = json.dumps(self.to_dict(), default=str, indent=2)
        if path:
            with open(path, "w") as f:
                f.write(s)
        return s

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TableProfile":
        cols = {}
        for name, cd in d["columns"].items():
            cd = {k: v for k, v in cd.items() if k not in ("null_percentage", "unique_percentage")}
            cols[name] = ColumnStatistics(**cd)
        return cls(table=d["table"], total_rows=d["total_rows"], columns=cols,
                   profiled_at=d.get("profiled_at", 0.0))

    @classmethod
    def from_json(cls, path: str) -> "TableProfile":
        with open(path) as f:
            return cls.from_dict(json.load(f))
