"""ValidationEngine — the driver that runs a RuleSet over tables.

Execution shape (vs the reference's per-rule thread pool,
business_rules/engine.py:615-697):

1. plan-time checks (missing columns → synthetic failures, mirrors
   field_validator/__init__.py:300-316)
2. topo-sort rules (scheduler), apply severity gating / fail_fast
3. FUSE all row-predicate rules per table into ONE agg pass
   (sparkcheck.compile.fused_agg) — the reference's "rule batching"
   upgraded to a single scan
4. uniqueness / referential rules run as their dedicated join jobs —
   submitted CONCURRENTLY per dependency wave (futures + a FAIR
   scheduler pool, ruleset.max_concurrent driver threads), so
   independent small join jobs overlap their scans instead of running
   one .collect() at a time; outcomes stay in topo order
5. SqlRule runs via spark.sql with the reference's violation-row
   contract (business_rules/engine.py:516-574): each returned row is one
   violation; recognized columns violation_count / message / table_name /
   column_name; other columns → sample_values; rows with
   violation_count<=0 and no samples count as passing
6. thresholds (engine.py:429-452): a rule passes when violations ==
   expected_violations (if set) or violations <= max_violations
7. per-rule wall time + rows/s metrics in every outcome
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from sparkcheck.compile import plan_time_check, summary_df, violation_rows
from sparkcheck.integrity import (
    duplicate_violation_rows,
    orphan_summary,
    uniqueness_summary,
)
from sparkcheck.rules.models import (
    CompletenessRule,
    FieldRule,
    ReferentialIntegrityRule,
    Rule,
    RuleSet,
    Severity,
    SqlRule,
    UniqueRule,
)
from sparkcheck.run.scheduler import topo_sort


@dataclass
class RuleOutcome:
    rule_id: str
    table: str
    column: str
    passed: bool
    violations: int
    evaluated: int
    total_rows: int
    severity: str = Severity.ERROR.value
    skipped: bool = False
    message: str = ""
    sample_values: list[Any] = field(default_factory=list)
    elapsed_sec: float = 0.0
    # formatted physical plan, captured for non-fused rule jobs when the
    # engine runs with capture_plans=True (input to run.analyze smells)
    plan: str = ""

    @property
    def rows_per_sec(self) -> float:
        return self.total_rows / self.elapsed_sec if self.elapsed_sec > 0 else 0.0


@dataclass
class ValidationReport:
    ruleset: str
    outcomes: list[RuleOutcome] = field(default_factory=list)
    elapsed_sec: float = 0.0
    # wall-clock id of this run; append_history stores it as the record's
    # ts so a report can be matched to its own history record exactly
    # (matching on the violations map misidentifies stable suites)
    run_ts: float = 0.0

    @property
    def passed(self) -> bool:
        return all(o.passed or o.severity != Severity.ERROR.value for o in self.outcomes)

    @property
    def total_violations(self) -> int:
        return sum(o.violations for o in self.outcomes)

    def summary_dict(self) -> dict[str, Any]:
        return {
            "ruleset": self.ruleset,
            "passed": self.passed,
            "rules": len(self.outcomes),
            "failed_rules": [o.rule_id for o in self.outcomes if not o.passed],
            "total_violations": self.total_violations,
            "elapsed_sec": self.elapsed_sec,
        }


def split_rules(rules) -> tuple[list[Rule], list[Rule]]:
    """Partition rules by execution strategy: (row_rules, other_rules).
    Row rules fuse into one agg pass; others (unique / RI / SQL) run as
    dedicated join/SQL jobs. Shared by the engine and the checkpointed
    runner so both classify identically."""
    row_rules: list[Rule] = []
    other_rules: list[Rule] = []
    for r in rules:
        if isinstance(r, (UniqueRule, ReferentialIntegrityRule, SqlRule)):
            other_rules.append(r)
        elif isinstance(r, (FieldRule, CompletenessRule)):
            row_rules.append(r)
        else:
            other_rules.append(r)
    return row_rules, other_rules


def _dependency_waves(rules: Sequence[Rule]) -> list[list[Rule]]:
    """Group topo-ordered rules into waves: wave i holds rules whose
    deepest in-group dependency chain has length i. Rules within a wave
    are independent of each other ⇒ safe to run concurrently; waves run
    in order so depends_on is honored. Deps on rules outside the group
    (e.g. fused row rules, which always run first) are already satisfied."""
    names = {r.name for r in rules}
    level: dict[str, int] = {}
    waves: list[list[Rule]] = []
    for r in rules:  # topo order: deps precede dependents
        lv = 1 + max((level[d] for d in r.depends_on if d in names), default=-1)
        level[r.name] = lv
        while len(waves) <= lv:
            waves.append([])
        waves[lv].append(r)
    return waves


def _threshold_pass(rule: Rule, violations: int) -> bool:
    if rule.expected_violations is not None:
        return violations == rule.expected_violations
    return violations <= rule.max_violations


class ValidationEngine:
    """Runs rule sets over named tables (a dict of DataFrames)."""

    def __init__(self, spark: SparkSession, capture_plans: bool = False):
        self.spark = spark
        # attach explain(mode="formatted") to each non-fused rule's
        # outcome (uniqueness/RI joins, SqlRule) for run.analyze smells;
        # plan-text capture is driver-side and costs no Spark job
        self.capture_plans = capture_plans

    def _plan(self, frame: DataFrame) -> str:
        if not self.capture_plans:
            return ""
        from sparkcheck.run.analyze import explain_str

        return explain_str(frame)

    def run(
        self,
        ruleset: RuleSet,
        tables: Mapping[str, DataFrame],
        default_table: str | None = None,
    ) -> ValidationReport:
        t0 = time.monotonic()
        report = ValidationReport(ruleset=ruleset.name, run_ts=time.time())
        ordered = topo_sort(ruleset.enabled_rules())

        # Partition rules by execution strategy, preserving order info.
        row_rules, other_rules = split_rules(ordered)

        table_name = default_table or next(iter(tables))
        df = tables[table_name]

        # ---- fused row-predicate pass (one scan for ALL such rules) ----
        if row_rules:
            ok, missing = plan_time_check(df, row_rules)
            for r in missing:
                report.outcomes.append(
                    RuleOutcome(
                        rule_id=r.name, table=table_name,
                        column=getattr(r, "column", ""),
                        passed=False, violations=0, evaluated=0, total_rows=0,
                        severity=r.severity.value,
                        message="column_exists check failed: missing column",
                    )
                )
            if ok:
                t1 = time.monotonic()
                rows = summary_df(df, ok).collect()
                dt = time.monotonic() - t1
                by_id = {r.name: r for r in ok}
                for row in rows:
                    rule = by_id[row["rule_id"]]
                    report.outcomes.append(
                        RuleOutcome(
                            rule_id=row["rule_id"], table=table_name,
                            column=row["column"],
                            passed=_threshold_pass(rule, row["violations"]),
                            violations=row["violations"],
                            evaluated=row["evaluated"],
                            total_rows=row["total_rows"],
                            severity=rule.severity.value,
                            elapsed_sec=dt / max(len(rows), 1),
                        )
                    )

        # fail_fast: stop before join/sql jobs if an ERROR rule failed
        if ruleset.fail_fast and not report.passed:
            report.elapsed_sec = time.monotonic() - t0
            return report

        # ---- dedicated jobs, concurrent per dependency wave ----
        # Rules with all deps satisfied run together: each wave's jobs
        # are submitted from ruleset.max_concurrent driver threads into a
        # FAIR pool (the reference ran rules in a thread pool,
        # business_rules/engine.py:615-697 — here concurrency overlaps
        # SPARK JOB scans, which is where the time goes on a cluster).
        sc = self.spark.sparkContext
        for wave in _dependency_waves(other_rules):
            def _one(r: Rule) -> RuleOutcome:
                sc.setLocalProperty("spark.scheduler.pool", "sparkcheck-rules")
                try:
                    return self._run_other_rule(r, tables, table_name, df)
                finally:
                    sc.setLocalProperty("spark.scheduler.pool", None)

            if len(wave) == 1 or ruleset.max_concurrent <= 1:
                # sequential path keeps the strict fail_fast contract:
                # stop IMMEDIATELY after a failing error-severity rule
                # (never start the next scan)
                stop = False
                for r in wave:
                    o = _one(r)
                    report.outcomes.append(o)
                    if (ruleset.fail_fast and not o.passed
                            and o.severity == Severity.ERROR.value):
                        stop = True
                        break
                if stop:
                    break
            else:
                # parallel wave: jobs are in flight together, so fail_fast
                # gates BETWEEN waves (documented semantics)
                with ThreadPoolExecutor(max_workers=ruleset.max_concurrent) as pool:
                    outs = list(pool.map(_one, wave))
                report.outcomes.extend(outs)  # topo/wave order
                if ruleset.fail_fast and any(
                    not o.passed and o.severity == Severity.ERROR.value for o in outs
                ):
                    break

        report.elapsed_sec = time.monotonic() - t0
        return report

    def _run_other_rule(
        self,
        r: Rule,
        tables: Mapping[str, DataFrame],
        table_name: str,
        df: DataFrame,
    ) -> RuleOutcome:
        t1 = time.monotonic()
        if isinstance(r, UniqueRule):
            tbl = tables.get(getattr(r, "table", ""), df)
            frame = uniqueness_summary(tbl, list(r.key_columns))
            s = frame.collect()[0]
            viol = s["duplicate_excess"]
            return RuleOutcome(
                rule_id=r.name, table=table_name, column=",".join(r.key_columns),
                passed=_threshold_pass(r, viol), violations=viol,
                evaluated=s["total_keys"], total_rows=s["total_keys"],
                severity=r.severity.value, elapsed_sec=time.monotonic() - t1,
                plan=self._plan(frame),
            )
        if isinstance(r, ReferentialIntegrityRule):
            # missing table ⇒ synthetic failure, never a crash
            # (the table-level analog of the missing-column guard)
            absent = [t for t in (r.child_table, r.parent_table) if t not in tables]
            if absent:
                return RuleOutcome(
                    rule_id=r.name, table=r.child_table, column=r.child_column,
                    passed=False, violations=0, evaluated=0, total_rows=0,
                    severity=r.severity.value, skipped=True,
                    message=f"table_exists check failed: {absent} not provided",
                )
            child = tables[r.child_table]
            parent = tables[r.parent_table]
            frame = orphan_summary(
                child, r.child_column, parent, r.parent_column,
                broadcast_parent=r.broadcast_parent,
            )
            s = frame.collect()[0]
            viol = s["orphan_count"]
            return RuleOutcome(
                rule_id=r.name, table=r.child_table,
                column=r.child_column,
                passed=_threshold_pass(r, viol), violations=viol,
                evaluated=viol, total_rows=viol,
                severity=r.severity.value, elapsed_sec=time.monotonic() - t1,
                message=f"distinct orphan keys: {s['distinct_orphan_keys']}",
                plan=self._plan(frame),
            )
        if isinstance(r, SqlRule):
            out = self._run_sql_rule(r, table_name)
            out.elapsed_sec = time.monotonic() - t1
            return out
        return RuleOutcome(
            rule_id=r.name, table=table_name, column="",
            passed=False, violations=0, evaluated=0, total_rows=0,
            severity=r.severity.value, skipped=True,
            message=f"unsupported rule type {type(r).__name__}",
        )

    def _run_sql_rule(self, rule: SqlRule, table_name: str) -> RuleOutcome:
        """spark.sql + the reference's violation contract
        (_process_sql_results, business_rules/engine.py:516-574)."""
        result = self.spark.sql(rule.sql)
        cols = set(result.columns)
        recognized = {"violation_count", "message", "table_name", "column_name"}
        rows = result.limit(10_000).collect()  # rule SQL returns violations: small by construction
        violations = 0
        samples: list[Any] = []
        for row in rows:
            d = row.asDict()
            vc = d.get("violation_count")
            try:
                vc = int(vc) if vc is not None else None
            except (TypeError, ValueError):
                vc = None  # malformed count column ⇒ row counts as 1 violation
            extra = {k: v for k, v in d.items() if k not in recognized}
            if vc is not None and vc <= 0 and not extra:
                continue  # passing row (engine.py:556-558)
            violations += vc if vc is not None else 1
            if extra and len(samples) < 10:
                samples.append(extra)
        return RuleOutcome(
            rule_id=rule.name, table=table_name, column="",
            passed=_threshold_pass(rule, violations),
            violations=violations, evaluated=len(rows), total_rows=len(rows),
            severity=rule.severity.value, sample_values=samples,
            plan=self._plan(result),
        )

    def violation_rows(
        self, df: DataFrame, rules: list[Rule], key_cols: list[str],
        cap_per_rule: int | None = None,
    ) -> DataFrame:
        ok, _ = plan_time_check(df, rules)
        return violation_rows(df, ok, key_cols, cap_per_rule=cap_per_rule)

    def duplicate_rows(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        return duplicate_violation_rows(df, key_cols)
