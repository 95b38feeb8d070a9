"""Write-path constraint enforcement (the Delta-style NOT NULL /
CHECK contract): a write either satisfies every declared constraint
or fails atomically BEFORE any file lands — readers can rely on the
invariants without re-validating per query.

Distinct from queries/llm_guard.validate_expectations (a REPORT over
existing data): constraints are a gate on the write path. Both share
the same execution shape — every check folds into one aggregation
pass over the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake


class ConstraintViolation(ValueError):
    """Raised when a batch violates declared constraints; carries
    {constraint_name: violating_row_count}."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        detail = ", ".join(f"{k}: {v} rows" for k, v in sorted(violations.items()))
        super().__init__(f"constraint violation — {detail}")


def check_constraints(df: DataFrame, checks: dict[str, str]) -> dict[str, int]:
    """Count violating rows per constraint in ONE aggregation pass.

    ``checks`` maps constraint name → SQL boolean expression that must
    hold for every row (NULL counts as a violation, as in SQL CHECK
    semantics enforced at the Delta/engine level: a constraint must
    EVALUATE TO TRUE). Returns only the constraints with >= 1
    violating row.

    Scale shape: the whole suite is a single partial-aggregated scan —
    adding a constraint adds a count column, never a pass (the
    validate_expectations insight applied to the write path)."""
    if not checks:
        return {}
    aggs = [
        F.count(F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1)).alias(name)
        for name, expr in checks.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: row[name] for name in checks if row[name] > 0}


def write_checked(df: DataFrame, path: str, checks: dict[str, str]) -> None:
    """Validate-then-write: the batch is checked BEFORE
    ``lake.write_partitioned`` appends it, so a violating batch leaves
    the table untouched (no partial files, no cleanup). Raises
    ConstraintViolation listing every failed constraint with its
    violating-row count.

    The validation scan and the write are two passes over the batch;
    at scale the batch is a micro-batch (bounded), and the guarantee —
    never publish a row that breaks the contract — is what the second
    pass buys. (Single-pass alternatives either write quarantine files
    or need a transactional delete; with the txlog sink the check
    could instead gate the commit, same contract.)"""
    # pin the batch so the validated rows ARE the written rows — with
    # live lineage (re-resolving snapshots, non-deterministic exprs, a
    # concurrently-appended input path) the two passes could otherwise
    # see different data, silently voiding the contract
    df = df.persist()
    try:
        violations = check_constraints(df, checks)
        if violations:
            raise ConstraintViolation(violations)
        lake.write_partitioned(df, path)
    finally:
        df.unpersist()
