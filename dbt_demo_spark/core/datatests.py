"""Data-test runner — the Spark-native ``dbt test``.

dbt compiles each test to a SELECT returning violating rows and fails on
row count > 0 (reference: README.md:53-54; the intended grain test is
specified in prose at docs/bug-analysis.md:139-157).  Same contract here:
a DataTest produces a DataFrame of violations; non-empty -> fail.

Alongside bespoke tests, the four generic tests dbt ships in schema.yml
form (unique / not_null / accepted_values / relationships — public dbt-core
surface) are provided as builders returning DataTests.
"""

from __future__ import annotations

import functools
import json
import operator
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# dbt warn_if / error_if conditions [public knowledge: dbt test configs
# — string comparisons evaluated against the failure COUNT, defaults
# "!=0"]: a tiny explicit parser, never eval()
_THRESH_RE = re.compile(r"^\s*(!=|>=|<=|=|>|<)\s*(\d+)\s*$")
_THRESH_OPS = {"!=": operator.ne, ">=": operator.ge, "<=": operator.le,
               "=": operator.eq, ">": operator.gt, "<": operator.lt}


def _parse_threshold(cond: str):
    m = _THRESH_RE.match(cond)
    if not m:
        raise ValueError(
            f"unparseable test threshold {cond!r} — expected "
            "'<op> <int>' with op in != >= <= = > <")
    return _THRESH_OPS[m.group(1)], int(m.group(2))


def eval_threshold(cond: str, n: int) -> bool:
    op, k = _parse_threshold(cond)
    return op(n, k)


@dataclass(frozen=True)
class DataTest:
    name: str
    fn: Callable[[dict[str, DataFrame]], DataFrame]   # relations -> violations
    # dbt test severity [public knowledge: dbt test config severity]:
    # "error" (default) fails the node on violations; "warn" records the
    # violation count without poisoning the build
    severity: str = "error"
    # X102 conditional thresholds [public dbt surface: warn_if /
    # error_if — compared against the failure count; both default
    # "!=0"].  severity=error checks error_if first, falling back to a
    # WARN when only warn_if fires; severity=warn checks warn_if only.
    # A count satisfying NEITHER passes even with violations — dbt's
    # tolerance contract (e.g. error_if: ">100" tolerates 100 dupes).
    warn_if: str = "!=0"
    error_if: str = "!=0"
    # Test identity for Runner.build's outcome reuse under
    # refresh="changed": ``key`` says WHAT the test checks (kind,
    # columns, accepted values, severity, thresholds — the four generic
    # tests below fill it), ``reads`` which relations it reads.  A test
    # without a key (a bespoke fn the runner cannot see into) always
    # runs.
    key: str | None = None
    reads: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        _parse_threshold(self.warn_if)    # fail-loud at declaration
        _parse_threshold(self.error_if)


@dataclass
class DataTestResult:
    name: str
    passed: bool
    violations: int
    severity: str = "error"
    # True when Runner.build served a recorded passing outcome instead
    # of running the test (refresh="changed" over an unchanged digest)
    reused: bool = False

    @property
    def gating(self) -> bool:
        """Does this result fail the node?  warn-severity never gates."""
        return self.passed or self.severity == "warn"

    def __bool__(self) -> bool:
        return self.passed


def _generic(kind: str, name: str, fn, reads: tuple[str, ...],
             spec: list, severity: str, warn_if: str,
             error_if: str) -> DataTest:
    """A generic test's DataTest, keyed by everything that decides its
    outcome over fixed input relations."""
    key = json.dumps([kind, *spec, severity, warn_if, error_if],
                     default=repr)
    return DataTest(name, fn, severity=severity, warn_if=warn_if,
                    error_if=error_if, key=key, reads=reads)


def unique(relation: str, columns: Sequence[str],
           severity: str = "error", warn_if: str = "!=0",
           error_if: str = "!=0") -> DataTest:
    """dbt `unique` (multi-column = grain uniqueness): violating rows are the
    key groups appearing more than once.  One shuffle on the key.

    Single-column keys exclude NULL rows BEFORE grouping — dbt's generic
    unique test compiles `where column is not null` ahead of the group-by
    (NULL-ness is not_null's job), so two NULL-keyed rows are not a
    uniqueness violation.  Multi-column (grain) keys do NOT null-filter:
    the dbt analog, dbt_utils.unique_combination_of_columns, groups the
    raw rows, so a key with a legitimately-NULL component still counts
    toward its group (Spark's groupBy groups NULLs together, i.e. the
    comparison is IS NOT DISTINCT FROM — same as the dbt_utils GROUP BY)."""
    cols = list(columns)

    def fn(rel: dict[str, DataFrame]) -> DataFrame:
        src = rel[relation]
        if len(cols) == 1:
            src = src.filter(F.col(cols[0]).isNotNull())
        return (
            src
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") > 1)
        )

    return _generic("unique", f"unique__{relation}__{'_'.join(cols)}", fn,
                    (relation,), [relation, cols], severity, warn_if,
                    error_if)


def not_null(relation: str, columns: Sequence[str],
             severity: str = "error", warn_if: str = "!=0",
             error_if: str = "!=0") -> DataTest:
    """dbt `not_null` over one or more columns: violations are rows where
    any listed column is NULL.  Pure scan-side filter."""
    cols = list(columns)

    def fn(rel: dict[str, DataFrame]) -> DataFrame:
        cond = functools.reduce(
            operator.or_, [F.col(c).isNull() for c in cols])
        return rel[relation].filter(cond)

    return _generic("not_null", f"not_null__{relation}__{'_'.join(cols)}",
                    fn, (relation,), [relation, cols], severity, warn_if,
                    error_if)


def accepted_values(relation: str, column: str,
                    values: Sequence[str],
                    severity: str = "error", warn_if: str = "!=0",
                    error_if: str = "!=0") -> DataTest:
    """dbt `accepted_values`: violations are non-NULL values outside the
    allowed set (dbt's version ignores NULLs — that's not_null's job)."""

    def fn(rel: dict[str, DataFrame]) -> DataFrame:
        c = F.col(column)
        return rel[relation].filter(c.isNotNull() & ~c.isin(*values))

    return _generic("accepted_values",
                    f"accepted_values__{relation}__{column}", fn,
                    (relation,), [relation, column, list(values)],
                    severity, warn_if, error_if)


def relationships(relation: str, column: str,
                  to_relation: str, to_column: str,
                  severity: str = "error", warn_if: str = "!=0",
                  error_if: str = "!=0") -> DataTest:
    """dbt `relationships` (referential integrity): violations are child
    rows whose non-NULL key has no parent — a LEFT ANTI join, which AQE
    broadcasts when the parent key set is small."""

    def fn(rel: dict[str, DataFrame]) -> DataFrame:
        child = rel[relation].filter(F.col(column).isNotNull())
        parent = rel[to_relation].select(F.col(to_column).alias(column)).distinct()
        return child.join(parent, column, "left_anti")

    return _generic(
        "relationships", f"relationships__{relation}__{column}__{to_relation}",
        fn, (relation, to_relation),
        [relation, column, to_relation, to_column], severity, warn_if,
        error_if)


def run_data_tests(tests: list[DataTest],
                   relations: dict[str, DataFrame],
                   store_failures_dir: str | None = None
                   ) -> list[DataTestResult]:
    """Run each test; with ``store_failures_dir``, a failing test's
    violating rows are persisted to ``<dir>/<test_name>`` — dbt's
    ``store_failures`` config [public knowledge: dbt stores test
    failures as warehouse tables for debugging], so the diagnostic
    SURVIVES the run instead of being recomputed by hand."""
    results = []
    for t in tests:
        violations = t.fn(relations)
        # limit(1).count() would be cheaper, but the violation count is the
        # useful diagnostic and these are assertion-sized queries.
        n = violations.count()
        if n > 0 and store_failures_dir:
            import os

            (violations.write.mode("overwrite")
             .parquet(os.path.join(store_failures_dir, t.name)))
        if t.severity == "error" and eval_threshold(t.error_if, n):
            results.append(DataTestResult(t.name, False, n, "error"))
        elif eval_threshold(t.warn_if, n):
            results.append(DataTestResult(t.name, False, n, "warn"))
        else:
            # violations within the declared tolerance PASS (dbt)
            results.append(DataTestResult(t.name, True, n, t.severity))
    return results
