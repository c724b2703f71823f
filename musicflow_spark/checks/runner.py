"""Declarative data-quality check runner (SURVEY §5).

Reimplements the assertion vocabulary of the reference's dbt test
suite (dbt/models/*/_*__models.yml, dbt/macros/tests/*.sql,
dbt/tests/no_lost_videos.sql) as DataFrame programs.  dbt semantics
throughout: a check *passes* when its violation query returns zero
rows.

Scale design — one Spark action per suite.  Registering a check builds
its one-row violation frame (a bigint ``failures`` column); ``run()``
tags each frame with its check index, unions them and collects once.

- **Row checks** (not_null / accepted_values / expression / regex /
  like) are pure per-row predicates.  All row checks against one
  table still fuse into a SINGLE aggregate scan over that table
  (``count(when(violated, 1))`` per check, exploded to one row per
  check), so 50 assertions on a 100 TB table cost one pass, not 50.
- **Key checks** (unique / unique_combination) count the key groups
  with groupBy(key).count > 1.
- **Ref checks** (relationships) are a distinct + left-anti join
  against the parent — broadcast when the parent is a dimension.
- **Compare checks** (equal_rowcount, duration_match,
  tracks_count_match, singular tests) are tiny scalar aggregates.
- **Type checks** (expect_column_values_to_be_of_type) read the
  schema only — no job at all.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CheckResult:
    table: str
    name: str
    failures: int

    @property
    def passed(self) -> bool:
        return self.failures == 0

    def __str__(self) -> str:  # pragma: no cover - repr sugar
        mark = "ok  " if self.passed else "FAIL"
        return f"{mark} {self.table}: {self.name} ({self.failures} failures)"


def _failures(violations: DataFrame) -> DataFrame:
    """The one-row violation frame: how many rows ``violations`` has."""
    return violations.agg(F.count(F.lit(1)).alias("failures"))


@dataclass
class CheckSet:
    """A suite of checks over a named collection of DataFrames.

    Registration methods mirror the dbt test vocabulary.  Each one
    builds its violation frame at registration (lazily — no job runs);
    ``run()`` executes the whole suite as one action, with row checks
    fused into one scan per table.
    """

    tables: dict[str, DataFrame]
    # table -> [(name, violation Column)] — fused into one scan per table
    _row_checks: dict[str, list[tuple[str, Column]]] = field(default_factory=dict)
    # (table, name, one-row frame with a bigint ``failures`` column)
    _frame_checks: list[tuple[str, str, DataFrame]] = field(default_factory=list)
    # (table, name, failures) — resolved at registration (schema-only)
    _static: list[tuple[str, str, int]] = field(default_factory=list)

    # ------------------------------------------------------ row checks
    def _row(self, table: str, name: str, violated: Column, where: str | Column | None) -> None:
        if where is not None:
            cond = F.expr(where) if isinstance(where, str) else where
            violated = cond & violated
        self._row_checks.setdefault(table, []).append((name, violated))

    def not_null(self, table: str, col: str, where: str | None = None) -> None:
        """dbt ``not_null`` (conditional variants: reference
        _staging__models.yml:270-273,366-369)."""
        self._row(table, f"not_null: {col}" + (f" where {where}" if where else ""),
                  F.col(col).isNull(), where)

    def accepted_values(self, table: str, col: str, values: list, where: str | None = None) -> None:
        """dbt ``accepted_values`` — nulls never violate (dbt skips
        them; the not_null test owns null policy)."""
        self._row(table, f"accepted_values: {col}",
                  F.col(col).isNotNull() & ~F.col(col).isin(values), where)

    def expression_is_true(self, table: str, expression: str, name: str | None = None,
                           where: str | None = None) -> None:
        """dbt_utils.expression_is_true — nulls pass (SQL three-valued
        logic: only rows where the expression is *false* fail)."""
        self._row(table, name or f"expression: {expression}",
                  ~F.expr(expression) & F.expr(expression).isNotNull(), where)

    def match_regex(self, table: str, col: str, regex: str) -> None:
        """dbt_expectations.expect_column_values_to_match_regex."""
        self._row(table, f"match_regex: {col}",
                  F.col(col).isNotNull() & ~F.col(col).rlike(regex), None)

    def match_like(self, table: str, col: str, pattern: str) -> None:
        """dbt_expectations.expect_column_values_to_match_like_pattern."""
        self._row(table, f"match_like: {col}",
                  F.col(col).isNotNull() & ~F.col(col).like(pattern), None)

    # ------------------------------------------------------ key checks
    def unique(self, table: str, col: str, where: str | None = None) -> None:
        self.unique_combination(table, [col], where)

    def unique_combination(self, table: str, cols: list[str], where: str | None = None) -> None:
        """dbt ``unique`` / dbt_utils.unique_combination_of_columns:
        count of KEY GROUPS appearing more than once (null single-col
        keys exempt, as in dbt)."""
        name = f"unique: {', '.join(cols)}" + (f" where {where}" if where else "")
        df = self.tables[table] if where is None else self.tables[table].filter(where)
        if len(cols) == 1:
            df = df.filter(F.col(cols[0]).isNotNull())
        dup_keys = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n__")).filter("__n__ > 1")
        self._frame_checks.append((table, name, _failures(dup_keys)))

    # ------------------------------------------------------ ref checks
    def relationships(self, table: str, col: str, to: str, field_: str) -> None:
        """dbt ``relationships``: every non-null child value exists in
        the parent (reference _staging__models.yml:114-116 etc.)."""
        child = self.tables[table].select(F.col(col).alias("__v__")).filter(
            F.col("__v__").isNotNull()
        ).distinct()
        parent = self.tables[to].select(F.col(field_).alias("__v__"))
        # parent key sets here are dimension-sized; broadcast the probe
        # side at scale the anti-join shuffles on __v__
        orphans = child.join(parent, "__v__", "left_anti")
        name = f"relationships: {col} -> {to}.{field_}"
        self._frame_checks.append((table, name, _failures(orphans)))

    # -------------------------------------------------- compare checks
    def equal_rowcount(self, table: str, compare: str) -> None:
        """dbt_utils.equal_rowcount (row conservation between
        models)."""
        left = self.tables[table].agg(F.count(F.lit(1)).alias("l"))
        right = self.tables[compare].agg(F.count(F.lit(1)).alias("r"))
        diff = left.crossJoin(right).select(F.abs(F.col("l") - F.col("r")).alias("failures"))
        self._frame_checks.append((table, f"equal_rowcount vs {compare}", diff))

    def aggregate_match(self, table: str, key: str, agg_col: str, child_table: str,
                        child_key: str, child_expr: Column, name: str) -> None:
        """The custom generic tests duration_match / tracks_count_match
        (dbt/macros/tests/test_duration_match.sql:5-17,
        test_tracks_count_match.sql:5-17): an entity attribute must
        equal an aggregate over its child rows; failures are entities
        where they differ."""
        children = (
            self.tables[child_table]
            .filter(F.col(child_key).isNotNull())
            .groupBy(F.col(child_key).alias(key))
            .agg(child_expr.alias("__agg__"))
        )
        joined = self.tables[table].join(children, key, "inner")
        mismatched = joined.filter(F.col(agg_col) != F.col("__agg__"))
        self._frame_checks.append((table, name, _failures(mismatched)))

    def custom(self, table: str, name: str, fn) -> None:
        """Singular tests (dbt/tests/no_lost_videos.sql): ``fn`` gets
        the tables dict and returns a one-row ``failures`` frame."""
        self._frame_checks.append((table, name, fn(self.tables)))

    # ----------------------------------------------------- type checks
    def column_type(self, table: str, col: str, spark_type: str) -> None:
        """dbt_expectations.expect_column_values_to_be_of_type — a
        schema inspection, no job (BigQuery int64/float64/string map to
        bigint/double/string per SURVEY §1.2)."""
        schema = {f.name: f.dataType.simpleString() for f in self.tables[table].schema.fields}
        actual = schema.get(col, "<missing>")
        self._static.append(
            (table, f"column_type: {col} = {spark_type}", 0 if actual == spark_type else 1)
        )

    # ------------------------------------------------------------- run
    def run(self) -> list[CheckResult]:
        """Run the whole suite as one Spark action."""
        checks: list[tuple[str, str]] = []
        frames: list[DataFrame] = []
        for table, fused in self._row_checks.items():
            counts = [
                F.struct(
                    F.lit(len(checks) + i).alias("check"),
                    F.count(F.when(violated, 1)).alias("failures"),
                )
                for i, (_, violated) in enumerate(fused)
            ]
            frames.append(self.tables[table].agg(F.inline(F.array(*counts))))
            checks += [(table, name) for name, _ in fused]
        for table, name, frame in self._frame_checks:
            frames.append(frame.select(F.lit(len(checks)).alias("check"), "failures"))
            checks.append((table, name))

        failures = dict(reduce(DataFrame.union, frames).collect()) if frames else {}
        return [CheckResult(t, n, f) for t, n, f in self._static] + [
            CheckResult(t, n, int(failures[i])) for i, (t, n) in enumerate(checks)
        ]

    def count(self) -> int:
        rows = sum(len(fused) for fused in self._row_checks.values())
        return rows + len(self._frame_checks) + len(self._static)
