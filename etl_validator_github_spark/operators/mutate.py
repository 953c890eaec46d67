"""Scenario-mutation operators (SURVEY.md §2.2 P1-P9, §2.3 F1).

The reference builds its 82 test scenarios by mutating a valid generated
table: inject invalid values column- or cell-wise, drop/rename/add columns,
duplicate or drop rows (DM_bankfile_validate_pipeline.py:3113-3432,
2279-2408, 2636-2739). Re-expressed here as lazy DataFrame transforms.

Row-index addressing note: pandas has an implicit positional index; Spark
does not. A stable row id is derived with a window over a deterministic
ordering (caller supplies the order column; generated bank data carries
``row_index`` from the generator). This is test tooling — windows over the
full table are fine at test scale and the production validate path never
uses them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

ROW_ID = "__row_id"


def with_row_index(df: DataFrame, order_by: str | list[str]) -> DataFrame:
    """Attach a 0-based positional id over a deterministic ordering."""
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.orderBy(*[F.col(c) for c in cols])
    return df.withColumn(ROW_ID, F.row_number().over(w) - 1)


def drop_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """P1 missing-column scenario (PIPE:2303-2305)."""
    return df.drop(*columns)


def rename_columns(df: DataFrame, renames: dict[str, str]) -> DataFrame:
    """P2 rename scenario; skips a rename if the target exists (PIPE:2369-2384)."""
    out = df
    for old, new in renames.items():
        if old in out.columns and new not in out.columns:
            out = out.withColumnRenamed(old, new)
    return out


def add_extra_columns(df: DataFrame, names: list[str], order_by: str | list[str]) -> DataFrame:
    """P3 extra-column scenario with ``Extra_{name}_{row_index}`` values
    (GEN:526-528)."""
    out = with_row_index(df, order_by)
    for name in names:
        out = out.withColumn(
            name, F.concat(F.lit(f"Extra_{name}_"), F.col(ROW_ID).cast("string"))
        )
    return out.drop(ROW_ID)


def overwrite_column(df: DataFrame, column: str, value) -> DataFrame:
    """P4 whole-column invalid-value injection (PIPE:3205-3208)."""
    return df.withColumn(column, F.lit(value).cast("string"))


def overwrite_cells(
    df: DataFrame,
    cells: dict[tuple[str, int], object],
    order_by: str | list[str],
) -> DataFrame:
    """P5 cell-level injection ``Col:rowIndex=value`` (PIPE:3190-3203)."""
    out = with_row_index(df, order_by)
    for (column, row_index), value in cells.items():
        out = out.withColumn(
            column,
            F.when(F.col(ROW_ID) == row_index, F.lit(value).cast("string")).otherwise(
                F.col(column).cast("string")
            ),
        )
    return out.drop(ROW_ID)


def widen_to_strings(df: DataFrame) -> DataFrame:
    """P6 dtype widening before injection (PIPE:3158-3173): cast every
    column that is not a string to string; dates format as yyyy-MM-dd
    (Spark's date->string). An all-string frame comes back as itself."""
    casts = {
        f.name: F.col(f.name).cast("string")
        for f in df.schema.fields
        if not isinstance(f.dataType, StringType)
    }
    return df.withColumns(casts) if casts else df


def blank_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """P9 blank-injection (invalid base scenario blanks OrganizationTIN and
    ContactEmail, PIPE:1480-1495)."""
    out = df
    for c in columns:
        out = out.withColumn(c, F.lit("").cast("string"))
    return out


def clear_r_columns(df: DataFrame, keep: tuple[str, ...], code_col: str = "OrganizationCode") -> DataFrame:
    """P7 conditional blanking: for R rows null every column except the
    identity columns (PIPE:3477-3487 clear_unnecessary_columns)."""
    out = df
    for c in df.columns:
        if c in keep or c == code_col:
            continue
        out = out.withColumn(
            c, F.when(F.col(code_col) == "R", F.lit(None)).otherwise(F.col(c))
        )
    return out


def drop_rows(df: DataFrame, row_indices: list[int], order_by: str | list[str]) -> DataFrame:
    """F1 missing-row scenario (PIPE:3268-3272)."""
    out = with_row_index(df, order_by)
    return out.filter(~F.col(ROW_ID).isin(row_indices)).drop(ROW_ID)


def duplicate_row(df: DataFrame, row_index: int, order_by: str | list[str]) -> DataFrame:
    """Duplicate-row scenario (PIPE:2636-2692): append a copy of one row."""
    out = with_row_index(df, order_by)
    dup = out.filter(F.col(ROW_ID) == row_index)
    return out.unionByName(dup).drop(ROW_ID)


def duplicate_payee_id(df: DataFrame, order_by: str | list[str]) -> DataFrame:
    """Duplicate-PayeeID scenario (PIPE:2710-2723): copy row 0's PayeeID
    into row 1 (and align OrganizationIdentifier for M/D/P pairing)."""
    out = with_row_index(df, order_by)
    first = out.filter(F.col(ROW_ID) == 0).select(
        F.col("PayeeID").alias("__dup_payee")
    )
    out = out.crossJoin(F.broadcast(first))
    out = out.withColumn(
        "PayeeID",
        F.when(F.col(ROW_ID) == 1, F.col("__dup_payee")).otherwise(F.col("PayeeID")),
    ).withColumn(
        "OrganizationIdentifier",
        F.when(
            (F.col(ROW_ID) == 1) & F.col("OrganizationCode").isin("M", "D", "P"),
            F.col("__dup_payee"),
        ).otherwise(F.col("OrganizationIdentifier")),
    )
    return out.drop(ROW_ID, "__dup_payee")


def apply_min_max_limits(
    df: DataFrame,
    column_limits: dict[str, tuple[object, object]],
    order_by: str | list[str],
    constraints: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Min/max-limits scenario (PIPE:3325-3432 run_min_max_limits_scenario).

    For each column with a ``(min_val, max_val)`` spec: row 0 gets the min
    boundary, row 1 the max boundary (both VALID), row 2 an auto-derived
    below-min violation, row 3 an above-max violation — so a validator run
    must flag exactly rows 2 and 3 for that column. Violation derivation
    mirrors the reference: numeric limits step one past the boundary;
    otherwise the canonical length-constraint table (schema.FIELD_CONSTRAINTS
    — which wins over the reference's conflicting scenario-local table, see
    operators/rules.py header) yields ``'X' * (min_len - 1)`` below and
    ``'A' * (max_len + 5)`` above.
    """
    from etl_validator_github_spark.schema import FIELD_CONSTRAINTS

    constraints = FIELD_CONSTRAINTS if constraints is None else constraints
    out = with_row_index(df, order_by)
    for col, (min_val, max_val) in column_limits.items():
        if col not in out.columns:
            continue
        lo_len, hi_len = constraints.get(col, (1, 10))
        if isinstance(min_val, (int, float)) and not isinstance(min_val, bool):
            below = str(min_val - 1)
        else:
            below = "X" * max(0, lo_len - 1)
        if isinstance(max_val, (int, float)) and not isinstance(max_val, bool):
            above = str(max_val + 1)
        else:
            above = "A" * (hi_len + 5)
        out = out.withColumn(
            col,
            F.when(F.col(ROW_ID) == 0, F.lit(str(min_val)))
            .when(F.col(ROW_ID) == 1, F.lit(str(max_val)))
            .when(F.col(ROW_ID) == 2, F.lit(below))
            .when(F.col(ROW_ID) == 3, F.lit(above))
            .otherwise(F.col(col).cast("string")),
        )
    return out.drop(ROW_ID)


def find_duplicate_payees(df: DataFrame) -> DataFrame:
    """Detection side of R23: PayeeIDs appearing on more than one row.

    groupBy + count is preferred over a window at scale (SURVEY §7.4.7):
    partial aggregation shrinks the shuffle to distinct keys.
    """
    return (
        df.groupBy("PayeeID")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .filter(F.col("row_count") > 1)
    )
