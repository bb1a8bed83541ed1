"""Fiction Bank seed data + explicit schemas.

This is the reference's seed layer (reference: seeds/loan_types.csv,
seeds/raw_loans.csv, seeds/raw_loan_payments.csv — 3 + 10 + 15 rows), kept
as fixture DATA so the reference-fidelity golden tests can run without the
read-only reference checkout.  Types follow dbt's agate inference of those
CSVs (SURVEY.md §1.2); empty CSV fields (loans L004/L008 property columns,
raw_loans.csv:5,9) are represented as None.

Schemas are explicit StructTypes — at 100 TB, seed-file type inference is an
extra full scan and nondeterministic across files (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

SEED_SCHEMAS: dict[str, StructType] = {
    "loan_types": StructType([
        StructField("loan_type_id", LongType()),
        StructField("loan_type_name", StringType()),
        StructField("description", StringType()),
        StructField("typical_term_months", LongType()),
        StructField("min_amount", LongType()),
        StructField("max_amount", LongType()),
    ]),
    "raw_loans": StructType([
        StructField("loan_id", StringType()),
        StructField("customer_id", StringType()),
        StructField("loan_type_id", LongType()),
        StructField("loan_amount", LongType()),
        StructField("interest_rate", DoubleType()),
        StructField("loan_start_date", StringType()),
        StructField("loan_term_months", LongType()),
        StructField("property_address", StringType()),
        StructField("property_value", LongType()),
    ]),
    "raw_loan_payments": StructType([
        StructField("payment_id", StringType()),
        StructField("loan_id", StringType()),
        StructField("payment_date", StringType()),
        StructField("payment_amount", DoubleType()),
        StructField("principal_paid", DoubleType()),
        StructField("interest_paid", DoubleType()),
        StructField("payment_status", StringType()),
    ]),
}

# seeds/loan_types.csv:2-4
_LOAN_TYPES = [
    (1, "Mortgage", "Primary residence home loan", 360, 50000, 1000000),
    (2, "Home Equity", "Home equity line of credit", 120, 10000, 500000),
    (3, "Personal", "Personal unsecured loan", 60, 1000, 50000),
]

# seeds/raw_loans.csv:2-11 (L004/L008 have empty property fields -> None)
_RAW_LOANS = [
    ("L001", "C101", 1, 250000, 3.5, "2023-01-15", 360, "123 Main St, Austin TX", 300000),
    ("L002", "C102", 1, 450000, 3.75, "2023-02-01", 360, "456 Oak Ave, Austin TX", 550000),
    ("L003", "C103", 2, 75000, 4.25, "2023-03-10", 120, "789 Pine Rd, Austin TX", 200000),
    ("L004", "C104", 3, 15000, 8.5, "2023-03-20", 60, None, None),
    ("L005", "C105", 1, 320000, 3.65, "2023-04-05", 360, "321 Elm St, Austin TX", 400000),
    ("L006", "C106", 2, 50000, 4.5, "2023-05-12", 120, "654 Cedar Ln, Austin TX", 180000),
    ("L007", "C107", 1, 280000, 3.8, "2023-06-01", 360, "987 Maple Dr, Austin TX", 350000),
    ("L008", "C108", 3, 25000, 9.0, "2023-06-15", 60, None, None),
    ("L009", "C109", 1, 195000, 3.55, "2023-07-10", 360, "147 Birch Way, Austin TX", 240000),
    ("L010", "C110", 2, 60000, 4.35, "2023-08-20", 120, "258 Spruce Ct, Austin TX", 190000),
]

# seeds/raw_loan_payments.csv:2-16
_RAW_LOAN_PAYMENTS = [
    ("P001", "L001", "2023-02-15", 1264.14, 597.47, 666.67, "completed"),
    ("P002", "L001", "2023-03-15", 1264.14, 599.21, 664.93, "completed"),
    ("P003", "L002", "2023-03-01", 2257.48, 1046.88, 1210.60, "completed"),
    ("P004", "L002", "2023-04-01", 2257.48, 1050.16, 1207.32, "completed"),
    ("P005", "L003", "2023-04-10", 763.89, 497.64, 266.25, "completed"),
    ("P006", "L003", "2023-05-10", 763.89, 499.40, 264.49, "completed"),
    ("P007", "L004", "2023-04-20", 308.46, 202.21, 106.25, "completed"),
    ("P008", "L004", "2023-05-20", 308.46, 203.64, 104.82, "completed"),
    ("P009", "L005", "2023-05-05", 1571.13, 740.00, 831.13, "completed"),
    ("P010", "L005", "2023-06-05", 1571.13, 742.25, 828.88, "completed"),
    ("P011", "L006", "2023-06-12", 509.17, 322.50, 186.67, "completed"),
    ("P012", "L007", "2023-07-01", 1414.82, 664.00, 750.82, "completed"),
    ("P013", "L008", "2023-07-15", 510.83, 322.50, 188.33, "completed"),
    ("P014", "L009", "2023-08-10", 986.25, 462.08, 524.17, "completed"),
    ("P015", "L010", "2023-09-20", 610.54, 391.88, 218.66, "completed"),
]

_ROWS = {
    "loan_types": _LOAN_TYPES,
    "raw_loans": _RAW_LOANS,
    "raw_loan_payments": _RAW_LOAN_PAYMENTS,
}


def seed_rows(name: str) -> list[tuple]:
    return list(_ROWS[name])


def load_seed_dataframes(spark: SparkSession) -> dict[str, DataFrame]:
    """The `dbt seed` analog: seed relations as DataFrames with explicit
    schemas (reference: README.md:47-48).  One partition each, like the
    one CSV file a dbt seed is: aggregates then sum doubles in file
    order, as DuckDB does over the same rows."""
    return {n: spark.createDataFrame(_ROWS[n], SEED_SCHEMAS[n]).coalesce(1)
            for n in _ROWS}


def seed_csv_text(name: str) -> str:
    """Render a seed as CSV text (quoting fields with embedded commas, empty
    string for NULL) — used by tests to exercise the CSV reader path the
    reference's `dbt seed` takes."""
    header = ",".join(f.name for f in SEED_SCHEMAS[name].fields)
    lines = [header]
    for row in _ROWS[name]:
        cells = []
        for v in row:
            if v is None:
                cells.append("")
            elif isinstance(v, str) and "," in v:
                cells.append(f'"{v}"')
            else:
                cells.append(str(v))
        lines.append(",".join(cells))
    return "\n".join(lines) + "\n"
