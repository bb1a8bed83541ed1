"""Snapshot (SCD Type-2) materialization — the Spark-native ``dbt snapshot``.

The reference configures a snapshot path (reference: dbt_project.yml:7
``snapshot-paths: ["snapshots"]``) but ships no snapshots; this module
completes that framework surface with dbt's public snapshot contract
[public knowledge: dbt-core snapshot docs]:

  * each source row version becomes a snapshot row with ``dbt_valid_from``
    / ``dbt_valid_to`` (NULL = current) and a ``dbt_scd_id``;
  * ``timestamp`` strategy: a row changed when its ``updated_at`` advanced
    past the stored version's; the new version's valid_from (and the old
    version's valid_to) is the source ``updated_at``;
  * ``check`` strategy: a row changed when any ``check_cols`` value differs
    (null-safe); valid_from/valid_to is the snapshot run time (``as_of``).

Storage layout (scale posture): the table is parquet partitioned by
``dbt_is_current``.  A run APPENDS newly-closed versions to the history
partition (closed rows are immutable — append-only forever) and
dynamically overwrites ONLY the current partition
(``partitionOverwriteMode=dynamic``), so per-run write cost is bounded by
the live key count, never by accumulated history.  On a MERGE-capable
table format (Delta/Iceberg) the same plan compiles to a single MERGE;
plain parquet is the portable fallback with identical semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession


@dataclass(frozen=True)
class SnapshotDef:
    name: str
    unique_key: str
    strategy: str                       # "timestamp" | "check"
    updated_at: str | None = None       # timestamp strategy source column
    check_cols: tuple[str, ...] = ()    # check strategy compare columns
    # X99 [public dbt surface: dbt-core 1.9 snapshot hard_deletes]:
    #   ignore     — a key absent from source keeps its current row
    #                (dbt's historical default, what this runner always did)
    #   invalidate — the absent key's current row CLOSES (dbt_valid_to =
    #                run timestamp) and leaves the current set
    #   new_record — invalidate + a deletion-marker row is inserted
    #                (dbt_is_deleted = 'True'; every row gains the
    #                dbt_is_deleted column, 'False' elsewhere)
    hard_deletes: str = "ignore"

    def __post_init__(self) -> None:
        if self.strategy == "timestamp" and not self.updated_at:
            raise ValueError(f"snapshot {self.name}: timestamp strategy "
                             "requires updated_at")
        if self.strategy == "check" and not self.check_cols:
            raise ValueError(f"snapshot {self.name}: check strategy "
                             "requires check_cols")
        if self.strategy not in ("timestamp", "check"):
            raise ValueError(f"snapshot {self.name}: unknown strategy "
                             f"{self.strategy}")
        if self.hard_deletes not in ("ignore", "invalidate", "new_record"):
            raise ValueError(
                f"snapshot {self.name}: hard_deletes must be ignore | "
                f"invalidate | new_record, got {self.hard_deletes!r}")


class SnapshotRunner:
    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def run(self, sdef: SnapshotDef, source: DataFrame,
            as_of: Column | None = None) -> DataFrame:
        """Advance the snapshot table by one run over ``source``; returns
        the full snapshot relation (history + current).  ``as_of`` pins the
        check-strategy version timestamp (defaults to the wall clock, as
        dbt does; tests pass a literal for determinism)."""
        as_of = F.current_timestamp() if as_of is None else as_of
        path = self._path(sdef.name)
        key = sdef.unique_key

        if sdef.strategy == "timestamp":
            version_ts = F.col(sdef.updated_at).cast("timestamp")
        else:
            version_ts = as_of.cast("timestamp")

        stamped = source.select(
            "*",
            version_ts.alias("dbt_updated_at"),
            version_ts.alias("dbt_valid_from"),
            F.lit(None).cast("timestamp").alias("dbt_valid_to"),
        ).withColumn(
            "dbt_scd_id",
            F.sha2(F.concat_ws("||", F.col(key).cast("string"),
                               F.col("dbt_valid_from").cast("string")), 256),
        ).withColumn("dbt_is_current", F.lit(1))
        if sdef.hard_deletes == "new_record":
            # dbt spells the marker as a string, not a boolean
            stamped = stamped.withColumn("dbt_is_deleted", F.lit("False"))

        if not os.path.isdir(path):
            # first run: every source row is the current version
            (stamped.write.mode("overwrite").partitionBy("dbt_is_current")
             .parquet(path))
            return self._read_back(sdef.name, path)

        # localCheckpoint cuts the lineage to the files about to be
        # overwritten: both writes below would otherwise read the very
        # partition the second write replaces (Spark refuses, or worse,
        # races).  The checkpoint holds only the CURRENT rows (live keys,
        # never accumulated history).  A MERGE-capable format does this
        # copy-on-write internally; this is the plain-parquet equivalent.
        cur = (self.spark.read.parquet(path)
               .filter(F.col("dbt_is_current") == 1)
               .localCheckpoint(eager=True))

        if sdef.strategy == "timestamp":
            changed = (F.col(f"new.{sdef.updated_at}").cast("timestamp")
                       > F.col("old.dbt_updated_at"))
        else:
            diffs = [~F.col(f"new.{c}").eqNullSafe(F.col(f"old.{c}"))
                     for c in sdef.check_cols]
            changed = diffs[0]
            for d in diffs[1:]:
                changed = changed | d
        if sdef.hard_deletes == "new_record":
            # a key reappearing after a deletion record must re-version
            # even when its data columns equal the pre-delete values
            # (dbt's check-strategy revive rule); timestamp strategy
            # already revives via updated_at > deletion time
            changed = changed | (F.col("old.dbt_is_deleted") == "True")

        if (sdef.hard_deletes == "new_record"
                and "dbt_is_deleted" not in cur.columns):
            # table predates the new_record setting: existing rows are live
            cur = cur.withColumn("dbt_is_deleted", F.lit("False"))
        elif (sdef.hard_deletes != "new_record"
                and "dbt_is_deleted" in cur.columns):
            # DOWNGRADE (table built under new_record, now ignore/
            # invalidate): refuse with a clear error instead of the
            # opaque missing-column AnalysisException from
            # stamped.select(*cur.columns) — dbt likewise documents
            # changing hard_deletes on an existing snapshot as
            # unsupported, and silently treating deletion-marker rows
            # as live data would corrupt the history (ADVICE r12)
            raise ValueError(
                f"snapshot {sdef.name}: hard_deletes downgrade not "
                f"supported — the existing table was built with "
                f"hard_deletes='new_record' (it carries dbt_is_deleted) "
                f"but this run sets {sdef.hard_deletes!r}; keep "
                "'new_record' or rebuild the snapshot from scratch")
        # read-back puts the partition column (dbt_is_current) LAST; align
        # the fresh side's column ORDER to the table's so struct("old.*")
        # and struct("new.*") below are the same struct type
        stamped = stamped.select(*cur.columns)
        old, new = cur.alias("old"), stamped.alias("new")
        joined = old.join(new, F.col(f"old.{key}") == F.col(f"new.{key}"),
                          "full_outer")
        is_insert = F.col(f"old.{key}").isNull()
        is_gone = F.col(f"new.{key}").isNull()

        # current partition after this run: inserts + changed rows' new
        # versions + unchanged rows carried over.  Hard-deleted keys:
        # ignore keeps their current row (dbt's historical default);
        # invalidate / new_record drop them from the current set (their
        # close lands in the history increment below)
        next_current = joined.select(
            F.when(is_insert | (~is_gone & changed), F.struct("new.*"))
             .otherwise(F.struct("old.*")).alias("r"),
            is_gone.alias("_gone")
        )
        if sdef.hard_deletes != "ignore":
            next_current = next_current.filter(~F.col("_gone"))
        next_current = next_current.select("r.*")
        if sdef.hard_deletes == "new_record":
            # deletion-marker rows: the old data columns, re-stamped as a
            # NEW current version at the run timestamp, marked deleted
            as_of_ts = as_of.cast("timestamp")
            marker = (
                joined.filter(is_gone).select(F.struct("old.*").alias("r"))
                .select("r.*")
                .withColumn("dbt_updated_at", as_of_ts)
                .withColumn("dbt_valid_from", as_of_ts)
                .withColumn("dbt_valid_to",
                            F.lit(None).cast("timestamp"))
                .withColumn("dbt_scd_id", F.sha2(
                    F.concat_ws("||", F.col(key).cast("string"),
                                as_of_ts.cast("string")), 256))
                .withColumn("dbt_is_current", F.lit(1))
                .withColumn("dbt_is_deleted", F.lit("True"))
            )
            next_current = next_current.unionByName(marker)

        # history increment: the versions closed by this run, append-only;
        # under invalidate / new_record a hard-deleted key's current row
        # closes AT THE RUN TIMESTAMP (dbt_valid_to = as_of)
        close_gone = (F.lit(False) if sdef.hard_deletes == "ignore"
                      else is_gone)
        closes_at = F.when(is_gone, as_of.cast("timestamp")) \
            .otherwise(F.col("new.dbt_valid_from"))
        closed = (
            joined.filter((~is_insert & ~is_gone & changed) | close_gone)
            .select(
                F.struct("old.*").alias("r"),
                closes_at.alias("_closes_at"))
            .select("r.*", "_closes_at")
            .withColumn("dbt_valid_to", F.col("_closes_at"))
            .drop("_closes_at")
            .withColumn("dbt_is_current", F.lit(0))
        )

        # Crash-recovery idempotence: the two writes below are not one
        # atomic commit — a crash between them leaves this run's closed
        # rows appended while the current partition still holds their old
        # versions, and the re-run would close those versions AGAIN,
        # permanently duplicating append-only history (the scd_id is
        # sha2(key, valid_from), stable across runs).  Anti-joining the
        # increment against the already-persisted history scd_ids makes
        # the append idempotent; the history partition is scanned for the
        # one pruned scd_id column only (a MERGE-capable format does this
        # reconciliation natively).  localCheckpoint cuts lineage so the
        # append doesn't read the partition it writes.
        hist_ids = (self.spark.read.parquet(path)
                    .filter(F.col("dbt_is_current") == 0)
                    .select("dbt_scd_id")
                    .localCheckpoint(eager=True))
        # (USING-column joins move the key first — restore column order so
        # appended files match the partition's existing layout)
        closed = (closed.join(hist_ids, "dbt_scd_id", "left_anti")
                  .select(*closed.columns))

        closed.write.mode("append").partitionBy("dbt_is_current").parquet(path)
        (next_current.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("dbt_is_current").parquet(path))
        return self._read_back(sdef.name, path)

    def current(self, name: str) -> DataFrame:
        """The current-rows view of a snapshot (one row per live key)."""
        return (self.spark.read.parquet(self._path(name))
                .filter(F.col("dbt_is_current") == 1))

    def _read_back(self, name: str, path: str) -> DataFrame:
        out = self.spark.read.parquet(path)
        out.createOrReplaceTempView(name)
        return out
