"""DML semantics layer: UPDATE / DELETE / MERGE / multi-insert on parquet tables.

Hive implements MERGE by *rewriting* it into a join + multi-insert over the
ACID sink (ref: ql/src/java/org/apache/hadoop/hive/ql/parse/
MergeSemanticAnalyzer.java:85-102 shows the expansion; UPDATE/DELETE rewriters
in ql/.../parse/rewrite/{MergeRewriter,DeleteRewriter,CopyOnWriteUpdateRewriter}
.java). This module applies the same rewrite strategy with Spark-native
primitives: the post-DML relation is computed declaratively (join + CASE),
then written back copy-on-write. No ROW__ID, no delta files, no compactor —
at Spark granularity the "delta" is the overwritten partition set (Hive's
CopyOnWriteUpdateRewriter is exactly this model).

Scale design:
- The rewrite is a single join keyed on the merge condition — broadcast when
  the source is small, shuffle otherwise; Catalyst chooses.
- `overwrite_table(..., partition_cols, dynamic=True)` enables *dynamic
  partition overwrite* (spark.sql.sources.partitionOverwriteMode=dynamic):
  only partitions containing touched rows are rewritten — the 100 TB path,
  where rewriting the whole table per UPDATE is unacceptable.
- Cardinality check: Hive raises on >1 source row per target row
  (cardinality_violation, FunctionRegistry.java:312). Same guard here via a
  count-over-window, optional (costs one extra shuffle).

CONCURRENCY BOUNDARY. Hive full ACID gives snapshot isolation between
concurrent writers via the transaction manager, ROW__ID delta files, and
the compactor (ref: ql/.../io/orc/OrcRecordUpdater.java:73-92,
VectorizedOrcAcidRowBatchReader.java:100, txn/TxnHandler). This layer
takes the lighter CoW road: every rewrite holds the table's exclusive
writer lock (`txn.write_lock`, the DbTxnManager lock-acquisition analog)
for its whole materialize+publish window, so concurrent same-host
writers SERIALIZE — no interleaving, no lost updates. Readers ARE
isolated from an in-flight writer when going through
`hive_spark.snapshots` (version directories are immutable; a write
publishes a new version atomically via a pointer file), and
`txn.Transaction` brackets multi-statement write sets with BEGIN/COMMIT/
ROLLBACK over those versions. Remaining boundary: the lock is a local
filesystem primitive — writers on DIFFERENT hosts need a shared lock
service (Hive uses the metastore DB); front the table with Iceberg/Delta
for that, the DML rewrite semantics carry over unchanged.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def overwrite_table(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    dynamic: bool = False,
) -> None:
    """Copy-on-write table write (Hive FileSinkOperator + MoveTask analog,
    ref ql/.../exec/FileSinkOperator.java:110, MoveTask.java)."""
    spark = df.sparkSession
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
        if dynamic:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def update_frame(
    t: DataFrame, condition: Column, assignments: dict[str, Column]
) -> DataFrame:
    """The UPDATE projection (CASE per assigned column) over any target
    frame — shared by path-backed and versioned-table DML. Assigned
    values take the column's type (Hive store assignment), so
    `SET dec = dec + x` cannot widen what the table stores."""
    return t.select(
        *[
            F.when(condition, assignments[c].cast(t.schema[c].dataType))
            .otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in t.columns
        ]
    )


def update_where(
    spark: SparkSession,
    path: str,
    condition: Column,
    assignments: dict[str, Column],
    fmt: str = "parquet",
) -> None:
    """UPDATE t SET col=expr WHERE cond (ref: UpdateSemanticAnalyzer.java) —
    computed as one projection with CASE per assigned column."""
    _rewrite(
        update_frame(spark.read.format(fmt).load(path), condition, assignments),
        path,
        fmt,
    )


def delete_frame(t: DataFrame, condition: Column) -> DataFrame:
    """The DELETE anti-filter (NULL condition rows survive, matching SQL
    semantics) over any target frame."""
    return t.filter(~condition | condition.isNull())


def delete_where(
    spark: SparkSession, path: str, condition: Column, fmt: str = "parquet"
) -> None:
    """DELETE FROM t WHERE cond (ref: DeleteSemanticAnalyzer.java); at
    scale pair with partition pruning on the condition."""
    _rewrite(delete_frame(spark.read.format(fmt).load(path), condition), path, fmt)


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: Column,
    matched_update: dict[str, Column] | None = None,
    matched_delete: Column | None = None,
    not_matched_insert: dict[str, Column] | None = None,
    check_cardinality: bool = True,
    fmt: str = "parquet",
    not_matched_cond: Column | None = None,
) -> None:
    """MERGE INTO target USING source ON cond — Hive's join+multi-insert
    rewrite (MergeSemanticAnalyzer.java:85-102) as one full-outer join:

      matched + delete-cond        -> drop row
      matched + update             -> updated row
      matched (no clause applies)  -> unchanged row
      target-only                  -> unchanged row
      source-only + insert clause  -> inserted row

    Explicit presence markers (not key-null checks) classify join sides, so
    nullable columns never misclassify a row.
    """
    out = merge_frame(
        spark.read.format(fmt).load(target_path),
        source,
        on,
        matched_update,
        matched_delete,
        not_matched_insert,
        check_cardinality,
        not_matched_cond,
    )
    _rewrite(out, target_path, fmt)


def merge_frame(
    target: DataFrame,
    source: DataFrame,
    on: Column,
    matched_update: dict[str, Column] | None = None,
    matched_delete: Column | None = None,
    not_matched_insert: dict[str, Column] | None = None,
    check_cardinality: bool = True,
    not_matched_cond: Column | None = None,
) -> DataFrame:
    """The MERGE full-outer-join rewrite over any target frame (shared
    by path-backed and versioned-table DML; see merge_into).
    not_matched_cond carries WHEN NOT MATCHED AND <cond> — Hive folds it
    into the insert branch's source filter
    (MergeSemanticAnalyzer.java:85-102)."""
    tcols = target.columns

    # Per-row id BEFORE the join: Hive keys the cardinality check on
    # ROW__ID, not column values — two identical (legal, multiset) target
    # rows each matching one source row must NOT be counted together.
    # Residual approximation: monotonically_increasing_id is assigned at
    # scan time, so a task retry re-reading a split reassigns ids; within
    # the single action below that is benign (ids are used only to group
    # this evaluation's rows), unlike a cross-stage shuffle key.
    t = (
        target.withColumn("_t_present", F.lit(True))
        .withColumn("_t_rid", F.monotonically_increasing_id())
        .alias("t")
    )
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    joined = t.join(s, on, "full_outer")

    t_marker = F.col("t._t_present").isNotNull()
    s_marker = F.col("s._s_present").isNotNull()

    if check_cardinality:
        # Hive raises cardinality_violation when one target row matches
        # multiple source rows (enforce_constraint, FunctionRegistry.java:312)
        from pyspark.sql import Window

        n_matches = F.count(F.when(s_marker, F.lit(1))).over(
            Window.partitionBy(F.col("t._t_rid"))
        )
        guard = F.when(
            t_marker & (n_matches > 1),
            F.raise_error(F.lit("MERGE cardinality violation")),
        ).otherwise(F.lit(True))
        # window exprs can't sit in WHERE — materialize as a column first
        joined = joined.withColumn("_card_guard", guard).filter(F.col("_card_guard"))

    matched = t_marker & s_marker

    keep = F.lit(True)
    if matched_delete is not None:
        keep = ~(matched & matched_delete)
    insert_ok = (~t_marker) & s_marker & F.lit(not_matched_insert is not None)
    if not_matched_cond is not None:
        insert_ok = insert_ok & not_matched_cond
    keep = keep & (t_marker | insert_ok)

    # updated and inserted values take the column's type (Hive store
    # assignment), so `SET dec = dec + x` cannot widen the stored type
    out_cols = []
    for c in tcols:
        typ = target.schema[c].dataType
        expr = F.col(f"t.{c}")
        if matched_update and c in matched_update:
            expr = F.when(matched, matched_update[c].cast(typ)).otherwise(expr)
        if not_matched_insert is not None:
            ins = not_matched_insert.get(c, F.lit(None))
            expr = F.when(~t_marker, ins.cast(typ)).otherwise(expr)
        out_cols.append(expr.alias(c))

    return joined.filter(keep).select(*out_cols)


def multi_insert(
    df: DataFrame, sinks: list[tuple[Column, str]], cache: bool = True
) -> None:
    """FROM src INSERT ... INSERT ... (Hive multi-insert, grammar
    HiveParser.g:2565, plan fan-out SemanticAnalyzer.genBodyPlan:11468):
    one scan fanned out to N filtered sinks. Spark has no single-statement
    equivalent; we cache the scan once and run N writes against it."""
    if cache:
        df = df.cache()
    try:
        for condition, path in sinks:
            df.filter(condition).write.mode("overwrite").parquet(path)
    finally:
        if cache:
            df.unpersist()


def _rewrite(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Materialize then atomically replace (staging-dir move, Hive MoveTask
    analog) — Spark can't overwrite a path it is concurrently reading.
    The table's writer lock (txn.write_lock, DbTxnManager analog) is held
    for the whole materialize+publish window, so concurrent UPDATE/
    DELETE/MERGE on the same table serialize instead of last-write-
    winning; see txn.py for the (documented) single-host lock scope."""
    from hive_spark.txn import write_lock

    with write_lock(path):
        tmp = path.rstrip("/") + "._staging"
        df.write.mode("overwrite").format(fmt).save(tmp)
        shutil.rmtree(path)
        shutil.move(tmp, path)
    # a flat-path rewrite keeps the same scan location, so cached plan
    # fingerprints would serve PRE-write results — invalidate, the way
    # Hive's QueryResultsCache invalidates on ACID writes
    from hive_spark.plans import invalidate_results_caches

    invalidate_results_caches()
    # ... and Spark's own catalog keeps a per-relation file listing:
    # a catalog table whose location was just swapped still points at
    # the pre-write file names (FAILED_READ_FILE on the next scan)
    df.sparkSession.catalog.refreshByPath(path)
