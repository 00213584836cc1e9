"""Behaviour lock for run_script's statement dispatch.

Each case is a minimal script that reaches one statement handler (or
one of its declines, which fall through to the next handler or to
Spark). `test_dispatch` pins the rows of the script's last result, the
state the handler leaves behind, or the error it raises.
`test_dispatch_trace` pins which `_STATEMENTS` entry, or "sql" for the
Spark path, `ScriptResult.statements` names for the statements that
matter. The EXPLAIN cases pin what EXPLAIN and EXPLAIN ANALYZE render
for statements the engine runs itself: the one-row "engine metadata
operation" descriptor or the authorization STAGE block."""

import os

import pytest

from hive_spark import hqlscript
from hive_spark.hqlscript import run_script, split_statements

_SCR = os.path.join(hqlscript.QTEST_TMP, "hqd")

_SETUP = """
DROP TABLE IF EXISTS hqd_t;
CREATE TABLE hqd_t (a INT, b STRING) STORED AS PARQUET;
INSERT INTO hqd_t VALUES (1, 'x'), (2, 'y');
DROP TABLE IF EXISTS hqd_p;
CREATE TABLE hqd_p (a INT) PARTITIONED BY (ds STRING) STORED AS PARQUET;
INSERT INTO hqd_p PARTITION (ds) VALUES (1, '1'), (2, '2'), (3, '3');
CREATE DATABASE IF NOT EXISTS hqd_db2;
"""

# a fresh 3-partition table (3 statements)
_DP = (
    "DROP TABLE IF EXISTS hqd_dp;"
    " CREATE TABLE hqd_dp (a INT) PARTITIONED BY (ds INT) STORED AS PARQUET;"
    " INSERT INTO hqd_dp PARTITION (ds) VALUES (1, 1), (2, 2), (3, 3);"
)
# a fresh copy of hqd_t (2 statements)
_U = (
    "DROP TABLE IF EXISTS hqd_u;"
    " CREATE TABLE hqd_u STORED AS PARQUET AS SELECT a, b FROM hqd_t;"
)

_STAGES = [("STAGE DEPENDENCIES:",), ("  Stage-0 is a root stage",)]


def _meta(kind: str) -> list:
    return [(f"engine metadata operation: {kind} ...",)]


def _rows(out, i=-1) -> list:
    return [tuple(r) for r in out.results[i].collect()]


def _skipped(stmt):
    def check(spark, out):
        assert stmt in out.skipped
    return check


def _registry(name: str):
    from hive_spark.scheduled import ScheduledQueryRegistry

    def check(spark, out):
        assert ScheduledQueryRegistry(spark).get(name) is None
    return check


def _constraint(name: str, present: bool):
    def check(spark, out):
        names = hqlscript._CONSTRAINT_NAMES.get(id(spark), {})
        assert (name in names) is present
    return check


def _dir_written(sub: str):
    def check(spark, out):
        assert _rows(out) == [(2,)]
        path = os.path.join(_SCR, sub)
        assert [f for f in os.listdir(path) if not f.startswith((".", "_"))]
    return check


def _first_row_startswith(prefix: str):
    def check(spark, out):
        assert _rows(out)[0][0].startswith(prefix)
    return check


def _matchpath(name: str, present: bool):
    def check(spark, out):
        names = hqlscript._MATCHPATH_FNS.get(id(spark), {"matchpath"})
        assert (name in names) is present
    return check


def _moved(name: str):
    def check(spark, out):
        assert _rows(out) == [(1,), (2,)]
        assert not spark.catalog.tableExists(f"default.{name}")
    return check


def _show_table_extended(spark, out):
    rows = _rows(out)
    assert [r[1] for r in rows] == ["hqd_vp"]
    assert "Type: VIEW" in rows[0][3]


def _compaction(spark, out):
    assert _rows(out)[-1][1:] == (
        "default", "hqd_t", "", "major", "succeeded", "",
    )


def _show_mvs(spark, out):
    assert ("hqd_mv", "Yes", "Manual refresh") in _rows(out)


def _spark_explain(spark, out):
    df = out.results[-1]
    assert df.columns == ["plan"]
    assert "Scan" in df.collect()[0][0]


def _explain_analyze(spark, out):
    (plan,), = _rows(out)
    assert "rows=2" in plan


def _describe_builtin(spark, out):
    assert _rows(out)[0] == ("Function: upper",)


def _open_txn(spark, out):
    (row,) = _rows(out)
    assert row[1:2] == ("OPEN",)


def _explain_authorization(spark, out):
    assert [r for r in _rows(out) if r[0] != "CURRENT_USER"] == [
        ("INPUTS", "hqd_t"), ("OUTPUTS", ""), ("OPERATION", "QUERY"),
    ]


# (id, script, expectation, [(statement index, entry name), ...]).
# An expectation is the rows of the last result, an exception type the
# script raises, or a check(spark, out). A negative index counts from
# the script's end.
CASES = [
    # --- macros, PREPARE/EXECUTE ---
    ("create_macro",
     "CREATE TEMPORARY MACRO hqd_inc(x INT) x + 1;"
     " SELECT hqd_inc(a) FROM hqd_t ORDER BY 1",
     [(2,), (3,)], [(0, "create_macro"), (1, "sql")]),
    ("drop_macro",
     "CREATE TEMPORARY MACRO hqd_dbl(x INT) x * 2;"
     " DROP TEMPORARY MACRO hqd_dbl; DESCRIBE FUNCTION hqd_dbl",
     [("Function 'hqd_dbl' does not exist.",)],
     [(1, "drop_macro"), (2, "describe_function")]),
    ("prepare_execute",
     "PREPARE hqd_q FROM SELECT a FROM hqd_t WHERE a > ?;"
     " EXECUTE hqd_q USING 1",
     [(2,)], [(0, "prepare"), (1, "execute")]),
    # --- locks, scheduled queries ---
    ("lock_show_locks",
     "LOCK TABLE hqd_t SHARED; SHOW LOCKS hqd_t",
     [("hqd_t", "SHARED", os.getpid(), True)],
     [(0, "lock"), (1, "show_locks")]),
    ("unlock",
     "LOCK TABLE hqd_t EXCLUSIVE; UNLOCK TABLE hqd_t; SHOW LOCKS hqd_t",
     [], [(1, "unlock")]),
    ("scheduled_query_execute",
     "CREATE OR REPLACE SCHEDULED QUERY hqd_sq CRON '0 0 * * * ? *'"
     " AS SELECT 7 AS x;"
     " ALTER SCHEDULED QUERY hqd_sq DISABLE;"
     " ALTER SCHEDULED QUERY hqd_sq EXECUTE",
     [(7,)],
     [(0, "create_scheduled_query"), (1, "alter_scheduled_query"),
      (2, "alter_scheduled_query")]),
    ("scheduled_query_drop",
     "CREATE OR REPLACE SCHEDULED QUERY hqd_sq2 CRON '0 0 * * * ? *'"
     " AS SELECT 1; DROP SCHEDULED QUERY hqd_sq2",
     _registry("hqd_sq2"), [(1, "drop_scheduled_query")]),
    # --- local file commands ---
    ("dfs",
     "dfs -mkdir -p ${system:test.tmp.dir}/hqd/dfs_dir",
     lambda spark, out: os.path.isdir(os.path.join(_SCR, "dfs_dir")),
     [(0, "dfs")]),
    ("bang_file_command",
     "!touch ${system:test.tmp.dir}/hqd/bang_file",
     lambda spark, out: os.path.isfile(os.path.join(_SCR, "bang_file")),
     [(0, "bang")]),
    ("shell_command_raises", "!ls /", ValueError, []),
    # --- RENAME across databases (same database: Spark) ---
    ("rename_table_cross_db",
     "DROP TABLE IF EXISTS hqd_db2.hqd_rn; DROP TABLE IF EXISTS hqd_rn;"
     " CREATE TABLE hqd_rn STORED AS PARQUET AS SELECT a FROM hqd_t;"
     " ALTER TABLE hqd_rn RENAME TO hqd_db2.hqd_rn;"
     " SELECT a FROM hqd_db2.hqd_rn ORDER BY a",
     _moved("hqd_rn"), [(3, "rename_table")]),
    ("rename_table_same_db",
     "DROP TABLE IF EXISTS hqd_rn2; DROP TABLE IF EXISTS hqd_rn3;"
     " CREATE TABLE hqd_rn2 STORED AS PARQUET AS SELECT a FROM hqd_t;"
     " ALTER TABLE hqd_rn2 RENAME TO default.hqd_rn3;"
     " SELECT count(*) FROM hqd_rn3",
     [(2,)], [(3, "sql")]),
    ("rename_view_cross_db",
     "DROP VIEW IF EXISTS hqd_db2.hqd_rv; DROP VIEW IF EXISTS hqd_rv;"
     " CREATE VIEW hqd_rv AS SELECT a FROM default.hqd_t;"
     " ALTER VIEW hqd_rv RENAME TO hqd_db2.hqd_rv;"
     " SELECT a FROM hqd_db2.hqd_rv ORDER BY a",
     [(1,), (2,)], [(3, "rename_view")]),
    ("rename_view_same_db",
     "DROP VIEW IF EXISTS hqd_rv2; DROP VIEW IF EXISTS hqd_rv3;"
     " CREATE VIEW hqd_rv2 AS SELECT a FROM default.hqd_t;"
     " ALTER VIEW hqd_rv2 RENAME TO default.hqd_rv3;"
     " SELECT a FROM hqd_rv3 ORDER BY a",
     [(1,), (2,)], [(3, "sql")]),
    # --- files: INSERT DIRECTORY, LIKE FILE, EXPORT/IMPORT, LOAD ---
    ("insert_directory_like_file",
     "INSERT OVERWRITE DIRECTORY '${system:test.tmp.dir}/hqd/lf'"
     " STORED AS PARQUET SELECT a, b FROM hqd_t;"
     " DROP TABLE IF EXISTS hqd_lf;"
     " CREATE TABLE hqd_lf LIKE FILE PARQUET"
     " '${system:test.tmp.dir}/hqd/lf/000000_0';"
     " DESCRIBE hqd_lf",
     [("a", "int", None), ("b", "string", None)],
     [(0, "insert_directory"), (2, "create_table_like_file")]),
    ("from_insert_directory",
     "DROP TABLE IF EXISTS hqd_fi;"
     " CREATE TABLE hqd_fi (a INT) STORED AS PARQUET;"
     " FROM hqd_t INSERT OVERWRITE DIRECTORY '${system:test.tmp.dir}/hqd/fd'"
     " SELECT a WHERE a = 1 INSERT INTO TABLE hqd_fi SELECT a WHERE a = 2;"
     " SELECT a FROM hqd_fi",
     _dir_written("fd"), [(2, "from_insert_directory")]),
    ("export_import",
     "EXPORT TABLE hqd_t TO '${system:test.tmp.dir}/hqd/exp';"
     " DROP TABLE IF EXISTS hqd_imp;"
     " IMPORT TABLE hqd_imp FROM '${system:test.tmp.dir}/hqd/exp';"
     " SELECT a, b FROM hqd_imp ORDER BY a",
     [(1, "x"), (2, "y")], [(0, "export"), (2, "import")]),
    ("load_data",
     "DROP TABLE IF EXISTS hqd_ld;"
     " CREATE TABLE hqd_ld (a INT, b STRING)"
     " ROW FORMAT DELIMITED FIELDS TERMINATED BY ',';"
     " LOAD DATA LOCAL INPATH '${system:test.tmp.dir}/hqd/load.txt'"
     " OVERWRITE INTO TABLE hqd_ld;"
     " SELECT a, b FROM hqd_ld",
     [(3, "z")], [(2, "load_data")]),
    ("create_external_complex_text",
     "DROP TABLE IF EXISTS hqd_ext; DROP VIEW IF EXISTS hqd_ext;"
     " CREATE EXTERNAL TABLE hqd_ext (a INT, arr ARRAY<STRING>)"
     " ROW FORMAT DELIMITED FIELDS TERMINATED BY ','"
     " COLLECTION ITEMS TERMINATED BY '#'"
     " LOCATION '${system:test.tmp.dir}/hqd/ext';"
     " SELECT a, arr FROM hqd_ext",
     [(1, ["p", "q"])], [(2, "create_external_text")]),
    # '|' and '.' are regex metacharacters; Hive splits on the literal
    ("create_external_complex_text_regex_delims",
     "DROP TABLE IF EXISTS hqd_ext3; DROP VIEW IF EXISTS hqd_ext3;"
     " CREATE EXTERNAL TABLE hqd_ext3"
     " (a INT, arr ARRAY<STRING>, m MAP<STRING,INT>)"
     " ROW FORMAT DELIMITED FIELDS TERMINATED BY ','"
     " COLLECTION ITEMS TERMINATED BY '|' MAP KEYS TERMINATED BY '.'"
     " LOCATION '${system:test.tmp.dir}/hqd/ext3';"
     " SELECT a, arr, m FROM hqd_ext3",
     [(1, ["p", "q"], {"x": 1, "y": 2})], [(2, "create_external_text")]),
    ("create_external_plain_text",
     "DROP TABLE IF EXISTS hqd_ext2;"
     " CREATE EXTERNAL TABLE hqd_ext2 (a INT, b STRING)"
     " ROW FORMAT DELIMITED FIELDS TERMINATED BY ','"
     " LOCATION '${system:test.tmp.dir}/hqd/ext2';"
     " SELECT a, b FROM hqd_ext2",
     [(4, "w")], [(1, "sql")]),
    # --- partitions ---
    ("drop_partition_comparator",
     _DP + " ALTER TABLE hqd_dp DROP PARTITION (ds < 2);"
     " SHOW PARTITIONS hqd_dp",
     [("ds=2",), ("ds=3",)], [(3, "drop_partition"), (4, "sql")]),
    ("drop_partition_multi",
     _DP + " ALTER TABLE hqd_dp DROP PARTITION (ds=1), PARTITION (ds=3);"
     " SHOW PARTITIONS hqd_dp",
     [("ds=2",)], [(3, "drop_partition")]),
    ("drop_partition_equality",
     _DP + " ALTER TABLE hqd_dp DROP IF EXISTS PARTITION (ds=2);"
     " SHOW PARTITIONS hqd_dp",
     [("ds=1",), ("ds=3",)], [(3, "sql")]),
    ("exchange_partition",
     "DROP TABLE IF EXISTS hqd_xs; DROP TABLE IF EXISTS hqd_xd;"
     " CREATE TABLE hqd_xs (a INT) PARTITIONED BY (ds STRING)"
     " STORED AS PARQUET;"
     " CREATE TABLE hqd_xd (a INT) PARTITIONED BY (ds STRING)"
     " STORED AS PARQUET;"
     " INSERT INTO hqd_xs PARTITION (ds='1') VALUES (5);"
     " ALTER TABLE hqd_xd EXCHANGE PARTITION (ds='1') WITH TABLE hqd_xs;"
     " SELECT (SELECT count(*) FROM hqd_xs), a, ds FROM hqd_xd",
     [(0, 5, "1")], [(5, "exchange_partition")]),
    ("show_partitions_filtered",
     "SHOW PARTITIONS hqd_p WHERE ds > '1' ORDER BY ds DESC LIMIT 1",
     [("ds=3",)], [(0, "show_partitions")]),
    ("show_partitions_plain",
     "SHOW PARTITIONS hqd_p",
     [("ds=1",), ("ds=2",), ("ds=3",)], [(0, "sql")]),
    # --- view partitions (metadata only) ---
    ("view_partitions",
     "DROP VIEW IF EXISTS hqd_vp;"
     " CREATE VIEW hqd_vp AS SELECT a, b FROM hqd_t;"
     " ALTER VIEW hqd_vp ADD PARTITION (b='x') PARTITION (b='y');"
     " ALTER VIEW hqd_vp DROP PARTITION (b='x');"
     " ALTER VIEW hqd_vp ADD PARTITION (b='z');"
     " SHOW PARTITIONS hqd_vp",
     [("b=y",), ("b=z",)],
     [(2, "view_partition"), (3, "view_partition"),
      (5, "show_partitions")]),
    ("show_view_partition_spec",
     "DROP VIEW IF EXISTS hqd_vp;"
     " CREATE VIEW hqd_vp AS SELECT a, b FROM hqd_t;"
     " ALTER VIEW hqd_vp ADD PARTITION (b='x') PARTITION (b='y');"
     " SHOW PARTITIONS hqd_vp PARTITION (b='y')",
     [("b=y",)], [(3, "show_partitions")]),
    ("show_table_extended_view_partition",
     "DROP VIEW IF EXISTS hqd_vp;"
     " CREATE VIEW hqd_vp AS SELECT a, b FROM hqd_t;"
     " ALTER VIEW hqd_vp ADD PARTITION (b='x');"
     " SHOW TABLE EXTENDED LIKE hqd_vp PARTITION (b='x')",
     _show_table_extended, [(3, "show_table_extended_view_partition")]),
    ("describe_view_partition",
     "DROP VIEW IF EXISTS hqd_vp;"
     " CREATE VIEW hqd_vp AS SELECT a, b FROM hqd_t;"
     " ALTER VIEW hqd_vp ADD PARTITION (b='x');"
     " DESCRIBE hqd_vp PARTITION (b='x')",
     [("a", "int", None), ("b", "string", None)],
     [(3, "describe_view_partition")]),
    # --- DESCRIBE / SHOW forms ---
    ("describe_xpath",
     "DROP TABLE IF EXISTS hqd_cx;"
     " CREATE TABLE hqd_cx (m MAP<STRING, ARRAY<STRUCT<f:INT>>>)"
     " STORED AS PARQUET;"
     " DESCRIBE hqd_cx m.$value$.$elem$",
     [("f", "int", "from deserializer")], [(2, "describe_xpath")]),
    ("show_columns_pattern",
     "SHOW COLUMNS FROM hqd_t LIKE 'b|a*'",
     [("a",), ("b",)], [(0, "show_columns")]),
    ("show_sorted_columns",
     "SHOW SORTED COLUMNS IN hqd_t",
     [("a",), ("b",)], [(0, "show_columns")]),
    ("show_columns_plain",
     "SHOW COLUMNS IN hqd_t",
     [("a",), ("b",)], [(0, "sql")]),
    ("show_create_database",
     "SHOW CREATE DATABASE hqd_db2",
     _first_row_startswith("CREATE DATABASE `hqd_db2`"),
     [(0, "show_create_database")]),
    ("describe_function_folded",
     "DESCRIBE FUNCTION likeany",
     [("likeany is an engine-folded function "
       "(rewritten inline at parse time)",)],
     [(0, "describe_function")]),
    ("describe_function_builtin",
     "DESCRIBE FUNCTION upper", _describe_builtin, [(0, "sql")]),
    # --- compactions, transactions, authorization ---
    ("compact_show_compactions",
     "ALTER TABLE hqd_t COMPACT 'major'; SHOW COMPACTIONS",
     _compaction, [(0, "compact"), (1, "show_compactions")]),
    ("begin_show_transactions",
     "BEGIN; SHOW TRANSACTIONS; COMMIT",
     _open_txn,
     [(0, "transaction"), (1, "show_transactions"), (2, "transaction")]),
    ("rollback_show_transactions",
     "START TRANSACTION; ROLLBACK; SHOW TRANSACTIONS",
     [], [(0, "transaction"), (1, "transaction")]),
    ("authorization",
     "DROP ROLE hqd_r1; CREATE ROLE hqd_r1;"
     " GRANT hqd_r1 TO USER hqd_u; SHOW ROLE GRANT USER hqd_u",
     lambda spark, out: [r[0] for r in _rows(out)] == ["public", "hqd_r1"],
     [(0, "authorization"), (1, "authorization"), (2, "authorization"),
      (3, "authorization")]),
    # --- constraints ---
    ("add_constraint",
     "DROP TABLE IF EXISTS hqd_c;"
     " CREATE TABLE hqd_c (a INT) STORED AS PARQUET;"
     " ALTER TABLE hqd_c ADD CONSTRAINT hqd_pk PRIMARY KEY (a)"
     " DISABLE NOVALIDATE",
     _constraint("hqd_pk", True), [(2, "add_constraint")]),
    ("drop_constraint",
     "DROP TABLE IF EXISTS hqd_c;"
     " CREATE TABLE hqd_c (a INT) STORED AS PARQUET;"
     " ALTER TABLE hqd_c ADD CONSTRAINT hqd_pk2 PRIMARY KEY (a)"
     " DISABLE NOVALIDATE;"
     " ALTER TABLE hqd_c DROP CONSTRAINT hqd_pk2",
     _constraint("hqd_pk2", False), [(3, "drop_constraint")]),
    # --- recorded no-ops ---
    ("add_jar",
     "ADD JAR /nonexistent/hqd.jar",
     _skipped("ADD JAR /nonexistent/hqd.jar"), [(0, "add_resource")]),
    ("metadata_noop",
     "ALTER TABLE hqd_t SET SERDEPROPERTIES ('k'='v')",
     _skipped("ALTER TABLE hqd_t SET SERDEPROPERTIES ('k'='v')"),
     [(0, "metadata_noop")]),
    ("dboutput_registration",
     "CREATE TEMPORARY FUNCTION dboutput AS"
     " 'org.apache.hadoop.hive.contrib.genericudf.example.GenericUDFDBOutput'",
     _skipped(
         "CREATE TEMPORARY FUNCTION dboutput AS"
         " 'org.apache.hadoop.hive.contrib.genericudf.example."
         "GenericUDFDBOutput'"
     ),
     [(0, "dboutput_function")]),
    # --- materialized views ---
    ("materialized_view_lifecycle",
     "DROP TABLE IF EXISTS hqd_ms;"
     " CREATE TABLE hqd_ms STORED AS PARQUET AS SELECT a FROM hqd_t;"
     " DROP MATERIALIZED VIEW IF EXISTS hqd_mv;"
     " CREATE MATERIALIZED VIEW hqd_mv AS SELECT count(*) AS n FROM hqd_ms;"
     " INSERT INTO hqd_ms VALUES (3);"
     " ALTER MATERIALIZED VIEW hqd_mv REBUILD;"
     " SELECT n FROM hqd_mv",
     [(3,)],
     [(2, "drop_materialized_view"), (3, "create_materialized_view"),
      (5, "rebuild_materialized_view")]),
    ("show_materialized_views",
     "DROP MATERIALIZED VIEW IF EXISTS hqd_mv;"
     " CREATE MATERIALIZED VIEW hqd_mv AS SELECT a FROM hqd_t;"
     " SHOW MATERIALIZED VIEWS",
     _show_mvs, [(2, "show_materialized_views")]),
    # --- column-level ALTER / TRUNCATE ---
    ("update_columns",
     "ALTER TABLE hqd_t UPDATE COLUMNS CASCADE;"
     " SELECT count(*) FROM hqd_t",
     [(2,)], [(0, "update_columns")]),
    ("partition_add_columns",
     "ALTER TABLE hqd_p PARTITION (ds='1') ADD COLUMNS (c INT);"
     " SELECT count(*) FROM hqd_p",
     [(3,)], [(0, "alter_columns")]),
    ("truncate_columns",
     _U + " TRUNCATE TABLE hqd_u COLUMNS (b);"
     " SELECT a, b FROM hqd_u ORDER BY a",
     [(1, None), (2, None)], [(2, "truncate_columns")]),
    # --- SET / RESET ---
    ("set_value",
     "SET hqd.k2=abc; SET hqd.k2",
     [("hqd.k2", "abc")], [(0, "set"), (1, "sql")]),
    ("reset_key",
     "SET hqd.k3=abc; RESET hqd.k3; SET hqd.k3",
     [("hqd.k3", "<undefined>")], [(1, "reset")]),
    ("reset_d_flag",
     "SET hqd.k4=abc; RESET -d hqd.k4; SET hqd.k4",
     [("hqd.k4", "<undefined>")], [(1, "reset")]),
    # --- functions ---
    ("create_function_fold",
     "CREATE TEMPORARY FUNCTION hqd_up AS"
     " 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper';"
     " SELECT hqd_up(b) FROM hqd_t ORDER BY 1",
     [("X",), ("Y",)], [(0, "create_function")]),
    ("drop_function_fold",
     "CREATE TEMPORARY FUNCTION hqd_up2 AS"
     " 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper';"
     " DROP TEMPORARY FUNCTION hqd_up2; DESCRIBE FUNCTION hqd_up2",
     [("Function 'hqd_up2' does not exist.",)], [(1, "drop_function")]),
    ("create_function_matchpath",
     "CREATE TEMPORARY FUNCTION hqd_mp AS"
     " 'org.apache.hadoop.hive.ql.udf.ptf.MatchPath'",
     _matchpath("hqd_mp", True), [(0, "create_function")]),
    ("drop_function_matchpath",
     "CREATE TEMPORARY FUNCTION hqd_mp2 AS"
     " 'org.apache.hadoop.hive.ql.udf.ptf.MatchPath';"
     " DROP TEMPORARY FUNCTION hqd_mp2",
     _matchpath("hqd_mp2", False), [(1, "drop_function")]),
    ("drop_function_unknown",
     "DROP TEMPORARY FUNCTION IF EXISTS hqd_nofn; SELECT 1",
     [(1,)], [(0, "sql")]),
    # --- storage handlers ---
    ("default_storage_handler",
     "DROP TABLE IF EXISTS hqd_dsh;"
     " CREATE TABLE hqd_dsh (a INT) STORED BY"
     " 'org.apache.hadoop.hive.ql.metadata.DefaultStorageHandler';"
     " INSERT INTO hqd_dsh VALUES (4); SELECT a FROM hqd_dsh",
     [(4,)], [(1, "sql")]),
    # --- ACID DML ---
    ("update",
     _U + " UPDATE hqd_u SET b = 'z' WHERE a = 1;"
     " SELECT a, b FROM hqd_u ORDER BY a",
     [(1, "z"), (2, "y")], [(2, "dml")]),
    ("delete",
     _U + " DELETE FROM hqd_u WHERE a = 1; SELECT a, b FROM hqd_u",
     [(2, "y")], [(2, "dml")]),
    ("merge",
     _U + " MERGE INTO hqd_u USING (SELECT 2 AS a, 'w' AS b"
     " UNION ALL SELECT 3, 'n') s ON hqd_u.a = s.a"
     " WHEN MATCHED THEN UPDATE SET b = s.b"
     " WHEN NOT MATCHED THEN INSERT VALUES (s.a, s.b);"
     " SELECT a, b FROM hqd_u ORDER BY a",
     [(1, "x"), (2, "w"), (3, "n")], [(2, "dml")]),
    # --- the Spark path ---
    ("sql_regex_column",
     "SET hive.support.quoted.identifiers=none;"
     " SELECT `(b)?+.+` FROM hqd_t ORDER BY a",
     [(1,), (2,)], [(1, "sql")]),
    ("sql_dynamic_overwrite",
     "DROP TABLE IF EXISTS hqd_do;"
     " CREATE TABLE hqd_do (a INT) PARTITIONED BY (ds STRING)"
     " STORED AS PARQUET;"
     " INSERT INTO hqd_do PARTITION (ds) VALUES (1, '1'), (2, '2');"
     " INSERT OVERWRITE TABLE hqd_do PARTITION (ds) SELECT 9, '2';"
     " SELECT a, ds FROM hqd_do ORDER BY ds",
     [(1, "1"), (9, "2")], [(3, "sql")]),
    ("sql_cte_spool",
     "WITH q AS (SELECT a FROM hqd_t) SELECT count(*) FROM q x"
     " JOIN q y ON x.a = y.a JOIN q z ON y.a = z.a",
     [(2,)], [(0, "sql")]),
    # --- EXPLAIN of engine statements: STAGE block ---
    ("explain_create_macro",
     "EXPLAIN CREATE TEMPORARY MACRO hqd_e(x INT) x + 1",
     _STAGES, [(0, "explain")]),
    ("explain_drop_macro",
     "EXPLAIN DROP TEMPORARY MACRO hqd_e", _STAGES, [(0, "explain")]),
    ("explain_show_grant", "EXPLAIN SHOW GRANT", _STAGES, []),
    ("explain_create_role", "EXPLAIN CREATE ROLE hqd_er", _STAGES, []),
    ("explain_grant",
     "EXPLAIN GRANT SELECT ON TABLE hqd_t TO USER hqd_u", _STAGES, []),
    ("explain_show_current_roles",
     "EXPLAIN SHOW CURRENT ROLES", _STAGES, []),
    ("explain_show_locks", "EXPLAIN SHOW LOCKS", _STAGES, []),
    ("explain_show_compactions", "EXPLAIN SHOW COMPACTIONS", _STAGES, []),
    ("explain_show_columns_pattern",
     "EXPLAIN SHOW COLUMNS FROM hqd_t LIKE 'a*'", _STAGES, []),
    ("explain_show_partitions_filtered",
     "EXPLAIN SHOW PARTITIONS hqd_p WHERE ds > '1'", _STAGES, []),
    # --- EXPLAIN of engine statements: one-row descriptor ---
    ("explain_update", "EXPLAIN UPDATE hqd_t SET b = 'q' WHERE a = 1",
     _meta("UPDATE"), [(0, "explain")]),
    ("explain_analyze_update",
     "EXPLAIN ANALYZE UPDATE hqd_t SET b = 'q' WHERE a = 1",
     _meta("UPDATE"), [(0, "explain")]),
    ("explain_formatted_update",
     "EXPLAIN FORMATTED UPDATE hqd_t SET b = 'q'", _meta("UPDATE"), []),
    ("explain_delete", "EXPLAIN DELETE FROM hqd_t WHERE a = 1",
     _meta("DELETE"), []),
    ("explain_analyze_delete", "EXPLAIN ANALYZE DELETE FROM hqd_t",
     _meta("DELETE"), []),
    ("explain_merge",
     "EXPLAIN MERGE INTO hqd_t t USING hqd_t s ON t.a = s.a"
     " WHEN MATCHED THEN DELETE",
     _meta("MERGE"), []),
    ("explain_analyze_merge",
     "EXPLAIN ANALYZE MERGE INTO hqd_t t USING hqd_t s ON t.a = s.a"
     " WHEN MATCHED THEN DELETE",
     _meta("MERGE"), []),
    ("explain_metadata_noop",
     "EXPLAIN ALTER TABLE hqd_t SET SERDEPROPERTIES ('k'='v')",
     _meta("ALTER"), []),
    ("explain_rebuild_mv",
     "EXPLAIN ALTER MATERIALIZED VIEW hqd_mv REBUILD", _meta("ALTER"), []),
    ("explain_drop_mv",
     "EXPLAIN DROP MATERIALIZED VIEW hqd_mv", _meta("DROP"), []),
    ("explain_export",
     "EXPLAIN EXPORT TABLE hqd_t TO '${system:test.tmp.dir}/hqd/exp2'",
     _meta("EXPORT"), []),
    ("explain_import",
     "EXPLAIN IMPORT TABLE hqd_i2 FROM '${system:test.tmp.dir}/hqd/exp2'",
     _meta("IMPORT"), []),
    ("explain_add_constraint",
     "EXPLAIN ALTER TABLE hqd_t ADD CONSTRAINT hqd_u1 UNIQUE (a)"
     " DISABLE NOVALIDATE",
     _meta("ALTER"), []),
    ("explain_exchange_partition",
     "EXPLAIN ALTER TABLE hqd_p EXCHANGE PARTITION (ds='1')"
     " WITH TABLE hqd_p2",
     _meta("ALTER"), []),
    ("explain_update_columns",
     "EXPLAIN ALTER TABLE hqd_t UPDATE COLUMNS CASCADE",
     _meta("ALTER"), []),
    ("explain_show_create_database",
     "EXPLAIN SHOW CREATE DATABASE hqd_db2", _meta("SHOW"), []),
    ("explain_drop_partition",
     "EXPLAIN ALTER TABLE hqd_p DROP PARTITION (ds < '2')",
     _meta("ALTER"), []),
    ("explain_show_transactions",
     "EXPLAIN SHOW TRANSACTIONS", _meta("SHOW"), []),
    ("explain_lock", "EXPLAIN LOCK TABLE hqd_t SHARED", _meta("LOCK"), []),
    ("explain_unlock", "EXPLAIN UNLOCK TABLE hqd_t", _meta("UNLOCK"), []),
    ("explain_compact",
     "EXPLAIN ALTER TABLE hqd_t COMPACT 'minor'", _meta("ALTER"), []),
    ("explain_prepare",
     "EXPLAIN PREPARE hqd_q2 FROM SELECT 1", _meta("PREPARE"), []),
    ("explain_execute", "EXPLAIN EXECUTE hqd_q2", _meta("EXECUTE"), []),
    # --- EXPLAIN that Spark or the plan walker renders ---
    ("explain_select", "EXPLAIN SELECT a FROM hqd_t", _spark_explain,
     [(0, "sql")]),
    ("explain_analyze_select", "EXPLAIN ANALYZE SELECT a FROM hqd_t",
     _explain_analyze, [(0, "explain")]),
    ("explain_analyze_side_effect",
     "EXPLAIN ANALYZE ALTER TABLE hqd_p DROP PARTITION (ds='1')",
     [("side-effect statement (ALTER): plan only",)], []),
    ("explain_authorization",
     "EXPLAIN AUTHORIZATION SELECT a FROM hqd_t", _explain_authorization,
     [(0, "explain")]),
]

_PARAMS = [pytest.param(s, e, tr, id=i) for i, s, e, tr in CASES]


@pytest.fixture(scope="module")
def hqd(spark):
    os.makedirs(os.path.join(_SCR, "ext"), exist_ok=True)
    os.makedirs(os.path.join(_SCR, "ext2"), exist_ok=True)
    os.makedirs(os.path.join(_SCR, "ext3"), exist_ok=True)
    with open(os.path.join(_SCR, "load.txt"), "w") as f:
        f.write("3,z\n")
    with open(os.path.join(_SCR, "ext", "data.txt"), "w") as f:
        f.write("1,p#q\n")
    with open(os.path.join(_SCR, "ext2", "data.txt"), "w") as f:
        f.write("4,w\n")
    with open(os.path.join(_SCR, "ext3", "data.txt"), "w") as f:
        f.write("1,p|q,x.1|y.2\n")
    run_script(spark, _SETUP)
    yield spark
    run_script(
        spark,
        "DROP VIEW IF EXISTS hqd_vp; DROP VIEW IF EXISTS hqd_rv3;"
        " DROP VIEW IF EXISTS hqd_db2.hqd_rv;"
        " DROP TABLE IF EXISTS hqd_db2.hqd_rn;"
        " DROP TABLE IF EXISTS hqd_rn3; DROP TABLE IF EXISTS hqd_lf;"
        " DROP TABLE IF EXISTS hqd_fi; DROP TABLE IF EXISTS hqd_imp;"
        " DROP TABLE IF EXISTS hqd_ld; DROP VIEW IF EXISTS hqd_ext;"
        " DROP VIEW IF EXISTS hqd_ext3;"
        " DROP TABLE IF EXISTS hqd_ext2; DROP TABLE IF EXISTS hqd_dp;"
        " DROP TABLE IF EXISTS hqd_xs; DROP TABLE IF EXISTS hqd_xd;"
        " DROP TABLE IF EXISTS hqd_cx; DROP TABLE IF EXISTS hqd_c;"
        " DROP MATERIALIZED VIEW IF EXISTS hqd_mv;"
        " DROP TABLE IF EXISTS hqd_ms; DROP TABLE IF EXISTS hqd_u;"
        " DROP TABLE IF EXISTS hqd_do; DROP TABLE IF EXISTS hqd_dsh;"
        " DROP TABLE IF EXISTS hqd_p; DROP TABLE IF EXISTS hqd_t;"
        " DROP DATABASE IF EXISTS hqd_db2 CASCADE",
    )


def _check(spark, out, expect) -> None:
    if callable(expect):
        assert expect(spark, out) is not False
    else:
        assert _rows(out) == expect


@pytest.mark.parametrize("script,expect,trace", _PARAMS)
def test_dispatch(hqd, script, expect, trace):
    if isinstance(expect, type):
        with pytest.raises(expect):
            run_script(hqd, script)
        return
    _check(hqd, run_script(hqd, script), expect)


@pytest.mark.parametrize("script,expect,trace", _PARAMS)
def test_dispatch_trace(hqd, script, expect, trace):
    """ScriptResult.statements names the entry that handled each
    statement, in the order the statements ran."""
    if isinstance(expect, type):
        return
    out = run_script(hqd, script)
    n = len(split_statements(script))
    assert [i for i, _ in out.statements] == list(range(n))
    for i, name in trace:
        assert out.statements[i % n] == (i % n, name)


def test_source_runs_file_in_session(hqd, tmp_path):
    """`source <file>` runs the file's statements; their results surface
    like inline ones."""
    path = tmp_path / "sourced.q"
    path.write_text("SELECT 7 AS x;\n")
    out = run_script(hqd, f"source {path}")
    assert _rows(out) == [(7,)]


def test_source_shares_variables_and_trace(hqd, tmp_path):
    """A sourced file runs in the caller's session: its SET hivevar is
    visible afterwards, its retries are logged, and each of its
    statements is traced before the `source` line that ran them."""
    path = tmp_path / "vars.q"
    path.write_text(
        "SET hivevar:hqd_sv=7;\nSELECT count(*) FROM hqd_t GROUP BY 1;\n"
    )
    out = run_script(hqd, f"source {path}; SELECT ${{hivevar:hqd_sv}} AS v")
    assert _rows(out, 0) == [(2,)]
    assert _rows(out) == [(7,)]
    assert out.retries == [(1, "GROUP_BY_POS_AGGREGATE", "group_by_literal")]
    assert out.statements == [(0, "set"), (1, "sql"), (2, "source"), (3, "sql")]


def test_bare_reset_keeps_session_variables(hqd):
    """Bare RESET undoes the script's own SETs only: the warehouse dir
    the CLI session starts with still substitutes."""
    wh = hqd.conf.get("spark.sql.warehouse.dir").split(":", 1)[-1]
    out = run_script(
        hqd,
        "SET hqd.k5=abc; RESET; SET hqd.k5;"
        " SELECT '${hiveconf:hive.metastore.warehouse.dir}' AS wh",
    )
    assert _rows(out, 0) == [("hqd.k5", "<undefined>")]
    assert _rows(out) == [(wh,)]
    assert "hqd.k5" not in out.set_commands


def test_jdbc_handler_entries(hqd):
    from hive_spark.sources.jdbc_handler import (
        HANDLER_TABLES,
        drop_memory_databases,
    )

    script = (
        "--!qt:database:derby:hqd\n"
        "SELECT dboutput('${system:hive.test.database.hqd.jdbc.url}',"
        " '', '', 'CREATE TABLE HQ (\"k\" INTEGER)') AS rc;\n"
        "CREATE EXTERNAL TABLE hqd_jt (k INT)"
        " STORED BY 'org.apache.hive.storage.jdbc.JdbcStorageHandler'"
        " TBLPROPERTIES ("
        "  'hive.sql.database.type' = 'DERBY',"
        "  'hive.sql.jdbc.url' = '${system:hive.test.database.hqd.jdbc.url}',"
        "  'hive.sql.table' = 'HQ');\n"
        "INSERT INTO hqd_jt VALUES (5);\n"
        "ALTER TABLE hqd_jt SET TBLPROPERTIES ('hive.sql.query.fieldNames'='k');\n"
        "SELECT k FROM hqd_jt;\n"
        "DROP TABLE hqd_jt;"
    )
    try:
        out = run_script(hqd, script)
        assert _rows(out) == [(5,)]
        assert "hqd_jt" not in HANDLER_TABLES
        assert [name for _, name in out.statements] == [
            "sql", "jdbc_table", "handler_table", "handler_table", "sql",
            "handler_table",
        ]
    finally:
        drop_memory_databases(hqd)


def test_versioned_write_entries(hqd, tmp_path):
    from pyspark.sql import functions as F

    from hive_spark import snapshots
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned

    path = str(tmp_path / "hqd_vt")
    snapshots.write_version(hqd.range(2).withColumn("v", F.lit(1)), path)
    register_versioned("hqd_vt", path)
    try:
        out = run_script(
            hqd,
            "INSERT INTO hqd_vt VALUES (5, 50); TRUNCATE TABLE hqd_vt;"
            " INSERT INTO hqd_t VALUES (9, 'v'); DELETE FROM hqd_t WHERE a = 9",
        )
        assert snapshots.read_table(hqd, path).count() == 0
        assert snapshots.read_table(hqd, path, 1).count() == 3
        assert [name for _, name in out.statements] == [
            "versioned_write", "versioned_write", "sql", "dml",
        ]
    finally:
        VERSIONED_TABLES.pop("hqd_vt", None)


@pytest.mark.parametrize("script,rows", [
    ("EXPLAIN SHOW PARTITIONS hqd_p", _STAGES),
    ("EXPLAIN FORMATTED SHOW LOCKS", _STAGES),
    ("EXPLAIN ANALYZE LOCK TABLE hqd_t SHARED", _meta("LOCK")),
])
def test_explain_follows_entry(hqd, script, rows):
    """EXPLAIN renders what the statement's `_STATEMENTS` entry says,
    whatever the explain mode and whichever form of the statement."""
    assert _rows(run_script(hqd, script)) == rows


_TRACED_ELSEWHERE = {"source", "jdbc_table", "handler_table", "versioned_write"}
# no statement is ever traced to these: side steps always decline, and
# `shell` raises
_UNTRACED = {"record_owner", "default_storage_handler", "shell"}


def test_every_entry_has_a_case():
    names = [e.name for e in hqlscript._STATEMENTS]
    assert len(names) == len(set(names))
    traced = {name for *_, trace in CASES for _, name in trace}
    assert set(names) - traced - _TRACED_ELSEWHERE - _UNTRACED == set()
