"""HiveQL script on-ramp: statement splitting, SET/txn/ADD mapping, and
a representative multi-statement Hive script running unmodified."""

import pytest

from hive_spark.hqlscript import run_script, split_statements
from hive_spark.operators import views


def test_split_respects_quotes_and_comments():
    text = """
    -- leading comment; with a semicolon
    SELECT 'a;b' AS x;    -- trailing comment
    SELECT "c;d" AS y
    """
    stmts = split_statements(text)
    assert stmts == ["SELECT 'a;b' AS x", 'SELECT "c;d" AS y']


def test_representative_hive_script(spark, sf_dir):
    views(spark, sf_dir)
    script = """
    -- classic Hive job prologue
    SET hive.exec.dynamic.partition=true;
    SET hive.exec.dynamic.partition.mode=nonstrict;
    SET spark.sql.shuffle.partitions=8;
    ADD JAR /tmp/udfs.jar;
    START TRANSACTION;
    CREATE OR REPLACE TEMPORARY VIEW big_orders AS
      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000;
    SELECT /*+ MAPJOIN(n) */ n.n_name, COUNT(*) AS cnt
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY cnt DESC, n.n_name LIMIT 5;
    COMMIT;
    """
    out = run_script(spark, script)
    # hive-only knobs recorded, spark conf actually applied
    assert out.set_commands["hive.exec.dynamic.partition"] == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # ADD JAR no-op'd; START TRANSACTION/COMMIT now bracket a REAL
    # (here empty) hive_spark.txn.Transaction and are not skipped
    assert len(out.skipped) == 1
    assert out.txn is not None and not out.txn.active
    rows = out.results[-1].collect()
    assert len(rows) == 5 and rows[0].cnt >= rows[-1].cnt
    spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_mapjoin_hint_broadcasts(spark, sf_dir):
    """Hive's /*+ MAPJOIN */ hint name is honored by Spark's parser —
    HiveQL text keeps its broadcast intent without rewriting."""
    views(spark, sf_dir)
    plan = (
        spark.sql(
            """SELECT /*+ MAPJOIN(n) */ n.n_name, c.c_custkey
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_shell_commands_rejected(spark):
    # confined file ops execute through the dfs subset...
    run_script(spark, "!mkdir /tmp/hive_spark_qtest_tmp/shelltest;")
    import os
    assert os.path.isdir("/tmp/hive_spark_qtest_tmp/shelltest")
    # ...anything else still raises rather than silently diverging
    with pytest.raises(ValueError, match="shell commands"):
        run_script(spark, "!echo hello;")
    # dfs outside /tmp (or unsupported ops) is recorded-skipped, not run
    out = run_script(spark, "dfs -ls /;")
    assert out.skipped and "dfs -ls" in out.skipped[0]


def test_sql_text_update_delete_on_registered_path(spark, tmp_path):
    """UPDATE/DELETE as SQL text over a plain parquet table registered
    via register_table_path — routed to the copy-on-write DML rewrites
    (Hive Update/DeleteSemanticAnalyzer surface)."""
    from pyspark.sql import functions as F

    from hive_spark.hqlscript import TABLE_PATHS, register_table_path, run_script

    path = str(tmp_path / "acct")
    spark.range(10).withColumn("bal", F.col("id") * 10).write.parquet(path)
    register_table_path("acct", path)
    try:
        run_script(spark, "UPDATE acct SET bal = bal + 5 WHERE id < 3;")
        rows = {r.id: r.bal for r in spark.read.parquet(path).collect()}
        assert rows[0] == 5 and rows[2] == 25 and rows[5] == 50

        run_script(spark, "DELETE FROM acct WHERE id >= 8;")
        assert spark.read.parquet(path).count() == 8
    finally:
        TABLE_PATHS.pop("acct", None)


def test_sql_text_merge_on_registered_path(spark, tmp_path):
    """MERGE INTO ... USING (subquery) with matched UPDATE + DELETE and
    NOT MATCHED INSERT clauses, alias-rewritten onto the merge_frame
    join (MergeSemanticAnalyzer surface)."""
    from pyspark.sql import functions as F

    from hive_spark.hqlscript import TABLE_PATHS, register_table_path, run_script

    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "k int, v int"
    ).write.parquet(path)
    register_table_path("tgt", path)
    try:
        run_script(
            spark,
            """
            MERGE INTO tgt t USING (
                SELECT * FROM VALUES (2, 999), (3, -1), (4, 400) AS s(k, v)
            ) s ON t.k = s.k
            WHEN MATCHED AND s.v < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);
            """,
        )
        rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
        assert rows == {1: 100, 2: 999, 4: 400}  # 3 deleted, 4 inserted
    finally:
        TABLE_PATHS.pop("tgt", None)


def test_sql_text_dml_versioned_respects_transaction(spark, tmp_path):
    """DML on a VERSIONED table inside BEGIN..ROLLBACK is undone; after
    COMMIT it sticks and time travel still sees the old version."""
    from pyspark.sql import functions as F

    from hive_spark import snapshots
    from hive_spark.hqlscript import (
        VERSIONED_TABLES,
        register_versioned,
        run_script,
    )

    path = str(tmp_path / "vt")
    snapshots.write_version(
        spark.range(4).withColumn("v", F.lit(1)), path
    )
    register_versioned("vt_dml", path)
    try:
        run_script(
            spark, "BEGIN; UPDATE vt_dml SET v = 2 WHERE id < 2; ROLLBACK;"
        )
        assert snapshots.read_table(spark, path).filter("v = 2").count() == 0

        run_script(
            spark, "BEGIN; UPDATE vt_dml SET v = 2 WHERE id < 2; COMMIT;"
        )
        assert snapshots.read_table(spark, path).filter("v = 2").count() == 2
        # prior version still time-travelable
        assert snapshots.read_table(spark, path, 0).filter("v = 2").count() == 0

        run_script(spark, "DELETE FROM vt_dml WHERE id = 0;")
        assert snapshots.read_table(spark, path).count() == 3
    finally:
        VERSIONED_TABLES.pop("vt_dml", None)


def test_sql_text_insert_truncate_versioned(spark, tmp_path):
    """INSERT INTO / INSERT OVERWRITE / TRUNCATE TABLE as SQL text over
    a versioned table: each publishes a new snapshot version; plain
    catalog tables keep Spark's native INSERT path."""
    from pyspark.sql import functions as F

    from hive_spark import snapshots
    from hive_spark.hqlscript import (
        VERSIONED_TABLES,
        register_versioned,
        run_script,
    )

    path = str(tmp_path / "vt_ins")
    snapshots.write_version(
        spark.range(3).withColumn("v", F.lit(10)), path
    )
    register_versioned("vt_ins", path)
    try:
        run_script(spark, "INSERT INTO vt_ins VALUES (7, 70), (8, 80);")
        assert snapshots.read_table(spark, path).count() == 5

        run_script(
            spark, "INSERT OVERWRITE vt_ins SELECT id, id FROM range(2);"
        )
        assert snapshots.read_table(spark, path).count() == 2
        # old versions retained: time travel sees the 5-row state
        assert snapshots.read_table(spark, path, 1).count() == 5

        run_script(spark, "TRUNCATE TABLE vt_ins;")
        assert snapshots.read_table(spark, path).count() == 0
        assert snapshots.read_table(spark, path).columns == ["id", "v"]
    finally:
        VERSIONED_TABLES.pop("vt_ins", None)


def test_cte_forward_reference_reordered(spark):
    """Hive resolves WITH names positionally-independently (cte_1.q
    "chaining"); forward-referencing chains are topologically reordered
    before Spark sees them."""
    out = run_script(
        spark,
        "WITH q1 AS (SELECT x FROM q2 WHERE x > 1),"
        " q2 AS (SELECT id AS x FROM range(5))"
        " SELECT * FROM q1 ORDER BY x;",
    )
    assert [r.x for r in out.results[-1].collect()] == [2, 3, 4]


def test_unused_cte_body_never_analyzed(spark):
    """Hive never semantically analyzes an unreferenced CTE — cte_1.q
    ends with a WITH whose body references a nonexistent column but whose
    name is never used; the statement must still run."""
    out = run_script(
        spark,
        "WITH q1 AS (SELECT no_such_col FROM range(5))"
        " SELECT COUNT(*) AS n FROM range(3);",
    )
    assert out.results[-1].collect()[0].n == 3


def test_create_view_autoalias(spark):
    """Unaliased view expression columns get Hive's `_c<i>` names
    (cte_2.q view_3/view_4) instead of Spark's hard refusal."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP VIEW IF EXISTS v_auto;"
        " CREATE VIEW v_auto AS SELECT id, AVG(id) FROM range(10)"
        " GROUP BY id LIMIT 3;",
    )
    assert spark.table("hqtest.v_auto").columns == ["id", "_c1"]
    run_script(spark, "DROP VIEW hqtest.v_auto; USE default;")


def test_insert_overwrite_self_read(spark):
    """INSERT OVERWRITE of a table the query also reads (union22.q):
    Hive's two-phase staging semantics, replicated."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS selfrw;"
        " CREATE TABLE selfrw AS SELECT id FROM range(4);"
        " INSERT OVERWRITE TABLE selfrw SELECT id + 10 FROM selfrw;",
    )
    got = sorted(r.id for r in spark.table("hqtest.selfrw").collect())
    assert got == [10, 11, 12, 13]
    run_script(spark, "DROP TABLE hqtest.selfrw; USE default;")


def test_temporary_table_and_double_quoted_delim(spark, tmp_path):
    """CREATE TEMPORARY TABLE maps to a writable managed table;
    ROW FORMAT DELIMITED accepts double-quoted delimiters
    (subquery_multi.q's part_null)."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS ttmp;"
        ' CREATE TEMPORARY TABLE ttmp (a INT, b STRING)'
        ' ROW FORMAT DELIMITED FIELDS TERMINATED BY ",";'
        " INSERT INTO ttmp VALUES (1, 'x');",
    )
    assert spark.table("hqtest.ttmp").count() == 1
    run_script(spark, "DROP TABLE ttmp; USE default;")


def test_create_table_clause_normalization(spark):
    """Hive clause order (PARTITIONED BY typed cols ... STORED AS after)
    normalizes to Spark's datasource form: partition columns merged into
    the schema, USING in the provider position, inline constraints and
    DISABLE/RELY tails stripped (union_remove_15.q,
    join_constraints_optimization.q shapes)."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS norm1;"
        " CREATE TABLE norm1(key string, `values` bigint,"
        " primary key (key) disable novalidate rely)"
        " partitioned by (ds string) stored as rcfile;"
        " INSERT INTO norm1 PARTITION (ds='1') VALUES ('a', 1);",
    )
    t = spark.table("hqtest.norm1")
    assert t.columns == ["key", "values", "ds"]
    assert t.count() == 1
    run_script(spark, "DROP TABLE norm1; USE default;")


def test_tuple_in_elementwise_coercion(spark):
    """(a, b) IN ((...)) with per-element implicit coercion — Hive's
    GenericUDFIn semantics (join45.q); string keys match int literals."""
    out = run_script(
        spark,
        "SELECT COUNT(*) AS n FROM ("
        "  SELECT CAST(id AS STRING) AS a, id AS b FROM range(10)) t"
        " WHERE (a, b) IN ((3, 3), (5, 5), (99, 99));",
    )
    assert out.results[-1].collect()[0].n == 2
    out = run_script(
        spark,
        "SELECT COUNT(*) AS n FROM ("
        "  SELECT CAST(id AS STRING) AS a, id AS b FROM range(10)) t"
        " WHERE (a, b) NOT IN ((3, 3), (5, 5));",
    )
    assert out.results[-1].collect()[0].n == 8


def test_variable_substitution_and_dfs(spark, tmp_path):
    """Hive CLI variable substitution (${hivevar:}, ${hiveconf:},
    ${system:test.tmp.dir}) and the local-fs dfs command subset;
    destructive dfs paths outside /tmp are recorded-skipped, never run."""
    import os
    import shutil
    import tempfile

    # an EXISTING host dir outside /tmp: destructive dfs must be
    # recorded-skipped (a NONEXISTENT absolute path instead maps to the
    # fake-HDFS qtest scratch — see the guard test below)
    outside = tempfile.mkdtemp(dir=os.path.dirname(__file__))
    try:
        out = run_script(
            spark,
            "SET hivevar:lo=2; SET hiveconf:hi=4;"
            " dfs -mkdir -p /tmp/hive_spark_qtest_tmp/vtest;"
            f" dfs -rm -r {outside};"
            " SELECT COUNT(*) AS n FROM range(10)"
            " WHERE id BETWEEN ${lo} AND ${hiveconf:hi};",
        )
        assert out.results[-1].collect()[0].n == 3
        assert os.path.isdir("/tmp/hive_spark_qtest_tmp/vtest")
        assert any("dfs -rm" in s for s in out.skipped)
        assert os.path.isdir(outside)
    finally:
        shutil.rmtree(outside, ignore_errors=True)


def test_dfs_guard_rejects_traversal_and_prefix_tricks(spark):
    """The /tmp confinement must survive ../ traversal, the bare /tmp
    root, and sibling-prefix paths like /tmpfoo — all are skipped,
    never executed (qtest scripts are untrusted input)."""
    import os
    import shutil
    import tempfile

    outside = tempfile.mkdtemp(dir=os.path.dirname(__file__))
    try:
        canary = os.path.join(outside, "canary.txt")
        with open(canary, "w") as f:
            f.write("x")
        # /tmp/../<elsewhere> — realpath lands outside /tmp
        probe = f"/tmp/..{canary}"
        out = run_script(spark, f"dfs -rm {probe};")
        assert any("dfs -rm" in s for s in out.skipped)
        assert os.path.exists(canary)
        # bare /tmp itself refused; a NONEXISTENT /tmpfoo sibling maps
        # to the fake-HDFS qtest scratch (r9: `dfs` paths are the
        # harness's private filesystem), so the HOST /tmpfoo is never
        # created either way
        out = run_script(spark, "dfs -rm -r /tmp; dfs -mkdir /tmpfoo;")
        assert any("dfs -rm -r /tmp" in s for s in out.skipped)
        assert os.path.isdir("/tmp") and not os.path.exists("/tmpfoo")
        # symlink escape: a link under /tmp pointing outside is refused
        link = "/tmp/hive_spark_qtest_tmp/esc_link"
        os.makedirs(os.path.dirname(link), exist_ok=True)
        if os.path.lexists(link):
            os.remove(link)
        os.symlink(outside, link)
        try:
            out = run_script(spark, f"dfs -rm -r {link};")
            assert any("dfs -rm" in s for s in out.skipped)
            assert os.path.exists(canary)
        finally:
            os.remove(link)
    finally:
        shutil.rmtree(outside, ignore_errors=True)


def test_create_table_like_stored_as(spark):
    """CREATE TABLE t LIKE s STORED AS ORC: the USING clause must land
    after `LIKE s` (Spark grammar), not after the new table name."""
    run_script(spark, "DROP TABLE IF EXISTS like_src;"
                      " DROP TABLE IF EXISTS like_dst;")
    out = run_script(
        spark,
        "CREATE TABLE like_src (k INT, v STRING) STORED AS PARQUET;"
        " CREATE TABLE like_dst LIKE like_src STORED AS ORC;"
        " DESCRIBE like_dst;",
    )
    cols = [r.col_name for r in out.results[-1].collect()]
    assert cols[:2] == ["k", "v"]
    run_script(spark, "DROP TABLE like_src; DROP TABLE like_dst;")


def test_drop_partial_partition_no_match_raises(spark):
    """A partial DROP PARTITION spec matching nothing must raise without
    IF EXISTS (Hive INVALID_PARTITION), succeed silently with it."""
    run_script(
        spark,
        "DROP TABLE IF EXISTS pdrop_t;"
        " CREATE TABLE pdrop_t (v INT) PARTITIONED BY (a STRING, b STRING)"
        " STORED AS PARQUET;"
        " INSERT INTO pdrop_t PARTITION (a='x', b='1') VALUES (10);",
    )
    with pytest.raises(Exception, match="[Pp]artition"):
        run_script(spark, "ALTER TABLE pdrop_t DROP PARTITION (a='zz');")
    out = run_script(
        spark,
        "ALTER TABLE pdrop_t DROP IF EXISTS PARTITION (a='zz');"
        " SELECT COUNT(*) AS n FROM pdrop_t;",
    )
    assert out.results[-1].collect()[0].n == 1
    run_script(spark, "DROP TABLE pdrop_t;")


def test_sql_std_authorization(spark):
    """SQL-standard auth statements (ref: ql/.../sqlstd/
    SQLStdHiveAccessController.java): role lifecycle, role + privilege
    grants, and the SHOW readbacks are a live session registry."""
    import getpass

    me = getpass.getuser()
    out = run_script(
        spark,
        "CREATE ROLE auditors;"
        " GRANT auditors TO USER alice;"
        f" GRANT auditors TO USER {me};"
        " CREATE TABLE IF NOT EXISTS authz_t(k INT);"
        " GRANT SELECT, INSERT ON TABLE authz_t TO ROLE auditors;"
        " SHOW ROLES;"
        " SHOW ROLE GRANT USER alice;"
        " SHOW GRANT ROLE auditors ON TABLE authz_t;"
        " REVOKE INSERT ON TABLE authz_t FROM ROLE auditors;"
        " SHOW GRANT ROLE auditors ON TABLE authz_t;"
        " SET ROLE auditors;"
        " SHOW CURRENT ROLES;"
        " DROP ROLE auditors;"
        " DROP TABLE authz_t;",
    )
    roles = {r.role for r in out.results[0].collect()}
    assert "auditors" in roles and "public" in roles and "admin" in roles
    assert {r.role for r in out.results[1].collect()} >= {"public", "auditors"}
    privs = {r.privilege for r in out.results[2].collect()}
    assert privs == {"SELECT", "INSERT"}
    privs_after = {r.privilege for r in out.results[3].collect()}
    assert privs_after == {"SELECT"}
    assert [r.role for r in out.results[4].collect()] == ["auditors"]
    # SET ROLE of a role NOT granted to the current user must fail
    # (SQLStdHiveAccessController.setCurrentRole)
    run_script(spark, "CREATE ROLE outsiders;")
    with pytest.raises(Exception, match="belong"):
        run_script(spark, "SET ROLE outsiders;")
    run_script(spark, "DROP ROLE outsiders;")


def test_alter_change_replace_columns(spark):
    """Hive CHANGE/REPLACE COLUMNS (ref: ql/.../parse/
    AlterTableChangeColDesc): rename+retype+reorder via CoW rewrite;
    REPLACE reinterprets columns positionally."""
    run_script(
        spark,
        "DROP TABLE IF EXISTS chg_t;"
        " CREATE TABLE chg_t (a INT, b STRING, c DOUBLE);"
        " INSERT INTO chg_t VALUES (1, 'x', 9.5), (2, 'y', 8.5);",
    )
    out = run_script(
        spark,
        "ALTER TABLE chg_t CHANGE b bb VARCHAR(8) COMMENT 'renamed' CASCADE;"
        " ALTER TABLE chg_t CHANGE COLUMN c c DECIMAL(6,1) FIRST;"
        " SELECT * FROM chg_t ORDER BY a;",
    )
    rows = out.results[-1].collect()
    assert out.results[-1].columns == ["c", "a", "bb"]
    assert [str(r.c) for r in rows] == ["9.5", "8.5"]
    out = run_script(
        spark,
        "ALTER TABLE chg_t REPLACE COLUMNS (k STRING, v STRING);"
        " SELECT * FROM chg_t ORDER BY k; DROP TABLE chg_t;",
    )
    assert out.results[-1].columns == ["k", "v"]
    assert [r.k for r in out.results[-1].collect()] == ["8.5", "9.5"]


def test_materialized_view_sql_text(spark):
    """CREATE/REBUILD/SHOW/DROP MATERIALIZED VIEW through the script
    runner (ref: ql/.../parse/CreateMaterializedViewDesc)."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS mv_base;"
        " CREATE TABLE mv_base (g INT, x INT);"
        " INSERT INTO mv_base VALUES (1, 10), (1, 20), (2, 5);"
        " CREATE MATERIALIZED VIEW mv_sums DISABLE REWRITE AS"
        "   SELECT g, SUM(x) AS s FROM mv_base GROUP BY g;"
        " SELECT * FROM mv_sums ORDER BY g;",
    )
    assert [(r.g, r.s) for r in out.results[-1].collect()] == [(1, 30), (2, 5)]
    out = run_script(
        spark,
        "INSERT INTO mv_base VALUES (2, 15);"
        " ALTER MATERIALIZED VIEW mv_sums REBUILD;"
        " SHOW MATERIALIZED VIEWS;"
        " SELECT * FROM mv_sums ORDER BY g;"
        " DROP MATERIALIZED VIEW mv_sums; DROP TABLE mv_base;",
    )
    assert "mv_sums" in {r.mv_name for r in out.results[-2].collect()}
    assert [(r.g, r.s) for r in out.results[-1].collect()] == [(1, 30), (2, 20)]


def test_explain_locks_ddl_authorization(spark):
    """EXPLAIN LOCKS/DDL/AUTHORIZATION (ref: ql/.../parse/
    ExplainConfiguration.java) return Hive-shaped result rows."""
    out = run_script(
        spark,
        "CREATE TABLE IF NOT EXISTS exp_t (k INT);"
        " EXPLAIN LOCKS INSERT INTO exp_t SELECT k FROM exp_t;"
        " EXPLAIN DDL SELECT * FROM exp_t;"
        " EXPLAIN AUTHORIZATION SELECT * FROM exp_t;"
        " DROP TABLE exp_t;",
    )
    locks = {(r.entity, r.lock_type) for r in out.results[0].collect()}
    assert ("exp_t", "EXCLUSIVE") in locks
    assert "exp_t" in out.results[1].collect()[0].createtab_stmt
    sections = dict(out.results[2].collect())
    assert sections["CURRENT_USER"]
    assert "exp_t" in sections["INPUTS"]


def test_insert_overwrite_directory(spark, tmp_path):
    """INSERT OVERWRITE DIRECTORY writes Hive-convention text (custom
    delimiter, \\N nulls) under confined scratch space."""
    import glob

    run_script(
        spark,
        "INSERT OVERWRITE DIRECTORY '/tmp/hive_spark_qtest_tmp/iod'"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'"
        " SELECT id, CASE WHEN id = 1 THEN NULL ELSE 'v' END AS v"
        " FROM range(2);",
    )
    # outputs carry Hive's task naming (r8: scripts dfs-cat dir/000000_0)
    lines = sorted(
        line
        for f in glob.glob("/tmp/hive_spark_qtest_tmp/iod/[0-9]*_0")
        for line in open(f).read().splitlines()
    )
    assert lines == ["0|v", "1|\\N"]
    with pytest.raises(ValueError):
        run_script(
            spark,
            "INSERT OVERWRITE DIRECTORY '/etc/nope' SELECT 1 AS x;",
        )


def test_row_format_full_delimited_clauses(spark):
    """COLLECTION ITEMS / MAP KEYS / NULL DEFINED AS / ESCAPED BY all
    parse (rowFormatDelimited grammar, ref: ql/.../parse/HiveParser.g)."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS rf_t;"
        " CREATE TABLE rf_t (k INT, tags ARRAY<STRING>, m MAP<STRING,INT>)"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' ESCAPED BY '\\\\'"
        " COLLECTION ITEMS TERMINATED BY '|' MAP KEYS TERMINATED BY ':'"
        " LINES TERMINATED BY '\\n' NULL DEFINED AS 'NUL'"
        " STORED AS TEXTFILE;"
        " INSERT INTO rf_t SELECT 1, array('a','b'), map('x', 1);"
        " SELECT k, size(tags) AS nt, m['x'] AS mx FROM rf_t;"
        " DROP TABLE rf_t;",
    )
    assert [(r.k, r.nt, r.mx) for r in out.results[-1].collect()] == [(1, 2, 1)]


_DOCTORS = [
    (6, "Colin", "Baker"), (3, "Jon", "Pertwee"), (4, "Tom", "Baker"),
    (5, "Peter", "Davison"), (11, "Matt", "Smith"),
    (1, "William", "Hartnell"), (7, "Sylvester", "McCoy"),
    (8, "Paul", "McGann"), (2, "Patrick", "Troughton"),
    (9, "Christopher", "Eccleston"), (10, "David", "Tennant"),
]


def _write_doctors_avro(path) -> None:
    """The rows of Hive's data/files/doctors.avro as an uncompressed
    Avro object container (magic, metadata map, sync marker, one block)."""
    import json

    def zlong(n: int) -> bytes:  # zigzag varint
        n = (n << 1) ^ (n >> 63)
        out = bytearray()
        while n > 0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        out.append(n)
        return bytes(out)

    def zbytes(b: bytes) -> bytes:
        return zlong(len(b)) + b

    schema = json.dumps({
        "type": "record", "name": "doctors",
        "namespace": "testing.hive.avro.serde",
        "fields": [{"name": "number", "type": "int"},
                   {"name": "first_name", "type": "string"},
                   {"name": "last_name", "type": "string"}],
    }).encode()
    sync = bytes(range(16))
    meta = (zlong(2) + zbytes(b"avro.schema") + zbytes(schema)
            + zbytes(b"avro.codec") + zbytes(b"null") + zlong(0))
    block = b"".join(
        zlong(n) + zbytes(first.encode()) + zbytes(last.encode())
        for n, first, last in _DOCTORS
    )
    with open(path, "wb") as f:
        f.write(b"Obj\x01" + meta + sync + zlong(len(_DOCTORS))
                + zlong(len(block)) + block + sync)


def test_load_data_avro_and_empty_table_dml(spark, tmp_path):
    """LOAD DATA sniffs self-describing formats (avro via the pure-
    Python container reader — no spark-avro jar in this runtime), and
    CoW DML on a freshly-created empty table seeds schema instead of
    failing UNABLE_TO_INFER_SCHEMA."""
    from hive_spark.sources.avro_lite import ddl_schema, read_container

    doctors = str(tmp_path / "doctors.avro")
    _write_doctors_avro(doctors)
    fields, rows = read_container(doctors)
    assert fields == ["number", "first_name", "last_name"]
    assert len(rows) == 11 and rows[0][0] == 6
    assert "number` int" in ddl_schema(doctors).replace(" `", "`")

    out = run_script(
        spark,
        "DROP TABLE IF EXISTS avro_doc;"
        " CREATE TABLE avro_doc (number int, first_name string) STORED AS AVRO;"
        f" LOAD DATA LOCAL INPATH '{doctors}' INTO TABLE avro_doc;"
        " SELECT COUNT(*) AS n, MIN(number) AS lo FROM avro_doc;"
        " DROP TABLE avro_doc;",
    )
    r = out.results[-1].collect()[0]
    assert (r.n, r.lo) == (11, 1)

    out = run_script(
        spark,
        "DROP TABLE IF EXISTS empty_dml;"
        " CREATE TABLE empty_dml (i INT) STORED AS ORC;"
        " DELETE FROM empty_dml WHERE i > 0;"
        " UPDATE empty_dml SET i = 1 WHERE i = 0;"
        " INSERT INTO empty_dml VALUES (7);"
        " SELECT * FROM empty_dml;"
        " DROP TABLE empty_dml;",
    )
    assert [r.i for r in out.results[-1].collect()] == [7]


def test_update_delete_keep_partitioned_catalog_table(spark):
    """UPDATE/DELETE on a partitioned, unversioned catalog table rewrite
    it through the catalog, keeping its partition directories (a flat
    path-level rewrite left the table reading as empty). Hive keeps a
    partition whose rows DELETE removed."""
    from hive_spark.engine import Engine

    out = Engine(spark).script(
        "DROP TABLE IF EXISTS dml_part;"
        " CREATE TABLE dml_part (id INT, v STRING) PARTITIONED BY (p STRING)"
        "   STORED AS PARQUET;"
        " INSERT INTO dml_part PARTITION (p='a') VALUES (1, 'x'), (2, 'y');"
        " INSERT INTO dml_part PARTITION (p='b') VALUES (3, 'z');"
        " UPDATE dml_part SET v = 'u' WHERE id = 2;"
        " SELECT id, v, p FROM dml_part ORDER BY id;"
        " DELETE FROM dml_part WHERE id = 3;"
        " SELECT id, v, p FROM dml_part ORDER BY id;"
        " SHOW PARTITIONS dml_part;"
        " DROP TABLE dml_part;",
    )
    after_update, after_delete, parts = (
        [tuple(r) for r in df.collect()] for df in out.results[-3:]
    )
    assert after_update == [(1, "x", "a"), (2, "u", "a"), (3, "z", "b")]
    assert after_delete == [(1, "x", "a"), (2, "u", "a")]
    assert parts == [("p=a",), ("p=b",)]


def test_update_merge_keep_decimal_column_type(spark):
    """`SET dec = dec + x` in UPDATE and MERGE stores the column's own
    DECIMAL type (Hive store assignment); the widened sum used to be
    written as-is, and the next read failed with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    from decimal import Decimal

    out = run_script(
        spark,
        "DROP TABLE IF EXISTS dml_dec;"
        " CREATE TABLE dml_dec (id INT, amt DECIMAL(7,2)) STORED AS PARQUET;"
        " INSERT INTO dml_dec VALUES (1, 10.50), (2, 20.25);"
        " UPDATE dml_dec SET amt = amt + 1.5 WHERE id = 1;"
        " SELECT id, amt FROM dml_dec ORDER BY id;"
        " MERGE INTO dml_dec t USING (SELECT 2 AS id, 0.75 AS d"
        "   UNION ALL SELECT 3, 5.10) s ON t.id = s.id"
        "   WHEN MATCHED THEN UPDATE SET amt = t.amt + s.d"
        "   WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.d * 2);"
        " SELECT id, amt FROM dml_dec ORDER BY id;"
        " DROP TABLE dml_dec;",
    )
    after_update, after_merge = (
        [tuple(r) for r in df.collect()] for df in out.results[-2:]
    )
    assert after_update == [(1, Decimal("12.00")), (2, Decimal("20.25"))]
    assert after_merge == [
        (1, Decimal("12.00")), (2, Decimal("21.00")), (3, Decimal("10.20")),
    ]


def test_load_data_complex_types_delimited(spark, tmp_path):
    """LOAD DATA decodes array/map/struct text columns through the
    LazySimpleSerDe separator hierarchy (field \\x01, collection \\x02,
    map-key \\x03; ref: serde/.../lazy/LazySimpleSerDe.java)."""
    data = tmp_path / "complex.txt"
    data.write_text(
        "1\x01a\x02b\x01k1\x032\x02k2\x034\x01x\x025\n"
        "2\x01c\x01k9\x039\x01y\x026\n"
    )
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS cplx;"
        " CREATE TABLE cplx (id INT, tags ARRAY<STRING>,"
        "   m MAP<STRING,INT>, s STRUCT<nm:STRING, v:INT>)"
        " ROW FORMAT DELIMITED STORED AS TEXTFILE;"
        f" LOAD DATA LOCAL INPATH '{data}' INTO TABLE cplx;"
        " SELECT id, size(tags) AS nt, m['k1'] AS k1, s.nm AS nm, s.v AS v"
        " FROM cplx ORDER BY id;"
        " DROP TABLE cplx;",
    )
    rows = [(r.id, r.nt, r.k1, r.nm, r.v) for r in out.results[-1].collect()]
    assert rows == [(1, 2, 2, "x", 5), (2, 1, None, "y", 6)]


def test_export_import_sql_text(spark):
    """EXPORT TABLE [PARTITION] TO / IMPORT FROM (ref: ql/.../parse/
    ExportSemanticAnalyzer.java): partition-pruned export, import into
    new and existing tables."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS exim_src;"
        " CREATE TABLE exim_src (k INT) PARTITIONED BY (ds STRING);"
        " INSERT INTO exim_src PARTITION (ds='a') VALUES (1), (2);"
        " INSERT INTO exim_src PARTITION (ds='b') VALUES (3);"
        " EXPORT TABLE exim_src PARTITION (ds='a') TO"
        "   '/tmp/hive_spark_qtest_tmp/exim_a';"
        " DROP TABLE IF EXISTS exim_dst;"
        " IMPORT TABLE exim_dst FROM '/tmp/hive_spark_qtest_tmp/exim_a';"
        " SELECT COUNT(*) AS n FROM exim_dst;"
        " IMPORT TABLE exim_dst FROM '/tmp/hive_spark_qtest_tmp/exim_a';"
        " SELECT COUNT(*) AS n2 FROM exim_dst;"
        " DROP TABLE exim_src; DROP TABLE exim_dst;",
    )
    assert out.results[-2].collect()[0].n == 2  # only partition ds='a'
    assert out.results[-1].collect()[0].n2 == 4  # second import appends


def test_exchange_and_partial_drop_partition(spark):
    """EXCHANGE PARTITION moves a partition between tables; DROP
    PARTITION with a partial spec drops every matching partition."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS xp_a; DROP TABLE IF EXISTS xp_b;"
        " CREATE TABLE xp_a (k INT) PARTITIONED BY (ds STRING, hr STRING);"
        " CREATE TABLE xp_b (k INT) PARTITIONED BY (ds STRING, hr STRING);"
        " INSERT INTO xp_b PARTITION (ds='1', hr='a') VALUES (10);"
        " INSERT INTO xp_b PARTITION (ds='1', hr='b') VALUES (11);"
        " ALTER TABLE xp_a EXCHANGE PARTITION (ds='1', hr='a')"
        "   WITH TABLE xp_b;"
        " SELECT COUNT(*) AS na FROM xp_a;"
        " SELECT COUNT(*) AS nb FROM xp_b;"
        " ALTER TABLE xp_a DROP PARTITION (ds=1);"
        " SELECT COUNT(*) AS nafter FROM xp_a;"
        " DROP TABLE xp_a; DROP TABLE xp_b;",
    )
    assert out.results[0].collect()[0].na == 1
    assert out.results[1].collect()[0].nb == 1
    assert out.results[2].collect()[0].nafter == 0


def test_unordered_window_order_injection(spark):
    """Hive allows rank-family functions over unordered windows."""
    out = run_script(
        spark,
        "SELECT id, row_number() OVER (PARTITION BY id % 2) AS rn"
        " FROM range(4) ORDER BY id;",
    )
    assert sorted(r.rn for r in out.results[-1].collect()) == [1, 1, 2, 2]


def test_charvarchar_truncation_on_write(spark):
    """Hive serdes TRUNCATE over-length char/varchar on write
    (HiveBaseCharWritable.enforceMaxLength) — including fields nested in
    structs; Spark alone raises EXCEED_LIMIT_LENGTH."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS cv_trunc;"
        " CREATE TABLE cv_trunc (a varchar(5), s struct<x:char(3)>);"
        " INSERT INTO cv_trunc SELECT 'abcdefghij',"
        "   named_struct('x', 'wxyz');"
        " SELECT a, s.x AS x FROM cv_trunc;",
    )
    row = out.results[-1].collect()[0]
    assert row.a == "abcde"
    assert row.x.rstrip() == "wxy"
    run_script(spark, "DROP TABLE IF EXISTS cv_trunc;")


def test_timestamp_numeric_comparison_coercion(spark):
    """Hive compares TIMESTAMP and BOOLEAN with numerics through
    double (FunctionRegistry.getCommonClassForComparison); verified
    against the vectorization_12.q golden (532 rows) in the corpus —
    this is the unit form."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS ts_cmp;"
        " CREATE TABLE ts_cmp (t timestamp, b boolean);"
        " INSERT INTO ts_cmp VALUES"
        "  (timestamp'1969-12-31 23:59:50', true),"
        "  (timestamp'1970-01-01 00:00:10', false);"
        " SELECT COUNT(*) AS n FROM ts_cmp WHERE t <= 0;"
        " SELECT COUNT(*) AS m FROM ts_cmp WHERE b > 0;",
    )
    assert out.results[-2].collect()[0].n == 1  # -10s <= 0 < +10s
    assert out.results[-1].collect()[0].m == 1  # true -> 1 > 0
    run_script(spark, "DROP TABLE IF EXISTS ts_cmp;")


def test_qualify_desugar(spark):
    """QUALIFY filters on window results (HiveParser qualifyClause)."""
    out = run_script(
        spark,
        "SELECT id, id % 2 AS g FROM range(6)"
        " QUALIFY row_number() OVER (PARTITION BY id % 2 ORDER BY id) = 1"
        " ORDER BY id;",
    )
    assert [r.id for r in out.results[-1].collect()] == [0, 1]


def test_uniontype_tagged_struct(spark):
    """UNIONTYPE<...> emulates as struct<tag, fieldN> with
    create_union/extract_union (UnionObjectInspector's (tag, value))."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS ut1;"
        " CREATE TABLE ut1 (u UNIONTYPE<INT, STRING>);"
        " INSERT INTO ut1 VALUES (create_union(0, 7, 'seven')),"
        "  (create_union(1, 7, 'seven'));"
        " SELECT u.tag AS tag, u.field0 AS f0, u.field1 AS f1 FROM ut1"
        " ORDER BY tag;",
    )
    rows = out.results[-1].collect()
    assert (rows[0].tag, rows[0].f0, rows[0].f1) == (0, 7, None)
    assert (rows[1].tag, rows[1].f0, rows[1].f1) == (1, None, "seven")
    run_script(spark, "DROP TABLE IF EXISTS ut1;")


def test_limit_offset_comma_form(spark):
    """Hive's MySQL-style LIMIT <offset>,<count>."""
    out = run_script(
        spark, "SELECT id FROM range(10) ORDER BY id LIMIT 2,3;"
    )
    assert [r.id for r in out.results[-1].collect()] == [2, 3, 4]


def test_quantified_comparisons_3vl(spark):
    """x op ALL/ANY (subquery) desugar (r8): exact 3-valued logic per
    the standard — empty set, null probe, null elements (golden-matched
    against subquery_ALL.q / subquery_ANY.q, 46/46)."""
    run_script(
        spark,
        "CREATE OR REPLACE TEMP VIEW qv AS SELECT * FROM VALUES"
        " (1), (2), (3) AS t(v);"
        "CREATE OR REPLACE TEMP VIEW qvn AS SELECT * FROM VALUES"
        " (1), (2), (CAST(NULL AS INT)) AS t(v);"
        "CREATE OR REPLACE TEMP VIEW qve AS"
        " SELECT v FROM qv WHERE v < 0;",
    )
    cases = [
        # (predicate, expected)
        ("5 > ALL (SELECT v FROM qv)", True),
        ("2 > ALL (SELECT v FROM qv)", False),
        ("5 > ALL (SELECT v FROM qve)", True),     # empty -> TRUE
        ("5 > ANY (SELECT v FROM qve)", False),    # empty -> FALSE
        ("5 > ALL (SELECT v FROM qvn)", None),     # null element -> NULL
        ("0 > ANY (SELECT v FROM qvn)", None),
        ("2 = ANY (SELECT v FROM qvn)", True),
        ("9 = ANY (SELECT v FROM qvn)", None),     # not found + null
        ("9 <> ALL (SELECT v FROM qvn)", None),    # NOT IN w/ null
        ("2 <> ALL (SELECT v FROM qv)", False),
        ("9 <> ALL (SELECT v FROM qv)", True),
    ]
    sql = "SELECT " + ", ".join(
        f"({p}) AS c{i}" for i, (p, _) in enumerate(cases)
    )
    row = run_script(spark, sql + ";").results[-1].collect()[0]
    for i, (p, want) in enumerate(cases):
        assert row[i] == want, f"{p}: got {row[i]}, want {want}"


def test_stddev_variance_population_variants(spark):
    """Hive's bare stddev/std/variance are the POPULATION aggregates
    (FunctionRegistry -> GenericUDAFStd/GenericUDAFVariance); Spark's
    defaults are sample — the dialect must rewrite (r8, found by the
    windowing.q golden-value sweep)."""
    out = run_script(
        spark,
        "SELECT stddev(v) AS sd, std(v) AS sd2, variance(v) AS vr"
        " FROM VALUES (1.0), (2.0), (3.0) AS t(v);",
    )
    r = out.results[-1].collect()[0]
    import math

    assert math.isclose(r.sd, math.sqrt(2.0 / 3.0))   # population
    assert math.isclose(r.sd2, math.sqrt(2.0 / 3.0))
    assert math.isclose(r.vr, 2.0 / 3.0)


def test_string_range_frame_peer_group(spark):
    """RANGE numeric offsets over a STRING sort key degenerate to the
    peer group (Hive StringValueBoundaryScanner equality semantics,
    r8); UNBOUNDED sides keep their reach."""
    run_script(
        spark,
        "CREATE OR REPLACE TEMP VIEW wt AS SELECT * FROM VALUES"
        " ('a', 1), ('a', 2), ('b', 4), ('c', 8) AS t(k, x);",
    )
    out = run_script(
        spark,
        "SELECT k, sum(x) OVER (ORDER BY k"
        " RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS s,"
        " sum(x) OVER (ORDER BY k"
        " RANGE BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS s2"
        " FROM wt ORDER BY k, s;",
    )
    rows = out.results[-1].collect()
    # peers-only sums: a=3, b=4, c=8; peer-start..end sums: 15, 12, 8
    assert [(r.k, r.s, r.s2) for r in rows] == [
        ("a", 3, 15), ("a", 3, 15), ("b", 4, 12), ("c", 8, 8),
    ]


def test_window_clause_inheritance(spark):
    """`w2 as (w1 rows ...)` and bare `w2 as w3` expand the base spec
    with its frame stripped (windowing.q #42, r8)."""
    out = run_script(
        spark,
        "SELECT sum(x) OVER w2 AS s FROM VALUES (1), (2), (3) AS t(x)"
        " WINDOW w1 AS (ORDER BY x"
        "   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),"
        " w2 AS (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW);",
    )
    assert sorted(r.s for r in out.results[-1].collect()) == [1, 3, 6]


def test_regex_columns_quoted_identifiers_none(spark):
    """Backquoted regex columns under hive.support.quoted.identifiers=
    none (regex_col.q, r8)."""
    out = run_script(
        spark,
        "set hive.support.quoted.identifiers=none;"
        "CREATE OR REPLACE TEMP VIEW rt AS"
        " SELECT 1 AS ds, 2 AS hr, 3 AS key FROM range(1);"
        "SELECT `..` FROM rt;",
    )
    assert out.results[-1].columns == ["ds", "hr"]
