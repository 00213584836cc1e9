"""Behaviour lock for the HiveQL retry layer: Hive-legal statements that
Spark SQL refuses on first analysis and the script runner repairs.

Each case is a minimal script whose LAST statement's rows are pinned.
The statement that reaches Spark in its Hive spelling raises a Spark
error with a condition; the runner fixes the text and re-issues it.
`test_retry_trace` pins which (condition, fix) pair fired for each case;
the remaining tests pin the shape of the retry table itself."""

import ast
import datetime
import inspect

import pytest

from hive_spark import hqlscript
from hive_spark.hqlscript import run_script

_SETUP = """
DROP TABLE IF EXISTS hqr_t;
CREATE TABLE hqr_t (a INT, b STRING, s STRING, f BOOLEAN, ts TIMESTAMP,
                    m MAP<STRING,INT>) STORED AS PARQUET;
INSERT INTO hqr_t SELECT 1, 'x', 'p', true,
    TIMESTAMP'2020-01-01 00:00:10', map('k', 1);
INSERT INTO hqr_t SELECT 2, 'y', 'q', false,
    TIMESTAMP'2020-01-01 00:00:20', map('k', 2);
INSERT INTO hqr_t SELECT 3, 'y', 'q', true,
    TIMESTAMP'2020-01-01 00:00:40', map('j', 3);
"""

_TS = datetime.datetime

# (id, script, rows of the last result, (condition, fix) that must fire)
CASES = [
    ("view_without_alias",
     "DROP VIEW IF EXISTS hqr_v1;"
     " CREATE VIEW hqr_v1 AS WITH q AS (SELECT a FROM hqr_t)"
     "   SELECT a + 1, a * 2 FROM q;"
     " SELECT _c0, _c1 FROM hqr_v1 ORDER BY _c0",
     [(2, 2), (3, 4), (4, 6)],
     ("CREATE_PERMANENT_VIEW_WITHOUT_ALIAS", "view_autoalias")),
    ("view_duplicate_literals",
     "DROP VIEW IF EXISTS hqr_v2;"
     " CREATE VIEW hqr_v2 AS WITH q AS (SELECT a FROM hqr_t)"
     "   SELECT '12', '12' FROM q;"
     " SELECT _c0, _c1 FROM hqr_v2",
     [("12", "12")] * 3,
     ("COLUMN_ALREADY_EXISTS", "view_autoalias")),
    ("view_over_temp_view",
     "CREATE OR REPLACE TEMPORARY VIEW hqr_tv AS SELECT 1 AS a;"
     " DROP VIEW IF EXISTS hqr_pv;"
     " CREATE VIEW hqr_pv AS SELECT * FROM hqr_tv;"
     " SELECT * FROM hqr_pv",
     [(1,)],
     ("INVALID_TEMP_OBJ_REFERENCE", "temp_view")),
    ("tuple_in_mixed_types",
     "SELECT a FROM hqr_t WHERE (a, b) IN ((1, 'x'), (2.0, 'y')) ORDER BY a",
     [(1,), (2,)],
     ("DATATYPE_MISMATCH.DATA_DIFF_TYPES", "tuple_in")),
    ("array_mixed_categories",
     "SELECT array(a, f) FROM hqr_t ORDER BY a",
     [(["1", "true"],), (["2", "false"],), (["3", "true"],)],
     ("DATATYPE_MISMATCH.DATA_DIFF_TYPES", "common_category")),
    ("greatest_mixed_categories",
     "SELECT greatest(a, f) FROM hqr_t ORDER BY a",
     [("true",), ("false",), ("true",)],
     ("DATATYPE_MISMATCH.DATA_DIFF_TYPES", "common_category")),
    ("variance_over_timestamp",
     "SELECT round(variance(ts), 4) FROM hqr_t",
     [(155.5556,)],
     ("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", "ts_numeric_agg")),
    ("group_by_position_is_literal",
     "SELECT count(*) FROM hqr_t GROUP BY 1",
     [(3,)],
     ("GROUP_BY_POS_AGGREGATE", "group_by_literal")),
    ("group_by_position_out_of_range",
     "SELECT 'z' AS c FROM hqr_t GROUP BY 5",
     [("z",)],
     ("GROUP_BY_POS_OUT_OF_RANGE", "group_by_literal")),
    ("grouping_id_any_order",
     "SELECT a, b, grouping_id(b, a) AS g FROM hqr_t"
     " GROUP BY a, b WITH ROLLUP ORDER BY a, b",
     [(None, None, 3), (1, None, 2), (1, "x", 0), (2, None, 2),
      (2, "y", 0), (3, None, 2), (3, "y", 0)],
     ("GROUPING_ID_COLUMN_MISMATCH", "grouping_id_order")),
    ("order_by_map",
     "SELECT a, m FROM hqr_t ORDER BY m",
     [(3, {"j": 3}), (1, {"k": 1}), (2, {"k": 2})],
     ("DATATYPE_MISMATCH.INVALID_ORDERING_TYPE", "unorderable_orderby")),
    ("map_equality",
     "SELECT a FROM hqr_t WHERE m = map('k', 1)",
     [(1,)],
     ("DATATYPE_MISMATCH.INVALID_ORDERING_TYPE", "map_comparison")),
    ("map_in_list",
     "SELECT a FROM hqr_t WHERE m IN (map('k', 1), map('j', 3)) ORDER BY a",
     [(1,), (3,)],
     ("DATATYPE_MISMATCH.INVALID_ORDERING_TYPE", "map_comparison")),
    ("grouping_under_plain_group_by",
     "SELECT a, grouping(a) AS g FROM hqr_t GROUP BY a ORDER BY a",
     [(1, 0), (2, 0), (3, 0)],
     ("UNSUPPORTED_GROUPING_EXPRESSION", "grouping_base")),
    ("partial_cte_alias_list",
     "WITH c(x) AS (SELECT a, b FROM hqr_t) SELECT x, b FROM c ORDER BY x",
     [(1, "x"), (2, "y"), (3, "y")],
     ("ASSIGNMENT_ARITY_MISMATCH", "partial_cte_aliases")),
    ("string_literal_filter",
     "SELECT count(*) FROM hqr_t WHERE 'foo'",
     [(3,)],
     ("DATATYPE_MISMATCH.FILTER_NOT_BOOLEAN", "literal_filter")),
    ("false_string_literal_filter",
     "SELECT count(*) FROM hqr_t WHERE 'false'",
     [(0,)],
     ("DATATYPE_MISMATCH.FILTER_NOT_BOOLEAN", "literal_filter")),
    ("window_over_aggregate_alias",
     "SELECT b, max(a) mx, rank() OVER (ORDER BY mx) AS r FROM hqr_t"
     " GROUP BY b ORDER BY b",
     [("x", 1, 1), ("y", 3, 2)],
     ("UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW",
      "window_agg_alias")),
    ("window_over_shadowing_aggregate_alias",
     "SELECT b, max(a) AS a, rank() OVER (ORDER BY a DESC) AS r"
     " FROM hqr_t GROUP BY b ORDER BY b",
     [("x", 1, 2), ("y", 3, 1)],
     ("MISSING_AGGREGATION", "window_agg_alias")),
    ("order_by_hidden_grouping_column",
     "SELECT a, count(*) AS n FROM hqr_t GROUP BY a, b"
     " GROUPING SETS ((a, b), a) ORDER BY b, a LIMIT 10",
     [(1, 1), (2, 1), (3, 1), (1, 1), (2, 1), (3, 1)],
     ("UNRESOLVED_COLUMN.WITH_SUGGESTION", "hidden_grouping_col")),
    ("literal_wider_than_decimal38",
     "SELECT 1000000000000000000000000000000000000000 * 2 AS big",
     [(2e39,)],
     ("DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION", "wide_literal_double")),
    ("year_of_interval",
     "SELECT year(INTERVAL '3-2' YEAR TO MONTH) AS y",
     [(3,)],
     ("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", "interval_datepart")),
    ("varchar_truncation",
     "DROP TABLE IF EXISTS hqr_vc;"
     " CREATE TABLE hqr_vc (c VARCHAR(3)) STORED AS PARQUET;"
     " INSERT INTO hqr_vc SELECT 'abcdef';"
     " SELECT * FROM hqr_vc",
     [("abc",)],
     ("EXCEED_LIMIT_LENGTH", "truncate_charvarchar")),
    ("varchar_truncation_static_partition",
     "DROP TABLE IF EXISTS hqr_vp;"
     " CREATE TABLE hqr_vp (c VARCHAR(2)) PARTITIONED BY (p STRING)"
     "   STORED AS PARQUET;"
     " INSERT OVERWRITE TABLE hqr_vp PARTITION (p='u')"
     "   SELECT b || 'zz' FROM hqr_t;"
     " SELECT * FROM hqr_vp ORDER BY c",
     [("xz", "u"), ("yz", "u"), ("yz", "u")],
     ("EXCEED_LIMIT_LENGTH", "truncate_charvarchar")),
    ("boolean_vs_number",
     "SELECT a FROM hqr_t WHERE f > 0 ORDER BY a",
     [(1,), (3,)],
     ("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES", "binop_coercion")),
    ("timestamp_and_boolean_vs_number",
     "SELECT a FROM hqr_t WHERE ts > 15 AND f > 0 ORDER BY a",
     [(1,), (3,)],
     ("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES", "binop_coercion")),
    ("execute_prepared_timestamp_vs_number",
     "PREPARE hqr_p FROM SELECT a FROM hqr_t WHERE ts > ? ORDER BY a;"
     " EXECUTE hqr_p USING 15",
     [(1,), (2,), (3,)],
     ("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES", "binop_coercion")),
    ("range_frame_over_string_key",
     "SELECT s, count(*) OVER (ORDER BY s RANGE BETWEEN 1 PRECEDING"
     " AND CURRENT ROW) AS n FROM hqr_t ORDER BY s",
     [("p", 1), ("q", 2), ("q", 2)],
     ("DATATYPE_MISMATCH.SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE",
      "string_range_frame")),
    # the same frame text over a numeric key first: only the string-keyed
    # window may degenerate to its peer group
    ("range_frame_numeric_then_string_key",
     "SELECT s, sum(a) OVER (ORDER BY a RANGE BETWEEN 1 PRECEDING"
     " AND 1 FOLLOWING) AS z, count(*) OVER (ORDER BY s RANGE BETWEEN"
     " 1 PRECEDING AND 1 FOLLOWING) AS n FROM hqr_t ORDER BY a",
     [("p", 3, 1), ("q", 6, 2), ("q", 5, 2)],
     ("DATATYPE_MISMATCH.SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE",
      "string_range_frame")),
    ("ctas_range_frame_over_string_key",
     "DROP TABLE IF EXISTS hqr_rf;"
     " CREATE TABLE hqr_rf AS SELECT s, count(*) OVER (ORDER BY s RANGE"
     "   BETWEEN 1 PRECEDING AND CURRENT ROW) AS n FROM hqr_t;"
     " SELECT * FROM hqr_rf ORDER BY s",
     [("p", 1), ("q", 2), ("q", 2)],
     ("DATATYPE_MISMATCH.SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE",
      "string_range_frame")),
    ("range_frame_over_timestamp_key",
     "SELECT ts, count(*) OVER (ORDER BY ts RANGE BETWEEN 10 PRECEDING"
     " AND CURRENT ROW) AS n FROM hqr_t ORDER BY ts",
     [(_TS(2020, 1, 1, 0, 0, 10), 1), (_TS(2020, 1, 1, 0, 0, 20), 2),
      (_TS(2020, 1, 1, 0, 0, 40), 1)],
     ("DATATYPE_MISMATCH.RANGE_FRAME_INVALID_TYPE", "time_range_frame")),
    ("insert_values_mixed_types",
     "DROP TABLE IF EXISTS hqr_iv;"
     " CREATE TABLE hqr_iv (i INT, s STRING) STORED AS PARQUET;"
     " INSERT INTO hqr_iv VALUES (1, 'a'), ('2', 3);"
     " SELECT * FROM hqr_iv ORDER BY i",
     [(1, "a"), (2, "3")],
     ("INVALID_INLINE_TABLE.INCOMPATIBLE_TYPES_IN_INLINE_TABLE",
      "inline_values")),
    ("ctas_duplicate_expressions",
     "DROP TABLE IF EXISTS hqr_ct;"
     " CREATE TABLE hqr_ct AS SELECT a + 1, a + 1 FROM hqr_t;"
     " SELECT _c0, _c1 FROM hqr_ct ORDER BY _c0",
     [(2, 2), (3, 3), (4, 4)],
     ("COLUMN_ALREADY_EXISTS", "ctas_autoalias")),
    ("insert_overwrite_reading_itself",
     "DROP TABLE IF EXISTS hqr_so;"
     " CREATE TABLE hqr_so (a INT) STORED AS PARQUET;"
     " INSERT INTO hqr_so VALUES (1), (2);"
     " INSERT OVERWRITE TABLE hqr_so SELECT a + 10 FROM hqr_so;"
     " SELECT * FROM hqr_so ORDER BY a",
     [(11,), (12,)],
     ("UNSUPPORTED_OVERWRITE.TABLE", "insert_overwrite_selfread")),
]

def _trigger_index(script):
    """Index of the statement Spark refuses: the last one, or the one
    before a final read-back SELECT that follows DDL/DML."""
    stmts = hqlscript.split_statements(script)
    if len(stmts) > 1 and stmts[-1].lstrip().upper().startswith("SELECT"):
        return len(stmts) - 2
    return len(stmts) - 1


_PARAMS = [pytest.param(s, rows, fired, id=i) for i, s, rows, fired in CASES]


@pytest.fixture(scope="module")
def hqr(spark):
    run_script(spark, _SETUP)
    yield spark
    run_script(
        spark,
        "DROP VIEW IF EXISTS hqr_v1; DROP VIEW IF EXISTS hqr_v2;"
        " DROP VIEW IF EXISTS hqr_pv; DROP TABLE IF EXISTS hqr_vc;"
        " DROP TABLE IF EXISTS hqr_vp; DROP TABLE IF EXISTS hqr_iv;"
        " DROP TABLE IF EXISTS hqr_ct; DROP TABLE IF EXISTS hqr_so;"
        " DROP TABLE IF EXISTS hqr_rf;"
        " DROP TABLE IF EXISTS hqr_t",
    )


@pytest.mark.parametrize("script,rows,fired", _PARAMS)
def test_retry_rows(hqr, script, rows, fired):
    out = run_script(hqr, script)
    assert [tuple(r) for r in out.results[-1].collect()] == rows


@pytest.mark.parametrize("script,rows,fired", _PARAMS)
def test_retry_trace(hqr, script, rows, fired):
    """ScriptResult.retries names the statement, the Spark condition and
    the fix for every retry that fired."""
    out = run_script(hqr, script)
    assert (_trigger_index(script), *fired) in out.retries


def test_retry_keys_are_spark_conditions(spark):
    helper = spark._jvm.org.apache.spark.SparkThrowableHelper
    assert hqlscript._RETRIES
    for cond in hqlscript._RETRIES:
        assert helper.isValidErrorClass(cond), cond
    assert not helper.isValidErrorClass("NOT_A_REAL_CONDITION")


def _python_only(handler_type) -> bool:
    """An except clause that catches only Python's own value errors."""
    names = (
        handler_type.elts if isinstance(handler_type, ast.Tuple)
        else [handler_type]
    )
    return all(
        isinstance(n, ast.Name) and n.id in ("ValueError", "OverflowError")
        for n in names
    )


def test_no_message_matching_on_spark_errors():
    """Retries select on getCondition()/getMessageParameters(), never on
    the wording of a Spark error: no str() of a caught exception (or of
    a fix's `err` argument) may appear in hqlscript.py, except under a
    handler that catches only Python's ValueError/OverflowError."""
    tree = ast.parse(inspect.getsource(hqlscript))
    scopes = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.ExceptHandler) and node.name
                and not (node.type and _python_only(node.type))):
            scopes.append((node, node.name))
        if isinstance(node, ast.FunctionDef):
            scopes += [(node, a.arg) for a in node.args.args
                       if a.arg in ("err", "e")]
    hits = sorted({
        sub.lineno
        for scope, name in scopes
        for sub in ast.walk(scope)
        if isinstance(sub, ast.Call)
        and isinstance(sub.func, ast.Name) and sub.func.id in ("str", "repr")
        and sub.args and isinstance(sub.args[0], ast.Name)
        and sub.args[0].id == name
    })
    assert hits == [], f"message matching on exceptions at lines {hits}"
