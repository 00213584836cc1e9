"""Headline benchmark: run the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via a count-style action so the timing
covers scan → shuffle → result, not just plan construction. A warm-up
query absorbs JVM/codegen startup so numbers reflect steady-state
throughput (what a long-lived cluster session sees).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

# Headline set: the TPC-H core (scan/filter/agg/join/window shapes) plus
# the scale-critical training-pipeline ops (dedup sketching, ANN search,
# sessionization). Keys must exist in full_registry().
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "window_rank",
    "agg_rollup",
    "events_session",
    "events_tumbling",
    "text_stats",
    "text_tfidf_topk",
    "text_inverted_index",
    "dedup_minhash_lsh",
    "knn_lsh_bucketed",
    "mm_features",
    "training_data_pipeline",
]


# Scale sweep: the queries whose sf0.1 numbers are dominated by fixed
# JVM/scheduler overhead (~0.5 s/query) rather than data volume. Re-run
# them against a synthetically scaled copy of the fact tables to show
# time grows far sub-linearly with data — the property that matters at
# 100 TB, where fixed overhead amortizes to nothing.
SCALE_SWEEP = [
    "tpch_q1",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "text_tfidf_topk",
    "text_inverted_index",
]
SCALE_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "4"))
# sf1 tier: 10x the sf0.1 facts ≈ TPC-H sf1 row counts (6M lineitem),
# multi-file layout. 0 disables (e.g. when benching sf0.001 in tests).
SF1_FACTOR = int(os.environ.get("SPARK_GRAFT_SF1_FACTOR", "10"))

# TPC-DS star-shape extras: reported separately so the headline total
# stays comparable across rounds
TPCDS_EXTRA = (
    "tpcds_q3",
    "tpcds_q19",
    "tpcds_q25_sales_returns",
    "tpcds_q68",
    "tpcds_q98_class_ratio",
    "tpcds_q4_three_channel_growth",
    "tpcds_q38_channel_intersect",
    "tpcds_q75_prior_year_delta",
)

# fact tables unioned SCALE_FACTOR times with join keys shifted per copy
# (joins stay copy-local; dims keep their cardinality, so each dim row
# simply matches k times — the realistic fact/dim growth asymmetry)
_FACTS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
          "documents": "doc_id", "events": "events",
          "embeddings": "embeddings"}


def _build_scaled_dir(spark, src: str, k: int) -> str:
    """Materialize src scaled k× on the fact tables under /tmp (cached).
    Facts are written as multi-file parquet dirs — also undoing the
    single-row-group scan-parallelism cap of the source testdata files."""
    import shutil

    from pyspark.sql import functions as F

    from hive_spark.session import TESTDATA_TABLES, load_tables

    # durable root: /tmp is tmpfiles-purged on this host mid-run, which
    # deletes the scaled parquet out from under the sf1 tier (r7)
    from hive_spark.scratch import scratch_dir

    dst = os.path.join(
        scratch_dir("benchscale"),
        f"{os.path.basename(src.rstrip('/'))}_x{k}",
    )
    marker = os.path.join(dst, "_BUILT")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    tables = load_tables(spark, src, tuple(TESTDATA_TABLES))
    # orders/lineitem share the orderkey domain: one offset keeps joins
    # copy-local AND copy-consistent (a per-table max would misalign the
    # shifted keys whenever the two maxima differ)
    okey_offset = (
        max(
            tables["lineitem"].agg(F.max("l_orderkey")).collect()[0][0],
            tables["orders"].agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    for t in TESTDATA_TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if t in _FACTS:
            df, key = tables[t], _FACTS[t]
            if key == "events":
                # shift event AND user ids: sessions stay copy-local
                # (identical copies would stack 10 events on one ts)
                eoff = df.agg(F.max("event_id")).collect()[0][0] + 1
                uoff = df.agg(F.max("user_id")).collect()[0][0] + 1
                parts = [
                    df.withColumn("event_id", F.col("event_id") + F.lit(i * eoff))
                    .withColumn("user_id", F.col("user_id") + F.lit(i * uoff))
                    for i in range(k)
                ]
            elif key == "embeddings":
                # shift ids and perturb each copy's vectors slightly so
                # scaled corpora aren't k exact duplicates of every
                # point (which would distort LSH bucket occupancy)
                voff = df.agg(F.max("vec_id")).collect()[0][0] + 1
                parts = [
                    df.withColumn("vec_id", F.col("vec_id") + F.lit(i * voff))
                    .withColumn(
                        "embedding",
                        F.transform(
                            "embedding",
                            lambda x, i=i: (x + F.lit(i * 1e-3)).cast("float"),
                        ),
                    )
                    for i in range(k)
                ]
            else:
                # lineitem/orders share the orderkey domain (one offset,
                # computed above); any OTHER fact shifts by its own
                # max(key)+1 — reusing okey_offset would collide ids
                # whenever max(doc_id) >= okey_offset (r6 ADVICE low)
                offset = (
                    okey_offset
                    if key in ("l_orderkey", "o_orderkey")
                    else df.agg(F.max(key)).collect()[0][0] + 1
                )
                parts = [
                    df.withColumn(key, F.col(key) + F.lit(i * offset)) for i in range(k)
                ]
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionAll(p)
            scaled.repartition(int(CPUS)).write.mode("overwrite").parquet(out)
        else:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), out)
    open(marker, "w").close()
    return dst


def _fixed_overhead(spark) -> float:
    """Per-query fixed cost (scheduler + py4j + noop commit), best-of-3 on
    a 1-row job — subtracted nowhere, reported so ratios can be read net."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from hive_spark.session import get_session
    from hive_spark.operators import full_registry

    spark = get_session(
        app_name="hive_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    registry = full_registry()

    # Warm-up: touch every table once (file listing + footer reads + codegen).
    from hive_spark.operators import views

    for df in views(spark, SF_DIR).values():
        df.limit(1).count()

    # Two-point scaling table FIRST, right after warm-up: the sweep is
    # the noise-sensitive measurement, and running it before the 19-query
    # suite keeps heap/GC state comparable between base and scaled runs
    # (measured: ratios match isolated runs; at the END of the session
    # they inflate ~1.4x). Same queries, SCALE_FACTOR× the fact rows.
    # time_ratio << data_ratio demonstrates the fixed overhead amortizing
    # (the local[32] stand-in for the 1000-executor scale-up argument).
    sweep: dict[str, dict[str, float]] = {}
    if SCALE_FACTOR > 1:
        scaled_dir = _build_scaled_dir(spark, SF_DIR, SCALE_FACTOR)

        def _best2(spec, d: str) -> float:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                spec.fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            return best

        for name in SCALE_SWEEP:
            spec = registry[name]
            # re-measure the base back-to-back with the scaled run: the
            # suite timing above was taken early in the session (lower
            # heap/GC pressure), and a ratio of measurements taken under
            # DIFFERENT session states overstated scaling by up to 1.6x
            # (r3's q18 "2.05x" was 1.28x when base and scaled ran
            # adjacently — the plan shape was never the cause)
            base = _best2(spec, SF_DIR)
            scaled = _best2(spec, scaled_dir)
            sweep[name] = {
                "t_base": round(base, 3),
                "t_scaled": round(scaled, 3),
                "data_ratio": float(SCALE_FACTOR),
                "time_ratio": round(scaled / max(base, 1e-9), 2),
            }

    # best-of-2 per query: the first run pays one-time costs (plan
    # compile, codegen, scratch writes); the min is the steady-state
    # number a long-lived session sees, and damps co-tenant noise
    timings: dict[str, float] = {}
    breakdowns: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        spec = registry[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            if elapsed < best:
                best = elapsed
                if name == "training_data_pipeline":
                    # split the timing so a regression is attributable to
                    # the write stage vs the query (VERDICT r3 #4)
                    from hive_spark.operators import pipeline as _pl

                    w = _pl.LAST_TIMINGS.get("write_sec", 0.0)
                    breakdowns[name] = {
                        "write_sec": w,
                        "readback_sec": round(max(elapsed - w, 0.0), 3),
                    }
        timings[name] = round(best, 3)

    overhead = _fixed_overhead(spark)

    extra: dict[str, float] = {}
    for name in TPCDS_EXTRA:
        spec = registry[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        extra[name] = round(best, 3)

    # sf1 tier (r4 verdict #1): at sf0.1 the ~0.2-0.5 s/query session
    # constant dominates and the bench measures the constant, not the
    # engine. Run the full headline suite + TPC-DS extras against a
    # 10x-row multi-file copy so the data-dependent cost is the signal.
    sf1: dict[str, object] = {}
    if SF1_FACTOR > 1:
        sf1_dir = _build_scaled_dir(spark, SF_DIR, SF1_FACTOR)
        sf1_timings: dict[str, float] = {}
        for name in HEADLINE + list(TPCDS_EXTRA):
            spec = registry[name]
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                spec.fn(spark, sf1_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            sf1_timings[name] = round(best, 3)
        sf1 = {
            "factor": SF1_FACTOR,
            "total_sec": round(sum(sf1_timings.values()), 3),
            "queries": sf1_timings,
        }

    # Cold star-ETL measurement (VERDICT r8 #2): the fingerprint cache
    # survives across rounds, so `star_build_sec` reads 0.0 on hits and
    # the one-time materialization cost vanishes from the record. Force
    # ONE cache-miss rebuild per bench run — AFTER the query timings, so
    # steady-state numbers are unperturbed — and report it separately.
    # Disable with SPARK_GRAFT_STAR_COLD=0 (e.g. quick local iterations).
    star_cold = 0.0
    if os.environ.get("SPARK_GRAFT_STAR_COLD", "1") != "0":
        from hive_spark.operators import tpcds as _tpcds_cold

        cold_dir = sf1_dir if SF1_FACTOR > 1 else SF_DIR
        star_cold = _tpcds_cold.measure_cold_star_build(spark, cold_dir)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    from hive_spark.operators import tpcds as _tpcds

    full = {
        "metric": "headline_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "fixed_overhead_sec": overhead,
        "queries_net": {
            n: round(max(t - overhead, 0.0), 3) for n, t in timings.items()
        },
        "scale_sweep": sweep,
        "breakdowns": breakdowns,
        "extra_queries": extra,
        # one-time star-ETL cost of the LAST materialization build this
        # process triggered (0.0 = disk-cache hit) — reported so the
        # per-query numbers can't silently hide the setup work
        "star_build_sec": _tpcds.TOTAL_BUILD_SEC,
        # forced cache-miss rebuild at the gate tier, measured after the
        # query pass (VERDICT r8 #2) — the honest one-time ETL figure
        "star_build_cold_sec": star_cold,
        "sf1": sf1,
    }
    # full detail to a file: the r7 stdout line outgrew the driver's
    # capture (BENCH_r07 "parsed": null, tail truncated mid-key)
    out_path = os.path.join(_REPO, "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    # stdout gets a COMPACT single line (the driver contract): headline
    # keys + totals only, guaranteed to fit any reasonable capture
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "sf": full["sf"],
        "queries": timings,
        "fixed_overhead_sec": overhead,
        "extra_queries": extra,
        "star_build_sec": full["star_build_sec"],
        "star_build_cold_sec": full["star_build_cold_sec"],
        # r10 (VERDICT r9 #6): per-query sf1 timings in the compact line
        # too (additions-only; headline keys untouched) so round-over-round
        # comparison can read the data-dominated tier, not just the
        # session-constant-dominated sf0.1 one
        "sf1": {
            k: sf1[k] for k in ("factor", "total_sec", "queries") if k in sf1
        },
        "details_file": out_path,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
