"""Scale primitives: bucketed co-located joins and skew-salted aggregation.

These are the 100 TB levers the brief calls out (bucketing for co-located
joins, salting for skew) — plan-gated so the shuffle savings are pinned,
value-gated so the rewrites stay semantically exact.
"""

import re

import pyspark.sql.functions as F
import pytest

from wingfoil_spark.operators.scale import salted_agg
from wingfoil_spark.sources.io import write_bucketed
from wingfoil_spark.sources.tables import load_table


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("ev_bucketed", "cust_totals_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a prior session's managed-table dir outlives the in-memory catalog
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    totals = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    write_bucketed(ev, "ev_bucketed", ["user_id"], n_buckets=8)
    write_bucketed(totals, "cust_totals_bucketed", ["user_id"], n_buckets=8)

    a = spark.table("ev_bucketed")
    b = spark.table("cust_totals_bucketed")
    # no broadcast: force the join strategy that would normally shuffle both
    joined = a.join(b.hint("merge"), "user_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert _shuffles(plan) == 0, f"bucketed join should not shuffle:\n{plan}"
    # values still correct
    n = joined.count()
    assert n == ev.count()

    # aggregation on the bucket key also skips its exchange
    agg = a.groupBy("user_id").agg(F.sum("value").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert _shuffles(plan) == 0, f"bucketed agg should not shuffle:\n{plan}"


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    # simulate skew: pile most rows onto one key
    skewed = ev.withColumn(
        "user_id", F.when(F.col("value") > 50, F.lit(7)).otherwise(F.col("user_id"))
    )
    plain = {
        r["user_id"]: (r["total"], r["cnt"], r["mx"])
        for r in skewed.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)")).alias("total"),
            F.count("*").alias("cnt"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["user_id"]: (r["total"], r["cnt"], r["mx"])
        for r in salted_agg(
            skewed,
            ["user_id"],
            {
                "total": F.sum(F.col("value").cast("decimal(12,2)")),
                "cnt": F.count("*"),
                "mx": F.max("value"),
            },
            salt_buckets=8,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_spreads_hot_key(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    out = salted_agg(ev, ["user_id"], {"cnt": F.count("*")}, salt_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two-level: partial on (key, salt), combine on key — exactly 2 exchanges
    assert _shuffles(plan) == 2, plan


def _skewed_df(spark, n=4_000_000, hot_share=0.5, cold_keys=30):
    """Synthetic skew: key 0 holds ``hot_share`` of all rows, the rest
    spread over ``cold_keys`` keys. Few-but-hot is the shape that bites: a
    long tail of tiny keys amortizes fine; one instrument/user owning half
    the stream serializes the whole stage."""
    mod = int(1 / hot_share)
    return spark.range(n).select(
        F.when(F.col("id") % mod == 0, F.lit(0))
        .otherwise(F.pmod(F.hash("id"), F.lit(cold_keys)) + 1)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_hot_key_values_and_timing(spark):
    """VERDICT r2 item 10 (JVM half): one key = 50% of 4M rows; salted and
    plain return IDENTICAL values. Timing is reported, not asserted as a
    win: HashAggregate's map-side partial combine already collapses the hot
    key to ~1 row per map task, so plain JVM groupBy is near-skew-immune
    for algebraic aggs — the measurement documents that fact, and the
    Python-stage test below shows where salting genuinely pays."""
    import time

    df = _skewed_df(spark)
    df.cache().count()
    aggs = {"s": F.sum("v"), "mx": F.max("v"), "cnt": F.count("*")}
    try:
        t0 = time.perf_counter()
        plain = df.groupBy("k").agg(*[v.alias(k) for k, v in aggs.items()]).collect()
        t_plain = time.perf_counter() - t0
        t0 = time.perf_counter()
        salted = salted_agg(df, ["k"], aggs, salt_buckets=16).collect()
        t_salted = time.perf_counter() - t0
    finally:
        df.unpersist()
    p = {r["k"]: (r["s"], r["mx"], r["cnt"]) for r in plain}
    s = {r["k"]: (r["s"], r["mx"], r["cnt"]) for r in salted}
    assert p == s
    print(f"\nsalted_agg JVM 4M rows, hot key 50%: plain={t_plain:.2f}s "
          f"salted={t_salted:.2f}s (map-side combine makes plain skew-tolerant)")


def test_salted_grouped_apply_beats_hot_python_stage(spark):
    """VERDICT r2 item 10 (the half that bites): a groupBy().applyInPandas
    stage has NO map-side combine, so a hot key = one Python task doing
    half the total work. salted_grouped_apply spreads it across 16 salt
    tasks; values identical, wall-clock strictly better."""
    import time

    import numpy as np
    import pandas as pd

    from wingfoil_spark.operators.scale import salted_grouped_apply

    df = _skewed_df(spark)
    df.cache().count()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # stands in for a real per-key Arrow kernel (DTW, book fold, MinHash
        # shingling all cost far more per row than a sort): repeated
        # O(n log n) work so the hot group's cost scales with its size
        v = pdf["v"].to_numpy()
        for _ in range(8):
            v = np.sort((v * 1103515245.0) % 97.0)  # scramble → full-cost sort
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "s": [float(pdf["v"].sum())]})

    def run_plain():
        return df.groupBy("k").applyInPandas(kernel, schema="k long, s double").collect()

    def run_salted():
        return salted_grouped_apply(
            df, ["k"], kernel, "k long, s double", {"s": F.sum("s")},
            salt_buckets=16,
        ).collect()

    def timed_best(f, k=2):
        best, rows = float("inf"), None
        for _ in range(k):
            t0 = time.perf_counter()
            rows = f()
            best = min(best, time.perf_counter() - t0)
        return best, rows

    try:
        run_salted()  # warm the Python workers once for both plans
        t_plain, plain = timed_best(run_plain)
        t_salted, salted = timed_best(run_salted)
    finally:
        df.unpersist()
    p = {r["k"]: r["s"] for r in plain}
    s = {r["k"]: r["s"] for r in salted}
    assert set(p) == set(s)
    for k in p:
        assert abs(p[k] - s[k]) <= 1e-6 * max(1.0, abs(p[k])), k
    print(f"\nsalted_grouped_apply 4M rows, hot key 50%: plain={t_plain:.2f}s "
          f"salted={t_salted:.2f}s ({t_plain / t_salted:.1f}x)")
    # best-of-2 each: the structural win (hot key's Arrow transfer + kernel
    # spread over 16 tasks) must survive CI noise
    assert t_salted < t_plain, (
        f"salted {t_salted:.2f}s should beat plain {t_plain:.2f}s on a "
        f"50%-hot-key Python aggregation"
    )


def test_diagnose_skew_reports_hot_key_and_salt(spark):
    """The skew diagnostic names the hot key, its share, and a salt
    factor sized hot-rows / target-rows-per-task (capped); a uniform
    table suggests no salting."""
    from wingfoil_spark.operators.scale import diagnose_skew

    rows = [("hot", i) for i in range(900)] + [
        (f"k{i % 10}", i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    d = diagnose_skew(df, ["k"], target_rows_per_task=100)
    assert d["total_rows"] == 1000 and d["n_keys"] == 11
    assert d["top_keys"][0]["key"] == {"k": "hot"}
    assert d["top_keys"][0]["rows"] == 900
    assert abs(d["hot_key_share"] - 0.9) < 1e-9
    assert d["suggested_salt_buckets"] == 9  # ceil(900 / 100)

    uniform = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(200)], "k string, v long"
    )
    assert diagnose_skew(uniform, ["k"],
                         target_rows_per_task=100)["suggested_salt_buckets"] == 1


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction: many tiny input files rewrite into the computed
    partition count at out_path; content set preserved; never in place."""
    from wingfoil_spark.sources.io import compact_parquet

    src = str(tmp_path / "small")
    spark.range(0, 1000).repartition(50).write.parquet(src)
    out = str(tmp_path / "compact")
    rep = compact_parquet(spark, src, out, target_file_mb=256)
    assert rep["files_before"] >= 50
    assert rep["n_output_partitions"] == 1, "1000 longs fit one 256MB file"
    a = {r.id for r in spark.read.parquet(src).collect()}
    b = {r.id for r in spark.read.parquet(out).collect()}
    assert a == b, "content preserved"
    import glob
    n_out = len(glob.glob(f"{out}/part-*"))
    assert n_out == 1


def test_two_level_ops_match_naive_global_window(spark):
    """global_prefix_sum / global_lag equal the naive single-partition
    ``Window.orderBy(ts, seq)`` sum and lag on exact decimals, over tied
    timestamps inside a bucket, bucket gaps and an empty leading bucket
    boundary."""
    from pyspark.sql import Window
    from wingfoil_spark.operators.scale import global_lag, global_prefix_sum
    from wingfoil_spark.stream import Stream

    rows = [
        (i * 7 % 50 + (0 if i < 60 else 300), i, f"{(i * 13) % 101}.25")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "ts long, seq long, v string").select(
        "ts", "seq", F.col("v").cast("decimal(12,2)").alias("v")
    )
    s = Stream(df, ts="ts", seq="seq")
    w = Window.orderBy("ts", "seq")
    naive = df.select(
        "ts",
        "seq",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.lag("v").over(w).alias("prev"),
    )
    expect = sorted(
        (r["ts"], r["seq"], r["cum"], r["prev"]) for r in naive.collect()
    )
    psum = global_prefix_sum(s, "v", "cum", bucket_width=10).df
    lag = global_lag(s, "v", "prev", bucket_width=10).df
    got = psum.join(lag.select("ts", "seq", "prev"), ["ts", "seq"])
    assert sorted(
        (r["ts"], r["seq"], r["cum"], r["prev"]) for r in got.collect()
    ) == expect
