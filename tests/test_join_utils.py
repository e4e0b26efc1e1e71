"""Co-location mechanisms: bucketed joins and day-partitioned sinks
(plan shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import load_table
from prometheus_anomaly_detection_lstm_spark.operators.join_utils import (
    bucketed_join_ready,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "li_bkt", "l_orderkey", 8)
    write_bucketed(orders, "ord_bkt", "l_orderkey", 8)
    # at sf0.001 Catalyst prefers broadcast; disable it to exercise the
    # co-located sort-merge path a big-table join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join_ready(spark, "li_bkt", "ord_bkt", "l_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        expected = li.join(orders, "l_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned writes: a day filter prunes to one partition dir."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").withColumn("dt", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-05")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(dt" in plan, plan[:500]
    assert back.count() == ev.filter(F.col("dt") == "2024-01-05").count()


def test_day_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Day-range predicates on the partitioned layout must become
    PartitionFilters (pruned before file listing), not data filters."""
    from pyspark.sql import functions as F

    from prometheus_anomaly_detection_lstm_spark.io_tables import (
        load_table,
        read_day_partitioned,
        write_day_partitioned,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_by_day")
    write_day_partitioned(ev, path)

    back = read_day_partitioned(spark, path)
    # roundtrip: same rows
    assert back.count() == ev.count()

    one_day = back.filter(F.col("__day") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the day predicate must appear in the partition filters, and the
    # pruned scan must read fewer files than the full dataset
    pf = plan.split("PartitionFilters: ")[1].split("\n")[0]
    assert "__day" in pf
    n_days = ev.select(F.to_date("ts").alias("d")).distinct().count()
    assert n_days > 1
    assert one_day.count() == ev.filter(F.to_date("ts") == "2024-01-02").count()
