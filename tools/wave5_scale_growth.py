"""Scale-growth experiment for the wave-5 operators.

Same method as mining_scale_growth.py: replicate the sf0.1 inputs N
times along each operator's REALISTIC growth axis and time each shape
end-to-end with a noop sink.  Near-linear wall growth = no hidden
super-linear stage.

Axes:
- resample/attribution/frequent_paths: events replicated with DISTINCT
  series names / user ids (cardinality axis — per-key windows get more
  parallelism, not deeper state).
- backlog: orders+lineitem replicated with distinct order keys (the
  day frame stays bounded — the point of the boundary-event design).
- bloom scrub: documents replicated with distinct doc ids (benchmark
  set and bitset grow with the nominal benchmark, corpus side is the
  scale axis).

Usage: ``python tools/wave5_scale_growth.py [mult ...]`` — one JSON
line per multiplier, recorded in BASELINE.md.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from prometheus_anomaly_detection_lstm_spark.io_tables import load_table
    from prometheus_anomaly_detection_lstm_spark.plans import wave5
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("wave5-scale-growth")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf = "/root/testdata/sf0.1"
    ev0 = load_table(spark, sf, "events")
    docs0 = load_table(spark, sf, "documents")
    orders0 = load_table(spark, sf, "orders")
    li0 = load_table(spark, sf, "lineitem")

    def replicate(df, keycols: dict, mult: int):
        parts = []
        for k in range(mult):
            p = df
            for col, kind in keycols.items():
                if kind == "str":
                    p = p.withColumn(col, F.concat(F.col(col), F.lit(f"_{k}")))
                else:
                    p = p.withColumn(
                        col, F.col(col) + F.lit(k * 100_000_000).cast("long")
                    )
            parts.append(p)
        return functools.reduce(lambda a, b: a.unionByName(b), parts)

    for mult in mults:
        # user-cardinality axis for the event operators: event_type is
        # NOT renamed (renaming it made replicas purchase-free, so the
        # attribution/point-in-time rollups never grew — caught in
        # review); the series axis for resample renames event_type on
        # its own frame below.
        ev = replicate(
            ev0, {"user_id": "int", "event_id": "int"}, mult
        ).persist()
        ev_series = replicate(ev0, {"event_type": "str"}, mult).persist()
        docs = replicate(docs0, {"doc_id": "int"}, mult).persist()
        orders = replicate(orders0, {"o_orderkey": "int"}, mult).persist()
        li = replicate(li0, {"l_orderkey": "int"}, mult).persist()
        out = {
            "mult": mult,
            "events": ev.count(),
            "docs": docs.count(),
            "orders": orders.count(),
        }
        li.count()

        series = ev_series.select(
            F.col("event_type").alias("metric"), "ts", "value"
        )

        def bench(name, df):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 2)

        bench("resample_interpolate", wave5.resample_interpolate(series))
        bench("attribution", wave5.last_touch_attribution(ev))
        bench("frequent_paths", wave5.frequent_paths(ev))
        bench("backlog_daily", wave5.backlog_daily(orders, li))
        bench("log_odds_keywords", wave5.log_odds_keywords(docs))
        bench("bloom_decontaminate", wave5.bloom_decontaminate(docs))

        from prometheus_anomaly_detection_lstm_spark.operators.dedup import (
            related_docs_topk,
        )

        bench("pointintime_features", wave5.pointintime_features(ev))
        bench("churn_labels", wave5.churn_labels(orders))
        bench("related_docs_topk", related_docs_topk(docs))

        for f in (ev, ev_series, docs, orders, li):
            f.unpersist()
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
