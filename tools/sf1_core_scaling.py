"""sf1 core-scaling for the heavy rows (round-13, verdict task 5).

sf0.1 saturates at <=8 cores (BENCH_r12 scaling block: no headline
query runs measurably faster on 32 than 8), so the r12 verdict asked
for the scaling measurement at sf1 where the heavy rows have real
parallel work.  Runs the five heavy shapes at the core count given by
$SPARK_GRAFT_CPUS (master local[N], shuffle.partitions=N, as
session.get_spark sets them) and prints one JSON line.  Invoke twice
(SPARK_GRAFT_CPUS=8 / 32) from separate processes; a row whose
8-core/32-core ratio stays ~1.0 at sf1 is a genuine serialization
finding (guide §2).

Full-cost passes (construct+execute) for the checkpointed shapes,
median of 5.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/tmp/crossover/sf1"


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from prometheus_anomaly_detection_lstm_spark.registry import all_queries
    from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P

    queries = all_queries()
    out: dict = {"cpus": int(cpus), "sf_dir": SF1}

    def timed(name: str, mk, n: int = 5) -> None:
        mk().write.format("noop").mode("overwrite").save()  # warm
        vals: list[float] = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"scaling:{name}")
            try:
                t0 = time.perf_counter()
                mk().write.format("noop").mode("overwrite").save()
                vals.append(round(time.perf_counter() - t0, 3))
            finally:
                spark.sparkContext.setJobDescription(None)
        out[name] = sorted(vals)[len(vals) // 2]
        out[f"{name}_passes"] = vals

    timed("dedup_minhash_lsh", lambda: queries["dedup_minhash_lsh"][0](spark, SF1))
    # containment on the adversarial copyvariant corpus runs 7.5-14 min
    # PER PASS at 32 cores; SPARK_GRAFT_SCALING_CONTAINMENT_PASSES
    # bounds the wall-clock of a low-core run (pass counts ride along
    # in the output, so asymmetric sampling is visible on the record).
    timed(
        "text_containment_pairs",
        lambda: queries["text_containment_pairs"][0](spark, SF1),
        n=int(os.environ.get("SPARK_GRAFT_SCALING_CONTAINMENT_PASSES", "5")),
    )
    timed(
        "corpus_perplexity_filter",
        lambda: queries["corpus_perplexity_filter"][0](spark, SF1),
    )
    timed(
        "pipeline_prep",
        lambda: P.preprocessed(spark, SF1, keep_day=True),
    )

    # waist build: parquet write, timed fresh per pass (bench recipe)
    vals = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            P.preprocessed(spark, SF1, keep_day=True)
            .select("ts", "__day", *P.FEATURES)
            .repartition(16)
            .write.mode("overwrite")
            .parquet(f"{SF1}/anomaly_waist_scaling.parquet")
        )
        vals.append(round(time.perf_counter() - t0, 3))
    out["anomaly_waist_build"] = sorted(vals)[1]
    out["anomaly_waist_build_passes"] = vals

    print(json.dumps(out))


if __name__ == "__main__":
    main()
