# Mirrors the reference's Makefile targets (Makefile:74-88) on the
# Spark engine; stages share one SparkSession via the CLI.

CONFIG ?= config.yaml
SF ?= /root/testdata/sf0.01

.PHONY: collect preprocess train filter detect test parity sweep hygiene bench clean

collect:
	python -m prometheus_anomaly_detection_lstm_spark.cli collect --config $(CONFIG)

preprocess:
	python -m prometheus_anomaly_detection_lstm_spark.cli preprocess --config $(CONFIG)

train:
	python -m prometheus_anomaly_detection_lstm_spark.cli train --config $(CONFIG)

filter:
	python -m prometheus_anomaly_detection_lstm_spark.cli filter --config $(CONFIG)

detect:
	python -m prometheus_anomaly_detection_lstm_spark.cli detect --config $(CONFIG)

# the tier-1 gate (ROADMAP.md), then the Spark-free benchmark self-tests
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
	python -m pytest perfbench/tests -q

parity:
	SPARK_GRAFT_TEST_SF=$(SF) python -m pytest tests/test_oracle_parity.py -q

# full driver-contract sweep: every registry query vs its DuckDB oracle
# (run from OUTSIDE the repo in real verification; see .claude/skills/verify)
sweep:
	python tools/driver_sim.py $$(python -c "from prometheus_anomaly_detection_lstm_spark.registry import PRIORITY; print(' '.join(PRIORITY))")

# registry-wide physical-plan floor (no cartesian/global sort/row UDF)
hygiene:
	python -m pytest tests/test_plan_hygiene.py -q

bench:
	python bench.py

# per-query bytes-moved audit from event-log task metrics (BASELINE.md)
shuffle-audit:
	python tools/shuffle_audit.py

# same-minute DuckDB anchors for any query list (round-10 protocol;
# defaults to the ratio-weak text/corpus/DSPOT set at sf0.1)
anchors:
	python tools/inrun_anchor_sweep.py $(QUERIES)

# labeled detector scorecard: point spikes / level shift (+GLR
# localization) / slot contamination / slow ramp
zoo:
	python tools/detector_zoo_eval.py

clean:
	rm -rf spark-warehouse metastore_db derby.log .pytest_cache .hypothesis
