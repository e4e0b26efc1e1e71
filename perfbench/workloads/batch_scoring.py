"""batch_scoring: ``plans.pipeline.anomaly_flags`` (pure Catalyst operator
chain, stub scorer) and ``ml.lstm_query.lstm_window_scores`` (Arrow
``mapInPandas`` bulk LSTM inference) forced to completion on the same
generated ``events`` table."""

from __future__ import annotations

import os
import time

import numpy as np

from .. import checks, gen
from ..common import Ctx, median, timed

#: minutes of events; about 2,900 stride-1 windows
N_MINUTES = 3000
SAMPLED_WINDOWS = 200
LOCAL1_MASTER = "local[1]"


class BatchScoring:
    def __init__(self, ctx: Ctx, n_minutes: int = N_MINUTES):
        self.ctx = ctx
        self.n_minutes = n_minutes
        self.data_dir = ctx.dir("batch")

    def setup(self) -> None:
        self.ctx.restart_session()
        self.write_inputs()

    def write_inputs(self) -> None:
        with self.ctx.tracer.span("generator"):
            table = gen.events_table(self.ctx.seed, self.n_minutes)
            with open(os.path.join(self.data_dir, "events.parquet"), "wb") as fh:
                fh.write(gen.table_bytes(table))

    def close(self) -> None:
        pass

    def _pass(self):
        from prometheus_anomaly_detection_lstm_spark.ml.lstm_query import lstm_window_scores
        from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P

        ctx = self.ctx
        with ctx.call("plans.pipeline.anomaly_flags"):
            flags, flags_s = timed(lambda: P.anomaly_flags(ctx.spark, self.data_dir).toPandas())
        with ctx.call("ml.lstm_query.lstm_window_scores"):
            lstm, lstm_s = timed(lambda: lstm_window_scores(ctx.spark, self.data_dir).toPandas())
        return flags, flags_s, lstm, lstm_s

    def measure(self, warm_up: bool = True) -> dict:
        if warm_up:  # the first pass in a fresh JVM varies most
            self._pass()
        flags_t, lstm_t, outputs = [], [], []
        t_end = time.perf_counter() + self.ctx.seconds
        while not flags_t or time.perf_counter() < t_end:
            flags, fs, lstm, ls = self._pass()
            flags_t.append(fs)
            lstm_t.append(ls)
            outputs.append((flags, lstm))
        self.outputs = outputs
        n_flags, n_lstm = len(outputs[0][0]), len(outputs[0][1])
        self.flags_t, self.lstm_t = flags_t, lstm_t
        self.headline = {
            "flags_windows_per_s": n_flags / median(flags_t),
            "lstm_windows_per_s": n_lstm / median(lstm_t),
            "plans.pipeline.flags_s": median(flags_t),
        }
        pass_s = median([f + s for f, s in zip(flags_t, lstm_t)])
        return {"result_s": pass_s, "windows_per_s": (n_flags + n_lstm) / pass_s}

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, errors): the first pass is checked against
        the references, later passes against the first."""
        import duckdb
        import pandas as pd
        from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder, init_weights
        from prometheus_anomaly_detection_lstm_spark.oracles import ORACLE_ANOMALY_FLAGS
        from prometheus_anomaly_detection_lstm_spark.plans.pipeline import FEATURES, METRICS, SEQUENCE_LENGTH

        path = os.path.join(self.data_dir, "events.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
            oracle = con.execute(ORACLE_ANOMALY_FLAGS).df()
        finally:
            con.close()
        events = pd.read_parquet(path)
        scaled = checks.scaled_frame(events, METRICS).to_numpy()
        model = LSTMAutoencoder(init_weights(len(FEATURES)))
        rng = gen.rng_for(self.ctx.seed, "lstm-sample")
        first_flags, first_lstm = self.outputs[0]
        ids = np.sort(rng.choice(first_lstm["window_id"].to_numpy(), SAMPLED_WINDOWS, replace=False))
        want = checks.window_mse(model, scaled, ids, SEQUENCE_LENGTH)
        got = first_lstm.set_index("window_id").loc[ids, "mse"].to_numpy()
        errs_flags = checks.check_frame(first_flags, oracle, "anomaly_flags vs ORACLE_ANOMALY_FLAGS")
        errs_lstm = checks.check_window_mse(got, want, "lstm_window_scores")
        n_windows = len(scaled) - SEQUENCE_LENGTH + 1
        if len(first_lstm) != n_windows:
            errs_lstm.append(f"lstm_window_scores: {len(first_lstm)} windows, expected {n_windows}")
        failed = int(bool(errs_flags)) + int(bool(errs_lstm))
        errs = errs_flags + errs_lstm
        for i, (flags, lstm) in enumerate(self.outputs[1:], start=2):
            for what, got_df, ref in (("anomaly_flags", flags, first_flags), ("lstm_window_scores", lstm, first_lstm)):
                e = checks.check_frame(got_df, ref, f"{what} pass {i} vs pass 1", atol=0.0)
                failed += int(bool(e))
                errs += e
        return 2 * len(self.outputs), failed, errs

    def layer_metrics(self) -> dict:
        return {}

    def trace_layers(self) -> tuple[dict, tuple[int, int, list[str]]]:
        """Traced-only extras, after a traced ``measure``: the tracing
        overhead (an untraced pass against the traced ones), the layers
        inside ``lstm_window_scores`` called one by one, then a
        single-core pass.  Returns the metrics and (attempted, failed,
        errors) of the extra checks."""
        from functools import partial

        from prometheus_anomaly_detection_lstm_spark.ml.infer import score_windows
        from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder, init_weights
        from prometheus_anomaly_detection_lstm_spark.operators.windows import sequence_windows_scalable
        from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P

        ctx, spark = self.ctx, self.ctx.spark
        traced_s = median([f + s for f, s in zip(self.flags_t, self.lstm_t)])
        trace, ctx.trace = ctx.trace, False
        ctx.tracer.enabled = False
        try:
            flags, fs, lstm, ls = self._pass()
        finally:
            ctx.trace = ctx.tracer.enabled = trace
        out = {"trace_overhead.result_s": traced_s - (fs + ls)}
        failed, errs = 0, []
        for what, got_df, ref in (("anomaly_flags", flags, self.outputs[0][0]), ("lstm_window_scores", lstm, self.outputs[0][1])):
            e = checks.check_frame(got_df, ref, f"untraced {what} vs traced", atol=0.0)
            failed += int(bool(e))
            errs += e
        with ctx.call("plans.pipeline.preprocessed"):
            _, out["plans.pipeline.preprocessed_s"] = timed(
                lambda: P.preprocessed(spark, self.data_dir).write.format("noop").mode("overwrite").save()
            )
        with ctx.call("operators.windows.sequence_windows_scalable"):
            windows = sequence_windows_scalable(
                P.preprocessed(spark, self.data_dir), P.FEATURES, P.SEQUENCE_LENGTH
            ).persist()
            n, out["operators.windows.sequence_windows_s"] = timed(windows.count)
        factory = partial(LSTMAutoencoder, init_weights(len(P.FEATURES)))
        with ctx.call("ml.infer.score_windows"):
            scored, out["ml.infer.score_s"] = timed(
                lambda: score_windows(windows, factory, parallelism=spark.sparkContext.defaultParallelism)
                .select("window_id", "mse").toPandas()
            )
        windows.unpersist()
        out["ml.infer.windows_scored"] = float(len(scored))
        # single-core baseline of the same two calls
        os.environ["SPARK_MASTER"] = LOCAL1_MASTER
        try:
            ctx.restart_session()
            flags, fs, lstm, ls = self._pass_local1()
        finally:
            del os.environ["SPARK_MASTER"]
        out["local1.flags_windows_per_s"] = len(flags) / fs
        out["local1.lstm_windows_per_s"] = len(lstm) / ls
        return out, (2, failed, errs)

    def _pass_local1(self):
        ctx = self.ctx
        trace, ctx.trace = ctx.trace, False  # keep the baseline out of the job groups
        try:
            return self._pass()
        finally:
            ctx.trace = trace
