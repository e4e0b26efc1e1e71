"""Round-10 ADVICE regression pins.

1. ANN prebuilt recipe stamps must carry the BUILD identity (config
   constants + code-version token), not just {sf_dir, rows}, so a
   trainer/config change invalidates cached /tmp indexes instead of
   silently grading stale codes.
2. build_lsh_index must reject a non-local path BEFORE the expensive
   corpus-wide signature pass (meta.json goes through plain open()).
3. _word_stream must not require doc_id on external frames: keyless
   round-robin fallback instead of an AnalysisException that fires only
   on under-split inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.operators import bpe, kmeans, similarity


def test_pq_recipe_carries_build_identity():
    r = kmeans.pq_build_recipe()
    assert r["m"] == kmeans.PQ_SEARCH_M
    assert r["kcode"] == kmeans.PQ_SEARCH_K
    assert r["train_iters"] == kmeans.PQ_TRAIN_ITERS
    assert r["version"] == kmeans.PQ_INDEX_VERSION
    # a config change MUST change the recipe (the reuse gate compares ==)
    assert kmeans.pq_build_recipe(m=8) != r


def test_lsh_ivf_recipes_carry_build_identity():
    lsh = similarity.lsh_build_recipe(8, 16)
    assert lsh == {"kind": "lsh", "version": similarity.LSH_INDEX_VERSION,
                   "planes": 8, "tables": 16}
    assert similarity.lsh_build_recipe(10, 16) != lsh
    ivf = similarity.ivf_build_recipe(8)
    assert ivf["n_lists"] == 8 and ivf["kind"] == "ivf"


def test_registry_pq_stamp_includes_build_recipe():
    """The parity-suite prebuilt entry's reuse stamp must embed the
    build recipe — source-level pin (the entry builds lazily)."""
    import inspect

    from prometheus_anomaly_detection_lstm_spark import registry

    src = inspect.getsource(registry._pq_prebuilt_entry)
    assert "pq_build_recipe()" in src


def test_build_lsh_index_rejects_remote_path_before_work(spark):
    emb = spark.range(0).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).alias("vec"),
    )
    with pytest.raises(ValueError, match="local path"):
        similarity.build_lsh_index(emb, "s3://bucket/prefix")


def test_word_stream_keyless_fallback_without_doc_id(spark):
    """An external docs frame with no doc_id column must tokenize even
    when the gate fires (single in-memory partition -> under-split)."""
    docs = spark.createDataFrame(
        [("hello world",), ("hello spark",)], "text string"
    ).coalesce(1)
    assert "doc_id" not in docs.columns
    rows = bpe.word_counts(docs).collect()
    got = {tuple(r["t"]): r["cnt"] for r in rows}
    assert got[tuple("hello")] == 2
    assert got[tuple("world")] == 1
