"""Round-10 optimization tests: internals changed by the r10 round
(schema-cached parquet reads and operator restructurings) pinned
against their prior semantics."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")  # the scope conftest's gate_compare needs
def spark():
    from almost_any_file_to_pandas_spark.session import get_spark

    return get_spark("test_round10_opt")


def test_schema_cache_matches_inference_and_invalidates(spark, tmp_path):
    """plans._read_parquet must return the SAME schema the inference
    path returns (for every testdata table, including the
    TIMESTAMP(NANOS) events file), hit its cache on a second read,
    and invalidate when the file changes underneath it."""
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    for name in plans.TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        plans._SCHEMA_CACHE.clear()
        cold = plans._read_parquet(spark, path)
        assert plans._SCHEMA_CACHE, "first read must populate the cache"
        warm = plans._read_parquet(spark, path)
        inferred = spark.read.parquet(path)
        assert warm.schema == inferred.schema, name
        assert cold.schema == inferred.schema, name

    # rewriting the file must invalidate the cached entry (key carries
    # size + mtime_ns): write a one-column file, read it, then replace
    # it with a DIFFERENT schema at the same path
    def write_single_file(df, dst):
        src = tmp_path / "src"
        df.coalesce(1).write.mode("overwrite").parquet(str(src))
        part = [f for f in os.listdir(src) if f.endswith(".parquet")][0]
        shutil.copyfile(str(src / part), dst)

    p = str(tmp_path / "t.parquet")
    write_single_file(spark.range(3).toDF("a"), p)
    assert plans._read_parquet(spark, p).columns == ["a"]
    write_single_file(spark.range(3).selectExpr("id AS b", "id AS c"), p)
    os.utime(p, ns=(1, 1))  # force a distinct mtime even on fast fs
    assert plans._read_parquet(spark, p).columns == ["b", "c"]

    # a conf that changes inference is part of the key: a BINARY
    # column reads as binary, then as string under binaryAsString.
    # Written by pyarrow: a Spark-written file carries its Spark schema
    # in the footer metadata, which inference prefers over the conf.
    import pyarrow as pa
    import pyarrow.parquet as pq

    pb = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), pb)
    assert dict(plans._read_parquet(spark, pb).dtypes)["b"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(plans._read_parquet(spark, pb).dtypes)["b"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(plans._read_parquet(spark, pb).dtypes)["b"] == "binary"


def test_kmeans_driver_regime_matches_distributed(spark, monkeypatch):
    """The r10 driver-side Lloyd's regime must produce BIT-IDENTICAL
    centroids to the distributed loop (same integer-q12 distances,
    same DECIMAL(30,15) mean arithmetic) — on the real embeddings
    corpus and on an RFM-feature-shaped frame."""
    from pyspark.sql import functions as F

    # similarity must import before ivf_kmeans (module-level oracle
    # strings in similarity import back from ivf_kmeans)
    import almost_any_file_to_pandas_spark.operators.similarity  # noqa: F401
    from almost_any_file_to_pandas_spark.operators import ivf_kmeans
    from almost_any_file_to_pandas_spark.plans import table_wide
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    emb = table_wide(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    feat = spark.createDataFrame(
        [(i, [((i * 7) % 13) / 13.0, ((i * 5) % 11) / 11.0, i / 40.0])
         for i in range(40)],
        "vec_id long, v array<double>",
    )

    def run(frame, k):
        return {
            r["cid"]: r["cvec"]
            for r in ivf_kmeans.deterministic_kmeans_centroids(
                spark, frame, k
            ).collect()
        }

    cases = ((emb, 8), (feat, 4))
    fast = [run(frame, k) for frame, k in cases]
    monkeypatch.setattr(ivf_kmeans, "KMEANS_DRIVER_ROW_CAP", 0)
    dist = [run(frame, k) for frame, k in cases]
    assert fast == dist


@pytest.mark.parametrize("cap", ["default", 0])
def test_kmeans_rejects_components_past_q12_bound(spark, monkeypatch, cap):
    """The Q12_SAFE_ABS data contract trips in both trainer regimes: a
    seed vector with a component of 9.0 (> 8.0) would overflow the
    integer-q12 distance terms, so the trainer raises instead."""
    import almost_any_file_to_pandas_spark.operators.similarity  # noqa: F401
    from almost_any_file_to_pandas_spark.operators import ivf_kmeans

    assert ivf_kmeans.Q12_SAFE_ABS < 9.0
    if cap != "default":
        monkeypatch.setattr(ivf_kmeans, "KMEANS_DRIVER_ROW_CAP", cap)
    emb = spark.createDataFrame(
        [(0, [9.0, 0.0]), (1, [0.5, 0.5]), (2, [0.1, 0.2])],
        "vec_id long, v array<double>",
    )
    with pytest.raises(ValueError, match="Q12_SAFE_ABS"):
        ivf_kmeans.deterministic_kmeans_centroids(spark, emb, 2).collect()


def test_kcenter_driver_regime_matches_distributed(
    spark, monkeypatch, gate_compare, tmp_path
):
    """The r10 driver-side greedy k-center traversal must emit the
    identical (rank, vec_id, radius_q12) trajectory the distributed
    pass loop emits — same integer-q12 distances, same tie-breaks —
    on the testdata corpus and on one whose smallest vec_id (the
    traversal's seed) and two others have NULL vectors, which both
    regimes and the oracle skip."""
    import almost_any_file_to_pandas_spark.operators.similarity  # noqa: F401
    from almost_any_file_to_pandas_spark.operators import (
        ivf_kmeans,
        similarity,
    )
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    nulls = str(tmp_path)
    rows = [
        (i, None if i in (0, 5, 11) else [float(i % 4), float(i * i % 7), 1.0],
         "a")
        for i in range(14)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.parquet(f"{nulls}/embeddings.parquet")

    def run(sf):
        return sorted(
            tuple(r)
            for r in similarity.sim_kcenter_greedy_coreset(
                spark, sf
            ).collect()
        )

    fast = {sf: run(sf) for sf in (SF_DIR, nulls)}
    monkeypatch.setattr(ivf_kmeans, "KMEANS_DRIVER_ROW_CAP", 0)
    slow = {sf: run(sf) for sf in (SF_DIR, nulls)}
    assert fast == slow
    assert len(fast[SF_DIR]) == similarity.KCENTER_K
    assert fast[nulls][0][:2] == (1, 1)  # seed skips the NULL vec_id 0
    assert {r[1] for r in fast[nulls]}.isdisjoint({0, 5, 11})
    gate_compare(nulls, "sim_kcenter_greedy_coreset")
    monkeypatch.undo()
    gate_compare(nulls, "sim_kcenter_greedy_coreset")


def test_table_events_ts_conversion_survives_schema_cache(spark):
    """The nanos→timestamp conversion in plans.table() keys off the
    arriving dtype — with the schema cache the cached dtype must take
    the same branch and produce identical rows."""
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    plans._SCHEMA_CACHE.clear()
    cold = plans.table(spark, SF_DIR, "events").select("ts").limit(5)
    cold_rows = [r["ts"] for r in cold.collect()]
    warm = plans.table(spark, SF_DIR, "events").select("ts").limit(5)
    warm_rows = [r["ts"] for r in warm.collect()]
    assert cold_rows == warm_rows
    assert dict(warm.dtypes)["ts"] == "timestamp"
