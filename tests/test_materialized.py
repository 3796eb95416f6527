"""Index-artifact writes persist their input only when the caller has not
already cached it, and release only what they cached themselves."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.ivf import (
    build_ivf_index,
)
from sport_advantages_moderne_data_infrastructure_spark.session import (
    materialized,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    write_index_clustered,
)


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def test_materialized_releases_only_its_own_cache(spark):
    fresh = spark.range(100).withColumn("k", F.col("id") % 7)
    n0 = _n_persistent(spark)
    with materialized(fresh) as df:
        assert _cached(df)
        df.count()
    assert not _cached(fresh) and _n_persistent(spark) == n0

    owned = spark.range(100).withColumn("k", F.col("id") % 5).persist()
    try:
        with materialized(owned) as df:
            df.count()
        assert _cached(owned)
    finally:
        owned.unpersist()


def test_index_writes_keep_a_caller_cache(spark, tmp_path):
    docs = spark.range(200).withColumn("k", F.col("id") % 13).persist()
    vecs = (spark.range(64)
            .select(F.col("id").alias("vec_id"),
                    F.array(*[F.sin(F.col("id") + i).cast("float")
                              for i in range(4)]).alias("embedding"))
            .persist())
    try:
        docs.count()
        vecs.count()
        write_index_clustered(docs, str(tmp_path / "postings"), "k")
        assert _cached(docs)
        build_ivf_index(vecs, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
                        str(tmp_path / "ivf"))
        assert _cached(vecs)
        assert (spark.read.parquet(str(tmp_path / "postings")).count()
                == 200)
        assert spark.read.parquet(str(tmp_path / "ivf")).count() == 64
    finally:
        docs.unpersist()
        vecs.unpersist()
