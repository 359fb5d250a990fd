"""Warm-path integration (pipelines/incremental_ingest): streaming
micro-batches -> exactly-once ACID merges -> incremental view
maintenance off the commit log's time travel, checked against a full
recompute at every version (including across a schema evolution)."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_insights_app_spark.pipelines.incremental_ingest import (
    maintain_agg_over_versions,
)
from market_insights_app_spark.storage.txnlog import (
    TxnTable,
    streaming_merge_sink,
)


def _recompute(df):
    return df.groupBy("grp").agg(
        F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("cnt")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_to_txn_to_ivm_matches_recompute(spark, tmp_path):
    src = tmp_path / "src"
    # three files -> three micro-batches (one merge commit each);
    # batch 2 UPDATES key 2 (group move) and batch 3 re-sends batch 2
    # content-equivalent rows plus a new key
    spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20)], "id INT, grp STRING, value INT"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    spark.createDataFrame(
        [(2, "b", 25), (3, "a", 30)], "id INT, grp STRING, value INT"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    spark.createDataFrame(
        [(4, "c", 40)], "id INT, grp STRING, value INT"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b3"))
    # one flat dir of files so maxFilesPerTrigger batches them
    import glob
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, b in enumerate(("b1", "b2", "b3")):
        (f,) = glob.glob(str(src / b / "part-*.parquet"))
        shutil.copy(f, flat / f"{i}.parquet")

    t = TxnTable(spark, str(tmp_path / "tbl"))
    stream = (
        spark.readStream.schema("id INT, grp STRING, value INT")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_merge_sink(t, ["id"], app="ivm-test")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = [c["version"] for c in t.history()]
    assert len(versions) >= 2

    # roll the materialized view from the FIRST commit to the latest,
    # asserting the invariant at every stop
    base = _recompute(t.read(version=versions[0]))
    for upto in versions[1:]:
        rolled = maintain_agg_over_versions(
            t, "grp", "value", versions[0], upto, base, key_cols=["id"]
        )
        assert _rows(rolled) == _rows(_recompute(t.read(version=upto))), upto

    # schema-evolving commit: the invariant must hold straight through
    t.merge(
        spark.createDataFrame(
            [(5, "c", 50, "tag")], "id INT, grp STRING, value INT, note STRING"
        ),
        ["id"],
        evolve_schema=True,
    )
    latest = t.history()[-1]["version"]
    rolled = maintain_agg_over_versions(
        t, "grp", "value", versions[0], latest, base, key_cols=["id"]
    )
    assert _rows(rolled) == _rows(_recompute(t.read(version=latest)))
    # exactly-once: re-delivering an already-applied batch id is a no-op
    n_commits = len(t.history())
    assert (
        t.merge(
            spark.createDataFrame([(9, "z", 99)], "id INT, grp STRING, value INT"),
            ["id"],
            txn=("ivm-test", 0),
        )
        is None
    )
    assert len(t.history()) == n_commits
