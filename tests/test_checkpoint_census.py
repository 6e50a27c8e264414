"""Leak census for checkpoint lifetime: every key that checkpoints
(graph and dedup fixpoints, the streaming sinks that materialize off
their temp tables) must add no persistent RDD that outlives the
bench's between-key cleanup — ``spark.catalog.clearCache()`` plus
``pinning.release_all()``.  A raw ``localCheckpoint`` outside
``operators/pinning.py`` survives both and is freed only when a
Python and a JVM GC happen to reach it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_example_spark.operators import pinning
from flink_streaming_example_spark.plans.registry import all_specs
from tests.conftest import SF_SMOKE_DIR

_KEYS = [
    "q_pagerank",
    "q_kcore",
    "q_triangles",
    "q_bfs_hops",
    "q_jaccard_neighbors",
    "q_label_propagation",
    "q_dedup_clusters",
    "q_dedup_clusters_lss",
    "q_connected_components",
    "q_clean_corpus",
    "q_file_sink_roundtrip",
    "q_streaming_upsert",
    "q_streaming_training_mix",
    "q_streaming_cdc",
    "q_streaming_retract_agg",
]


def _live_rdd_ids(spark) -> set[int]:
    """Ids of the JVM's persistent RDDs after the between-key cleanup.
    Ids, not the count: an earlier test's unreleased checkpoint that a
    GC frees mid-key would otherwise offset a leak."""
    spark.catalog.clearCache()
    pinning.release_all()
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("key", _KEYS)
def test_key_checkpoints_freed_by_release_all(spark, key):
    before = _live_rdd_ids(spark)
    all_specs()[key].fn(spark, SF_SMOKE_DIR).collect()
    leaked = _live_rdd_ids(spark) - before
    assert not leaked, (
        f"{key}: persistent RDDs {sorted(leaked)} outlive clearCache() "
        "+ release_all() — a checkpoint made outside pinning.pin"
    )


def test_retract_agg_sink_frees_every_batch_of_retractions(spark, tmp_path):
    """q_streaming_retract_agg drains its one events file in ONE
    micro-batch, so the census above never sees it build retractions.
    Over three shards every batch after the first checkpoints the
    affected users' old winners; none of those may outlive the
    between-key cleanup either."""
    from flink_streaming_example_spark.sources.tables import (
        SCHEMAS,
        load_table,
    )
    from flink_streaming_example_spark.streaming.upsert import (
        retract_agg_sink,
    )

    shards = str(tmp_path / "shards")
    load_table(spark, SF_SMOKE_DIR, "events").repartitionByRange(
        3, "ts"
    ).write.parquet(shards)
    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(shards)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            (F.col("value").cast("decimal(30,6)") * 1_000_000)
            .cast("long")
            .alias("vi"),
        )
    )
    table = tmp_path / "table"
    table.mkdir()
    before = _live_rdd_ids(spark)
    q = (
        retract_agg_sink(ev, str(table), str(tmp_path / "ckpt"), {})
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    leaked = _live_rdd_ids(spark) - before
    assert not leaked, (
        f"retract_agg_sink: persistent RDDs {sorted(leaked)} outlive "
        "clearCache() + release_all()"
    )
