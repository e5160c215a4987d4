"""State-store provider selection for stateful streaming at scale.

The default ``HDFSBackedStateStoreProvider`` keeps every key's state in an
executor-heap map and snapshots whole maps to the checkpoint — fine for
bounded demo state, but at 100 TB (billions of keys × watermark horizon
across aggregations, dedup sets, and stream-stream join buffers) the heap
map is an OOM and every snapshot re-uploads the full store. RocksDB is the
production choice: state lives in an on-disk LSM keyed store with bounded
block-cache memory, and changelog checkpointing uploads only each batch's
delta (the SST snapshot is taken asynchronously, off the commit path).

Opt-in by context manager rather than session default because:

- provider choice is captured PER QUERY at start — flipping the session
  conf mid-flight never affects running queries, so scoping the conf to
  the ``start()`` call is the honest unit;
- a checkpoint is married to its provider: restarting an HDFS-backed
  checkpoint under RocksDB (or vice versa) fails, so the choice must be
  explicit and visible at the call site;
- the local default stays the lightweight heap store so small tests do
  not pay RocksDB native-library startup per query.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


@contextmanager
def rocksdb_state(spark: SparkSession) -> Iterator[None]:
    """Queries STARTED inside the block run their state stores on RocksDB
    with per-batch changelog checkpointing. Session confs are
    restored on exit — success or exception — and queries already running
    keep the provider they started with (Spark snapshots the conf at query
    start), so wrapping the ``start()``/drain is sufficient and safe in a
    shared session."""
    prior: dict[str, str | None] = {
        _PROVIDER_CONF: spark.conf.get(_PROVIDER_CONF, None),
        _CHANGELOG_CONF: spark.conf.get(_CHANGELOG_CONF, None),
    }
    spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
    spark.conf.set(_CHANGELOG_CONF, "true")
    try:
        yield
    finally:
        for key, val in prior.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
