"""Points sink (SURVEY.md A12) + per-interval orchestration (A4/A13).

The reference writes one HTTP POST per point to a per-PLC InfluxDB
database (Linux/InfluxConnector2.py:176,107-109). Here the sink is a
``foreachBatch`` writer that appends each micro-batch to one flat
parquet table: one file per input partition of the batch, which for
the ``plc_sim`` stream (a single partition) is one file per sweep,
rows already in (PLC, tag) order. ``plc_ip`` stays a column rather
than a ``plc_ip=`` directory, so the cost of a batch follows the
number of points, not the number of PLCs, and files that ``/write``
appends to the same directory stay visible to reads (Spark skips
root-level files that sit beside partition directories). Writes are
whole micro-batches instead of per-point requests (the anti-pattern
SURVEY.md §4 flags). An InfluxDB-line-protocol writer would slot into
the same hook where the HTTP client is available.

Per-interval scheduling (A4/A13): the reference runs one thread per
acquisition-interval group with sleep pacing
(Linux/InfluxConnector2.py:85-94,177-209). Spark equivalent: one
streaming query per distinct interval, each with
``trigger(processingTime=...)`` — ``'min'`` maps to trigger(0) =
free-running micro-batches, exactly the reference's unpaced loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

INTERVAL_TRIGGERS = {
    "min": "0 seconds",  # free-running (README.md:49, pacing at :177-186)
    "1s": "1 seconds",
    "2s": "2 seconds",
    "5s": "5 seconds",
    "10s": "10 seconds",
    "60s": "60 seconds",
    "300s": "300 seconds",
}


def write_points_batch(batch_df: DataFrame, batch_id: int, table_path: str) -> None:
    """foreachBatch hook: at-least-once append of the micro-batch into
    the flat points table, one parquet file per input partition (one
    per sweep for ``plc_sim``). A batch replayed after a crash between
    this write and the checkpoint commit is appended again; its rows
    carry the same ``batch_id``, which is what lets readers drop the
    duplicate."""
    batch_df.withColumn("batch_id", F_lit(batch_id)).write.mode("append").parquet(
        table_path
    )


def F_lit(v):  # local import indirection to keep the hook picklable
    from pyspark.sql import functions as F

    return F.lit(v)


def write_points_batch_bucketed(
    batch_df: DataFrame, batch_id: int, table_path: str, n_buckets: int = 64
) -> None:
    """foreachBatch hook writing the SCALE.md archive layout
    ((plc_bucket, date) partitions, (plc_ip, ts)-sorted files) straight
    off the stream — operators/retention.write_points_bucketed is the
    single source of truth for the layout, so batch backfills and the
    streaming sink produce byte-compatible tables."""
    from ..operators.retention import write_points_bucketed

    write_points_bucketed(
        batch_df.withColumn("batch_id", F_lit(batch_id)), table_path, n_buckets
    )


def start_bucketed_points_query(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "0 seconds",
    available_now: bool = False,
    n_buckets: int = 64,
):
    """Streaming query materializing the bucketed points archive."""
    writer = (
        points.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: write_points_batch_bucketed(
                df, bid, table_path, n_buckets
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_points_query(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "0 seconds",
    available_now: bool = False,
):
    """Start one streaming query writing the points table.

    Raises ``ValueError`` when ``table_path`` holds ``plc_ip=``
    partition directories: flat files appended beside them would be
    invisible to reads. One local listing, when the stream starts."""
    if os.path.isdir(table_path):
        partitioned = [d for d in os.listdir(table_path) if d.startswith("plc_ip=")]
        if partitioned:
            raise ValueError(
                f"{table_path} holds the plc_ip-partitioned layout "
                f"({partitioned[0]}/ ...); the points sink appends flat files, "
                "which reads skip beside partition directories. Write to a new "
                "directory, or rewrite the table without partitionBy('plc_ip')."
            )
    writer = (
        points.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, bid: write_points_batch(df, bid, table_path))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_interval_queries(
    make_stream,
    intervals: list[str],
    base_table_path: str,
    base_checkpoint: str,
):
    """A4/A13: one query per distinct acquisition interval.

    ``make_stream(interval) -> DataFrame`` builds the per-interval
    filtered stream; each query gets its own checkpoint dir (the §7
    risk-register requirement for multi-query sessions).
    """
    queries = []
    for iv in intervals:
        trig = INTERVAL_TRIGGERS.get(iv, "1 seconds")
        q = start_points_query(
            make_stream(iv),
            os.path.join(base_table_path, f"interval={iv}"),
            os.path.join(base_checkpoint, iv),
            trigger_interval=trig,
        )
        queries.append(q)
    return queries


def write_signal_batch_bucketed(
    batch_df: DataFrame,
    batch_id: int,
    table_name: str,
    n_buckets: int = 8,
) -> None:
    """foreachBatch hook appending the micro-batch into a CATALOG table
    bucketed+sorted by (plc_ip, alias) — the join-time layout, sibling
    to write_points_batch_bucketed's (plc_bucket, date) scan-pruning
    layout. Signal-keyed joins and per-signal aggregates over this
    table run with ZERO exchange (the groupBy and the merge join both
    reuse the storage partitioning; plan-guarded in
    tests/test_plans_physical.py::test_b8_points_bucketed_zero_exchange
    and proven off a live stream in tests/test_points_layout.py).
    Bucket writes require the table catalog (bucket metadata lives
    there), hence saveAsTable instead of a path write."""
    (
        batch_df.withColumn("batch_id", F_lit(batch_id))
        .write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, "plc_ip", "alias")
        .sortBy("plc_ip", "alias")
        .saveAsTable(table_name)
    )


def start_bucketed_signal_table(
    points: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    available_now: bool = False,
    n_buckets: int = 8,
):
    """Streaming query materializing the signal-bucketed points table."""
    writer = (
        points.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: write_signal_batch_bucketed(
                df, bid, table_name, n_buckets
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
