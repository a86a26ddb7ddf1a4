"""Structured-Streaming twins of the batch operators.

Every module exposes a ``run_available_now(spark, sf_dir)`` harness that
drains its finite file source with ``trigger(availableNow=True)`` into a
memory sink; the driver hash-gates the result against the batch twin.
"""

from pyspark.sql import DataFrame


def state_partitions_scope(spark):
    """Context manager: pin ``spark.sql.shuffle.partitions`` to the
    streaming-state partition count while a stream STARTS (Structured
    Streaming clones the session at start and records the count in the
    checkpoint, so restoring the conf afterwards cannot affect the
    running query).

    A stateful operator creates one state-store instance per shuffle
    partition, and every micro-batch pays a per-instance fixed cost
    (delta-file commit + one Arrow python-runner round trip for the
    grouped-map twins). That cost scales with PARTITIONS, not data:
    the st14 probe (tools/st14_probe.py, sf0.1) measured steady-state
    24.4 s at 32 partitions vs 14.0/15.9/11.4 s at 16/8/4 — so size
    the count by STATE VOLUME, not core count. These finite-feed
    harnesses carry <1 MB of state (hundreds-to-thousands of keys), so
    the count is fixed at 8.
    """
    from contextlib import contextmanager

    @contextmanager
    def scope():
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return scope()


def drain_to_memory(out: DataFrame, query_name: str,
                    output_mode: str) -> DataFrame:
    """Start ``out`` as an availableNow memory-sink stream with a FRESH
    per-run checkpoint directory, await completion, return the sink table.

    The explicit per-run ``checkpointLocation`` is the point: a stream
    that inherits the session-global ``spark.sql.streaming.
    checkpointLocation`` from an earlier run would find committed
    offsets there and silently skip already-seen input files — a
    correctness hazard for any caller that invokes the harness twice in
    one session (driver re-runs, bench repeats, tests).
    """
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{query_name}_")
    with state_partitions_scope(out.sparkSession):
        q = (out.writeStream
             .format("memory")
             .queryName(query_name)
             .option("checkpointLocation", ckpt)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
    q.awaitTermination()
    # the memory sink holds the rows; the checkpoint is disposable
    shutil.rmtree(ckpt, ignore_errors=True)
    return out.sparkSession.table(query_name)
