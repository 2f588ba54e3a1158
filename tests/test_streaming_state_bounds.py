"""State-store growth bounds for the stateful streaming twin (r4
VERDICT item 9): the applyInPandasWithState watermark dedup keeps
exactly ONE state row per active key (an anchor timestamp), and the
event-time timeout EVICTS rows once the watermark passes — so state is
bounded by the number of keys active within one watermark horizon, not
by stream length.  Asserted from the engine's own stateOperators metrics
(numRowsTotal per micro-batch), at tens of thousands of keys; the
per-key arithmetic is O(1), so the bound carries to crawl scale where
the key population per horizon is what you provision for (README scale
note)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
N_KEYS = 30_000


def _run_and_progress(spark, stream_df, ckpt):
    q = (stream_df.writeStream.format("noop")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination(600)
    return q.recentProgress


def _state_rows(progresses):
    out = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            out.append(int(ops[0]["numRowsTotal"]))
    return out


def _write_keys(spark, path, n_keys, ts):
    (spark.range(n_keys)
     .select(F.col("id").alias("user_id"), F.lit(ts).alias("ts"),
             F.col("id").alias("event_id"))
     .coalesce(1).write.mode("append").parquet(path))


@pytest.mark.parametrize("twin", ["dedup"])
def test_state_bounded_by_keys_and_evicted_by_timeout(spark, tmp_path, twin):
    from image_pdf_ocr_suite_spark.streaming.stream import (
        dedup_events_stream_exact)
    input_dir = str(tmp_path / "in")
    # batch 1: one event for each of N_KEYS keys -> N_KEYS state rows
    _write_keys(spark, input_dir, N_KEYS, T0)
    # batches 2 and 3: single far-future events; batch 2 advances the
    # watermark past every anchor's timeout, batch 3 gives the store a
    # trigger in which to process the expirations
    far = T0 + dt.timedelta(days=2)
    _write_keys(spark, input_dir, 1, far)
    _write_keys(spark, input_dir, 1, far + dt.timedelta(hours=1))

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_id long")
              .option("maxFilesPerTrigger", "1").parquet(input_dir))
    out = dedup_events_stream_exact(stream, delay_sec=3600,
                                    watermark="1 hour")
    rows = _state_rows(_run_and_progress(spark, out,
                                         str(tmp_path / f"ckpt_{twin}")))
    assert rows, "no stateOperators metrics recorded"
    # one state row per key, never more — the documented bound
    assert max(rows) <= N_KEYS + 1, rows
    assert max(rows) >= N_KEYS, rows      # every key really held state
    # timeout eviction: after the watermark passes, the store holds only
    # the far-future key's row — not the N_KEYS expired anchors
    assert rows[-1] <= 2, rows
