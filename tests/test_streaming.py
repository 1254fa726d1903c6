"""Structured Streaming semantics: watermark late-data handling across
restarts (the P37 correctness area SURVEY.md §7 calls the hardest).

The registered `stream_events` query proves batch-equivalence in
complete mode; these tests prove the *streaming-only* behaviors:
append-mode finalization and watermark-based late drop, using a file
source fed across two runs against one checkpoint.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest

from crime_data_batch_processing_spark.streaming.stream_events import (
    EVENTS_FILE_SCHEMA,
    hourly_agg,
    run_stream,
    streaming_events,
)

HOUR_NS = 3_600 * 10**9
BASE_NS = 1_704_067_200 * 10**9  # 2024-01-01 00:00:00 UTC


def _event(i: int, hour: float, etype: str = "click", value: float = 1.0):
    return (i, BASE_NS + int(hour * HOUR_NS), 1, etype, value, "{}")


def _write_batch(spark, rows, stream_dir: str, name: str) -> None:
    """Materialize one 'arrival' as a single parquet file in the source dir."""
    stage = os.path.join(stream_dir, "_stage", name)
    df = spark.createDataFrame(rows, EVENTS_FILE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(stream_dir, f"{name}.parquet"))


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    return str(src), str(ckpt)


def test_append_mode_emits_only_finalized_windows(spark, stream_dirs):
    src, ckpt = stream_dirs
    # hours 0,1,2 plus a head event at hour 5 that advances the watermark
    rows = [_event(0, 0.5), _event(1, 1.5), _event(2, 2.5), _event(3, 5.5)]
    _write_batch(spark, rows, src, "b0")
    agg = hourly_agg(streaming_events(spark, src))
    q = run_stream(agg, "t_append", checkpoint=ckpt)
    got = {(str(r.window_start), r.n_events) for r in spark.table(q.name).collect()}
    # watermark after the batch = 5:30 - 1h = 4:30 → windows ending ≤4:30
    # are final: hours 0,1,2. The hour-5 window stays open (not emitted).
    assert got == {
        ("2024-01-01 00:00:00", 1),
        ("2024-01-01 01:00:00", 1),
        ("2024-01-01 02:00:00", 1),
    }


def test_watermark_drops_late_data_across_restart(spark, stream_dirs, tmp_path):
    src, ckpt = stream_dirs
    out = str(tmp_path / "out")

    def run_to_parquet():
        agg = hourly_agg(streaming_events(spark, src))
        run_stream(agg, ("parquet", out), checkpoint=ckpt)
        return spark.read.parquet(out)

    _write_batch(
        spark,
        [_event(0, 0.5), _event(1, 1.5), _event(2, 5.5)],
        src,
        "b0",
    )
    first = run_to_parquet()
    first_windows = {str(r.window_start) for r in first.collect()}
    assert "2024-01-01 00:00:00" in first_windows  # hour 0 finalized

    # restart with a LATE arrival for hour 0 (watermark is 4:30) plus a
    # fresh event at hour 7 that closes the hour-5 window
    _write_batch(
        spark,
        [_event(10, 0.6, value=99.0), _event(11, 7.5)],
        src,
        "b1",
    )
    second = run_to_parquet()
    emitted = {(str(r.window_start), r.n_events) for r in second.collect()}
    # the late hour-0 row must NOT resurface hour 0 (state was evicted,
    # row dropped); the previously-open hour-5 window is now final.
    # The file sink is append-only, so the hour-0 row from run 1 is
    # still present exactly once with its original count — the late row
    # must not have produced a second hour-0 output row.
    hour0 = [(w, n) for (w, n) in emitted if w.startswith("2024-01-01 00:")]
    assert hour0 == [("2024-01-01 00:00:00", 1)], emitted
    assert ("2024-01-01 05:00:00", 1) in emitted


def test_stateful_accumulates_across_microbatches(spark, stream_dirs):
    """applyInPandasWithState: per-user running totals must fold state
    across micro-batches (maxFilesPerTrigger=1 → 2 files = 2 batches),
    emitting an updated row per touched key per batch."""
    from crime_data_batch_processing_spark.streaming.stateful import (
        stateful_user_stats,
    )

    src, _ = stream_dirs
    # user 1: events in both batches; user 2: only in batch 0
    _write_batch(
        spark, [_event(0, 0.5, value=2.0), (1, BASE_NS, 2, "view", 5.0, "{}")],
        src, "b0",
    )
    _write_batch(spark, [_event(2, 1.5, value=3.0)], src, "b1")
    out = stateful_user_stats(streaming_events(spark, src))
    rows = spark.table(run_stream(out, "t_stateful", "update").name).collect()
    # update mode emits the running value per batch; the LAST emission
    # per user is the final state
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.sum_value)
    assert final[1] == (2, 5.0), final  # 2.0 + 3.0 across two batches
    assert final[2] == (1, 5.0), final
    # user 1 must have emitted an intermediate row too (state visible
    # mid-stream, not only at the end)
    u1_emissions = [r for r in rows if r.user_id == 1]
    assert len(u1_emissions) == 2, u1_emissions


def test_stream_batch_equivalence_complete_mode(spark, stream_dirs):
    src, ckpt = stream_dirs
    rows = [_event(i, 0.1 * i, "view", float(i)) for i in range(40)]
    _write_batch(spark, rows, src, "b0")
    agg = hourly_agg(streaming_events(spark, src))
    q = run_stream(agg, "t_complete", "complete", checkpoint=ckpt)
    stream_total = sum(r.n_events for r in spark.table(q.name).collect())
    assert stream_total == 40


def _run_join_to_parquet(spark, src: str, out: str, ckpt: str):
    """Drive the stream-stream join topology to a parquet sink against
    a checkpoint (AvailableNow), returning the cumulative sink rows."""
    from crime_data_batch_processing_spark.streaming.stream_events import (
        click_purchase_join,
    )

    run_stream(click_purchase_join(spark, src), ("parquet", out), checkpoint=ckpt)
    return spark.read.parquet(out)


def test_stream_stream_join_drops_late_rows_across_restart(
    spark, stream_dirs, tmp_path
):
    """Restart path of the stream-stream interval join: a purchase
    arriving BEHIND the checkpointed watermark must not produce a
    joined row (its matching click's state was evicted), while an
    in-time pair arriving in the same restart batch must."""
    src, ckpt = stream_dirs
    out = str(tmp_path / "join_out")
    # run 1: click(0)@0.0 + purchase(1)@0.5 match; the hour-10 pair
    # advances BOTH side watermarks to ~9h, which evicts the hour-0
    # click state (it can't match any purchase after 1.0h anyway)
    _write_batch(
        spark,
        [
            _event(0, 0.0, "click"),
            _event(1, 0.5, "purchase"),
            _event(2, 10.0, "click"),
            _event(3, 10.2, "purchase"),
        ],
        src,
        "b0",
    )
    first = _run_join_to_parquet(spark, src, out, ckpt)
    pairs = {(r.click_id, r.purchase_id) for r in first.collect()}
    assert pairs == {(0, 1), (2, 3)}, pairs

    # run 2 (restart from checkpoint): late rows on BOTH sides behind
    # the recovered watermark — purchase(4)@0.4 (click 0 would have
    # matched it) AND click(7)@0.3 (purchase 4 would have matched it,
    # so if either side's late row slipped past the recovered watermark
    # the pair (7, 4) would appear). Both must be dropped on input.
    # The fresh pair (5, 6) at hour ~10.5 joins normally (purchase 6
    # @10.6 also matches the still-live click 2 @10.0 — within its 1h
    # window — proving run-1 state survived the restart).
    _write_batch(
        spark,
        [
            _event(4, 0.4, "purchase"),
            _event(7, 0.3, "click"),
            _event(5, 10.5, "click"),
            _event(6, 10.6, "purchase"),
        ],
        src,
        "b1",
    )
    second = _run_join_to_parquet(spark, src, out, ckpt)
    pairs2 = {(r.click_id, r.purchase_id) for r in second.collect()}
    assert (0, 4) not in pairs2, pairs2  # late purchase produced no join
    assert (7, 4) not in pairs2, pairs2  # late click joined nothing either
    assert pairs2 == {(0, 1), (2, 3), (2, 6), (5, 6)}, pairs2


def test_cdc_merge_folds_batches_into_latest_per_key(spark, stream_dirs, tmp_path):
    """foreachBatch CDC merge across TWO micro-batches: a later change
    record must overwrite the key's row in the target table, untouched
    keys must survive, and replaying a batch must not duplicate rows
    (idempotent fold)."""
    from crime_data_batch_processing_spark.streaming.stream_events import (
        cdc_merge_batch,
    )

    src, ckpt = stream_dirs
    target = str(tmp_path / "cdc_target")
    # batch 0: user 1 clicks at hour 0.5, user 2 views at hour 1.0
    _write_batch(
        spark,
        [(0, BASE_NS + HOUR_NS // 2, 1, "click", 1.0, "{}"),
         (1, BASE_NS + HOUR_NS, 2, "view", 2.0, "{}")],
        src, "b0",
    )
    # batch 1: user 1 purchases later — must replace the click row
    _write_batch(
        spark,
        [(2, BASE_NS + 2 * HOUR_NS, 1, "purchase", 9.0, "{}")],
        src, "b1",
    )
    # maxFilesPerTrigger=1 → 2 batches
    run_stream(streaming_events(spark, src), cdc_merge_batch(target), checkpoint=ckpt)
    rows = {r.user_id: (r.event_id, r.event_type, r.value)
            for r in spark.read.parquet(target).collect()}
    assert rows == {1: (2, "purchase", 9.0), 2: (1, "view", 2.0)}, rows
    assert spark.read.parquet(target).count() == 2  # one row per key


def test_anomaly_state_carries_across_microbatches(spark, stream_dirs):
    """stream_anomaly: the trailing frame must survive micro-batch
    boundaries — a 19-event history in batch 0 makes a spike in batch
    1 a full-frame (n=20) anomaly; losing state would score it as a
    trivial n=1 frame and miss it."""
    from crime_data_batch_processing_spark.streaming.stateful import (
        stateful_anomaly,
    )

    src, _ = stream_dirs
    _write_batch(
        spark,
        [(i, BASE_NS + i * 10**9, 1, "view", 10.0, "{}") for i in range(19)],
        src,
        "b0",
    )
    _write_batch(
        spark, [(99, BASE_NS + 99 * 10**9, 1, "view", 1000.0, "{}")], src, "b1"
    )
    q = run_stream(stateful_anomaly(streaming_events(spark, src)), "t_stream_anomaly")
    rows = {r.event_id: r for r in spark.table(q.name).collect()}
    assert len(rows) == 20
    spike = rows[99]
    assert spike.n_frame == 20, "state was not carried across batches"
    assert spike.is_anomaly, "full-frame spike must flag"
    assert not any(r.is_anomaly for i, r in rows.items() if i != 99)


def test_left_outer_join_null_emission_across_restart(
    spark, stream_dirs, tmp_path
):
    """Outer stream-stream join: a NULL row for an unmatched click may
    appear only once the GLOBAL watermark (min across both sides)
    passes the end of its match window — including across a restart,
    where the watermark must recover from the checkpoint. A click
    whose window is still open at shutdown must NOT have produced a
    premature null row."""
    from crime_data_batch_processing_spark.streaming.stream_events import (
        click_purchase_join,
    )

    src, ckpt = stream_dirs
    out = str(tmp_path / "out")

    def run() -> dict:
        joined = click_purchase_join(spark, src, how="leftOuter")
        run_stream(joined, ("parquet", out), checkpoint=ckpt)
        return {
            r.click_id: r.purchase_id
            for r in spark.read.parquet(out).collect()
        }

    # run 1: c0 matched by p1; c2 unmatched (window ends 2.0);
    # c3/p4 at hour 9 advance BOTH side watermarks to 8.0
    _write_batch(
        spark,
        [
            (0, BASE_NS + int(0.5 * HOUR_NS), 1, "click", 1.0, "{}"),
            (1, BASE_NS + int(0.7 * HOUR_NS), 1, "purchase", 1.0, "{}"),
            (2, BASE_NS + int(1.0 * HOUR_NS), 2, "click", 1.0, "{}"),
            (3, BASE_NS + int(9.0 * HOUR_NS), 1, "click", 1.0, "{}"),
            (4, BASE_NS + int(9.0 * HOUR_NS), 3, "purchase", 1.0, "{}"),
        ],
        src,
        "b0",
    )
    first = run()
    assert first.get(0) == 1, first          # eager match
    assert first.get(2) is None and 2 in first, first  # closed → null
    assert 3 not in first, first             # window open → buffered

    # run 2 (restart): a click at hour 12 advances the click-side
    # watermark; min(click_wm, purchase_wm) = min(11, 8) stays 8 until
    # the purchase side also advances — so ship one of each. c3's
    # window (ends 10.0) is now provably unmatchable → null row.
    _write_batch(
        spark,
        [
            (5, BASE_NS + int(12.0 * HOUR_NS), 9, "click", 1.0, "{}"),
            (6, BASE_NS + int(12.0 * HOUR_NS), 8, "purchase", 1.0, "{}"),
        ],
        src,
        "b1",
    )
    second = run()
    assert second.get(3) is None and 3 in second, second
    assert second.get(0) == 1 and 2 in second, second  # append-only history
    assert 5 not in second, second           # tail click stays buffered


def test_stream_sink_pysource_four_batches_and_zombie_invisible(
    spark, sf_dir
):
    """End-to-end over the Python streaming sink: the rate-limited
    source must have driven MULTIPLE per-batch commits (one log per
    micro-batch), the rerun build must have added none beyond the
    first run's, and the planted zombie file must be invisible to
    manifest-resolved readers while present on disk."""
    from crime_data_batch_processing_spark import registry
    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.sources.pydatasource import (
        stream_manifest_files,
    )
    from crime_data_batch_processing_spark.sources.tables import load_table

    df = registry.QUERIES["stream_sink_pysource"](spark, sf_dir)
    out = scratch_dir("streampysink", sf_dir, "events") + "/out"

    logs = sorted(glob.glob(f"{out}/_batch_*.json"))
    n_src_files = len(
        glob.glob(
            scratch_dir("streampysink", sf_dir, "events") + "/src/*.parquet"
        )
    )
    assert len(logs) == n_src_files >= 2, (
        "maxFilesPerTrigger=1 must produce one commit log per source "
        f"file; got {len(logs)} logs for {n_src_files} files"
    )

    committed = stream_manifest_files(out)
    assert f"{out}/data-zombie.parquet" not in committed
    assert os.path.exists(f"{out}/data-zombie.parquet")
    # no lost/duplicated rows across batches and across the rerun
    total = df.agg({"n_events": "sum"}).first()[0]
    assert total == load_table(spark, sf_dir, "events").count()


def test_partitioned_stream_source_reads_in_parallel_tasks(
    spark, sf_dir, tmp_path
):
    """The partition-based DataSourceStreamReader must (a) split each
    micro-batch into multiple InputPartitions at planning time and
    (b) actually materialize rows from multiple Spark tasks per batch
    — i.e., reads run on executors, not the driver (the scale
    property `stream_pysource`'s simple reader deliberately lacks)."""
    from pyspark.sql import functions as F

    from crime_data_batch_processing_spark.sources.pydatasource import (
        PartitionedEventsStreamSource,
        PartitionedParquetStreamReader,
        RowRangePartition,
    )

    path = os.path.join(sf_dir, "events.parquet")

    # (a) planning contract, driver-side: one trigger's offset range
    # splits into TASKS row-range partitions covering it exactly
    rdr = PartitionedParquetStreamReader(path, str(tmp_path / "cur0"))
    end = rdr.latestOffset()
    parts = rdr.partitions({"row": 0}, end)
    assert len(parts) == rdr.TASKS > 1
    assert parts[0].lo == 0 and parts[-1].hi == end["row"]
    for a, b in zip(parts, parts[1:]):
        assert a.hi == b.lo, "ranges must tile without gap/overlap"
    assert isinstance(parts[0], RowRangePartition)
    # empty/inverted ranges plan zero tasks
    assert rdr.partitions(end, end) == []
    assert rdr.partitions(end, {"row": 0}) == []

    # (b) execution: stamp each ingested row with its task's partition
    # id; every micro-batch must have rows from >1 distinct task
    spark.dataSource.register(PartitionedEventsStreamSource)
    src = (
        spark.readStream.format("chunked_events_partitioned")
        .option("path", path)
        .option("cursor_dir", str(tmp_path / "cur1"))
        .load()
        .select(F.spark_partition_id().alias("pid"), "event_id")
    )
    batches: dict[int, set[int]] = {}

    def sink(batch_df, batch_id: int) -> None:
        pids = {r.pid for r in batch_df.select("pid").distinct().collect()}
        if pids:
            batches[batch_id] = pids

    run_stream(src, sink, checkpoint=str(tmp_path / "ckpt"), drain=True)

    assert len(batches) >= PartitionedParquetStreamReader.CHUNKS
    for batch_id, pids in batches.items():
        assert len(pids) > 1, (
            f"micro-batch {batch_id} read from a single task: {pids} — "
            "reads are not executor-distributed"
        )


def test_stream_decontaminate_is_stateless_map_only(spark):
    """The ingest gate must hold ZERO streaming state: the verdict is
    a broadcast-frozenset set-intersection inside one Arrow
    mapInPandas stage (the eval gram set built once per worker, each
    document judged within its own micro-batch) — no dropDuplicates,
    no aggregation, no watermark. A state store appearing here means
    the topology regressed to the explode-join-reaggregate shape
    whose state grows with the contaminated-doc count."""
    from crime_data_batch_processing_spark.streaming.stream_events import (
        _decon_gate,
        stream_decontaminate,
    )

    sf_dir = "/root/testdata/sf0.001"
    # run the registered key once so its flagged-stream plan is the
    # one probed below (same builder path, fresh memory sink)
    rows = stream_decontaminate(spark, sf_dir).collect()
    assert len(rows) > 0  # vacuous-gate guard (2 docs at sf0.001)
    assert all(r.n_matched_grams >= 1 for r in rows)
    # re-run THE SAME builder to capture the query handle
    q = run_stream(_decon_gate(spark, sf_dir), "cdbp_stream_decon_probe")
    progress = q.lastProgress
    assert progress is not None
    assert progress["stateOperators"] == [], progress["stateOperators"]


def test_bounded_runs_remove_their_scratch_checkpoints(spark, sf_dir):
    """`run_stream` owns the tmpfs checkpoint it creates: a memory-sink
    key and a foreachBatch key leave no new cdbp_stream_ckpt_* dir."""
    from crime_data_batch_processing_spark import registry

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

    def scratch() -> set[str]:
        return set(glob.glob(os.path.join(base, "cdbp_stream_ckpt_*")))

    before = scratch()
    for key in ("stream_events", "stream_cdc_upsert"):
        assert registry.QUERIES[key](spark, sf_dir).count() > 0
    assert scratch() - before == set()


def test_cdc_upsert_result_survives_a_second_call(spark, sf_dir):
    """Each `stream_cdc_upsert` call merges into its own target: a
    second call must not delete the files behind the frame the first
    call returned, so that frame still equals the oracle."""
    from crime_data_batch_processing_spark import registry
    from tests.oracle_harness import compare, duck_connection

    run = registry.QUERIES["stream_cdc_upsert"]
    first = run(spark, sf_dir)
    second = run(spark, sf_dir)
    assert second.count() > 0
    con = duck_connection(sf_dir)
    try:
        compare(first, con, registry.ORACLES["stream_cdc_upsert"])
    finally:
        con.close()
