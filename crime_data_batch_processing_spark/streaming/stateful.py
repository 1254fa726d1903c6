"""Custom stateful streaming: per-key running aggregates via
`applyInPandasWithState` (the P37 extension for logic outside the
built-in windowed-aggregation algebra).

Built-in streaming aggregates cover windowed counts/sums; anything
with bespoke state transitions (per-entity accumulators, custom
eviction, model-ish running statistics) needs the arbitrary-stateful
operator. This module implements the canonical shape: per-user running
event count + exact value sum, state carried across micro-batches,
arbitrary Python logic per group per batch.

Scale notes: state lives in the state store, partitioned by key —
bounded by distinct users, not events. The Arrow path batches whole
key-groups per micro-batch into pandas. A timeout
(`GroupStateTimeout.NoTimeout` here; processing/event-time timeouts in
production) is how state gets evicted for dead keys — without eviction
a 100 TB stream's key space grows without bound.

Exactness: `value` is quantized to int64 (×10^6, same scheme as
functions/veckit) in a JVM-side projection BEFORE entering Python, so
the running sum is integer arithmetic — order-independent across
micro-batch boundaries and bit-identical to the oracle's DECIMAL sum.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from crime_data_batch_processing_spark.functions.exact import sql_dsum
from crime_data_batch_processing_spark.operators.windows import (
    ANOMALY_FRAME,
    ANOMALY_SIGMA,
    SQL_ANOMALY,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.streaming.stream_events import (
    _stream_src,
    run_stream,
    streaming_events,
)

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, s long"
_SCALE = 10**6


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Attach the quantized value column and run the stateful op.

    The state function is NESTED so cloudpickle ships it by value —
    module-level functions pickle by reference and require this
    package on worker PYTHONPATH, which the driver contract does not
    guarantee.
    """

    def _user_stats(key, pdfs, state):
        # fold this micro-batch's rows for one user into running
        # state, emit the updated totals
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf["vq"].sum())  # int64 column — exact
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s / float(_SCALE)],
            }
        )

    quantized = events.select(
        "user_id",
        (F.col("value").cast("double").cast("decimal(18,6)") * _SCALE)
        .cast("long")
        .alias("vq"),
    )
    return quantized.groupBy("user_id").applyInPandasWithState(
        _user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming aggregate, checked against the
    batch oracle.

    The whole file arrives as ONE micro-batch (no maxFilesPerTrigger
    throttle), so each user emits exactly one final-state row and the
    result must equal the batch GROUP BY bit-for-bit (integer-sum
    exactness). Multi-batch incremental state transitions are
    exercised in tests/test_streaming.py.
    """
    out = stateful_user_stats(
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
    )
    return spark.table(run_stream(out, "cdbp_stream_stateful", "update").name)


#: Streamed twin of operators/windows.window_anomaly: same trailing
#: frame, same integer algebra, same oracle.
ANOMALY_OUTPUT = "event_id long, user_id long, n_frame long, is_anomaly boolean"
ANOMALY_STATE = "us array<long>, eid array<long>, vq array<long>"
#: value is quantized at scale 2 (cents) — the inequality
#: (n·x−S)² > k²(n·S2−S²) is homogeneous of degree 2 in the value
#: unit, so the integer-cents verdict is IDENTICAL to the batch
#: operator's DECIMAL(10,2) verdict.
_CENTS = 100


def stateful_anomaly(events: DataFrame) -> DataFrame:
    """Per-event trailing 3-sigma flag with explicit keyed state.

    State per user: the last ANOMALY_FRAME (ts, event_id, value-cents)
    triples — O(1) per key, evicted FIFO. Each micro-batch's rows are
    sorted by (ts, event_id) before folding, so with in-order arrival
    per key (guaranteed here by the single AvailableNow batch; in
    production by event-time ordered sources or a reorder buffer) the
    emitted flags equal the batch window operator's bit-for-bit —
    Python integers are exact, so there is no accumulation drift
    across micro-batch boundaries.
    """
    k2 = ANOMALY_SIGMA * ANOMALY_SIGMA

    def _flag(key, pdfs, state):
        us, eid, vq = state.get if state.exists else ([], [], [])
        buf = list(zip(us, eid, vq))
        out_eid, out_n, out_flag = [], [], []
        rows = pd.concat(list(pdfs)) if pdfs else None
        if rows is not None and len(rows):
            for r_us, r_eid, r_vq in sorted(
                zip(rows["us"], rows["eid"], rows["vqc"])
            ):
                x = int(r_vq)
                frame = [v for _, _, v in buf[-ANOMALY_FRAME:]] + [x]
                n, s = len(frame), sum(frame)
                s2 = sum(v * v for v in frame)
                d = n * x - s
                out_eid.append(int(r_eid))
                out_n.append(n)
                out_flag.append(d * d > k2 * (n * s2 - s * s))
                buf.append((int(r_us), int(r_eid), x))
        buf = buf[-ANOMALY_FRAME:]
        state.update(
            ([b[0] for b in buf], [b[1] for b in buf], [b[2] for b in buf])
        )
        yield pd.DataFrame(
            {
                "event_id": out_eid,
                "user_id": [key[0]] * len(out_eid),
                "n_frame": out_n,
                "is_anomaly": out_flag,
            }
        )

    quantized = events.select(
        F.col("user_id"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        (F.col("value").cast("double").cast("decimal(10,2)") * _CENTS)
        .cast("long")
        .alias("vqc"),
    )
    return quantized.groupBy("user_id").applyInPandasWithState(
        _flag,
        outputStructType=ANOMALY_OUTPUT,
        stateStructType=ANOMALY_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query("stream_anomaly", oracle=SQL_ANOMALY)
def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event anomaly flags from keyed state, checked
    bit-for-bit against the batch window operator's oracle
    (`SQL_ANOMALY`).

    The monitoring topology `window_anomaly` only batch-simulates:
    state is the per-entity trailing frame, each event is flagged AS
    IT ARRIVES, and because both sides reduce to the same integer
    inequality, streamed and batch verdicts are interchangeable — the
    property that lets one codebase serve the lambda architecture's
    both halves.
    """
    out = stateful_anomaly(
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
    )
    return spark.table(run_stream(out, "cdbp_stream_anomaly").name)
