"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.2 streaming row; the brief's "custom stateful operators" path).

Operator: per-user running totals — state carries (event count, value cents)
across micro-batches and emits the updated totals each batch. Value cents are
exact integers so the bounded-stream result hash-matches a batch SQL oracle.

Scale: state lives in the state store keyed by user_id (one shuffle to
co-locate keys); memory is O(distinct users), independent of stream length.
A timeout (processing-time) would evict idle users — omitted here since the
bounded replay never idles.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.session import conf_overrides
from oe_batch_processing_spark.streaming.event_windows import (
    events_stream,
    run_available_now,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_cents", LongType(), False),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), False),
        StructField("cents", LongType(), False),
    ]
)


def _update_user_totals(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["y_cents"].astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Streaming transformation: per-user running (count, cents) state."""
    prepped = events.select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("y_cents")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-stream execution of the custom stateful operator; the final
    per-user state equals the batch aggregate (exact integer cents). The
    memory sink keeps one row per user per micro-batch update — the last
    update per user is the final state."""
    raw = run_available_now(
        stateful_user_totals(events_stream(spark, sf_dir)), "update"
    )
    # keep the final update per user (n_events strictly increases, so the
    # struct max picks the whole latest row — never mixes fields)
    latest = F.max(F.struct("n_events", "total_cents")).alias("s")
    return raw.groupBy("user_id").agg(latest).select(
        "user_id", "s.n_events", "s.total_cents"
    )


# --- stateful operator #2: streaming EWMA (order-dependent state) -----------

from pyspark.sql.types import ArrayType, DoubleType  # noqa: E402

EWMA_TERMS = 18  # mirror operators/timeseries.py: alpha=1/2, 18-term window
_EWMA_TOP = EWMA_TERMS - 1

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("value", DoubleType(), False),
        StructField("ewma", DoubleType(), False),
    ]
)
EWMA_STATE_SCHEMA = StructType(
    [StructField("tail", ArrayType(DoubleType()), False)]
)


def _ewma_row(window_vals: list) -> float:
    """Bit-exact twin of the batch fold (operators/timeseries.py): each term
    v * 2^(TOP - age) cast to DECIMAL(18,6) — Spark casts doubles via their
    shortest repr, which Decimal(repr(x)) reproduces — summed exactly, one
    final double division."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    num = Decimal(0)
    den = Decimal(0)
    n = len(window_vals)
    for i, v in enumerate(window_vals):  # oldest -> newest, n <= 18
        w = 2.0 ** (_EWMA_TOP - (n - 1 - i))  # exact power-of-two double
        num += Decimal(repr(v * w)).quantize(q, rounding=ROUND_HALF_UP)
        den += Decimal(repr(w)).quantize(q, rounding=ROUND_HALF_UP)
    return float(num) / float(den)


def _update_user_ewma(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    (tail,) = state.get if state.exists else ([],)
    tail = list(tail)
    out_ids, out_vals, out_ewma = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for event_id, v in zip(pdf["event_id"], pdf["value"]):
            tail.append(float(v))
            if len(tail) > EWMA_TERMS:
                tail.pop(0)
            out_ids.append(int(event_id))
            out_vals.append(float(v))
            out_ewma.append(_ewma_row(tail))
    state.update((tail,))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out_ids,
            "value": out_vals,
            "ewma": out_ewma,
        }
    )


def stateful_user_ewma(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA: state carries the trailing <=18 values.

    Order contract: EWMA is order-DEPENDENT (unlike the totals operator),
    so exactness requires events to arrive per-key in event-time order
    across micro-batches — the per-key-ordered-log replay guarantee (e.g.
    a keyed Kafka topic); within a batch the operator sorts. The bounded
    single-pass replay used here satisfies it, which is what lets the
    result hash-match the batch oracle.
    """
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_ewma_user",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    pairs AS (
      SELECT a.user_id, a.event_id, a.value,
             CAST(b.value * POW(2, 17 - (a.rn - b.rn))
                  AS DECIMAL(18,6)) AS term,
             CAST(POW(2, 17 - (a.rn - b.rn)) AS DECIMAL(18,6)) AS wt
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id
       AND b.rn BETWEEN a.rn - 17 AND a.rn
    )
    SELECT user_id, event_id, value,
           CAST(SUM(term) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) AS ewma
    FROM pairs
    GROUP BY user_id, event_id, value
    """,
)
def stream_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``events_ewma_user`` (operators/timeseries.py)
    run as a bounded stream — a second custom stateful operator proving the
    state-store path handles ORDER-DEPENDENT per-key state, not just
    commutative totals. Same oracle as the batch op: stream and batch must
    agree bit-for-bit on every row.
    """
    return run_available_now(
        stateful_user_ewma(events_stream(spark, sf_dir)), "append"
    )


# --- stateful operator #3: transformWithStateInPandas (Spark 4 API) ---------
# The successor API to applyInPandasWithState: a StatefulProcessor class with
# named state variables from a handle (ValueState here; List/Map state and
# timers hang off the same handle). Requires the RocksDB state store
# provider — set per-run below; HDFS-backed state does not support it.

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import StringType  # noqa: E402

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_cents", LongType(), False),
        StructField("min_cents", LongType(), False),
        StructField("max_cents", LongType(), False),
    ]
)
TWS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), False),
        StructField("cents", LongType(), False),
        StructField("mn", LongType(), False),
        StructField("mx", LongType(), False),
    ]
)


def make_type_stats_processor() -> StatefulProcessor:
    """Build the per-type (count, sum, min, max) StatefulProcessor as a
    LOCAL class so cloudpickle serializes it BY VALUE.

    Two worker fidelity constraints force this shape (the same class of bug
    the Python DataSource / UDTF operators hit — see sources/py_datasource):

    * transformWithState's schema pre-init runs in a DRIVER-SIDE Python
      worker (StreamingPythonRunner) that does NOT see addPyFile pyFiles —
      a by-reference class dies there with ModuleNotFoundError whenever the
      driver session wasn't launched from the repo root.
    * That worker's first proto call (set_handle_state(PRE_INIT)) happens
      BEFORE StatefulProcessor.init, so on protobuf-less containers the
      pbshim must be installed during UNPICKLING: ``__setstate__`` execs
      the pbshim source (carried as a closure string — self-contained,
      stdlib-only) and runs ``ensure_state_message_module()``.
    """
    import inspect

    from oe_batch_processing_spark.streaming import pbshim

    pbshim_src = inspect.getsource(pbshim)
    state_schema = TWS_STATE_SCHEMA

    class TypeStatsProcessor(StatefulProcessor):
        """Per-event-type running (count, sum, min, max) over exact integer
        cents. Emits the updated stats once per key per micro-batch."""

        def __init__(self) -> None:
            self._pbshim_src = pbshim_src

        def __setstate__(self, state):  # noqa: ANN001
            self.__dict__.update(state)
            ns: dict = {}
            exec(compile(self._pbshim_src, "<pbshim_embedded>", "exec"), ns)
            ns["ensure_state_message_module"]()

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.stats = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            import pandas as pd

            if self.stats.exists():
                n, cents, mn, mx = self.stats.get()
            else:
                n, cents, mn, mx = 0, 0, None, None
            for pdf in rows:
                c = pdf["y_cents"].astype("int64")
                n += len(c)
                cents += int(c.sum())
                b_mn, b_mx = int(c.min()), int(c.max())
                mn = b_mn if mn is None else min(mn, b_mn)
                mx = b_mx if mx is None else max(mx, b_mx)
            self.stats.update((n, cents, mn, mx))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "min_cents": [mn],
                    "max_cents": [mx],
                }
            )

        def close(self) -> None:
            pass

    return TypeStatsProcessor()


def tws_type_stats(events: DataFrame) -> DataFrame:
    """Streaming transformation on the transformWithState API."""
    prepped = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("y_cents"),
    )
    return prepped.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=make_type_stats_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TWS_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM events
    GROUP BY event_type
    """


TWS_STATE_PARTITIONS = 8  # > |event types| (~6, SF-independent), so no
# key ever shares a partition involuntarily; see the conf note below


def stream_tws_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-stream run of the Spark-4 ``transformWithStateInPandas``
    operator (the arbitrary-state API that supersedes
    applyInPandasWithState: named state variables, timers, TTL). Final
    per-type state must equal the batch aggregate exactly — same
    integer-cents discipline as ``stream_stateful_user_totals``, which
    keeps the whole pipeline hash-checkable.

    Scale: state is O(|event types|) rows in RocksDB; the single shuffle
    co-locates keys. The RocksDB provider is required by the API and is
    also the 100 TB choice (state spills off-heap, incremental
    checkpoints).
    """
    # State width tracks KEY CARDINALITY, not corpus size (r16): the state
    # is O(|event types|) — a fixed ~6-value domain at every SF, 100 TB
    # included — so running the micro-batch at the corpus-scaled shuffle
    # width instantiates one RocksDB store + one Python state-server
    # session per partition with almost all of them empty. Bounding the
    # stateful exchange at TWS_STATE_PARTITIONS (> |types|, so no key
    # coalescing is forced) measured 3.9 -> 2.6 s at sf0.1 on local[32];
    # the aggregation result is partitioning-independent. Both confs
    # cover the bounded run only — batch queries keep the session's.
    with conf_overrides(spark, {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.shuffle.partitions": str(TWS_STATE_PARTITIONS),
    }):
        raw = run_available_now(
            tws_type_stats(events_stream(spark, sf_dir)), "update"
        )
    latest = F.max(
        F.struct("n_events", "total_cents", "min_cents", "max_cents")
    ).alias("s")
    return raw.groupBy("event_type").agg(latest).select(
        "event_type", "s.n_events", "s.total_cents", "s.min_cents", "s.max_cents"
    )


# Round 9: no environment gate anymore. The transformWithState Python state
# client speaks protobuf to the JVM state server through the generated
# StateMessage_pb2 module; where google.protobuf is missing (this
# container), pbshim installs a hand-rolled wire-format-compatible module
# under the same name (varint walk + dynamic classes built from the
# serialized descriptor Spark ships — see pbshim.py). The install happens
# at import time of THIS module, which the worker triggers when it
# unpickles TypeStatsProcessor — before the first lazy pb2 import.
from oe_batch_processing_spark.streaming.pbshim import (  # noqa: E402
    ensure_state_message_module,
)

ensure_state_message_module()
query("stream_tws_type_stats", oracle=TWS_ORACLE)(stream_tws_type_stats)


# --- stateful operator #4: streaming CUSUM changepoint carry -----------------

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("cusum", DoubleType(), False),
    ]
)
# State carries (prefix_sum, min_prefix) as 1e6-scaled exact integers —
# the decimal(18,6) values of the batch op, losslessly.
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("p_scaled", LongType(), False),
        StructField("mn_scaled", LongType(), False),
    ]
)

_CUSUM_TARGET_F = 52.0
_CUSUM_H_F = 120.0


def _update_user_cusum(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    q = Decimal("0.000001")
    p_scaled, mn_scaled = state.get if state.exists else (0, 0)
    p = Decimal(p_scaled) / 1_000_000
    mn = Decimal(mn_scaled) / 1_000_000  # min(0, min prefix) so far
    out_ids, out_cusum = [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for event_id, v in zip(pdf["event_id"], pdf["value"]):
            # identical to the batch CAST(value - 52.0 AS DECIMAL(18,6)):
            # Spark casts the double via its shortest repr, half-up.
            y = Decimal(repr(float(v) - _CUSUM_TARGET_F)).quantize(
                q, rounding=ROUND_HALF_UP
            )
            p += y
            if p < mn:
                mn = p
            s = float(p - mn)  # exact decimal -> correctly-rounded double
            if s > _CUSUM_H_F:
                out_ids.append(int(event_id))
                out_cusum.append(s)
    state.update((int(p * 1_000_000), int(mn * 1_000_000)))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out_ids,
            "cusum": out_cusum,
        }
    )


def stateful_user_cusum(events: DataFrame) -> DataFrame:
    """Streaming one-sided CUSUM: state carries the exact
    (prefix_sum, running_min_prefix) pair per user, so the alarm rows
    are bit-identical to the batch window identity
    S_i = P_i - min(0, min prefix). Same order contract as the EWMA
    operator: per-key event-time order across batches (keyed-log
    replay); within a batch the operator sorts.

    Scale: O(1) state per key (two longs), one co-location shuffle —
    the cheapest possible stateful detector; a watermark + timeout
    would evict quiet keys on an unbounded stream.
    """
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_cusum,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_changepoint_cusum",
    oracle="""
    WITH e AS (SELECT user_id, ts, event_id,
                      CAST(value - 52.0 AS DECIMAL(18,6)) AS y
               FROM events),
    p AS (SELECT user_id, ts, event_id, y,
            SUM(y) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS prefix
          FROM e),
    m AS (SELECT user_id, event_id, prefix,
            MIN(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS mn
          FROM p),
    s AS (SELECT user_id, event_id,
            CAST(CASE WHEN mn < 0 THEN prefix - mn ELSE prefix END
                 AS DOUBLE) AS cusum
          FROM m)
    SELECT user_id, event_id, cusum FROM s WHERE cusum > 120.0
    """,
)
def stream_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_changepoint_cusum`` (the docstring
    there promises this operator): the same detector as an
    applyInPandasWithState carry, sharing the batch op's oracle — the
    strongest stream/batch-consistency statement available (identical
    alarm rows, hash-compared, not just identical counts)."""
    return run_available_now(
        stateful_user_cusum(events_stream(spark, sf_dir)), "append"
    )


# --- streaming token-bucket admission (twin of the batch replay) -----------

TB_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("admitted", BooleanType(), False),
        StructField("tokens_after_u", LongType(), False),
    ]
)
TB_STATE_SCHEMA = StructType(
    [
        StructField("tok_u", LongType(), False),
        StructField("prev_us", LongType(), False),
    ]
)


def _update_user_token_bucket(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    from oe_batch_processing_spark.operators.relational8 import (
        _TB_CAP_U,
        _TB_US_PER_UTOK,
    )

    tok_u, prev_us = state.get if state.exists else (_TB_CAP_U, -1)
    out_ids, out_adm, out_tok = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for event_id, t in zip(pdf["event_id"], pdf["ts_us"]):
            t = int(t)
            avail = (
                _TB_CAP_U
                if prev_us < 0
                else min(_TB_CAP_U, tok_u + (t - prev_us) // _TB_US_PER_UTOK)
            )
            admitted = avail >= 1_000_000
            tok_u = avail - 1_000_000 if admitted else avail
            prev_us = t
            out_ids.append(int(event_id))
            out_adm.append(admitted)
            out_tok.append(tok_u)
    state.update((int(tok_u), int(prev_us)))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out_ids,
            "admitted": out_adm,
            "tokens_after_u": out_tok,
        }
    )


def stateful_user_token_bucket(events: DataFrame) -> DataFrame:
    """Streaming token-bucket rate limiter: state carries (tokens, last
    event time) per user in micro-token integer units — the ONLINE form of
    the reference's throttled-executor semantics, admitting/rejecting each
    event as it arrives. Integer recurrence, so the bounded-stream replay
    is bit-identical to the batch fold.

    Scale: O(1) state per key (two longs); same keyed-log order contract
    as the EWMA/CUSUM operators; watermark+timeout would evict idle keys
    on an unbounded stream.
    """
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_token_bucket,
        outputStructType=TB_OUTPUT_SCHEMA,
        stateStructType=TB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _tb_oracle() -> str:
    from oe_batch_processing_spark.operators.relational8 import (
        _TOKEN_BUCKET_ORACLE,
    )

    return _TOKEN_BUCKET_ORACLE


@query("stream_token_bucket_admission", oracle=_tb_oracle())
def stream_token_bucket_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_token_bucket_admission``: identical
    micro-token integer recurrence carried in the state store, sharing the
    batch op's recursive-CTE oracle — per-event admission decisions
    hash-compared, not just counts."""
    return run_available_now(
        stateful_user_token_bucket(events_stream(spark, sf_dir)), "append"
    )


# --- streaming capped sessionizer (twin of the batch JVM fold) -------------

SESS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("sess_idx", IntegerType(), False),
        StructField("sess_start_us", LongType(), False),
    ]
)
SESS_STATE_SCHEMA = StructType(
    [
        StructField("anchor_us", LongType(), False),
        StructField("prev_us", LongType(), False),
        StructField("idx", LongType(), False),
    ]
)


def _update_user_capped_session(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    from oe_batch_processing_spark.operators.relational8 import (
        _SESS_GAP_US,
        _SESS_MAX_US,
    )

    anchor, prev, idx = state.get if state.exists else (-1, -1, 0)
    out_ids, out_sess, out_anchor = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for event_id, t in zip(pdf["event_id"], pdf["ts_us"]):
            t = int(t)
            if idx == 0 or t - prev > _SESS_GAP_US or t - anchor > _SESS_MAX_US:
                idx += 1
                anchor = t
            prev = t
            out_ids.append(int(event_id))
            out_sess.append(int(idx))
            out_anchor.append(anchor)
    state.update((int(anchor), int(prev), int(idx)))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out_ids,
            "sess_idx": out_sess,
            "sess_start_us": out_anchor,
        }
    )


def stateful_user_capped_session(events: DataFrame) -> DataFrame:
    """Streaming gap+max-duration sessionizer: state carries (anchor,
    prev, session index) per user — the cap rule the engine-native
    ``session_window`` cannot express (it merges on gap only). Integer
    microsecond recurrence identical to the batch JVM fold."""
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_capped_session,
        outputStructType=SESS_OUTPUT_SCHEMA,
        stateStructType=SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _capped_sess_oracle() -> str:
    from oe_batch_processing_spark.operators import relational8

    # the batch twin's registered oracle IS the shared contract
    from oe_batch_processing_spark.registry import ORACLE

    assert relational8  # imported for registration side effect
    return ORACLE["events_sessionize_capped"]


@query("stream_sessionize_capped", oracle=_capped_sess_oracle())
def stream_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_sessionize_capped``: the same capped
    recurrence carried in the state store across micro-batches, sharing
    the batch op's recursive-CTE oracle — per-event session assignments
    hash-compared, not just session counts."""
    return run_available_now(
        stateful_user_capped_session(events_stream(spark, sf_dir)), "append"
    )


# --- streaming burst detector (twin of the batch Viterbi fold) -------------

BURST_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("c0", LongType(), False),
        StructField("c1", LongType(), False),
        StructField("burst_state", IntegerType(), False),
    ]
)
BURST_STATE_SCHEMA = StructType(
    [
        StructField("c0", LongType(), False),
        StructField("c1", LongType(), False),
        StructField("prev_us", LongType(), False),
        StructField("idx", LongType(), False),
    ]
)


def _update_user_burst(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    from oe_batch_processing_spark.operators.relational8 import (
        _BURST_EMIT,
        _BURST_G_US,
        _BURST_TRANS,
    )

    c0, c1, prev, idx = state.get if state.exists else (0, 0, -1, 0)
    out = {"event_id": [], "c0": [], "c1": [], "burst_state": []}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for event_id, t in zip(pdf["event_id"], pdf["ts_us"]):
            t = int(t)
            if idx == 0:
                prev = t  # first event only anchors the gap sequence
                idx = 1
                continue
            fast = t - prev < _BURST_G_US
            if idx == 1:
                n0 = _BURST_EMIT if fast else 0
                n1 = _BURST_TRANS + (0 if fast else _BURST_EMIT)
            else:
                n0 = min(c0, c1 + _BURST_TRANS) + (_BURST_EMIT if fast else 0)
                n1 = min(c1, c0 + _BURST_TRANS) + (0 if fast else _BURST_EMIT)
            c0, c1, prev, idx = n0, n1, t, idx + 1
            out["event_id"].append(int(event_id))
            out["c0"].append(c0)
            out["c1"].append(c1)
            out["burst_state"].append(1 if c1 < c0 else 0)
    state.update((int(c0), int(c1), int(prev), int(idx)))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out["event_id"],
            "c0": out["c0"],
            "c1": out["c1"],
            "burst_state": out["burst_state"],
        }
    )


def stateful_user_burst(events: DataFrame) -> DataFrame:
    """Streaming 2-state burst detector: the integer Viterbi forward pass
    carried in the state store as (c0, c1, prev_t, idx) per user — the
    ONLINE form of the batch fold, flagging burst onset as events arrive."""
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_user_burst,
        outputStructType=BURST_OUTPUT_SCHEMA,
        stateStructType=BURST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _burst_oracle() -> str:
    from oe_batch_processing_spark.operators.relational8 import _BURST_ORACLE

    return _BURST_ORACLE


@query("stream_burst_detection", oracle=_burst_oracle())
def stream_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_burst_detection`` — same integer Viterbi
    recurrence in the state store, sharing the batch op's recursive-CTE
    oracle: per-event (c0, c1, state) hash-compared across the engines."""
    return run_available_now(
        stateful_user_burst(events_stream(spark, sf_dir)), "append"
    )


# --- stateful operator #9: streaming Croston (intermittent demand) ----------

CROSTON_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("rn", IntegerType(), False),
        StructField("wk", LongType(), False),
        StructField("x", DoubleType(), False),
        StructField("q", DoubleType(), False),
        StructField("z", DoubleType(), False),
        StructField("p", DoubleType(), False),
        StructField("forecast", DoubleType(), False),
        StructField("forecast_sba", DoubleType(), False),
    ]
)
# state: the per-series demand histogram (weeks + counts, parallel arrays)
CROSTON_STATE_SCHEMA = StructType(
    [
        StructField("wks", ArrayType(LongType()), False),
        StructField("counts", ArrayType(LongType()), False),
    ]
)


def _update_croston(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    if state.exists:
        wks, counts = state.get
        acc = dict(zip(list(wks), list(counts)))
    else:
        acc = {}
    for pdf in pdfs:
        for wk in pdf["wk"]:
            acc[int(wk)] = acc.get(int(wk), 0) + 1
    items = sorted(acc.items())
    n = len(items)
    q = [1.0] * n
    for i in range(1, n):
        q[i] = float(items[i][0] - items[i - 1][0])
    z = [0.0] * n
    p = [0.0] * n
    if n:
        z[0] = float(items[0][1])
        p[0] = 1.0
    for i in range(1, n):
        z[i] = 0.5 * float(items[i][1]) + 0.5 * z[i - 1]
        p[i] = 0.5 * q[i] + 0.5 * p[i - 1]
    fc = [zi / pi for zi, pi in zip(z, p)]
    state.update((
        [wk for wk, _ in items], [c for _, c in items],
    ))
    yield pd.DataFrame(
        {
            "series": key[0],
            "rn": range(1, n + 1),
            "wk": [wk for wk, _ in items],
            "x": [float(c) for _, c in items],
            "q": q,
            "z": z,
            "p": p,
            "forecast": fc,
            "forecast_sba": [0.75 * f for f in fc],
        }
    )


def orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the orders parquet (same pattern as events_stream)."""
    from oe_batch_processing_spark.tables import table_path

    raw_schema = spark.read.parquet(table_path(sf_dir, "orders")).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


def stateful_croston(orders: DataFrame) -> DataFrame:
    """Streaming Croston/SBA: state carries the per-series demand
    histogram (weeks + counts) — bounded by the number of DEMAND weeks,
    the same asymmetry the batch operator exploits (zero weeks never
    materialize). Each trigger re-emits the refreshed fitted path for
    the series it saw, which is the natural streaming contract for a
    recurrence whose early terms are immutable but whose current-week
    count is still accumulating; under the bounded single-pass replay
    the final emission equals the batch fit exactly (same float ops in
    the same order), which is what the shared oracle hash-checks."""
    demand = (
        orders.filter(F.col("o_totalprice") > 300000.0)
        .select(
            F.col("o_orderpriority").alias("series"),
            F.floor(F.unix_date(F.col("o_orderdate").cast("date")) / 7)
            .cast("bigint")
            .alias("wk"),
        )
    )
    return demand.groupBy("series").applyInPandasWithState(
        _update_croston,
        outputStructType=CROSTON_OUTPUT_SCHEMA,
        stateStructType=CROSTON_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _croston_oracle() -> str:
    from oe_batch_processing_spark.operators.timeseries import _CROSTON_ORACLE

    return _CROSTON_ORACLE


@query("stream_forecast_croston", oracle=_croston_oracle())
def stream_forecast_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``orders_forecast_croston`` — the ninth
    batch/stream pair sharing one oracle: the same coupled size/interval
    recurrences run inside applyInPandasWithState with the demand
    histogram as per-series state, over a bounded stream of the orders
    table, and must reproduce the batch fit bit-for-bit."""
    return run_available_now(
        stateful_croston(orders_stream(spark, sf_dir)), "append"
    )


# --- streaming twin #10: Goertzel periodogram --------------------------------

GOERTZEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("period", IntegerType(), False),
        StructField("n_points", LongType(), False),
        StructField("s1", DoubleType(), False),
        StructField("s2", DoubleType(), False),
        StructField("power", DoubleType(), False),
    ]
)

GOERTZEL_STATE_SCHEMA = StructType(
    [
        StructField("mths", ArrayType(LongType()), False),
        StructField("counts", ArrayType(LongType()), False),
    ]
)


def _update_goertzel(
    key: tuple, pdfs: Iterator, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    from oe_batch_processing_spark.operators.timeseries import (
        _GOERTZEL_C,
        _GOERTZEL_PERIODS,
    )

    if state.exists:
        mths, counts = state.get
        acc = dict(zip(list(mths), list(counts)))
    else:
        acc = {}
    for pdf in pdfs:
        for mth in pdf["mth"]:
            acc[int(mth)] = acc.get(int(mth), 0) + 1
    items = sorted(acc.items())
    x = [float(c) for _, c in items]
    n = len(x)
    rows = []
    for p in _GOERTZEL_PERIODS:
        c = _GOERTZEL_C[p]
        s1 = x[0] if n else 0.0
        s2 = 0.0
        for t in range(1, n):
            s1, s2 = x[t] + c * s1 - s2, s1
        rows.append({
            "series": key[0],
            "period": p,
            "n_points": n,
            "s1": s1,
            "s2": s2,
            "power": s1 * s1 + s2 * s2 - c * s1 * s2,
        })
    state.update((
        [m for m, _ in items], [cnt for _, cnt in items],
    ))
    yield pd.DataFrame(
        rows,
        columns=["series", "period", "n_points", "s1", "s2", "power"],
    )


def stateful_goertzel(orders: DataFrame) -> DataFrame:
    """Streaming Goertzel periodogram: state carries the per-series
    month histogram (months + counts — bounded by the calendar, the
    same boundedness the batch collapse exploits); each trigger re-runs
    the recurrence over the refreshed histogram and re-emits the
    per-period spectral powers. The recurrence itself cannot be carried
    incrementally as (s1, s2) because a month's count keeps
    accumulating until the stream ends — the histogram IS the minimal
    sufficient state. Under the bounded single-pass replay the final
    emission reproduces the batch fit bit-for-bit (same float loop, the
    pinned repr-literal cosine constants), which the shared oracle
    hash-checks."""
    monthly = orders.select(
        F.col("o_orderpriority").alias("series"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("mth"),
    )
    return monthly.groupBy("series").applyInPandasWithState(
        _update_goertzel,
        outputStructType=GOERTZEL_OUTPUT_SCHEMA,
        stateStructType=GOERTZEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _goertzel_oracle() -> str:
    from oe_batch_processing_spark.operators.timeseries import (
        _GOERTZEL_ORACLE,
    )

    return _GOERTZEL_ORACLE


@query("stream_periodogram_goertzel", oracle=_goertzel_oracle())
def stream_periodogram_goertzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``orders_periodogram_goertzel`` — the tenth
    batch/stream pair sharing one oracle: the Goertzel DFT recurrence
    runs inside applyInPandasWithState with the per-series month
    histogram as state, over a bounded stream of the orders table, and
    the final emission reproduces the batch periodogram bit-for-bit."""
    return run_available_now(
        stateful_goertzel(orders_stream(spark, sf_dir)), "append"
    )
