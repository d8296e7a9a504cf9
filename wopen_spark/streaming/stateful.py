"""Custom stateful streaming operator: session windows via
``applyInPandasWithState``.

Spark's built-in windowed aggregation can't express gap-based sessions
with arbitrary per-session payloads; this is the documented escape hatch
(SURVEY maps the reference's cron-loop "stream" onto Structured
Streaming; this operator is the engine's template for any custom
stateful logic beyond it).

Scale shape: state is partitioned by the grouping key (user), so the
stateful stage shuffles once on user_id and each task owns a disjoint
key range; per-key state is one open session (constant size), and the
watermark-driven timeout bounds total state at
``active users x O(1)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

# open-session state: (start_epoch_us, last_epoch_us, n_events, total_cents)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _fold_sessions(
    user_id,
    pdfs: Iterator[pd.DataFrame],
    carry: tuple | None,
    gap_us: int,
    emit_open: bool,
) -> tuple[list[tuple[Any, ...]], tuple | None]:
    """The vectorized sessionization core shared by BOTH stateful APIs
    (``applyInPandasWithState`` and ``transformWithStateInPandas``) —
    one implementation, so the two operators are hash-identical by
    construction.

    ``carry`` is the open-session state (start_us, last_us, n, cents) or
    None; returns (output rows in SESSION_SCHEMA order, new carry)."""
    import numpy as np

    if carry is not None:
        start_us, last_us, n, total_c = carry
    else:
        start_us = last_us = -1
        n, total_c = 0, 0

    # vectorized sessionization: the former per-event Python loop was
    # the stage bottleneck (~2x wall-clock on a 300k-event input)
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
    out: list[tuple[Any, ...]] = []
    if len(batch):
        ts_us_arr = batch["ts"].values.astype("int64") // 1000
        # exact order-independent totals: 2-decimal values as integer
        # cents (a raw double running sum drifts from a decimal SUM)
        cents_arr = (
            np.nan_to_num(batch["value"].values.astype("float64")) * 100
        ).round().astype("int64")
        new_sess = np.empty(len(ts_us_arr), dtype=bool)
        new_sess[0] = True
        new_sess[1:] = np.diff(ts_us_arr) > gap_us
        sid = np.cumsum(new_sess)
        df = pd.DataFrame(
            {"sid": sid, "ts": ts_us_arr, "c": cents_arr}
        ).groupby("sid", sort=True)
        agg = df.agg(
            start=("ts", "min"), last=("ts", "max"), n=("ts", "size"),
            total=("c", "sum"),
        )
        sessions = list(
            zip(agg["start"], agg["last"], agg["n"], agg["total"])
        )
        # merge the carried open session with the first batch session
        # when the gap allows
        if start_us >= 0 and sessions and sessions[0][0] - last_us <= gap_us:
            s0 = sessions[0]
            sessions[0] = (
                start_us, max(last_us, s0[1]), n + s0[2], total_c + s0[3]
            )
        elif start_us >= 0:
            sessions.insert(0, (start_us, last_us, n, total_c))
        for s in sessions[:-1]:
            out.append((user_id, s[0], s[1], int(s[2]), int(s[3]), True))
        start_us, last_us, n, total_c = (
            sessions[-1][0], sessions[-1][1], int(sessions[-1][2]),
            int(sessions[-1][3]),
        )

    if start_us < 0:
        return out, None
    if emit_open:
        out.append((user_id, start_us, last_us, n, total_c, False))
    return out, (start_us, last_us, n, total_c)


def _sessions_frame(out: list[tuple[Any, ...]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [r[0] for r in out],
            "session_start": pd.to_datetime([r[1] for r in out], unit="us"),
            "session_end": pd.to_datetime([r[2] for r in out], unit="us"),
            "n_events": [r[3] for r in out],
            "total_value": [r[4] / 100.0 for r in out],
            "closed": [r[5] for r in out],
        }
    )


def sessionize(
    events: DataFrame, gap_seconds: int = 1800, emit_open: bool = True
) -> DataFrame:
    """Gap-based session windows over a (possibly streaming) events frame
    with columns (user_id, ts, value).

    Sessions close when the gap to the next event exceeds ``gap_seconds``;
    closed sessions are emitted immediately, and with ``emit_open`` the
    still-open session is emitted too (closed=False) so an AvailableNow
    run over a static file yields the complete deterministic answer.

    Which path ships at 100 TB: for PLAIN gap sessions with sum/count
    payloads, the JVM-native ``session_window`` aggregate (the
    ``session_window_stats`` query) — it is ~3x faster at sf10 (26.9 s
    vs 74.7 s isolated) because nothing crosses the Arrow boundary.
    This operator is the TEMPLATE for stateful logic ``session_window``
    cannot express (arbitrary per-session payloads, custom merge rules,
    emit-on-update); its Spark-4 successor (``sessionize_tws`` below,
    same core, measured within noise of this one) adds timers and
    multiple state variables per key. All three are oracle-gated against
    the same SQL session fixpoint.
    """
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        carry = tuple(state.get) if state.exists else None
        out, new_carry = _fold_sessions(user_id, pdfs, carry, gap_us, emit_open)
        if new_carry is not None:
            state.update(new_carry)
        if out:
            yield _sessions_frame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_tws(
    events: DataFrame, gap_seconds: int = 1800, emit_open: bool = True
) -> DataFrame:
    """The same gap sessionizer on Spark 4's ``transformWithStateInPandas``
    (StatefulProcessor) — the successor API to ``applyInPandasWithState``:
    named state variables (value/list/map) instead of one tuple, explicit
    timers instead of a single timeout conf, and TTL support. Shares
    ``_fold_sessions`` with the classic operator, so outputs are
    identical by construction (both are gated against the same oracle).

    At 100 TB the production default for plain sessions remains the
    JVM-native ``session_window``; this is the template for custom
    stateful logic on the API that will outlive its predecessor.

    Dependency boundary: TWS's state protocol needs ``google.protobuf``
    at stream start (the driver worker validates state schemas over a
    protobuf channel). This container doesn't ship it, so the operator
    raises a clear ImportError up front instead of crashing the JVM-side
    runner mid-query; the parity test skips when protobuf is absent."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf for its "
            "state-server protocol; install protobuf or use sessionize() "
            "(applyInPandasWithState — same shared core, same output)"
        ) from exc
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    gap_us = gap_seconds * 1_000_000

    class _SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._session = handle.getValueState("session", STATE_SCHEMA)

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            (user_id,) = key
            carry = tuple(self._session.get()) if self._session.exists() else None
            out, new_carry = _fold_sessions(
                user_id, rows, carry, gap_us, emit_open
            )
            if new_carry is not None:
                self._session.update(new_carry)
            if out:
                yield _sessions_frame(out)

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_SessionProcessor(),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def sessionize_available_now(
    spark, sf_dir: str, checkpoint_dir: str, gap_seconds: int = 1800,
    stream_factory=None, impl: str = "classic",
) -> DataFrame:
    """Run the stateful sessionizer over the events file stream with
    Trigger.AvailableNow and return the emitted sessions.

    ``stream_factory`` overrides the source (tests feed a sequenced
    multi-file directory so sessions spanning micro-batch boundaries
    exercise the carried-state merge path). ``impl`` picks the stateful
    API: ``classic`` = applyInPandasWithState, ``tws`` = Spark 4's
    transformWithStateInPandas — same shared core, same output."""
    from wopen_spark.streaming.pipeline import (
        _events_source,
        _state_partitions,
        _suggest_state_partitions,
        await_available_now,
    )

    if impl not in ("classic", "tws"):
        raise ValueError(f"impl must be 'classic' or 'tws', got {impl!r}")
    probe, make = _events_source(spark, sf_dir, stream_factory)
    ev = make().select("user_id", "ts", "value")
    op = sessionize if impl == "classic" else sessionize_tws
    sessions = op(ev, gap_seconds=gap_seconds)
    sink = f"wopen_sessions_{impl}"
    with _state_partitions(spark, _suggest_state_partitions(spark, probe)):
        q = (
            sessions.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_available_now(q)
    return spark.table(sink)
