"""Custom stateful streaming operator: running latest-wins graph
state via applyInPandasWithState.

The reference's writer holds per-graph current state implicitly (the
working tree); in a stream that is an explicit keyed state: for each
graph_id keep (ts, content_hash) of the newest accepted version and
emit a row ONLY when the incoming batch actually changes the state —
the streaming form of the idempotent-write skip (src/graphs.rs:52-61).

This is the applyInPandasWithState pattern from SURVEY.md §2B
streaming notes: grouped keys, GroupState holding a small tuple,
append-mode output of accepted changes.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUTPUT_SCHEMA = "graph_id string, ts timestamp, op string, content_hash string"
_STATE_SCHEMA = "ts timestamp, op string, content_hash string"


def _latest_wins(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import hashlib

    from rdf_diff_store_spark.functions.turtle import canonicalize

    if state.exists:
        cur_ts, cur_op, cur_hash = state.get
    else:
        cur_ts, cur_op, cur_hash = None, None, None

    accepted = []
    rows = pd.concat(list(pdfs), ignore_index=True)
    # the batch store's content hash (sha2 of the canonical payload) and
    # its (ts, op, hash) version order (operators/versioned.current_state),
    # with a stable sort so equal keys keep arrival order
    rows["h"] = [
        None
        if op == "delete" or payload is None
        else hashlib.sha256(canonicalize(payload).encode("utf-8")).hexdigest()
        for op, payload in zip(rows["op"], rows["payload"])
    ]
    rows["key_h"] = rows["h"].fillna("")
    for _, r in rows.sort_values(["ts", "op", "key_h"], kind="stable").iterrows():
        op, h, ts = r["op"], r["h"], r["ts"]
        if cur_ts is not None and (ts, op, r["key_h"]) < (cur_ts, cur_op, cur_hash or ""):
            continue  # stale (late) update — latest-wins by version order
        live = cur_op is not None and cur_op != "delete"
        if op == "delete" and not live:
            continue
        if op != "delete" and live and h == cur_hash:
            continue  # idempotent re-send
        cur_ts, cur_op, cur_hash = ts, op, h
        accepted.append((key[0], ts, op, h))

    state.update((cur_ts, cur_op, cur_hash))
    if accepted:
        yield pd.DataFrame(accepted, columns=["graph_id", "ts", "op", "content_hash"])


def latest_state_stream(updates_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream of ACCEPTED state changes per graph (latest-wins,
    content-hash idempotent), keyed state bounded by ProcessingTime
    timeout semantics (state kept while the graph stays active)."""
    return (
        updates_stream.withWatermark("ts", watermark)
        .groupBy("graph_id")
        .applyInPandasWithState(
            _latest_wins,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
