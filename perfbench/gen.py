"""Seeded input generation.  Every function here is a pure function of its
arguments: the same seed writes byte-identical files.  The program under
test only ever sees the files.

- ``clickstream_csv``: the reference's Kaggle clickstream shape (string
  timestamps with a ``' UTC'`` suffix, null ``category_code``/``brand``,
  post-purchase events, ties at the purchase timestamp).
- ``stream_event_lines``: one JSON-lines event file of the streaming
  workload.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

CLICKSTREAM_COLUMNS = ["event_time", "event_type", "product_id", "category_id",
                       "category_code", "brand", "price", "user_id", "user_session"]
_CATEGORY_CODES = np.array(["electronics.smartphone", "appliances.kitchen.washer",
                            "computers.notebook", "apparel.shoes", "furniture.bedroom"])
_BRANDS = np.array(["acme", "samsung", "apple", "xiaomi", "huawei", "lucente"])
_OCT_2019_S = 1_569_888_000  # 2019-10-01T00:00:00Z


def clickstream_csv(path: str, n_sessions: int, seed: int) -> dict:
    """Write a clickstream CSV of ``n_sessions`` sessions; return its truth.

    Per session: 2-11 events, 1-300 s apart, inside October 2019.  A fifth
    of the sessions purchase at an event after the first; half of those
    have their next event at the purchase timestamp (a tie, which the
    leakage cutoff keeps) and every later event is strictly after it (cut).
    Purchasing sessions add to cart more often, so the intent model has
    signal to learn.  Rows are written in event-time order, as a log is.
    """
    rng = np.random.default_rng([seed, 1])
    n_events = rng.integers(2, 12, n_sessions)
    purchasing = rng.random(n_sessions) < 0.2
    purchase_at = np.where(purchasing, rng.integers(1, n_events), -1)
    total = int(n_events.sum())
    sess = np.repeat(np.arange(n_sessions), n_events)
    starts = np.cumsum(n_events) - n_events
    pos = np.arange(total) - np.repeat(starts, n_events)
    p_at = purchase_at[sess]

    gaps = rng.integers(1, 301, total)
    gaps[pos == 0] = 0
    tie = (pos == p_at + 1) & (p_at >= 0) & (np.repeat(rng.random(n_sessions), n_events) < 0.5)
    gaps[tie] = 0
    base = rng.integers(0, 30 * 86400 - 3600, n_sessions)
    offs = np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[starts], n_events)
    epoch_s = _OCT_2019_S + np.repeat(base, n_events) + offs

    cart_p = np.where(p_at >= 0, 0.45, 0.2)
    etype = np.where(rng.random(total) < cart_p, "cart", "view").astype(object)
    etype[pos == p_at] = "purchase"

    def maybe_null(values: np.ndarray, share: float) -> pa.Array:
        return pa.array(values, mask=rng.random(total) < share)

    order = np.argsort(epoch_s, kind="stable")
    ts = pa.array(epoch_s.astype("datetime64[s]"))
    table = pa.table({
        "event_time": pc.binary_join_element_wise(ts.cast(pa.string()), " UTC", ""),
        "event_type": pa.array(etype, pa.string()),
        "product_id": pa.array(1000 + rng.zipf(1.3, total) % 20000),
        "category_id": maybe_null(rng.integers(1, 50, total), 0.2),
        "category_code": maybe_null(_CATEGORY_CODES[rng.integers(0, 5, total)], 0.3),
        "brand": maybe_null(_BRANDS[rng.integers(0, 6, total)], 0.3),
        "price": pa.array(np.round(rng.uniform(1, 500, total), 2)),
        "user_id": pa.array(500_000_000 + sess // 3),
        "user_session": pc.binary_join_element_wise(
            f"s{seed}-", pc.utf8_lpad(pa.array(sess).cast(pa.string()), 8, "0"), ""),
    }).take(pa.array(order))
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
    return {
        "events": total,
        "sessions": n_sessions,
        "purchase_sessions": int(purchasing.sum()),
        "bytes": os.path.getsize(path),
    }


# -- streaming events ------------------------------------------------------------

STREAM_BASE_US = 1_704_067_200_000_000  # 2024-01-01
_EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])


def stream_file_name(k: int) -> str:
    return f"events-{k:06d}.json"


def stream_event_lines(seed: int, file_idx: int, n_events: int, span_us: int,
                       n_users: int, created_at: float | None = None) -> list[str]:
    """JSON lines of event file ``file_idx``: ``n_events`` events whose event
    times fall in ``[file_idx * span_us, (file_idx + 1) * span_us)`` after
    2024-01-01, in the raw schema ``streaming.processor.read_event_stream``
    reads.  ``created_at`` (epoch seconds) is stamped into ``props``."""
    rng = np.random.default_rng([seed, 3, file_idx])
    ts_us = STREAM_BASE_US + file_idx * span_us + np.sort(rng.integers(0, span_us, n_events))
    ts = np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="us")
    users = rng.integers(0, n_users, n_events)
    types = _EVENT_TYPES[rng.choice(5, n_events, p=[0.6, 0.2, 0.05, 0.05, 0.1])]
    values = np.round(rng.uniform(0.5, 300, n_events), 2)
    ks = rng.integers(0, 100, n_events)
    first_id = file_idx * n_events
    lines = []
    for i in range(n_events):
        props = {"k": int(ks[i])}
        if created_at is not None:
            props["created_at"] = created_at
        lines.append(json.dumps({
            "event_id": first_id + i, "ts": ts[i].replace("T", " "),
            "user_id": int(users[i]), "event_type": str(types[i]),
            "value": float(values[i]), "props": json.dumps(props)}))
    return lines
