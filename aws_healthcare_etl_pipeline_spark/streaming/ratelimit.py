"""Per-key token-bucket rate limiting as a custom stateful streaming
operator (applyInPandasWithState) — the admission-control primitive
behind API quotas, ingest throttles, and abuse gates.

Semantics (exact integer arithmetic, milli-tokens):
  - a key starts with a FULL bucket of ``cap_milli`` tokens;
  - before each event, the bucket refills by
    ``(delta_us * 1000) // refill_period_us`` milli-tokens (floor),
    clamped to ``cap_milli``;
  - an event is ADMITTED iff >= 1000 milli-tokens remain, spending
    exactly 1000; otherwise DENIED (and spends nothing).

Order contract: token buckets are order-SENSITIVE, so events are
sorted (ts_us, event_id) within each arriving group. State carries
the bucket level and last-seen timestamp across micro-batches, so the
simulation is exact as long as batches arrive in event-time order
per key (true for a single AvailableNow batch, or any source that
preserves per-key ordering); out-of-order arrivals across batches
would need a watermark-delayed reorder buffer in front.

Scale: state is 5 integers per key, partitioned across executors;
Arrow moves whole key-groups, and the per-event Python loop is the
honest cost of an inherently sequential recurrence (same stance as
FFD packing).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

RATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
        T.StructField("n_denied", T.LongType()),
        T.StructField("tokens_milli", T.LongType()),
    ]
)

RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("adm", T.LongType()),
        T.StructField("den", T.LongType()),
    ]
)


def token_bucket_admissions(
    events: DataFrame,
    cap_milli: int,
    refill_period_us: int,
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming per-key token-bucket admission counters.

    ``events`` must be a streaming DataFrame with columns
    (key_col, ts_us, event_id). Output mode must be 'update'.
    """
    cap = int(cap_milli)
    refill = int(refill_period_us)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, last_us, n_seen, adm, den = state.get
        else:
            tokens, last_us, n_seen, adm, den = cap, -1, 0, 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_us", "event_id"])
        for ts in rows["ts_us"].astype("int64"):
            ts = int(ts)
            if last_us >= 0:
                gain = (ts - last_us) * 1000 // refill
                tokens = min(cap, tokens + gain)
            last_us = ts
            n_seen += 1
            if tokens >= 1000:
                tokens -= 1000
                adm += 1
            else:
                den += 1
        state.update((tokens, last_us, n_seen, adm, den))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n_seen],
                "n_admitted": [adm],
                "n_denied": [den],
                "tokens_milli": [tokens],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=RATE_OUTPUT_SCHEMA,
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
