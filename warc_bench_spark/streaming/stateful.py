"""Streaming-native per-host politeness via applyInPandasWithState.

The batch engine converts the reference's live rate limiter
(``frequency_limiter.py:24-47``) into a deterministic virtual-time schedule
(``operators/politeness.py``). This module is the continuous-ingestion
variant SURVEY.md §2.13 sketches: a stream of discovered URLs, grouped by
host, where per-host mutable state (last granted slot, sliding-window
counts) lives in Spark's state store and each micro-batch assigns fetch
slots that respect the host's crawl delay and window cap across batches.

Unlike the batch path, a stream's arrival order is not reproducible, so the
guarantee here is the politeness *invariant* (slots per host are strictly
``delay``-separated and at most ``window_limit`` per ``window_ms``), not a
golden total order — tested in tests/test_streaming_stateful.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("slot_ms", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("next_free_ms", LongType()),
        StructField("granted", LongType()),
    ]
)


def politeness_slots_stream(
    urls_by_host,  # GroupedData of a streaming DF with (host, url) columns
    delay_ms: int = 1000,
    window_limit: int = 10,
    window_ms: int = 60_000,
) -> DataFrame:
    """Assign virtual fetch slots per host with cross-batch state."""

    def assign(
        key: tuple[str],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        if state.exists:
            next_free, granted = state.get
        else:
            next_free, granted = 0, 0
        out_urls: list[np.ndarray] = []
        out_slots: list[np.ndarray] = []
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # deterministic within-chunk order: by url (object-dtype sort is
            # the same code-point comparison as Python's sorted()). The sort
            # runs per Arrow chunk, so a group larger than
            # spark.sql.execution.arrow.maxRecordsPerBatch is sorted chunk
            # by chunk, not as a whole.
            urls = np.sort(pdf["url"].to_numpy())
            # The scalar recurrence
            #     slot_i = max(slot_{i-1} + delay, wt_i),  slot_0 = max(nf, wt_0)
            # with wt_i = ((granted + i) // window_limit) * window_ms is a
            # running max with additive drift: subtracting i*delay turns it
            # into a plain cumulative max —
            #     slot_i = i*delay + cummax_{j<=i}(b_j - j*delay),
            # b_0 = max(nf, wt_0), b_i = wt_i. One numpy pass instead of a
            # per-row Python loop (the §4 boundary rule applied to streaming).
            idx = np.arange(n, dtype=np.int64)
            wt = ((granted + idx) // window_limit) * window_ms
            b = wt.copy()
            b[0] = max(next_free, int(wt[0]))
            slots = idx * delay_ms + np.maximum.accumulate(b - idx * delay_ms)
            out_urls.append(urls)
            out_slots.append(slots)
            granted += n
            next_free = int(slots[-1]) + delay_ms
        state.update((int(next_free), int(granted)))
        if not out_urls:
            yield pd.DataFrame({"host": [], "url": [], "slot_ms": []})
            return
        urls_all = np.concatenate(out_urls)
        slots_all = np.concatenate(out_slots)
        yield pd.DataFrame(
            {
                "host": np.repeat(host, len(urls_all)),
                "url": urls_all,
                "slot_ms": slots_all,
            }
        )

    return urls_by_host.applyInPandasWithState(
        assign,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
