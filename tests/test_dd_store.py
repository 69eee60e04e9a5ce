"""Maintained DDSketch store (operators/dd_store.py): additive range
merge == direct sketch, fence-based replay safety (addition is NOT
idempotent — the contrast with HLLStore's max algebra), run-scoped
fences surviving checkpoint resets, streaming maintenance."""

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from affinity_spark.operators.dd_store import DDStore
from affinity_spark.operators.sketches import dd_quantiles, dd_sketch


def _rows(n, day_count=4):
    base = dt.datetime(2024, 3, 1)
    return [
        (
            i,
            base + dt.timedelta(days=(i * 2654435761) % day_count, minutes=i % 600),
            float(1 + (i * i * 37) % 5000),
        )
        for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_id long, ts timestamp, value double")


def _cnt(df):
    return {(r["bucket"], r["n"]) for r in df.collect()}


def test_range_counts_equal_direct_sketch(spark, tmp_path):
    rows = _rows(400)
    df = _df(spark, rows)
    st = DDStore(spark, str(tmp_path / "dd"))
    st.build(df)
    d0, d1 = "2024-03-02", "2024-03-03"
    direct = dd_sketch(
        df.filter(F.date_format("ts", "yyyy-MM-dd").between(d0, d1))
        .withColumn("_g", F.lit(1)),
        ["_g"],
        "value",
    ).select("bucket", F.col("n").cast("long").alias("n"))
    assert _cnt(st.counts_for_range(d0, d1)) == _cnt(direct)
    # and the rank-selected quantiles agree with dd_quantiles over the
    # directly-built sketch
    got = st.quantiles_for_range(d0, d1).collect()[0]
    want = dd_quantiles(direct.withColumn("_g", F.lit(1)), ["_g"]).collect()[0]
    for c in ("n", "p50_est", "p90_est", "p99_est"):
        assert got[c] == want[c]


def test_unfenced_readmit_double_counts_but_fence_prevents_it(spark, tmp_path):
    """The algebra contrast made visible: re-admitting WITHOUT a fence
    doubles the counts (addition is not idempotent); the same re-admit
    under an already-applied fence is dropped whole."""
    rows = _rows(200)
    base, batch = rows[:150], rows[150:]
    st = DDStore(spark, str(tmp_path / "f"))
    st.build(_df(spark, base))
    st.admit(_df(spark, batch), fence="run1:0")
    good = _cnt(st.daily().groupBy("bucket").agg(F.sum("n").cast("long").alias("n")))

    # fenced replay: no change
    st.admit(_df(spark, batch), fence="run1:0")
    assert _cnt(
        st.daily().groupBy("bucket").agg(F.sum("n").cast("long").alias("n"))
    ) == good

    # unfenced replay: double count (the failure the fence exists for)
    st.admit(_df(spark, batch))
    doubled = {
        r["n"]
        for r in st.daily().agg(F.sum("n").cast("long").alias("n")).collect()
    }
    assert doubled == {len(base) + 2 * len(batch)}


def test_fences_are_run_scoped_across_resets(spark, tmp_path):
    """Batch ids restart at 0 on a fresh checkpoint: the same batch_id
    under a NEW run_id must apply (an unscoped marker would silently
    drop every post-reset batch — the r5 foreachBatch rule)."""
    st = DDStore(spark, str(tmp_path / "rs"))
    st.build(_df(spark, _rows(100)))
    extra = _df(spark, _rows(40)[:20])
    st.admit(extra, fence="runA:0")
    n1 = st.daily().agg(F.sum("n")).collect()[0][0]
    st.admit(extra, fence="runA:0")  # replay, dropped
    assert st.daily().agg(F.sum("n")).collect()[0][0] == n1
    st.admit(extra, fence="runB:0")  # new run, same batch id: applies
    assert st.daily().agg(F.sum("n")).collect()[0][0] == n1 + 20


def test_streaming_maintainer_matches_direct_build(spark, tmp_path):
    rows = _rows(240)
    st = DDStore(spark, str(tmp_path / "m"))
    st.build(_df(spark, rows[:120]))

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate([rows[120:180], rows[180:]]):
        tmp = os.path.join(src, f".c{i}.tmp")
        with open(tmp, "w") as f:
            for eid, ts, v in chunk:
                f.write(json.dumps(
                    {"event_id": eid, "ts": ts.isoformat(), "value": v}
                ) + "\n")
        dest = os.path.join(src, f"c{i}.json")
        os.rename(tmp, dest)
        os.utime(dest, (1_700_000_000 + i,) * 2)

    q = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(st.maintainer(run_id="t-run-1"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = DDStore(spark, str(tmp_path / "full"))
    full.build(_df(spark, rows))
    assert {
        (r["day"], r["bucket"], r["n"]) for r in st.daily().collect()
    } == {
        (r["day"], r["bucket"], r["n"]) for r in full.daily().collect()
    }


def test_maintainer_scheduled_compaction_bounds_files(spark, tmp_path):
    """Maintainer-driven compaction (r10 verdict #5): each admit rewrites
    its touched day partitions at shuffle-partition granularity, so file
    count grows with batches; the maintainer's scheduled compact squashes
    to ~one file per day dir while reads and fences are preserved."""
    rows = _rows(240)
    st = DDStore(spark, str(tmp_path / "mc"))
    st.build(_df(spark, rows[:40]))
    apply = st.maintainer(run_id="runC", compact_every=4)
    chunks = [rows[40 + 25 * i : 40 + 25 * (i + 1)] for i in range(8)]
    for i, chunk in enumerate(chunks):
        apply(_df(spark, chunk), i)
    stats = st._table.file_stats()
    n_days = st.daily().select("day").distinct().count()
    # one compacted file per day dir (compaction ran on batches 3 and 7)
    assert stats["n_files"] == n_days
    # reads identical to a direct full build
    full = DDStore(spark, str(tmp_path / "mcfull"))
    full.build(_df(spark, rows))
    assert {
        (r["day"], r["bucket"], r["n"]) for r in st.daily().collect()
    } == {
        (r["day"], r["bucket"], r["n"]) for r in full.daily().collect()
    }
    # the fence ledger survives compaction: a replayed batch still drops
    before = {(r["day"], r["bucket"], r["n"]) for r in st.daily().collect()}
    apply(_df(spark, chunks[-1]), len(chunks) - 1)
    assert {
        (r["day"], r["bucket"], r["n"]) for r in st.daily().collect()
    } == before
