"""KeyedTable's replay-fence ledger: the exactly-once marker committed in
the pointer file atomically with the version swap, carried forward by
every other commit, never recorded by a CAS loser, and bounded."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from affinity_spark.sources.keyed_table import ConcurrentWriteError, KeyedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, ts long, p int")


def _rows(lo, hi):
    return [(i, 100 + i, i % 4) for i in range(lo, hi)]


def _pointer(t):
    with open(t._pointer) as f:
        return json.load(f)


def test_fence_commits_atomically_with_pointer(spark, tmp_path):
    """The fence and the version it describes are one pointer record; a
    write that dies before the swap records neither."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["k"], "ts")
    assert t.applied_fences() == []
    t.overwrite(_df(spark, _rows(0, 8)), fence="run:0")
    rec = _pointer(t)
    assert rec["fences"] == ["run:0"]
    assert t._current_version_dir().endswith(rec["version"])

    base = t._current_version_dir()
    real = t._write_snapshot
    t._write_snapshot = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("crash before the pointer swap")
    )
    try:
        with pytest.raises(RuntimeError):
            t.overwrite(_df(spark, _rows(0, 9)), fence="run:1")
    finally:
        t._write_snapshot = real
    assert t._current_version_dir() == base
    assert t.applied_fences() == ["run:0"]


def test_fence_survives_maintenance_commits(spark, tmp_path):
    """compact(), overwrite_partitions, an explicit-meta overwrite and an
    upsert all carry the ledger forward; only reset_fences clears it."""
    t = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], "ts", num_buckets=8,
        partition_col="p",
    )
    t.overwrite(_df(spark, _rows(0, 40)), meta={"lineage": "a"}, fence="run:0")

    before = t._current_version_dir()
    stats = t.compact(target_file_bytes=1 << 30)
    assert stats["compacted"] and t._current_version_dir() != before
    assert t.applied_fences() == ["run:0"]
    assert t.commit_meta() == {"lineage": "a"}

    delta = t.read().filter(F.col("p") == 1).withColumn("ts", F.col("ts") + 1)
    t.overwrite_partitions(delta, [1], fence="run:1")
    t.overwrite_partitions(delta, [1])
    assert t.applied_fences() == ["run:0", "run:1"]

    t.overwrite(t.read(), meta={"lineage": "b"})
    assert t.applied_fences() == ["run:0", "run:1"]
    assert t.commit_meta() == {"lineage": "b"}

    t.upsert(_df(spark, [(99, 500, 3)]))
    assert t.applied_fences() == ["run:0", "run:1"]

    t.overwrite(t.read(), reset_fences=True)
    assert t.applied_fences() == []


def test_cas_loser_records_no_fence(spark, tmp_path):
    """A ConcurrentWriteError loser's fence never reaches the ledger, so
    the replayed batch is applied on retry instead of silently dropped."""
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, ["k"], "ts", partition_col="p")
    b = KeyedTable(spark, path, ["k"], "ts", partition_col="p")
    a.overwrite(_df(spark, _rows(0, 8)), fence="run:0")
    base = a._current_version_dir()
    b.overwrite(_df(spark, _rows(0, 9)), fence="other:0")
    with pytest.raises(ConcurrentWriteError):
        a.overwrite(_df(spark, _rows(0, 10)), expected_base=base, fence="run:1")
    with pytest.raises(ConcurrentWriteError):
        a.overwrite_partitions(
            _df(spark, [(1, 300, 1)]), [1], expected_base=base, fence="run:1"
        )
    assert a.applied_fences() == ["run:0", "other:0"]


def test_fence_ledger_is_bounded(spark, tmp_path, monkeypatch):
    """The applied-fence ledger keeps only a trailing window (streaming
    replay only re-fires recent batches): old fences age out, recent ones
    still fence — commit meta stays O(1) over a long-running stream."""
    from affinity_spark.operators.dd_store import DDStore
    from tests.test_dd_store import _df as _dd_df
    from tests.test_dd_store import _rows as _dd_rows

    monkeypatch.setattr(KeyedTable, "FENCE_WINDOW", 3)
    st = DDStore(spark, str(tmp_path / "bound"))
    st.build(_dd_df(spark, _dd_rows(60)))
    batches = [_dd_df(spark, _dd_rows(100 + 10 * i)[-5:]) for i in range(5)]
    for i, b in enumerate(batches):
        st.admit(b, fence=f"run:{i}")
    ledger = st._table.applied_fences()
    assert ledger == ["run:2", "run:3", "run:4"]
    n = st.daily().agg(F.sum("n")).collect()[0][0]
    st.admit(batches[-1], fence="run:4")  # recent fence still blocks
    assert st.daily().agg(F.sum("n")).collect()[0][0] == n


def _to_legacy(table, key):
    """Rewrite the current pointer record in the form older code committed:
    the store's ledger in commit meta under ``key``, no ``fences`` entry."""
    rec = _pointer(table)
    rec["meta"] = {**rec["meta"], key: rec.pop("fences")}
    with open(table._pointer, "w") as f:
        json.dump(rec, f)


def test_legacy_store_ledger_still_fences(spark, tmp_path):
    """A DDStore or QualityStore committed before the ledger moved into the
    pointer file keeps fencing: a stream resuming on it drops its replayed
    batch, and the next fenced commit carries the old ledger forward."""
    from affinity_spark.operators.dd_store import DDStore
    from affinity_spark.operators.quality_store import QualityStore
    from tests.test_dd_store import _df as _dd_df
    from tests.test_dd_store import _rows as _dd_rows
    from tests.test_quality_store import _docs, _rows_set

    dd = DDStore(spark, str(tmp_path / "dd"))
    dd.build(_dd_df(spark, _dd_rows(60)))
    batch = _dd_df(spark, _dd_rows(70)[-5:])
    dd.admit(batch, fence="run:0")
    _to_legacy(dd._table, "dd_applied")
    assert dd._table.applied_fences() == ["run:0"]
    n = dd.daily().agg(F.sum("n")).collect()[0][0]
    dd.admit(batch, fence="run:0")
    assert dd.daily().agg(F.sum("n")).collect()[0][0] == n
    dd.admit(batch, fence="run:1")
    assert dd.daily().agg(F.sum("n")).collect()[0][0] == n + 5
    assert _pointer(dd._table)["fences"] == ["run:0", "run:1"]

    q = QualityStore(spark, str(tmp_path / "q"))
    q.build(_docs(spark, range(10)))
    docs = _docs(spark, range(40, 44))
    q.admit(docs, fence="runA:0")
    _to_legacy(q._signals, "q_applied")
    n_sig, hist = q.signals().count(), _rows_set(q._hist.read())
    q.admit(docs, fence="runA:0")
    assert q.signals().count() == n_sig
    assert _rows_set(q._hist.read()) == hist
    q.admit(_docs(spark, range(50, 52)), fence="runA:1")
    assert q.signals().count() == n_sig + 2
    assert q._signals.applied_fences() == ["runA:0", "runA:1"]
