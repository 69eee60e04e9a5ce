"""ingest_stream: a streaming backlog drained into the maintained stores.

Seed-generated documents (fixed shares of exact and near duplicates and
of short documents) are written as a backlog of JSON files with ascending
ids. A Structured Streaming file source drains it one file per trigger
through ``foreachBatch(store_served_corpus_sink)``, which admits each batch
into a ``QualityStore`` and a ``BandIndex`` and commits verdict tables —
the maintained-store commit path, whose file counts grow with every
commit. The first trigger warms up; the window runs until ``--seconds``
have passed, and later triggers are skipped.

The final per-document verdicts read back from the stores are checked
against the ``pipeline_store_served_replay`` DuckDB oracle over exactly
the documents that were ingested.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import meters

# (documents per file, backlog files)
SIZES = {"bench": (40, 100), "tiny": (10, 40)}
SCHEMA = "doc_id long, text string, lang string"
DURATIONS = {  # streaming progress durationMs key -> layer metric
    "triggerExecution": "streaming.trigger_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
}


def write_backlog(in_dir: str, seed: int, per_file: int, n_files: int) -> list[list]:
    """The backlog files, oldest first (mtimes ascend with ids)."""
    docs = gen.documents(gen._rng(seed, "ingest"), per_file * n_files, block=per_file)
    files = [docs[i * per_file:(i + 1) * per_file] for i in range(n_files)]
    for i, chunk in enumerate(files):
        path = os.path.join(in_dir, f"part-{i:05d}.json")
        with open(path, "w") as f:
            for doc_id, text, lang in chunk:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": lang}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return files


def stores(spark, base: str) -> dict:
    """Empty maintained stores laid out as the store-served replay does."""
    from affinity_spark.operators.bandindex import BandIndex
    from affinity_spark.operators.quality_store import QualityStore
    from affinity_spark.sources.keyed_table import KeyedTable

    def kt(name, ts):
        return KeyedTable(spark, os.path.join(base, name), ["doc_id"], ts_col=ts, num_buckets=2)

    return {
        "quality": QualityStore(spark, os.path.join(base, "quality")),
        "bands": BandIndex(spark, os.path.join(base, "bands"), num_buckets=2, doc_buckets=2),
        "corpus": kt("shingles", "n_shingles"),
        "survivors": kt("survivors", "n_tokens"),
        "rejected": kt("rejected", "dup_of"),
    }


def verdicts(st: dict):
    """Per-document verdicts read back from the committed stores — the
    read side of the registry's ``pipeline_store_served_replay``."""
    from pyspark.sql import functions as F

    sig = st["quality"].signals().select("doc_id", "fp", "n_words", "is_canonical")
    mins = sig.groupBy("fp").agg(F.min("doc_id").alias("_fp_min"))
    s = st["survivors"].read().select("doc_id", "split")
    r = st["rejected"].read().select("doc_id", F.col("dup_of").alias("_nd_of"))
    low = F.col("n_words") < 10
    return sig.join(mins, "fp").join(s, "doc_id", "left").join(r, "doc_id", "left").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.when(low, F.lit("lowq")).when(~F.col("is_canonical"), F.lit("exactdup"))
        .when(F.col("_nd_of").isNotNull(), F.lit("neardup")).otherwise(F.col("split"))
        .alias("verdict"),
        F.when(low, F.lit(-1)).when(~F.col("is_canonical"), F.col("_fp_min"))
        .otherwise(F.coalesce(F.col("_nd_of"), F.lit(-1))).cast("long").alias("dup_of"),
    )


def oracle_verdicts(docs: list, path: str) -> dict[int, tuple]:
    import duckdb

    import __spark_entry__ as entry

    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                             "text": [d[1] for d in docs], "lang": [d[2] for d in docs]}), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(entry.oracle_sql()["pipeline_store_served_replay"])
    cols = [d[0] for d in res.description]
    out = {}
    for row in res.fetchall():
        r = dict(zip(cols, row))
        out[int(r["doc_id"])] = (int(r["n_words"]), r["verdict"], int(r["dup_of"]))
    con.close()
    return out


def run(run) -> dict:
    from affinity_spark.sources import keyed_table
    from affinity_spark.streaming.pipeline import store_served_corpus_sink

    per_file, n_files = SIZES[run.scale]
    in_dir = run.dir("backlog")
    files = write_backlog(in_dir, run.seed, per_file, n_files)
    tr = run.tracer
    state: dict = {}

    def setup(spark):
        st = stores(spark, run.dir("stores"))
        # the standing quality model trains on the first file before the
        # stream starts (the replay's shape); those documents then also
        # flow through the sink
        st["quality"].build(spark.createDataFrame(files[0], SCHEMA))
        state["stores"] = st

    run.mark("inputs")
    setup_s = run.setup(setup)
    run.mark("setup")
    spark, st = run.spark, state["stores"]
    if run.trace:
        tr.patch(st["quality"], "admit", "quality_store.admit")
        tr.patch(st["bands"], "admit", "bandindex.admit")
        for attr in ("read", "upsert"):
            tr.patch(keyed_table.KeyedTable, attr, f"keyed_table.{attr}")
    sink = store_served_corpus_sink(st["quality"], st["bands"], st["corpus"],
                                    st["survivors"], st["rejected"], run_id="perfbench")
    done: list[tuple] = []  # (batch_id, t_start, t_end)
    finished = threading.Event()
    window: dict = {}
    errors: list[str] = []

    def apply(batch_df, batch_id):
        if finished.is_set():
            return
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.sink"):
                sink(batch_df, batch_id)
        except Exception as e:  # noqa: BLE001
            errors.append(f"batch {batch_id}: {type(e).__name__}: {str(e)[:200]}")
            finished.set()
            return
        t1 = time.perf_counter()
        done.append((batch_id, t0, t1))
        if batch_id == 0:  # warm-up trigger: the window opens after it
            window["t0"] = t1
            window["before"] = meters.stage_snapshot(spark) if run.trace else None
        elif t1 - window["t0"] >= run.seconds or batch_id == n_files - 1:
            window["t1"] = t1
            window["after"] = meters.stage_snapshot(spark) if run.trace else None
            finished.set()

    stream = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(in_dir)
              .writeStream.foreachBatch(apply)
              .option("checkpointLocation", run.dir("checkpoint")).start())
    try:
        finished.wait(timeout=run.seconds + 120)
        # let the last measured trigger report its progress before stopping
        deadline = time.perf_counter() + 30
        while done and time.perf_counter() < deadline and (
                stream.lastProgress is None or stream.lastProgress.batchId < done[-1][0]):
            time.sleep(0.05)
    finally:
        stream.stop()
    progress = [p for p in stream.recentProgress
                if p.numInputRows > 0 and 1 <= p.batchId <= done[-1][0]] if done else []
    tr.unpatch()
    run.mark("stream")

    processed = [d for f in files[:len(done)] for d in f]
    got = {r["doc_id"]: (r["n_words"], r["verdict"], r["dup_of"])
           for r in verdicts(st).collect()}
    expect = oracle_verdicts(processed, os.path.join(run.dir("oracle"), "documents.parquet"))
    if run.inject == "wrong-verdict":
        k = min(expect)
        expect[k] = (expect[k][0], "wrong", expect[k][2])
    run.mark("check")
    for doc_id in sorted(set(expect) | set(got)):
        if expect.get(doc_id) != got.get(doc_id):
            errors.append(f"doc {doc_id}: expected {expect.get(doc_id)}, got {got.get(doc_id)}")

    timed = done[1:]
    lat = [p.durationMs["triggerExecution"] for p in progress] or [0.0]
    wall = (window.get("t1", 0.0) - window["t0"]) if "t0" in window else 0.0
    n_docs = sum(len(files[b]) for b, _t0, _t1 in timed)
    named = {
        "ingest_docs_per_s": n_docs / wall if wall > 0 else 0.0,
        "ingest_batch_p50_ms": statistics.median(lat),
        "batches": len(timed),
        "documents": len(processed),
        "error_rate": len(errors) / max(len(processed), 1),
    }
    out = {
        "setup_s": setup_s,
        "p50_ms": named["ingest_batch_p50_ms"],
        "throughput_per_s": named["ingest_docs_per_s"],
        "attempted": max(len(processed), 1),
        "failed": len(errors),
        "errors": errors,
        "named": named,
        "traced_wall_s": wall,
        "window": (window.get("t0", 0.0), window.get("t1", 0.0)),
        "breakdown": {"sink_ms": [(t1 - t0) * 1e3 for _b, t0, t1 in done]},
    }
    if run.trace:
        def layout(tables):
            live = [t for t in tables if t.exists()]
            fs = [t.file_stats() for t in live]
            return (sum(f["n_files"] for f in fs), sum(f["total_bytes"] for f in fs),
                    sum(len(t.versions()) for t in live))

        verdict_tables = [st[k] for k in ("corpus", "survivors", "rejected")]
        store_tables = [v for k in ("quality", "bands") for v in vars(st[k]).values()
                        if isinstance(v, keyed_table.KeyedTable)]
        kt_files, kt_bytes, kt_versions = layout(verdict_tables)
        st_files, st_bytes, _ = layout(store_tables)
        med = lambda name: statistics.median(tr.durations_ms(name) or [0.0])  # noqa: E731
        layers = meters.stage_metrics(meters.work_delta(window.get("before"), window.get("after")),
                                      wall)
        layers.update({
            name: statistics.median(p.durationMs.get(key, 0) for p in progress)
            for key, name in DURATIONS.items()
        } if progress else {})
        layers.update({
            "streaming.batches": len(timed),
            "quality_store.admit_ms": med("quality_store.admit"),
            "bandindex.admit_ms": med("bandindex.admit"),
            "keyed_table.read_ms": med("keyed_table.read"),
            "keyed_table.upsert_ms": med("keyed_table.upsert"),
            "keyed_table.files": kt_files,
            "keyed_table.bytes": kt_bytes,
            "keyed_table.versions": kt_versions,
            "stores.files": st_files,
            "stores.bytes": st_bytes,
        })
        out["layers"] = layers
    return out
