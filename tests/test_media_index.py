"""Maintained multimodal fingerprint index (operators/media_index.py —
the TENTH maintained family): served pairs == derive-per-run pigeonhole
pairs per modality; admit == rebuild; probe == exhaustive new-vs-corpus;
delta-IO admits (hardlinked untouched buckets); auto bucket lever."""

import os

import pytest
from pyspark.sql import functions as F

from affinity_spark.operators.media_index import (
    MediaIndex,
    hamming_pairs_multimodal,
)


def _fps(spark, ids):
    """Deterministic 3-modality fingerprints with planted near-dups:
    group g = id // 3 shares a base pattern per modality; members differ
    in <=2 low bits (hamming <= 3 within a group, far across groups)."""
    rows = []
    for i in ids:
        g, m = i // 3, i % 3
        base = ((g * 2654435761) ^ 0x5BD1E995) % (1 << 60)
        for k, mod in enumerate(("image", "audio", "video")):
            fp = (base ^ (k << 55)) | 7  # low bits set
            fp ^= m  # member perturbation: flips <=2 of the low bits
            rows.append((i, mod, fp))
    return spark.createDataFrame(rows, "doc_id long, modality string, fp long")


def _pairs_set(df):
    return {
        (r["modality"], r["id_a"], r["id_b"], r["hamming"])
        for r in df.collect()
    }


def _exhaustive(spark, fps):
    a = fps.select(
        F.col("doc_id").alias("id_a"), "modality", F.col("fp").alias("fa")
    )
    b = fps.select(
        F.col("doc_id").alias("id_b"), "modality", F.col("fp").alias("fb")
    )
    return (
        a.join(b, "modality")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.expr("fa ^ fb")))
        .filter(F.col("hamming") <= 3)
        .select("modality", "id_a", "id_b", "hamming")
    )


def test_served_pairs_match_exhaustive(spark, tmp_path):
    fps = _fps(spark, range(18))
    idx = MediaIndex(spark, str(tmp_path / "mi"))
    idx.build(fps)
    served = _pairs_set(idx.pairs())
    assert served == _pairs_set(_exhaustive(spark, fps))
    assert served == _pairs_set(
        hamming_pairs_multimodal(fps, "doc_id", 63, 3)
    )
    assert served  # planted groups guarantee pairs
    mods = {m for m, *_ in served}
    assert mods == {"image", "audio", "video"}  # no modality cross-match


def test_admit_equals_rebuild(spark, tmp_path):
    full = _fps(spark, range(24))
    base = full.filter(F.col("doc_id") < 15)
    batch = full.filter(F.col("doc_id") >= 15)
    inc = MediaIndex(spark, str(tmp_path / "inc"))
    inc.build(base)
    inc.admit(batch)
    fresh = MediaIndex(spark, str(tmp_path / "fresh"))
    fresh.build(full)
    assert _pairs_set(inc.pairs()) == _pairs_set(fresh.pairs())
    # replay idempotence: re-admitting the same batch changes nothing
    inc.admit(batch)
    assert _pairs_set(inc.pairs()) == _pairs_set(fresh.pairs())


def test_admit_replaces_and_deletes(spark, tmp_path):
    full = _fps(spark, range(12))
    idx = MediaIndex(spark, str(tmp_path / "mi"))
    idx.build(full)
    # replace doc 0's fingerprints with doc 1's pattern, delete doc 11
    replaced = _fps(spark, [1]).withColumn("doc_id", F.lit(0).cast("long"))
    idx.admit(replaced, deleted_ids=[11])
    expect = _fps(spark, range(11)).filter(F.col("doc_id") != 0).unionByName(
        replaced
    )
    assert _pairs_set(idx.pairs()) == _pairs_set(_exhaustive(spark, expect))


def test_probe_matches_exhaustive_new_vs_existing(spark, tmp_path):
    full = _fps(spark, range(24))
    # split INSIDE group 5 (docs 15,16,17) so true cross pairs exist
    base = full.filter(F.col("doc_id") < 16)
    batch = full.filter(F.col("doc_id") >= 16)
    idx = MediaIndex(spark, str(tmp_path / "mi"))
    idx.build(base)
    got = {
        (r["modality"], r["new_id"], r["dup_of"], r["hamming"])
        for r in idx.probe(batch).collect()
    }
    want = {
        (m, b, a, h)
        for m, a, b, h in _pairs_set(_exhaustive(spark, full))
        if b >= 16 and a < 16
    }
    assert got == want and got


def test_admit_hardlinks_untouched_buckets(spark, tmp_path):
    idx = MediaIndex(spark, str(tmp_path / "mi"), doc_buckets=16)
    idx.build(_fps(spark, range(60)))
    vdir = idx._table._current_version_dir()
    before = {
        e: frozenset(
            os.stat(os.path.join(vdir, e, f)).st_ino
            for f in os.listdir(os.path.join(vdir, e))
            if f.endswith(".parquet")
        )
        for e in os.listdir(vdir)
        if e.startswith("_bucket=")
    }
    idx.admit(_fps(spark, [100, 101]))
    vdir2 = idx._table._current_version_dir()
    after = {
        e: frozenset(
            os.stat(os.path.join(vdir2, e, f)).st_ino
            for f in os.listdir(os.path.join(vdir2, e))
            if f.endswith(".parquet")
        )
        for e in os.listdir(vdir2)
        if e.startswith("_bucket=")
    }
    shared = [e for e in before if e in after and before[e] == after[e]]
    changed = [e for e in after if after[e] != before.get(e)]
    assert shared, "no bucket hardlinked across a 2-doc admit"
    assert len(changed) <= 2  # <= one bucket per admitted doc


def test_auto_bucket_lever_and_rebucket(spark, tmp_path):
    from affinity_spark.operators.bucketing import auto_bucket_count

    idx = MediaIndex(spark, str(tmp_path / "mi"))
    idx.build(_fps(spark, range(30)))
    assert idx.doc_buckets == auto_bucket_count(30)
    assert idx._table.commit_meta()["doc_buckets"] == idx.doc_buckets
    before = _pairs_set(idx.pairs())
    assert idx.rebucket(doc_buckets=32) == 32
    assert idx.doc_buckets == 32
    assert _pairs_set(idx.pairs()) == before  # placement-only
    assert not idx.needs_rebucket()


def test_admit_on_empty_table_commits_auto_lever(spark, tmp_path):
    """First admit() on a not-yet-built table must size and COMMIT the
    bucket lever exactly like build() (r12 ADVICE: the overwrite
    fall-through stamped no meta, pinning the auto lever to the legacy
    default 8 forever)."""
    from affinity_spark.operators.bucketing import auto_bucket_count

    idx = MediaIndex(spark, str(tmp_path / "mi"))
    batch = _fps(spark, range(30))
    idx.admit(batch)
    assert idx._table.commit_meta()["doc_buckets"] == auto_bucket_count(30)
    assert idx.doc_buckets == auto_bucket_count(30)
    assert _pairs_set(idx.pairs()) == _pairs_set(_exhaustive(spark, batch))


def test_streaming_maintainer_admits_batches(spark, tmp_path):
    """The maintained-family streaming contract: micro-batches of doc ids
    flow through maintainer()'s foreachBatch, each fingerprinted ONCE
    (the decode kernel runs per batch) and admitted; the final index
    equals a fresh full build."""
    import json as _json
    import os as _os

    from pyspark.sql.types import LongType, StructField, StructType

    idx = MediaIndex(spark, str(tmp_path / "mi"), doc_buckets=4)
    idx.build(_fps(spark, range(12)))

    src = str(tmp_path / "in")
    _os.makedirs(src, exist_ok=True)
    for i, batch_ids in enumerate([[12, 13], [14, 15, 16]]):
        tmp = _os.path.join(src, f".b{i}.tmp")
        with open(tmp, "w") as f:
            for d in batch_ids:
                f.write(_json.dumps({"doc_id": d}) + "\n")
        dest = _os.path.join(src, f"b{i}.json")
        _os.rename(tmp, dest)
        _os.utime(dest, (1_700_000_000 + i,) * 2)

    def fp_source(batch_df):
        ids = [int(r.doc_id) for r in batch_df.collect()]
        return _fps(spark, ids)

    q = (
        spark.readStream.schema(
            StructType([StructField("doc_id", LongType())])
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(idx.maintainer(fp_source))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    fresh = MediaIndex(spark, str(tmp_path / "fresh"))
    fresh.build(_fps(spark, range(17)))
    assert _pairs_set(idx.pairs()) == _pairs_set(fresh.pairs())


def test_bits_bounds():
    with pytest.raises(ValueError):
        hamming_pairs_multimodal(None, "doc_id", 64, 3)
