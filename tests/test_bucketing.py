"""Auto bucket lever (operators/bucketing.py + the maintained stores):
sizing ∝ corpus, committed-count-wins resolution, growth trigger,
rebucket correctness and inode behavior."""

import os

import pytest
from pyspark.sql import functions as F

from affinity_spark.operators.bucketing import auto_bucket_count


def test_auto_bucket_count_shape():
    # ∝ corpus in power-of-two steps, floored at the historical default
    assert auto_bucket_count(0) == 8
    assert auto_bucket_count(30) == 8
    assert auto_bucket_count(512) == 8
    assert auto_bucket_count(513) == 16
    assert auto_bucket_count(2000) == 32
    assert auto_bucket_count(20000) == 512
    # 10x corpus -> ~10x buckets (within the pow2 step) — the ∝ property
    assert 8 <= auto_bucket_count(20000) / auto_bucket_count(2000) <= 16
    assert auto_bucket_count(1 << 40) == 1 << 20  # capped
    with pytest.raises(ValueError):
        auto_bucket_count(-1)


def _docs(spark, n):
    from tests.test_prefix_index import BODY

    rows = []
    for i in range(n):
        if i % 3 == 0:
            text = BODY + f"ending number {i % 6}"
        else:
            text = f"distinct document {i} " + " ".join(
                f"w{i}x{j}" for j in range(12)
            )
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _arrs(spark, df):
    from affinity_spark.operators import dedup as dd

    return dd.doc_shingle_arrays(df, "doc_id", "text", 3)


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], r["n_common"], r["n_union"]) for r in df.collect()
    }


def test_prefix_auto_size_committed_and_attach_wins(spark, tmp_path):
    """build() with no knob sizes buckets ∝ corpus and commits the count;
    an attaching instance constructed with a DIFFERENT explicit count
    still resolves the committed one (misplaced-merge prevention)."""
    from affinity_spark.operators.prefix_index import PrefixIndex

    arrs = _arrs(spark, _docs(spark, 30))
    idx = PrefixIndex(spark, str(tmp_path / "pfx"))
    idx.build(arrs)
    assert idx.doc_buckets == auto_bucket_count(30)
    assert idx._prefix.commit_meta()["doc_buckets"] == idx.doc_buckets

    attached = PrefixIndex(spark, str(tmp_path / "pfx"), doc_buckets=3)
    assert attached.doc_buckets == idx.doc_buckets  # committed wins


def test_prefix_rebucket_preserves_pairs_and_hardlinks_after(spark, tmp_path):
    """rebucket() is pure physical placement: served pairs are identical
    across it, admits after it still rewrite only touched buckets
    (hardlinked carry-over for the rest), and needs_rebucket() arms on
    growth / disarms after."""
    from affinity_spark.operators.prefix_index import PrefixIndex

    full = _docs(spark, 60)
    base = full.filter(F.col("doc_id") < 48)
    batch = full.filter(F.col("doc_id") >= 48)
    # build SMALL on purpose so growth triggers the lever
    idx = PrefixIndex(spark, str(tmp_path / "pfx"), doc_buckets=2)
    idx.build(_arrs(spark, base))
    before = _pairs_set(idx.pairs())

    assert idx.needs_rebucket(factor=4.0)  # 48 docs vs 2 buckets
    new = idx.rebucket()
    assert new == auto_bucket_count(48) and idx.doc_buckets == new
    assert _pairs_set(idx.pairs()) == before  # placement-only

    # an admit AFTER the rebucket: untouched bucket dirs hardlink forward
    pre = {
        t: _inodes_by_dir(t._current_version_dir())
        for t in (idx._prefix, idx._arrays)
    }
    idx.admit(_arrs(spark, batch))
    for t, old in pre.items():
        new_dirs = _inodes_by_dir(t._current_version_dir())
        shared = [
            d for d in old if d in new_dirs and old[d] == new_dirs[d]
        ]
        changed = [
            d for d in old if d in new_dirs and old[d] != new_dirs[d]
        ]
        assert shared, f"{t.path}: no bucket dir hardlinked across admit"
        # the 12-doc batch touches far fewer buckets than it leaves alone
        assert len(changed) <= 12
    assert not idx.needs_rebucket(factor=4.0)


def _inodes_by_dir(vdir):
    out = {}
    for entry in os.listdir(vdir):
        d = os.path.join(vdir, entry)
        if entry.startswith("_bucket=") and os.path.isdir(d):
            out[entry] = frozenset(
                os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return out


def test_postings_auto_size_and_rebucket(spark, tmp_path):
    """PostingsIndex: auto count committed in the lineage meta, refresh
    carries it, rebucket re-places all tables consistently and reads are
    unchanged."""
    from affinity_spark.operators.postings import PostingsIndex

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma {'delta' if i % 2 else 'omega'}") for i in range(40)],
        "doc_id long, text string",
    )
    ix = PostingsIndex(spark, str(tmp_path / "px"), grams=(1,))
    ix.build(docs)
    assert ix.doc_buckets == auto_bucket_count(40)
    assert ix._doclen.commit_meta()["doc_buckets"] == ix.doc_buckets

    changed = spark.createDataFrame(
        [(1, "alpha rewritten body")], "doc_id long, text string"
    )
    ix.refresh(changed)
    assert ix._doclen.commit_meta()["doc_buckets"] == ix.doc_buckets

    mid = {
        (r["term"], r["doc_id"], r["pos"]) for r in ix.positional().collect()
    }
    new = ix.rebucket(doc_buckets=16)
    assert new == 16 and ix.doc_buckets == 16
    ix.check_consistent()
    after = {
        (r["term"], r["doc_id"], r["pos"]) for r in ix.positional().collect()
    }
    assert after == mid  # placement-only


def test_cluster_store_auto_size_and_rebucket(spark, tmp_path):
    """ClusterStore: first commit sizes the lever, admits carry it,
    rebucket preserves assignments."""
    from affinity_spark.operators.cluster_store import ClusterStore

    cs = ClusterStore(spark, str(tmp_path / "cs"))
    ids = spark.range(20).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 3), (3, 6), (9, 12)], "id_a long, id_b long"
    )
    cs.build(ids, pairs)
    assert cs.cluster_buckets == auto_bucket_count(20)
    before = {(r[0], r[1]) for r in cs.assignments().select("doc_id", "cluster_id").collect()}
    new = cs.rebucket(cluster_buckets=32)
    assert new == 32 and cs.cluster_buckets == 32
    after = {(r[0], r[1]) for r in cs.assignments().select("doc_id", "cluster_id").collect()}
    assert before == after


def test_single_file_partitions_layout_and_compact_noop(spark, tmp_path):
    """The wide-lever layout guard: with single_file_partitions, a
    snapshot holds exactly one parquet file per partition dir (file
    count == dir count, not num_buckets x dirs), and compact() is a
    structural no-op — admits replace whole dirs, so there is no
    small-file decay, and a rewrite would churn a version per
    maintainer tick for nothing."""
    from affinity_spark.sources.keyed_table import KeyedTable

    t = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], ts_col="v", num_buckets=8,
        partition_col="_bucket", single_file_partitions=True,
    )
    df = spark.range(200).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id % 16 AS INT) AS _bucket"
    )
    t.overwrite(df)
    vdir = t._current_version_dir()
    for entry in os.listdir(vdir):
        d = os.path.join(vdir, entry)
        if entry.startswith("_bucket=") and os.path.isdir(d):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, f"{entry}: {len(files)} files"
    stats = t.compact(target_file_bytes=1)  # would force a rewrite otherwise
    assert stats["compacted"] is False
    assert t._current_version_dir() == vdir  # no version churn
    assert t.read().count() == 200


def test_bandindex_auto_size_commit(spark, tmp_path):
    from affinity_spark.operators.bandindex import BandIndex

    arrs = _arrs(spark, _docs(spark, 30))
    ix = BandIndex(spark, str(tmp_path / "bi"))
    ix.build(arrs)
    assert ix.doc_buckets == auto_bucket_count(30)
    assert ix._table.commit_meta()["doc_buckets"] == ix.doc_buckets
    assert not ix.needs_rebucket()
    assert ix.rebucket(doc_buckets=16) == 16
    assert ix.doc_buckets == 16


def _band_case(spark):
    from affinity_spark.operators.bandindex import BandIndex

    docs = _docs(spark, 45)

    def rows(lo, hi):
        return _arrs(spark, docs.filter(F.col("doc_id").between(lo, hi - 1)))

    return dict(
        make=lambda p: BandIndex(spark, p),
        build=lambda s, hi: s.build(rows(0, hi)),
        admit=lambda s, lo, hi: s.admit(rows(lo, hi)),
        placed=lambda s: [(s._table, "doc_id")],
        content=lambda s: s.bands(),
    )


def _postings_case(spark):
    from affinity_spark.operators.postings import PostingsIndex

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta {'delta' if i % 2 else 'omega'}") for i in range(45)],
        "doc_id long, text string",
    )

    def rows(lo, hi):
        return docs.filter(F.col("doc_id").between(lo, hi - 1))

    return dict(
        make=lambda p: PostingsIndex(spark, p, grams=(1, 2)),
        build=lambda s, hi: s.build(rows(0, hi)),
        admit=lambda s, lo, hi: s.refresh(rows(lo, hi)),
        placed=lambda s: [
            (t, "doc_id") for t in (s._doclen, *s._tables.values())
        ],
        content=lambda s: s.positional().unionByName(
            s.tf_postings(2).withColumnRenamed("tf", "pos")
        ),
    )


def _prefix_case(spark):
    from affinity_spark.operators.prefix_index import PrefixIndex

    docs = _docs(spark, 45)

    def rows(lo, hi):
        return _arrs(spark, docs.filter(F.col("doc_id").between(lo, hi - 1)))

    return dict(
        make=lambda p: PrefixIndex(spark, p),
        build=lambda s, hi: s.build(rows(0, hi)),
        admit=lambda s, lo, hi: s.admit(rows(lo, hi)),
        placed=lambda s: [(s._prefix, "doc_id"), (s._arrays, "doc_id")],
        content=lambda s: s.pairs(),
    )


def _cluster_case(spark):
    from affinity_spark.operators.cluster_store import ClusterStore

    # the last batch joins new docs to both committed clusters {0, 6} and
    # {3, 9, 20, 21} and merges them through doc 24 (a relabel)
    edges = [(0, 6), (3, 9), (3, 20), (20, 21), (0, 23), (21, 24), (6, 24)]

    def ids(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("doc_id"))

    def pairs(lo, hi):
        return spark.createDataFrame(
            [(a, b) for a, b in edges if lo <= b < hi], "id_a long, id_b long"
        )

    return dict(
        make=lambda p: ClusterStore(spark, p),
        build=lambda s, hi: s.build(ids(0, hi), pairs(0, hi)),
        admit=lambda s, lo, hi: s.admit(ids(lo, hi), pairs(lo, hi)),
        placed=lambda s: [(s._table, "cluster_id")],
        content=lambda s: s.assignments(),
    )


def _media_case(spark):
    from affinity_spark.operators.media_index import MediaIndex
    from tests.test_media_index import _fps

    return dict(
        make=lambda p: MediaIndex(spark, p),
        build=lambda s, hi: s.build(_fps(spark, range(hi))),
        admit=lambda s, lo, hi: s.admit(_fps(spark, range(lo, hi))),
        placed=lambda s: [(s._table, "doc_id")],
        content=lambda s: s.fingerprints(),
    )


@pytest.mark.parametrize(
    "case",
    [_band_case, _postings_case, _prefix_case, _cluster_case, _media_case],
    ids=["BandIndex", "PostingsIndex", "PrefixIndex", "ClusterStore", "MediaIndex"],
)
def test_admit_after_foreign_rebucket_uses_committed_lever(spark, tmp_path, case):
    """A long-lived instance whose cached bucket count predates ANOTHER
    instance's rebucket() must re-resolve the committed lever at admit —
    a stale modulus would merge the wrong dirs while hardlinking stale
    placements (the r5 silent-corruption class, r12 ADVICE medium)."""
    c = case(spark)
    path = str(tmp_path / "store")
    a = c["make"](path)
    c["build"](a, 20)
    c["admit"](a, 20, 22)  # a's lever cache is now warm
    b = c["make"](path)
    assert b.rebucket(32) == 32
    c["admit"](a, 22, 26)  # must place under the NEW modulus
    # every committed row sits in its bucket under the committed count
    for table, col in c["placed"](a):
        want = F.pmod(F.hash(F.col(col).cast("string")), F.lit(32))
        assert table.read().filter(F.col("_bucket") != want).count() == 0
    # committed truth == a fresh build: no duplicate or stale rows
    fresh = c["make"](str(tmp_path / "fresh"))
    c["build"](fresh, 26)
    assert sorted(map(tuple, c["content"](a).collect())) == sorted(
        map(tuple, c["content"](fresh).collect())
    )
