"""Maintained near-dup cluster store (operators/cluster_store.py — the
ninth maintained family): incremental admits == one-shot connected
components, cross-batch cluster MERGE relabels, partition-pruned
rewrites (hardlinked untouched buckets), replay idempotence, streaming
maintenance via a PrefixIndex pair source."""

import os

from pyspark.sql import functions as F

from affinity_spark.operators import dedup as dd
from affinity_spark.operators.cluster_store import ClusterStore
from affinity_spark.operators.prefix_index import PrefixIndex

BODY = "the quick brown fox jumps over the lazy dog and keeps running "


def _docs(spark, ids):
    """Near-dup clusters keyed by (i % 4) for i % 2 == 0; odd ids unique."""
    rows = []
    for i in ids:
        if i % 2 == 0:
            text = BODY + f"cluster tag {i % 4}"
        else:
            text = f"unique document {i} " + " ".join(
                f"u{i}w{j}" for j in range(12)
            )
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _arrs(spark, df):
    return dd.doc_shingle_arrays(df, "doc_id", "text", 3)


def _exact_pairs(spark, df):
    arrs = _arrs(spark, df)
    sh = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    cand = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return dd.jaccard_verify_arrays(cand, arrs, "doc_id", 1, 2).select(
        "id_a", "id_b"
    )


def _assign(st):
    return {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in st.assignments().collect()
    }


def _expected(spark, df):
    from affinity_spark.operators.graph import connected_components

    cc = connected_components(_exact_pairs(spark, df), "id_a", "id_b")
    rows = df.select("doc_id").join(
        cc.select(F.col("vertex").alias("doc_id"),
                  F.col("component").alias("cluster_id")),
        "doc_id", "left",
    ).select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    return {
        (r["doc_id"], r["cluster_id"], r["doc_id"] == r["cluster_id"])
        for r in rows.collect()
    }


def test_incremental_admits_equal_one_shot_cc(spark, tmp_path):
    full = _docs(spark, range(24))
    st = ClusterStore(spark, str(tmp_path / "cs"))
    b0 = full.filter(F.col("doc_id") < 8)
    st.build(b0.select("doc_id"), _exact_pairs(spark, b0))
    for lo, hi in ((8, 16), (16, 24)):
        batch = full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        upto = full.filter(F.col("doc_id") < hi)
        # edges visible to this batch: (new x committed) + (new x new)
        edges = _exact_pairs(spark, upto).filter(
            (F.col("id_b") >= lo) | (F.col("id_a") >= lo)
        )
        st.admit(batch.select("doc_id"), edges)
    assert _assign(st) == _expected(spark, full)


def test_cross_batch_cluster_merge_relabels(spark, tmp_path):
    """Two committed clusters joined by a later doc must merge to the min
    label — the relabel cascade the one-shot CC gets for free. admit()
    is pair-source-agnostic, so the bridge edges are fed directly
    (Jaccard geometry can't make one doc >=1/2-similar to two disjoint
    texts; LSH/embedding pair sources can)."""

    def ids(vals):
        return spark.createDataFrame([(v,) for v in vals], "doc_id long")

    def edges(pairs):
        return spark.createDataFrame(
            list(pairs) or [(None, None)], "id_a long, id_b long"
        ).filter(F.col("id_a").isNotNull())

    st = ClusterStore(spark, str(tmp_path / "cs"))
    st.build(ids([0, 1]), edges([(0, 1)]))
    st.admit(ids([10, 11]), edges([(10, 11)]))
    got = {r["doc_id"]: r["cluster_id"] for r in st.assignments().collect()}
    assert got == {0: 0, 1: 0, 10: 10, 11: 10}
    # the bridge: one later doc adjacent to BOTH committed clusters
    st.admit(ids([100]), edges([(1, 100), (11, 100)]))
    got = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in st.assignments().collect()
    }
    assert got == {
        (0, 0, True), (1, 0, False), (10, 0, False), (11, 0, False),
        (100, 0, False),
    }


def test_admit_is_replay_idempotent_and_prunes_buckets(spark, tmp_path):
    full = _docs(spark, range(20))
    st = ClusterStore(spark, str(tmp_path / "cs"))
    b0 = full.filter(F.col("doc_id") < 16)
    st.build(b0.select("doc_id"), _exact_pairs(spark, b0))
    batch = full.filter(F.col("doc_id") >= 16)
    edges = _exact_pairs(spark, full).filter(F.col("id_b") >= 16)
    st.admit(batch.select("doc_id"), edges)
    after = _assign(st)

    def inodes(vdir, bkt):
        d = os.path.join(vdir, f"_bucket={bkt}")
        if not os.path.isdir(d):
            return set()
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # snapshot NOW: older version dirs are reclaimed by later commits
    mid = st._table._current_version_dir()
    mid_inodes = {bkt: inodes(mid, bkt) for bkt in range(8)}
    # replay: same rows, no drift — and no DUPLICATES (the set compare
    # alone would mask a replayed batch doubling its rows in the bucket)
    st.admit(batch.select("doc_id"), edges)
    assert _assign(st) == after
    assert st.assignments().count() == 20
    # the replay rewrote only the batch's cluster buckets; every other
    # bucket hardlinked forward (same inodes)
    new = st._table._current_version_dir()
    touched = set(
        st._lever.touched(
            st.spark.createDataFrame(
                [(c,) for c in
                 {r["cluster_id"]
                  for r in st.assignments().collect()
                  if r["doc_id"] >= 16}],
                "cluster_id long",
            )
        )
    )
    carried = rewritten = 0
    for bkt in range(8):
        old = mid_inodes[bkt]
        if not old:
            continue
        if bkt in touched:
            rewritten += 1
        else:
            assert inodes(new, bkt) == old
            carried += 1
    assert carried > 0 and rewritten > 0


def test_admit_rejects_edges_to_unknown_ids(spark, tmp_path):
    """An edge endpoint neither in the batch nor committed is a pair-source
    contract violation — it must fail loudly, not commit a dangling
    cluster label with no member row."""
    import pytest

    def ids(vals):
        return spark.createDataFrame([(v,) for v in vals], "doc_id long")

    def edges(pairs):
        return spark.createDataFrame(list(pairs), "id_a long, id_b long")

    st = ClusterStore(spark, str(tmp_path / "cs"))
    st.build(ids([0, 1]), edges([(0, 1)]))
    with pytest.raises(ValueError, match="absent from both"):
        st.admit(ids([10]), edges([(7, 10)]))  # 7 was never admitted
    # the store is untouched by the rejected admit
    assert {r["doc_id"] for r in st.assignments().collect()} == {0, 1}


def test_dense_batch_coarsens_before_driver_fold(spark, tmp_path):
    """A pathological all-pairs batch (every doc a near-dup of every
    other: O(batch²) edges) must NOT reach the driver raw (r11 verdict
    #4): with the cap forced below the edge count, admit pre-coarsens
    with a distributed CC round and the resulting assignments are
    IDENTICAL to the uncapped fold — including merges through committed
    partners."""

    def ids(vals):
        return spark.createDataFrame([(v,) for v in vals], "doc_id long")

    def edges(pairs):
        return spark.createDataFrame(list(pairs), "id_a long, id_b long")

    committed = [0, 1, 2, 3]
    batch = list(range(10, 40))
    # all-pairs within the batch (435 edges) + two partner edges that
    # must pull the whole blob into committed cluster 0's component
    dense = [(a, b) for a in batch for b in batch if a < b]
    partnered = dense + [(0, 10), (2, 25)]

    big = ClusterStore(spark, str(tmp_path / "big"))
    big.build(ids(committed), edges([(0, 2)]))
    big.admit(ids(batch), edges(partnered))  # uncapped: raw driver fold
    expected = _assign(big)

    capped = ClusterStore(spark, str(tmp_path / "capped"))
    capped.build(ids(committed), edges([(0, 2)]))
    capped.admit(ids(batch), edges(partnered), max_driver_edges=50)
    assigned = _assign(capped)
    assert assigned == expected
    # the partner edges pulled the whole dense blob into cluster 0
    assert {c for d, c, _ in assigned if d in batch} == {0}


def test_dense_batch_refuses_above_cap_after_coarsening(spark, tmp_path):
    """If even the COARSENED edge set exceeds the cap (that many distinct
    committed partners), admit refuses loudly instead of OOMing the
    driver — and leaves the store untouched."""
    import pytest

    def ids(vals):
        return spark.createDataFrame([(v,) for v in vals], "doc_id long")

    def edges(pairs):
        return spark.createDataFrame(list(pairs), "id_a long, id_b long")

    st = ClusterStore(spark, str(tmp_path / "cs"))
    committed = list(range(8))
    st.build(ids(committed), edges([]))
    before = _assign(st)
    # a 3-doc batch matching 6 DISTINCT committed partners: coarsening
    # cannot reduce below 6 edges (distinct partners survive dedup)
    batch = [100, 101, 102]
    pairs = [(p, 100 + (p % 3)) for p in range(6)]
    with pytest.raises(ValueError, match="after representative coarsening"):
        st.admit(ids(batch), edges(pairs), max_driver_edges=4)
    assert _assign(st) == before


def test_streaming_maintainer_with_prefix_pair_source(spark, tmp_path):
    """The composed maintained pipeline: PrefixIndex supplies exact
    (new x corpus) edges, ClusterStore folds them in, both admit the
    batch — micro-batched ingest equals one-shot CC at the end."""
    full = _docs(spark, range(24))
    pfx = PrefixIndex(spark, str(tmp_path / "pfx"))
    cs = ClusterStore(spark, str(tmp_path / "cs"))
    b0 = full.filter(F.col("doc_id") < 8)
    pfx.build(_arrs(spark, b0))
    cs.build(b0.select("doc_id"), _exact_pairs(spark, b0))

    def pair_source(batch_df):
        arrs = _arrs(spark, batch_df)
        cross = pfx.probe(arrs).select(
            F.col("dup_of").alias("id_a"), F.col("new_id").alias("id_b")
        )
        intra = _exact_pairs(spark, batch_df)
        out = cross.unionByName(intra)
        pfx.admit(arrs)  # corpus memory grows batch by batch
        return out

    apply = cs.maintainer(pair_source)
    for lo, hi in ((8, 16), (16, 24)):
        apply(
            full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            lo // 8,
        )
    assert _assign(cs) == _expected(spark, full)


def test_streaming_maintainer_with_ivf_pair_source(spark, tmp_path):
    """The embedding twin of the prefix-source test: the maintained IVF
    assignment table supplies (new x committed) cell-confined cosine
    edges, ClusterStore folds them in — micro-batched ingest equals
    one-shot within-cell CC (the emb_incremental_clusters contract)."""
    import random

    from affinity_spark.functions.vectors import cosine_similarity
    from affinity_spark.operators.ivf import assign
    from affinity_spark.operators.ivf_index import IVFIndex
    from affinity_spark.operators.similarity import cosine_join_within

    rng = random.Random(7)
    # 3 well-separated directions; members of a direction are near-dups
    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    rows = []
    for i in range(24):
        d = base[i % 3]
        rows.append(
            (i, [x + rng.uniform(-0.05, 0.05) for x in d])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [v for _, v in rows[:3]]

    ivf = IVFIndex(spark, str(tmp_path / "ivf"), id_col="vec_id")
    cs = ClusterStore(spark, str(tmp_path / "cs"), id_col="vec_id")

    def pairs_within(df):
        ab = assign(df, seeds)
        return cosine_join_within(ab, "cell", 0.9, "vec_id", "embedding").select(
            "id_a", "id_b"
        )

    b0 = emb.filter(F.col("vec_id") < 8)
    ivf.build(b0, codebook=seeds)
    cs.build(b0.select("vec_id"), pairs_within(b0))

    def pair_source(batch_df):
        ab = assign(batch_df, seeds)
        cells = sorted(r[0] for r in ab.select("cell").distinct().collect())
        cross = (
            ivf.vectors()
            .filter(F.col("cell").isin(cells))
            .select(
                F.col("vec_id").alias("id_a"),
                F.col("embedding").alias("v_a"),
                "cell",
            )
            .join(
                F.broadcast(
                    ab.select(
                        F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("v_b"),
                        "cell",
                    )
                ),
                "cell",
            )
            .select(
                "id_a", "id_b",
                cosine_similarity(F.col("v_a"), F.col("v_b")).alias("c"),
            )
            .filter(F.col("c") >= 0.9)
            .select("id_a", "id_b")
        )
        out = cross.unionByName(pairs_within(batch_df))
        ivf.admit(batch_df)
        return out

    apply = cs.maintainer(pair_source)
    for lo, hi in ((8, 16), (16, 24)):
        apply(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), lo
        )

    # expected: one-shot within-cell cosine>=0.9 CC over the full corpus
    from affinity_spark.operators.graph import connected_components

    all_assigned = assign(emb, seeds)
    pairs = cosine_join_within(
        all_assigned, "cell", 0.9, "vec_id", "embedding"
    ).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    expected = {
        (r["vec_id"], r["cluster_id"])
        for r in emb.select("vec_id")
        .join(
            cc.select(
                F.col("vertex").alias("vec_id"),
                F.col("component").alias("cluster_id"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id")
        )
        .collect()
    }
    got = {
        (r["vec_id"], r["cluster_id"]) for r in cs.assignments().collect()
    }
    assert got == expected
    # the near-dup geometry actually formed multi-member clusters
    assert len({c for _, c in got}) < 24
