"""Maintained near-dup cluster store — the NINTH maintained-index family:
INCREMENTAL connected components over committed tables.

``dedup_cluster_canonical`` recomputes connected components over the
whole verified-pair graph on every run; at 100 TB of continuously
arriving documents that is a corpus-sized iterative job per batch. This
store keeps the dedup endgame — the transitive cluster assignment —
as TABLE TRUTH (the reference's maintained secondary-index discipline,
``core/src/main/scala/io/amient/affinity/core/state/
KVStoreLocal.scala:195-248``): one committed (doc_id, cluster_id) row
per document, cluster id = min doc id of the component (the reference's
component-id convention, ``AnalyticsSystemSpec.scala:50-52``).

Admit protocol (the incremental-CC argument):

1. the batch's near-dup edges arrive from any pair source — the
   PrefixIndex ``probe`` (exact) or the BandIndex probe+verify (LSH
   tier): (new x corpus) + (new x new) pairs only;
2. the touched frontier is BOUNDED BY THE BATCH: new doc ids + the
   committed cluster ids of their matched partners (a broadcast
   semi-join read of the store — the corpus is never scanned);
3. a driver-side union-find over that bounded frontier merges
   components, keeping the MIN id as the label (ids ascend across
   batches, so min-label is stable: an admitted batch can never create
   a smaller id than an existing member — the same arrival contract the
   ingest pipeline enforces);
4. the rewrite is partition-pruned: new rows land in their cluster
   buckets, and ONLY rows of clusters that MERGED relabel (bucket-
   hashed on cluster_id; source and destination buckets both rewrite,
   everything else hardlinks forward).

Every pair (a, b) with a < b is discovered exactly once — when b's
batch arrives (a is already committed, or same-batch) — so the
incremental assignment equals one-shot connected components over the
full pair graph (pinned by tests and the driver oracle).

Why driver-side union-find is safe at 100 TB: its input is the batch's
edges plus one committed row per matched partner — batch-sized, not
corpus-sized (the bounded-``collect()`` class the plan audit allows:
codebooks, touched-partition lists). The corpus-sized object — the
assignment table itself — never leaves the executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.lits import local_df
from affinity_spark.operators.bucketing import (
    BucketLever,
    auto_bucket_count,
    bytes_floor_cap,
)
from affinity_spark.sources.keyed_table import KeyedTable


class ClusterStore:
    """Committed (doc_id, cluster_id) assignments with incremental merge."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        num_buckets: int = 4,
        cluster_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self._table = KeyedTable(
            spark, os.path.join(path, "clusters"), [id_col],
            ts_col="cluster_id", num_buckets=num_buckets,
            partition_col="_bucket", single_file_partitions=True,
        )
        # None = AUTO: build()/first-admit size the lever ∝ corpus and
        # COMMIT it; rows are placed by their cluster id
        self._lever = BucketLever(
            "cluster_buckets", "cluster_id", [self._table],
            lambda: self._capped_auto(self._table.read().count()),
            cluster_buckets,
        )

    @property
    def cluster_buckets(self) -> int:
        return self._lever.count

    @staticmethod
    def _capped_auto(n_rows: int) -> int:
        """Auto lever for this family: one ~16 B (id, cluster) row per
        doc; bytes-floored so buckets stay at least row-group-sized
        (finer splits only multiply read-side file opens — r13)."""
        return min(auto_bucket_count(n_rows), bytes_floor_cap(n_rows * 16))

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        return self._lever.needs_rebucket(factor)

    def rebucket(self, cluster_buckets: int | None = None) -> int:
        return self._lever.rebucket(cluster_buckets)

    # --- build / maintain -----------------------------------------------

    def build(self, doc_ids: DataFrame, pairs: DataFrame) -> None:
        """Full build: assignments from one-shot connected components over
        ``pairs`` (id_a, id_b); unmatched docs are singletons
        (cluster_id = own id)."""
        from affinity_spark.operators.graph import connected_components

        cc = connected_components(
            pairs.select("id_a", "id_b"), "id_a", "id_b"
        )
        rows = (
            doc_ids.select(self.id_col)
            .join(
                cc.select(
                    F.col("vertex").alias(self.id_col),
                    F.col("component").alias("cluster_id"),
                ),
                self.id_col,
                "left",
            )
            .select(
                self.id_col,
                F.coalesce("cluster_id", F.col(self.id_col))
                .cast("long")
                .alias("cluster_id"),
            )
        )
        self._lever.freeze(lambda: self._capped_auto(doc_ids.count()))
        self._table.overwrite(
            rows.withColumn("_bucket", self._lever.col()),
            meta=self._lever.meta(),
        )

    def exists(self) -> bool:
        return self._table.exists()

    def _coarsen_edges(
        self, batch_ids: DataFrame, batch_pairs: DataFrame
    ) -> tuple[DataFrame, dict[int, int]]:
        """Distributed pre-coarsening of a DENSE batch's edges before the
        driver fold: one connected-components round over the (new x new)
        subgraph collapses each batch component to its min-id
        representative, then every NEW endpoint in the edge set is
        replaced by its representative and the set deduped. A batch where
        every doc matches every other — O(batch²) edges — collapses to
        one representative and at most one edge per distinct committed
        partner, so the driver sees O(components + partners) edges, never
        O(batch²). Label-exact: min-label union-find is order-independent,
        so folding representative edges yields the same final labels as
        folding the raw edges (pinned by the dense-batch test). Returns
        (coarse edges, new_id -> representative map — batch-sized, the
        same collect class as the batch ids themselves)."""
        from affinity_spark.operators.graph import connected_components

        ids = batch_ids.select(self.id_col).distinct()
        inner = (
            batch_pairs.join(
                ids.withColumnRenamed(self.id_col, "id_a"), "id_a", "left_semi"
            ).join(
                ids.withColumnRenamed(self.id_col, "id_b"), "id_b", "left_semi"
            )
        )
        cc = connected_components(inner, "id_a", "id_b").persist()
        rep_of = {int(r[0]): int(r[1]) for r in cc.collect()}
        e = batch_pairs.select("id_a", "id_b")
        for side in ("id_a", "id_b"):
            rep = F.broadcast(
                cc.select(
                    F.col("vertex").alias(side),
                    F.col("component").alias(f"_rep_{side}"),
                )
            )
            e = (
                e.join(rep, side, "left")
                .withColumn(
                    side,
                    F.coalesce(F.col(f"_rep_{side}"), F.col(side)).cast("long"),
                )
                .drop(f"_rep_{side}")
            )
        coarse = e.filter(F.col("id_a") != F.col("id_b")).distinct()
        cc.unpersist()
        return coarse, rep_of

    def admit(
        self,
        batch_ids: DataFrame,
        batch_pairs: DataFrame,
        max_driver_edges: int = 200_000,
    ) -> None:
        """Incremental merge of a batch: ``batch_pairs`` are the batch's
        verified near-dup edges — (new x corpus) + (new x new), e.g.
        ``PrefixIndex.probe`` output renamed to (id_a, id_b). Bounded
        frontier, partition-pruned relabel (see module docstring).
        Replay-idempotent: a replayed batch re-derives the same merges
        and rewrites the same rows.

        The driver fold is CAPPED (r11 verdict #4): a batch whose edge
        set exceeds ``max_driver_edges`` (a pathological all-pairs batch
        is O(batch²) rows) is first pre-coarsened with a distributed CC
        round over the batch-only subgraph (:meth:`_coarsen_edges`) so
        only component representatives reach the driver; if even the
        coarsened set exceeds the cap (≈ that many distinct committed
        partners), the admit REFUSES loudly rather than OOM the driver."""
        new_ids = [
            int(r[0]) for r in batch_ids.select(self.id_col).distinct().collect()
        ]
        # fetch at most cap+1 edge rows — one job, and the common sparse
        # batch never pays a separate count() of the (often probe-derived,
        # nontrivial) pair plan
        edge_rows = (
            batch_pairs.select("id_a", "id_b")
            .limit(max_driver_edges + 1)
            .collect()
        )
        rep_of: dict[int, int] = {}
        if len(edge_rows) > max_driver_edges:
            coarse, rep_of = self._coarsen_edges(batch_ids, batch_pairs)
            edge_rows = coarse.limit(max_driver_edges + 1).collect()
            if len(edge_rows) > max_driver_edges:
                raise ValueError(
                    f"batch edge set still exceeds max_driver_edges="
                    f"{max_driver_edges} after representative coarsening "
                    "(that many DISTINCT committed partners are matched); "
                    "split the batch or raise the cap"
                )
        edges = [(int(r[0]), int(r[1])) for r in edge_rows]
        # committed cluster of every matched partner (batch-sized read;
        # broadcast semi-join keeps the store scan pruned to matches)
        partner_ids = sorted(
            ({a for a, _ in edges} | {b for _, b in edges}) - set(new_ids)
        )
        partner_cluster: dict[int, int] = {}
        if partner_ids and self.exists():
            pid_df = local_df(
                self.spark, [(p,) for p in partner_ids], f"{self.id_col} long"
            )
            partner_cluster = {
                int(r[0]): int(r[1])
                for r in self._table.read()
                .join(F.broadcast(pid_df), self.id_col)
                .select(self.id_col, "cluster_id")
                .collect()
            }
        unknown = set(partner_ids) - set(partner_cluster)
        if unknown:
            # an edge endpoint that is neither in the batch nor committed
            # would become a dangling cluster label with no member row —
            # the pair-source contract (probe against the committed corpus
            # + within-batch pairs) is violated; fail loudly, don't desync
            raise ValueError(
                f"pair source referenced {len(unknown)} ids absent from both "
                f"the batch and the committed store (e.g. {sorted(unknown)[:5]}); "
                "edges must be (new x committed) + (new x new)"
            )
        # union-find over the bounded frontier: new ids + partner clusters
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(x: int, y: int) -> None:
            rx, ry = find(x), find(y)
            if rx != ry:
                # min id wins — the component-label convention
                lo, hi = (rx, ry) if rx < ry else (ry, rx)
                parent[hi] = lo

        # under coarsening a new id's node is its batch-component
        # representative (min member id — itself when not coarsened);
        # min-label union-find over representatives yields the same final
        # labels as over the raw edges (order-independent closure)
        for n in new_ids:
            find(rep_of.get(n, n))
        for a, b in edges:
            ca = partner_cluster.get(a, a)
            cb = partner_cluster.get(b, b)
            union(ca, cb)
        new_rows = [(n, find(rep_of.get(n, n))) for n in new_ids]
        # committed clusters whose label CHANGED (two old clusters merged
        # through the batch, or an old cluster absorbed a smaller... ids
        # ascend, so labels only ever move DOWN to an older min)
        relabels = {
            c: find(c)
            for c in set(partner_cluster.values())
            if find(c) != c
        }
        if not self.exists():
            # first commit IS the corpus so far — size the lever from it;
            # needs_rebucket()/rebucket() re-freeze as the store grows
            self._lever.freeze(lambda: self._capped_auto(len(new_rows)))
            rows = local_df(
                self.spark, new_rows, f"{self.id_col} long, cluster_id long"
            )
            self._table.overwrite(
                rows.withColumn("_bucket", self._lever.col()),
                meta=self._lever.meta(),
            )
            return
        # CAS base FIRST, then re-resolve the committed lever
        # (operators/bucketing); a rebucket landing after this read fails
        # the CAS loudly (r12 ADVICE)
        base_version = self._table._current_version_dir()
        self._lever.refresh()
        # touched buckets: new rows' destination buckets + merged
        # clusters' source AND destination buckets
        touched_ids = (
            {cid for _, cid in new_rows}
            | set(relabels)
            | set(relabels.values())
        )
        if not touched_ids:
            return
        touched_buckets = sorted(
            self._lever.touched(
                local_df(
                    self.spark, [(c,) for c in touched_ids], "cluster_id long"
                )
            )
        )
        cur = self._table.read()
        # a REPLAYED batch's rows are already committed in these buckets:
        # drop any committed row for a batch id before unioning the fresh
        # delta, or the replay doubles every batch row (KeyedTable.read is
        # a raw snapshot read — nothing downstream dedups by key)
        kept = cur.filter(
            F.col("_bucket").isin(sorted(touched_buckets))
            & ~F.col(self.id_col).isin(new_ids)
        )
        if relabels:
            mapping = local_df(
                self.spark,
                [(old, new) for old, new in relabels.items()],
                "cluster_id long, _new long",
            )
            kept = (
                kept.join(F.broadcast(mapping), "cluster_id", "left")
                .select(
                    self.id_col,
                    F.coalesce("_new", "cluster_id").alias("cluster_id"),
                )
                .withColumn("_bucket", self._lever.col())
            )
        else:
            kept = kept.select(self.id_col, "cluster_id", "_bucket")
        delta = local_df(
            self.spark, new_rows, f"{self.id_col} long, cluster_id long"
        ).withColumn("_bucket", self._lever.col())
        self._table.overwrite_partitions(
            kept.unionByName(delta).select(
                *[
                    F.col(c).cast(cur.schema[c].dataType).alias(c)
                    for c in cur.columns
                ]
            ),
            touched_buckets,
            expected_base=base_version,
        )

    # --- reads ------------------------------------------------------------

    def assignments(self) -> DataFrame:
        """(doc_id, cluster_id, is_canonical) — canonical = the member
        whose id IS the cluster label (the min, by the merge rule)."""
        t = self._table.read()
        return t.select(
            self.id_col,
            "cluster_id",
            (F.col(self.id_col) == F.col("cluster_id")).alias("is_canonical"),
        )

    def maintainer(self, pair_source):
        """foreachBatch maintenance: ``pair_source(batch_df)`` returns the
        batch's verified (id_a, id_b) edges (e.g. a PrefixIndex probe);
        replay-idempotent (same batch -> same merges -> same rows)."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df, pair_source(batch_df))

        return apply


# --- build-once-per-process shared store (the QualityStore discipline) ----

_SHARED: dict = {}


def shared_clusters(
    spark: SparkSession,
    docs: DataFrame,
    corpus_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> ClusterStore:
    """Build-once-per-process near-dup ClusterStore over ``docs`` — the
    r10 QualityStore replan applied to the batch cluster-membership
    family (r13 verdict #1): ``dedup_cluster_canonical``,
    ``dedup_quality_canonical`` and ``docs_leakage_free_split`` each used
    to re-run shingle→LSH→exact-Jaccard-verify→connected-components over
    the whole corpus per query; at 100 TB that is three full-corpus dedup
    recomputations of truth this store maintains incrementally.

    The FIRST cluster query pays the one derivation (shingle arrays
    persisted across its two consumers, candidate-sized verify join,
    lineage-cut CC — exactly the old per-query chain, paid once); every
    later query is a column-pruned scan of the committed
    (doc_id, cluster_id) table. Keyed by (application id, corpus_key,
    params) with the physical corpus fingerprint in the value — a
    regenerated corpus at the same path rebuilds and evicts the
    superseded store instead of serving stale clusters."""
    import shutil
    import tempfile

    from affinity_spark.operators import dedup as dd
    from affinity_spark.operators.postings import _corpus_fingerprint

    key = (
        spark.sparkContext.applicationId,
        corpus_key,
        id_col,
        shingle_n,
        t_num,
        t_den,
    )
    fp = _corpus_fingerprint(docs)
    cached = _SHARED.get(key)
    if cached is not None:
        cached_fp, store = cached
        if cached_fp == fp and store.exists():
            return store
        del _SHARED[key]
        shutil.rmtree(store.path, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="affinity_clusters_")
    store = ClusterStore(spark, root, id_col=id_col)
    # the one-shot build path == the old per-query chain: shingle arrays
    # feed BOTH the band derivation and the verify join (persist per the
    # r5 multi-branch rule; consumed eagerly by build(), released here)
    arrs = dd.doc_shingle_arrays(docs, id_col, text_col, shingle_n).persist()
    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, id_col), id_col)
    pairs = dd.jaccard_verify_arrays(cand, arrs, id_col, t_num, t_den).select(
        "id_a", "id_b"
    )
    store.build(docs.select(id_col), pairs)
    arrs.unpersist()
    _SHARED[key] = (fp, store)
    return store
