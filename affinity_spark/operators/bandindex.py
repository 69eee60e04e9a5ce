"""Maintained LSH band index: the corpus side of incremental dedup as a
TABLE, not a per-query derivation.

``dedup.incremental_lsh_pairs`` probes the existing corpus's band
buckets with a new batch's bands — but re-derives the corpus bands per
call. At 100 TB that derivation (tokenize + shingle + minhash the whole
corpus) dwarfs the probe itself; the deployment shape is the
reference's X1 maintained-index architecture
(``core/src/main/scala/io/amient/affinity/core/state/KVStoreLocal.scala:195-248``:
the index is UPDATED as the primary changes, and lookups never rescan
the primary), the same shape ``operators/postings.py`` gives the
retrieval family.

This module materializes (id, band_id, band_hash) as a KeyedTable:

- clustered by ``band_hash`` on write, so a probe join's shuffle reads
  skip files by parquet min/max stats (at cluster scale band_hash is
  additionally a fine partition column);
- carrying the same ``_bucket = pmod(hash(id), doc_buckets)`` hive
  partition column as PostingsIndex, so ``admit()`` (docs entering or
  leaving the corpus) rewrites ONLY the touched doc buckets and
  hardlinks the rest (``KeyedTable.overwrite_partitions`` — merge IO is
  delta-proportional);
- probed by broadcasting the BATCH's bands (a day's increment is tiny
  next to the accumulated corpus), so the index side is never shuffled.

Band values are bit-identical to ``dedup.lsh_bands_mapside`` on any
subset (banding is per-doc), so an index-served probe equals the
derive-per-query result exactly — pinned by tests/test_bandindex.py.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.lits import local_df
from affinity_spark.operators.bucketing import (
    BucketLever,
    auto_bucket_count,
    bytes_floor_cap,
)
from affinity_spark.operators.dedup import lsh_bands_mapside
from affinity_spark.sources.keyed_table import KeyedTable


class BandIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        num_buckets: int = 8,
        doc_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.id_col = id_col
        self._table = KeyedTable(
            spark, os.path.join(path, "bands"), ["band_hash"], ts_col="band_id",
            num_buckets=num_buckets, partition_col="_bucket",
            single_file_partitions=True,
        )
        # None = AUTO: build() sizes the lever ∝ corpus and COMMITS it
        self._lever = BucketLever(
            "doc_buckets", id_col, [self._table],
            lambda: auto_bucket_count(
                self._table.read().select(id_col).distinct().count()
            ),
            doc_buckets,
        )

    @property
    def doc_buckets(self) -> int:
        return self._lever.count

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        return self._lever.needs_rebucket(factor)

    def rebucket(self, doc_buckets: int | None = None) -> int:
        return self._lever.rebucket(doc_buckets)

    def _bands_delta(self, docs_arr: DataFrame) -> DataFrame:
        return lsh_bands_mapside(docs_arr, self.id_col).withColumn(
            "_bucket", self._lever.col()
        )

    # --- build / maintain -------------------------------------------------

    def build(self, docs_arr: DataFrame) -> None:
        """Full (re)build from a (id, shingles, n_shingles) frame
        (``dedup.doc_shingle_arrays``). Sizes the bucket lever ∝ corpus
        (no manual knob) unless the constructor pinned it, and commits
        the count so every later admit agrees."""
        docs_arr = docs_arr.persist()
        n_docs = docs_arr.count()
        # bytes floor: ~16 band rows/doc at ~16 B on disk — buckets below
        # a row group only multiply probe-side file opens (r13)
        self._lever.freeze(
            lambda: min(auto_bucket_count(n_docs), bytes_floor_cap(n_docs * 256))
        )
        self._table.overwrite(
            self._bands_delta(docs_arr), meta=self._lever.meta()
        )
        docs_arr.unpersist()

    def admit(
        self, new_arr: DataFrame, deleted_ids: Iterable[object] = ()
    ) -> None:
        """Incremental MERGE mirroring ``PostingsIndex.refresh``: band the
        changed/admitted docs only, drop ``deleted_ids``, rewrite ONLY the
        touched doc-id buckets (partition-pruned scan + hardlinked
        carry-over), CAS-commit. Called after a batch's survivors are
        admitted to the corpus, so the next increment dedups against
        them."""
        # materialize first: a generator is truthy even when empty and
        # can't be consumed twice — branch on the list's length
        deleted = list(deleted_ids)
        # CAS base FIRST, then re-resolve the committed lever
        # (operators/bucketing); a rebucket landing after this read fails
        # the CAS loudly (r12 ADVICE)
        base_version = self._table._current_version_dir()
        self._lever.refresh()
        touched = new_arr.select(self.id_col).distinct()
        if len(deleted) > 0:
            gone = local_df(
                self.spark, [(d,) for d in deleted], f"`{self.id_col}` bigint"
            )
            touched = touched.unionByName(gone).distinct()
        touched_p = touched.persist()
        self._lever.merge(
            self._table, self._bands_delta(new_arr), touched_p,
            self._lever.touched(touched_p), base_version,
        )
        touched_p.unpersist()

    def exists(self) -> bool:
        return self._table.exists()

    # --- reads ------------------------------------------------------------

    def bands(self) -> DataFrame:
        return self._table.read().drop("_bucket")

    def probe(self, new_arr: DataFrame) -> DataFrame:
        """Candidate (new_id, dup_of) pairs: the BATCH's bands (broadcast)
        against the maintained table — the index side is never shuffled,
        and file-skipping on band_hash bounds what it reads."""
        nb = lsh_bands_mapside(new_arr, self.id_col).select(
            F.col(self.id_col).alias("new_id"), "band_id", "band_hash"
        )
        eb = self.bands().select(
            F.col(self.id_col).alias("dup_of"), "band_id", "band_hash"
        )
        return (
            F.broadcast(nb)
            .join(eb, ["band_id", "band_hash"])
            .select("new_id", "dup_of")
            .distinct()
        )


def probe_verify(
    index: BandIndex,
    corpus_arr: DataFrame,
    new_arr: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Index-served incremental dedup: candidates from the maintained
    band table, exact integer Jaccard >= t_num/t_den verify against the
    two sides' shingle arrays. Identical output to
    ``dedup.incremental_lsh_pairs`` (banding is per-doc deterministic) —
    the corpus-band DERIVATION is what the maintained table removes."""
    cand = index.probe(new_arr)
    a = new_arr.select(
        F.col(id_col).alias("new_id"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = corpus_arr.select(
        F.col(id_col).alias("dup_of"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    return (
        cand.join(a, "new_id")
        .join(b, "dup_of")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * F.col("n_union"))
        .select("new_id", "dup_of", "n_common", "n_union")
    )
