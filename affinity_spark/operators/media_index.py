"""Maintained multimodal fingerprint index — the TENTH maintained-index
family: perceptual near-dup state for image/audio/video as TABLE TRUTH.

The r11 modality queries (``docs_image_near_dup`` / ``docs_audio_near_dup``
/ ``docs_video_near_dup``) re-decode and re-fingerprint the whole corpus
per run; at 100 TB the decode (the expensive Arrow-batched kernel) is
exactly what a deployment pays ONCE per document at ingest. This module
commits (doc_id, modality, fp) — a 63-bit perceptual fingerprint per
modality — to a doc-bucket-partitioned KeyedTable (the reference's
maintained secondary-index discipline, ``core/src/main/scala/io/amient/
affinity/core/state/KVStoreLocal.scala:195-248``, the same shape as
``operators/bandindex.py``):

- ``admit()`` decodes/fingerprints ONLY the batch (the caller supplies
  batch fingerprints — decode never re-runs over the corpus) and
  rewrites only the touched doc-id buckets (hardlinked carry-over
  elsewhere — the BandIndex delta-IO contract, auto-sized lever from
  ``operators/bucketing``);
- ``probe()`` finds the batch's near-dup partners in the committed
  corpus via the generalized pigeonhole chunk join
  (``operators/dedup.py::hamming_near_pairs`` machinery): the BATCH's
  chunks broadcast into the committed side, so the corpus is never
  shuffled and a (max_hamming+1)-chunk agreement bounds what joins —
  NEVER all-pairs;
- ``pairs()`` serves the corpus-wide near-dup pairs from the committed
  fingerprints alone — zero decodes at query time.

Fingerprints are modality-tagged in ONE table so one pair machinery
serves all modalities (the r11 three-modalities-one-machinery design,
now maintained); chunk joins key on (modality, chunk_id, chunk_val) so
modalities never cross-match.
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
from affinity_spark.sources.keyed_table import KeyedTable


def _chunk_parts(bits: int, max_hamming: int) -> list[F.Column]:
    """The pigeonhole split: (max_hamming+1) disjoint chunks of a
    ``bits``-wide fingerprint — any pair within the radius agrees on at
    least one whole chunk (the hamming_near_pairs argument)."""
    chunks = max_hamming + 1
    width = -(-bits // chunks)
    return [
        F.struct(
            F.lit(c).alias("chunk_id"),
            (
                F.shiftright(F.col("fp"), c * width)
                % F.lit(1 << min(width, bits - c * width))
            ).alias("chunk_val"),
        )
        for c in range(chunks)
    ]


def hamming_pairs_multimodal(
    fps: DataFrame, id_col: str, bits: int, max_hamming: int = 3
) -> DataFrame:
    """(modality, id_a, id_b, hamming) near-dup pairs over a
    (id, modality, fp) frame — ``dedup.hamming_near_pairs`` generalized
    to modality-tagged fingerprints in one pass: chunk join keyed on
    (modality, chunk_id, chunk_val), exact bit_count verify. NEVER
    all-pairs."""
    if not 0 < bits <= 63:
        raise ValueError("bits must be in (0, 63]")
    ch = fps.select(
        id_col, "modality", "fp",
        F.explode(F.array(*_chunk_parts(bits, max_hamming))).alias("c"),
    ).select(id_col, "modality", "fp", "c.chunk_id", "c.chunk_val")
    a = ch.select(
        F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"),
        "modality", "chunk_id", "chunk_val",
    )
    b = ch.select(
        F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"),
        "modality", "chunk_id", "chunk_val",
    )
    return (
        a.join(b, ["modality", "chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("modality", "id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("modality", "id_a", "id_b", "hamming")
    )


class MediaIndex:
    """Committed (doc_id, modality, fp) perceptual fingerprints with
    delta-IO admits and pigeonhole serving reads."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        bits: int = 63,
        max_hamming: int = 3,
        num_buckets: int = 8,
        doc_buckets: int | None = None,
    ) -> None:
        if not 0 < bits <= 63:
            raise ValueError("bits must be in (0, 63]")  # DuckDB 1<<63 rule
        self.spark = spark
        self.id_col = id_col
        self.bits = bits
        self.max_hamming = max_hamming
        self._table = KeyedTable(
            spark, os.path.join(path, "fps"), [id_col, "modality"],
            ts_col="fp", num_buckets=num_buckets, partition_col="_bucket",
            single_file_partitions=True,
        )
        # None = AUTO (operators/bucketing): build() sizes ∝ corpus and
        # COMMITS the count; later operations resolve the committed value
        self._lever = BucketLever(
            "doc_buckets", id_col, [self._table],
            lambda: self._capped_auto(
                self._table.read().select(id_col).distinct().count()
            ),
            doc_buckets,
        )

    # --- bucket lever -----------------------------------------------------

    @property
    def doc_buckets(self) -> int:
        return self._lever.count

    @staticmethod
    def _capped_auto(n_docs: int) -> int:
        """Auto lever for this family: three ~20 B modality rows per doc;
        bytes-floored so buckets stay at least row-group-sized (r13)."""
        return min(auto_bucket_count(n_docs), bytes_floor_cap(n_docs * 64))

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        return self._lever.needs_rebucket(factor)

    def rebucket(self, doc_buckets: int | None = None) -> int:
        return self._lever.rebucket(doc_buckets)

    # --- build / maintain ---------------------------------------------------

    def _normalized(self, fps: DataFrame) -> DataFrame:
        return fps.select(
            F.col(self.id_col).cast("long").alias(self.id_col),
            F.col("modality").cast("string").alias("modality"),
            F.col("fp").cast("long").alias("fp"),
        )

    def build(self, fps: DataFrame) -> None:
        """Full (re)build from a (id, modality, fp) frame — the caller's
        decode/fingerprint kernel runs once over the corpus here and
        never again (admits fingerprint only their batch). Sizes the
        bucket lever ∝ distinct docs (no manual knob) unless pinned."""
        fps = self._normalized(fps).persist()
        self._lever.freeze(
            lambda: self._capped_auto(fps.select(self.id_col).distinct().count())
        )
        self._table.overwrite(
            fps.withColumn("_bucket", self._lever.col()),
            meta=self._lever.meta(),
        )
        fps.unpersist()

    def exists(self) -> bool:
        return self._table.exists()

    def admit(
        self, new_fps: DataFrame, deleted_ids: Iterable[object] = ()
    ) -> None:
        """Incremental MERGE (the BandIndex shape): the batch's
        fingerprints replace any committed rows for the same doc ids,
        ``deleted_ids`` drop entirely; only the touched doc-id buckets
        rewrite (partition-pruned scan + hardlinked carry-over).
        Replay-idempotent — a replayed batch rewrites its own rows."""
        deleted = list(deleted_ids)  # generators are truthy when empty
        new_fps = self._normalized(new_fps)
        if not self.exists():
            # first write: size and COMMIT the lever from the batch (the
            # ClusterStore discipline) — the overwrite fall-through never
            # stamped doc_buckets, silently pinning the auto lever to the
            # legacy default 8 (r12 ADVICE)
            self.build(new_fps)
            return
        # CAS base FIRST, then re-resolve the committed lever
        # (operators/bucketing); a rebucket landing after this read fails
        # the CAS loudly instead
        base_version = self._table._current_version_dir()
        self._lever.refresh()
        touched = new_fps.select(self.id_col).distinct()
        if len(deleted) > 0:
            gone = local_df(
                self.spark, [(d,) for d in deleted], f"`{self.id_col}` bigint"
            )
            touched = touched.unionByName(gone).distinct()
        touched_p = touched.persist()
        self._lever.merge(
            self._table, new_fps.withColumn("_bucket", self._lever.col()),
            touched_p, self._lever.touched(touched_p), base_version,
        )
        touched_p.unpersist()

    # --- reads ----------------------------------------------------------------

    def fingerprints(self) -> DataFrame:
        return self._table.read().drop("_bucket")

    def _chunked(self, fps: DataFrame) -> DataFrame:
        """(id, modality, fp, chunk_id, chunk_val) — the pigeonhole split
        (see :func:`_chunk_parts`)."""
        return fps.select(
            self.id_col, "modality", "fp",
            F.explode(
                F.array(*_chunk_parts(self.bits, self.max_hamming))
            ).alias("c"),
        ).select(self.id_col, "modality", "fp", "c.chunk_id", "c.chunk_val")

    def pairs(self) -> DataFrame:
        """Corpus-wide near-dup pairs (modality, id_a, id_b, hamming)
        served from the committed fingerprints — zero decodes, identical
        to ``hamming_near_pairs`` over a fresh derivation (pinned by
        tests). Chunk join keys include modality, so modalities never
        cross-match."""
        return hamming_pairs_multimodal(
            self.fingerprints(), self.id_col, self.bits, self.max_hamming
        )

    def probe(self, batch_fps: DataFrame) -> DataFrame:
        """(modality, new_id, dup_of, hamming) — the UNADMITTED batch's
        near-dup partners in the committed corpus: the batch's chunks
        BROADCAST into the committed side (the corpus is never shuffled;
        chunk agreement bounds what joins), exact bit_count verify."""
        nb = self._chunked(self._normalized(batch_fps)).select(
            F.col(self.id_col).alias("new_id"), F.col("fp").alias("fp_b"),
            "modality", "chunk_id", "chunk_val",
        )
        eb = self._chunked(self.fingerprints()).select(
            F.col(self.id_col).alias("dup_of"), F.col("fp").alias("fp_a"),
            "modality", "chunk_id", "chunk_val",
        )
        return (
            F.broadcast(nb)
            .join(eb, ["modality", "chunk_id", "chunk_val"])
            .select("modality", "new_id", "dup_of", "fp_a", "fp_b")
            .distinct()
            .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
            .filter(F.col("hamming") <= self.max_hamming)
            .select("modality", "new_id", "dup_of", "hamming")
        )

    def maintainer(self, fingerprint_source):
        """foreachBatch maintenance: ``fingerprint_source(batch_df)``
        returns the batch's (id, modality, fp) rows (the decode kernel,
        batch-sized); replay-idempotent via the keyed partition merge."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(fingerprint_source(batch_df))

        return apply
