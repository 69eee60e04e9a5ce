"""Maintained PPJoin prefix index — the maintained-index (X1) treatment
applied to EXACT all-pairs Jaccard.

``operators/dedup.py::ppjoin_pairs`` re-derives the whole pruning
scaffold per run: explode the corpus shingles, count document frequency,
rank every doc's shingles under the global (df, shingle) order, cut the
prefixes — only THEN does the candidate join start. At 100 TB that
derivation is a corpus-sized explode + two shuffles paid on every query.
This module commits the scaffold once (the reference's maintained
secondary-index discipline, ``core/src/main/scala/io/amient/affinity/
core/state/KVStoreLocal.scala:195-248``) into three KeyedTables:

- ``df``      (shingle, df) — the global order key, FROZEN at build time;
- ``prefix``  (shingle, doc_id, rn, n) — each doc's prefix entries under
  that order (rn = the doc-local rank, n = the doc's shingle count);
- ``arrays``  (doc_id, shingles, n_shingles) — the verify side.

The serving read (:meth:`pairs`) is then index-sized: a self-join of the
committed prefix entries (length + positional filters in the same
shuffle) and the exact ``array_intersect`` verify against the committed
arrays — no explode, no df aggregation, no per-doc rank window anywhere
in the plan (pinned by tests/test_prefix_index.py).

FROZEN-ORDER EXACTNESS (the IVF codebook discipline): PPJoin's prefix
theorem needs *some* global total order shared by all compared docs —
df-ascending is only the pruning heuristic, not a correctness
requirement. Admits therefore rank new docs under the order frozen at
build time (``(coalesce(df, 0), shingle)``; a shingle unseen at build
ranks as rarest, which is also the right heuristic for it). Results stay
bit-identical to the exhaustive join at any drift; only pruning power
decays, and :meth:`needs_reorder` is the growth trigger for a fresh
build — exactly how the IVF index treats its codebook.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.operators.bucketing import (
    BucketLever,
    auto_bucket_count,
    bytes_floor_cap,
)
from affinity_spark.operators.dedup import jaccard_verify_arrays
from affinity_spark.sources.keyed_table import KeyedTable


class PrefixIndex:
    """Committed PPJoin prefix scaffold with a frozen global order."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        t_num: int = 1,
        t_den: int = 2,
        num_buckets: int = 8,
        doc_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.t_num = t_num
        self.t_den = t_den
        self._df = KeyedTable(
            spark, os.path.join(path, "df"), ["shingle"], ts_col="df",
            num_buckets=num_buckets,
        )
        # prefix + arrays are hive-partitioned by a doc-id bucket so an
        # admit rewrites ONLY the batch's buckets (hardlinked carry-over
        # elsewhere) — the BandIndex delta-IO contract; single-file dirs
        # keep file count == bucket count under the ∝-corpus lever
        self._prefix = KeyedTable(
            spark, os.path.join(path, "prefix"), ["shingle", id_col],
            ts_col="rn", num_buckets=num_buckets, partition_col="_bucket",
            single_file_partitions=True,
        )
        self._arrays = KeyedTable(
            spark, os.path.join(path, "arrays"), [id_col],
            ts_col="n_shingles", num_buckets=num_buckets,
            partition_col="_bucket", single_file_partitions=True,
        )
        # None = AUTO: build() sizes buckets ∝ corpus (operators/bucketing)
        # and commits the count; every later operation resolves the
        # COMMITTED count, so an attaching constructor can't misplace rows
        self._lever = BucketLever(
            "doc_buckets", id_col, [self._prefix, self._arrays],
            self._capped_auto_from_arrays, doc_buckets,
        )
        # memoized serving DataFrame: the pairs() plan is ~2 s of
        # analysis/optimization at sf0.1 — twice the execution — and a
        # serving system compiles its read once. Invalidated by
        # build/admit (the reads pin version dirs at analysis time).
        self._pairs_df: DataFrame | None = None

    # --- bucket lever (auto, committed-wins) ----------------------------------

    @property
    def doc_buckets(self) -> int:
        return self._lever.count

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        return self._lever.needs_rebucket(factor)

    @staticmethod
    def _capped_auto(n_docs: int, total_shingles: int) -> int:
        """Auto lever for this family: a doc fans into ~n_shingles hash
        rows (~10 B on disk, arrays table dominant); bytes-floored so
        buckets stay at least row-group-sized — finer splits only
        multiply probe-side file opens (r13)."""
        return min(
            auto_bucket_count(n_docs), bytes_floor_cap(total_shingles * 10)
        )

    def _capped_auto_from_arrays(self) -> int:
        row = self._arrays.read().agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_shingles").alias("sh")
        ).collect()[0]
        return self._capped_auto(int(row["n"]), int(row["sh"] or 0))

    def rebucket(self, doc_buckets: int | None = None) -> int:
        """Re-place both partitioned tables (operators/bucketing). The
        frozen df ORDER is untouched, so served pairs are bit-identical
        before and after (pinned by tests). Returns the new count."""
        self._check_sync()
        new = self._lever.rebucket(doc_buckets)
        self._pairs_df = None
        return new

    # --- derivation ---------------------------------------------------------

    def _prefix_entries(
        self, docs_arr: DataFrame, dfc: DataFrame
    ) -> DataFrame:
        """Each doc's prefix entries under the (df, shingle) order:
        rn <= n - ceil(t*n) + 1. ``dfc`` supplies the order key; docs'
        shingles absent from it rank as df=0 (rarest-first, and exact —
        see the module docstring)."""
        sh = docs_arr.select(
            F.col(self.id_col),
            F.col("n_shingles").alias("n"),
            F.explode("shingles").alias("shingle"),
        )
        return self._prefix_entries_from(sh, dfc)

    def _with_hashes(self, docs_arr: DataFrame) -> DataFrame:
        """The committed verify row: (id, shingles, n_shingles, hashes)
        where hashes = xxhash64 per shingle. The hash arrays drive the
        PRE-verify (an intersect upper bound on primitive longs — array
        ops on primitives ride codegen fast paths where string arrays pay
        per-element UTF8 compares); the string arrays remain the exact
        final verify, so collisions can only ADD a pair to the exact
        stage, never drop one."""
        return docs_arr.select(
            self.id_col,
            "shingles",
            "n_shingles",
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("hashes"),
        )

    def _prefix_entries_from(self, sh: DataFrame, dfc: DataFrame) -> DataFrame:
        """Prefix entries from an already-exploded (id, n, shingle) frame."""
        from pyspark.sql import Window

        ranked = sh.join(dfc, "shingle", "left").withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(self.id_col).orderBy(
                    F.asc(F.coalesce(F.col("df"), F.lit(0))),
                    F.asc("shingle"),
                )
            ),
        )
        t_num, t_den = self.t_num, self.t_den
        return ranked.filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({t_num} * n + {t_den} - 1) div {t_den}")
            + F.lit(1)
        ).select("shingle", self.id_col, "rn", "n")

    def build(self, docs_arr: DataFrame) -> None:
        """Full build from an (id, shingles, n_shingles) frame: freeze the
        df order, commit prefixes and verify arrays. All three tables are
        stamped with one ``sync`` token; the serving reads assert the
        prefix and arrays tokens MATCH, so a crash mid-rebuild (new arrays,
        old prefix or vice versa) reads as a loud error instead of
        silently dropped pairs (the QualityStore torn-commit discipline)."""
        import uuid

        sync = uuid.uuid4().hex
        docs_arr = docs_arr.persist()
        row = docs_arr.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_shingles").alias("sh")
        ).collect()[0]
        n_docs = int(row["n"])
        # the lever, chosen ∝ corpus (no manual knob) unless pinned by the
        # constructor; committed below so every later operation agrees
        self._lever.freeze(lambda: self._capped_auto(n_docs, int(row["sh"] or 0)))
        dfc = (
            docs_arr.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )
        self._df.overwrite(
            dfc, meta={"n_at_build": n_docs, "sync": sync}
        )
        # arrays BEFORE prefix: candidates are driven by prefix rows, so a
        # tear after this commit leaves extra (unused) verify rows — never
        # a candidate whose verify side is missing. Both carry df_sync =
        # the ORDER they were ranked under: a crash right after the df
        # commit above leaves old prefix/arrays (mutually consistent)
        # under a NEW order — their own sync tokens still match, so only
        # the df_sync tie makes that tear loud (r11 ADVICE).
        meta = {"sync": sync, "df_sync": sync, **self._lever.meta()}
        self._arrays.overwrite(
            self._with_hashes(docs_arr).withColumn("_bucket", self._lever.col()),
            meta=meta,
        )
        self._prefix.overwrite(
            self._prefix_entries(docs_arr, self._df.read()).withColumn(
                "_bucket", self._lever.col()
            ),
            meta=meta,
        )
        docs_arr.unpersist()
        self._pairs_df = None

    def _check_sync(self) -> None:
        """Raise if the prefix and arrays tables were not committed by the
        same completed build/admit — a torn multi-table commit would
        otherwise DROP true pairs silently (candidates verify via an inner
        join on the arrays table)."""
        pm = self._prefix.commit_meta()
        am = self._arrays.commit_meta()
        if pm.get("sync") != am.get("sync"):
            raise RuntimeError(
                f"prefix/arrays sync tokens diverge ({pm.get('sync')} != "
                f"{am.get('sync')}): a build or admit was torn mid-commit; "
                "replay the last batch (admits are replay-idempotent) or "
                "rebuild"
            )
        self._check_order()

    def _check_order(self) -> None:
        """Raise if the df (frozen order) table is not the one the
        committed prefix/arrays rows were ranked under — build() commits
        df FIRST, so a crash right after it leaves old prefix/arrays
        (mutually consistent, their own sync tokens MATCH) beneath a NEW
        order; probe() would then rank batches under the new order against
        rows ranked under the old one and silently drop true pairs (r11
        ADVICE). Unlike a prefix/arrays tear, batch replay cannot heal an
        order tear — only a rebuild re-freezes."""
        df_sync = self._df.commit_meta().get("sync")
        pm = self._prefix.commit_meta()
        ranked_under = pm.get("df_sync", self._arrays.commit_meta().get("df_sync"))
        if ranked_under is not None and df_sync != ranked_under:
            raise RuntimeError(
                f"df order token ({df_sync}) does not match the order the "
                f"prefix/arrays rows were ranked under ({ranked_under}): a "
                "build was torn after the df commit; rebuild to re-freeze"
            )

    def exists(self) -> bool:
        return (
            self._df.exists()
            and self._prefix.exists()
            and self._arrays.exists()
        )

    def admit(self, docs_arr: DataFrame) -> None:
        """Incremental admit of NEW/REPLACED docs: rank the batch under
        the FROZEN order and MERGE its prefix entries and arrays into the
        touched doc-id buckets only (partition-pruned scan + hardlinked
        carry-over elsewhere — the BandIndex delta-IO contract; IO ∝
        batch, the corpus is never re-derived or rewritten). Exact at any
        drift (frozen-order property); re-freeze via :meth:`build` when
        :meth:`needs_reorder` fires."""
        # never rank a batch under a torn ORDER (replay can't heal that);
        # a prefix/arrays sync tear is fine here — replaying the batch via
        # this very admit is the documented healing path
        self._check_order()
        # CAS anchors FIRST, then re-resolve the committed lever
        # (operators/bucketing) — both commits anchor to the versions the
        # lever was resolved against, so a rebucket landing mid-admit
        # fails the CAS loudly instead of merging stale placements
        bases = {
            t: t._current_version_dir() for t in (self._arrays, self._prefix)
        }
        self._lever.refresh()
        docs_arr = docs_arr.persist()
        touched = docs_arr.select(self.id_col).distinct().persist()
        buckets = self._lever.touched(touched)
        entries = self._prefix_entries(docs_arr, self._df.read()).withColumn(
            "_bucket", self._lever.col()
        )
        arrays_delta = self._with_hashes(docs_arr).withColumn(
            "_bucket", self._lever.col()
        )
        # arrays BEFORE prefix (the build-order rule): a crash between the
        # two commits then reads as "batch not yet admitted" — extra verify
        # rows are unused, whereas committed prefix entries without their
        # verify arrays would drop true pairs silently. One shared sync
        # token marks the pair of commits; _check_sync makes a tear loud.
        import uuid

        sync = uuid.uuid4().hex
        for table, delta in ((self._arrays, arrays_delta), (self._prefix, entries)):
            self._lever.merge(
                table, delta, touched, buckets, bases[table],
                {**table.commit_meta(), "sync": sync},
            )
        touched.unpersist()
        docs_arr.unpersist()
        self._pairs_df = None

    def needs_reorder(self, max_growth: float = 0.5) -> bool:
        """True when the corpus grew past ``max_growth`` of the build-time
        size — the frozen df order's pruning power decays with drift."""
        n0 = int(self._df.commit_meta().get("n_at_build", 0))
        if n0 <= 0:
            return False
        return self._arrays.read().count() > n0 * (1.0 + max_growth)

    def maintainer(self):
        """foreachBatch streaming maintenance — the maintained-family
        contract: each micro-batch of (id, shingles, n_shingles) rows is
        admitted under the frozen order. The keyed partition merge makes
        replay idempotent (a replayed batch rewrites its own rows); no
        fence needed — nothing here is additive."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df)

        return apply

    # --- serving reads ------------------------------------------------------

    def probe(self, batch_arr: DataFrame) -> DataFrame:
        """EXACT Jaccard >= t pairs of an UNADMITTED batch against the
        indexed corpus — (new x existing) only, never corpus x corpus,
        and the corpus side is NEVER shuffled: the batch's prefix entries
        (ranked under the frozen order; df rows pruned to the batch's own
        shingles via broadcast before the left join, so the
        shingle-domain table is map-side) broadcast into the committed
        prefix table, length + positional filters ride the
        candidate-sized aggregate, and the verify joins committed + batch
        arrays. The exactness tier of ``dedup_incremental_batch``'s
        LSH probe: the prefix filter is lossless where banding is
        recall-bounded. Output: (new_id, dup_of, n_common, n_union)."""
        self._check_sync()
        # the batch's shingle derivation (gram hashing — the expensive
        # map-side kernel) feeds THREE branches below: the df-pruning
        # broadcast, the prefix entries, and the verify arrays. Unpersisted
        # it re-evaluates per branch as serial single-split stages (r13
        # profile: 3× ~0.6 s scans in a 3.1 s probe). Batch-sized by
        # definition, so the persist is bounded; released by the caller's
        # cadence via cache.track (the dedup_winnow_pairs precedent).
        from affinity_spark import cache

        batch_arr = cache.track(batch_arr.persist())
        batch_sh = batch_arr.select(
            F.col(self.id_col),
            F.col("n_shingles").alias("n"),
            F.explode("shingles").alias("shingle"),
        )
        dfc_pruned = self._df.read().join(
            F.broadcast(batch_sh.select("shingle").distinct()), "shingle"
        )
        bp = self._prefix_entries_from(batch_sh, F.broadcast(dfc_pruned))
        t_num, t_den = self.t_num, self.t_den
        a = self._prefix.read().select(
            F.col(self.id_col).alias("dup_of"), "shingle",
            F.col("n").alias("n_a"), F.col("rn").alias("rn_a"),
        )
        b = F.broadcast(
            bp.select(
                F.col(self.id_col).alias("new_id"), "shingle",
                F.col("n").alias("n_b"), F.col("rn").alias("rn_b"),
            )
        )
        cand = (
            a.join(b, "shingle")
            .filter(
                F.lit(t_den) * F.least("n_a", "n_b")
                >= F.lit(t_num) * F.greatest("n_a", "n_b")
            )
            .groupBy("dup_of", "new_id")
            .agg(
                F.count(F.lit(1)).alias("_npp"),
                F.max("rn_a").alias("_ia"),
                F.max("rn_b").alias("_jb"),
                F.first("n_a").alias("_na"),
                F.first("n_b").alias("_nb"),
            )
            .filter(
                F.col("_npp")
                + F.least(
                    F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_jb")
                )
                >= F.expr(
                    f"({t_num} * (_na + _nb) + {t_num} + {t_den} - 1) "
                    f"div ({t_num} + {t_den})"
                )
            )
            .select("new_id", "dup_of")
        )
        # staged verify (see _staged_verify): hash pre-verify rejects the
        # candidate overshoot on primitive longs, strings confirm exactly
        arrays = self._arrays.read()
        hashed_batch = self._with_hashes(batch_arr)
        hx = arrays.select(
            F.col(self.id_col).alias("dup_of"),
            F.col("hashes").alias("h_a"),
            F.col("n_shingles").alias("na"),
        )
        hy = hashed_batch.select(
            F.col(self.id_col).alias("new_id"),
            F.col("hashes").alias("h_b"),
            F.col("n_shingles").alias("nb"),
        )
        pre = (
            cand.join(hx, "dup_of")
            .join(F.broadcast(hy), "new_id")
            .withColumn("_ub", F.size(F.array_intersect("h_a", "h_b")))
            .filter(
                F.lit(t_den) * F.col("_ub")
                >= F.lit(t_num) * (F.col("na") + F.col("nb") - F.col("_ub"))
            )
            .select("new_id", "dup_of")
        )
        x = arrays.select(
            F.col(self.id_col).alias("dup_of"),
            F.col("shingles").alias("sh_a"),
            F.col("n_shingles").alias("n_a"),
        )
        y = batch_arr.select(
            F.col(self.id_col).alias("new_id"),
            F.col("shingles").alias("sh_b"),
            F.col("n_shingles").alias("n_b"),
        )
        out = (
            pre.join(x, "dup_of")
            .join(F.broadcast(y), "new_id")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "n_union", F.col("n_a") + F.col("n_b") - F.col("n_common")
            )
            .filter(
                F.lit(t_den) * F.col("n_common")
                >= F.lit(t_num) * F.col("n_union")
            )
            .select("new_id", "dup_of", "n_common", "n_union")
        )
        return out

    # --- serving reads (corpus-wide) ----------------------------------------

    def pairs(self) -> DataFrame:
        """Exact all-pairs Jaccard >= t over the indexed corpus, served
        entirely from the committed tables: prefix self-join (length +
        positional filters in the candidate shuffle) + array verify.
        Bit-identical to the exhaustive inverted join. The DataFrame is
        memoized until the next build/admit — plan compilation is paid
        once, not per read."""
        if self._pairs_df is not None:
            return self._pairs_df
        self._check_sync()
        prefix = self._prefix.read()
        a = prefix.select(
            F.col(self.id_col).alias("id_a"), "shingle",
            F.col("n").alias("n_a"), F.col("rn").alias("rn_a"),
        )
        b = prefix.select(
            F.col(self.id_col).alias("id_b"), "shingle",
            F.col("n").alias("n_b"), F.col("rn").alias("rn_b"),
        )
        t_num, t_den = self.t_num, self.t_den
        cand = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.lit(t_den) * F.least("n_a", "n_b")
                >= F.lit(t_num) * F.greatest("n_a", "n_b")
            )
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("_npp"),
                F.max("rn_a").alias("_ia"),
                F.max("rn_b").alias("_jb"),
                F.first("n_a").alias("_na"),
                F.first("n_b").alias("_nb"),
            )
            .filter(
                F.col("_npp")
                + F.least(
                    F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_jb")
                )
                >= F.expr(
                    f"({t_num} * (_na + _nb) + {t_num} + {t_den} - 1) "
                    f"div ({t_num} + {t_den})"
                )
            )
            .select("id_a", "id_b")
        )
        self._pairs_df = self._staged_verify(cand)
        return self._pairs_df

    def _staged_verify(self, cand: DataFrame) -> DataFrame:
        """Two-stage exact verify: (1) PRE-verify on the committed
        xxhash64 arrays — |H_a ∩ H_b| is an UPPER bound on the true
        overlap (every common shingle contributes a common hash; a
        collision can only inflate it), and J(x,y) = c/(n_a+n_b-c) is
        increasing in c, so filtering on the bound never drops a true
        pair; (2) exact string-array verify on the survivors only. The
        candidate set typically overshoots true pairs by orders of
        magnitude (sf0.1: 119,907 → 256), and stage 1 does the rejection
        on primitive-long intersects instead of attaching string arrays
        to every candidate — the r8 primitive-fast-path rule applied to
        the verify tier."""
        arrays = self._arrays.read()
        t_num, t_den = self.t_num, self.t_den
        ha = arrays.select(
            F.col(self.id_col).alias("id_a"),
            F.col("hashes").alias("h_a"),
            F.col("n_shingles").alias("na"),
        )
        hb = arrays.select(
            F.col(self.id_col).alias("id_b"),
            F.col("hashes").alias("h_b"),
            F.col("n_shingles").alias("nb"),
        )
        pre = (
            cand.join(ha, "id_a")
            .join(hb, "id_b")
            .withColumn("_ub", F.size(F.array_intersect("h_a", "h_b")))
            .filter(
                F.lit(t_den) * F.col("_ub")
                >= F.lit(t_num) * (F.col("na") + F.col("nb") - F.col("_ub"))
            )
            .select("id_a", "id_b")
        )
        return jaccard_verify_arrays(
            pre,
            arrays.select(self.id_col, "shingles", "n_shingles"),
            self.id_col,
            t_num,
            t_den,
        )


#: (application id, corpus key) -> (corpus fingerprint, PrefixIndex)
_SHARED: dict = {}


def shared_prefix_index(
    spark: SparkSession,
    docs_arr: DataFrame,
    corpus_key: str,
    id_col: str = "doc_id",
    t_num: int = 1,
    t_den: int = 2,
) -> PrefixIndex:
    """Build-once-per-process prefix index over ``docs_arr``, keyed by
    (application id, corpus_key); the corpus fingerprint lives in the
    VALUE, so a regenerated corpus at the same path rebuilds AND rmtrees
    the superseded index (the shared_postings contract)."""
    import shutil
    import tempfile

    from affinity_spark.operators.postings import _corpus_fingerprint

    key = (spark.sparkContext.applicationId, corpus_key, t_num, t_den)
    fp = _corpus_fingerprint(docs_arr.select(id_col))
    cached = _SHARED.get(key)
    if cached is not None:
        cached_fp, idx = cached
        if cached_fp == fp and idx.exists():
            return idx
        del _SHARED[key]
        shutil.rmtree(idx.path, ignore_errors=True)
    idx = PrefixIndex(
        spark, tempfile.mkdtemp(prefix="affinity_prefix_"),
        id_col=id_col, t_num=t_num, t_den=t_den,
    )
    idx.build(docs_arr)
    _SHARED[key] = (fp, idx)
    return idx
