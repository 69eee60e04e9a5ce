"""Maintained quality-signal store — the SIXTH maintained-index family.

Before this module the quality/filter query family re-derived everything
per run: ``docs_filter_ensemble`` retrained the Kneser-Ney model,
recomputed the per-language tertile cutoffs, and re-windowed
fp-canonicality on every read — 21 shuffles, the most expensive query in
the bench. At 100 TB a cleaning job does what the reference's maintained
secondary indexes do (``core/src/main/scala/io/amient/affinity/core/
state/KVStoreLocal.scala:195-248``): it COMMITS the per-document signals
once, keeps them current incrementally as documents arrive, and serves
filter verdicts from the committed tables — exactly the PostingsIndex /
BandIndex / IVFIndex / HLLStore / DDStore treatment, applied to quality.

Four KeyedTables form one logical store under a shared lineage id:

- ``signals``  (doc_id, lang, fp, gopher fields, KN score fields,
  is_canonical) — one row per document, hive-partitioned by the admit
  GENERATION: a batch admit writes its docs as a brand-new partition and
  rewrites an old generation only when a canonicality flag inside it
  flips (same-fp collision) or a doc_id is replaced — every untouched
  generation hardlinks forward (delta-proportional IO, the
  ``overwrite_partitions`` contract).
- ``model``    (w1, w2, c) — the frozen KN bigram model trained on the
  reference slice at build/retrain time (the CCNet shape: the filter
  model is NOT retrained per batch — admitted docs are scored against
  the STANDING model, so historical scores stay valid; drift triggers a
  full retrain, the IVFIndex codebook discipline).
- ``hist``     (lang, score, n) — the value-domain-sized score histogram,
  maintained ADDITIVELY on admit (new docs add counts, replaced docs
  subtract their old ones). Addition is not replay-idempotent, so the
  streaming maintainer fences each admit (the DDStore rule; the fence
  commits with the signals table).
- ``cutoffs``  (lang, c1, c2) — per-language tertile cutoffs, re-derived
  from ``hist`` after every admit (histogram-sized work, never a
  corpus-sized rank window) and committed so the read path is a pure
  broadcast join.

Read path: ``ensemble()`` / ``buckets()`` are map-side projections of
``signals`` joined with the broadcast ``cutoffs`` — ZERO corpus-sized
shuffles, no model retrain, no fp window (plan-pinned by
tests/test_plan_quality.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.text import doc_fingerprint, gopher_rule_struct
from affinity_spark.operators.lm import kn_score_bits, train_bigram_model
from affinity_spark.sources.keyed_table import KeyedTable

#: signal columns in committed order (gen is the partition column and is
#: appended by the writer; is_canonical is derived per admit).
_CORE_COLS = [
    "doc_id",
    "lang",
    "fp",
    "n_words",
    "mean_word_len_x100",
    "top_token_bp",
    "n_bigrams",
    "nll_kn_x1024",
    "bits_per_bigram_x100",
]


class QualityStore:
    """A directory of KeyedTables forming one maintained quality store."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        lang_col: str = "lang",
        ref_lang: str = "en",
        num_buckets: int = 8,
        per_lang: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.lang_col = lang_col
        self.ref_lang = ref_lang
        # per_lang: ONE KN model per language (the actual CCNet
        # construction — every doc scores against its own language's
        # model) instead of the single ref_lang model. The model table
        # gains the lang key; every read/serve path is otherwise
        # identical (scores live in the signals table either way).
        self.per_lang = per_lang
        self._signals = KeyedTable(
            spark, os.path.join(path, "signals"), [id_col], ts_col="fp",
            num_buckets=num_buckets, partition_col="gen",
        )
        model_keys = (["lang"] if per_lang else []) + ["w1", "w2"]
        self._model = KeyedTable(
            spark, os.path.join(path, "model"), model_keys, ts_col="c",
            num_buckets=1,
        )
        self._hist = KeyedTable(
            spark, os.path.join(path, "hist"), ["lang", "score"], ts_col="n",
            num_buckets=1,
        )
        self._cutoffs = KeyedTable(
            spark, os.path.join(path, "cutoffs"), ["lang"], ts_col="c1",
            num_buckets=1,
        )

    # --- derivations --------------------------------------------------------

    def _signals_delta(self, docs: DataFrame, model: DataFrame) -> DataFrame:
        """Per-doc signal row for every doc in ``docs``, scored against the
        STANDING model. All map-side except kn_score_bits' one groupBy(doc);
        docs with < 2 tokens carry NULL score fields (no fluency evidence —
        the read path defaults them to the tail bucket)."""
        base = docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.col(self.lang_col).alias("lang"),
            doc_fingerprint(F.col(self.text_col)).alias("fp"),
            gopher_rule_struct(F.col(self.text_col)).alias("_g"),
            F.col(self.text_col).alias("_text"),
        )
        if self.per_lang:
            from affinity_spark.operators.lm import kn_score_bits_per_group

            scored = kn_score_bits_per_group(
                base.select(
                    "doc_id", "lang", F.col("_text").alias(self.text_col)
                ),
                model,
                group_col="lang",
                id_col="doc_id",
                text_col=self.text_col,
            ).drop("lang")
        else:
            scored = kn_score_bits(
                base.select("doc_id", F.col("_text").alias(self.text_col)),
                model,
                id_col="doc_id",
                text_col=self.text_col,
            )
        return (
            base.join(scored, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                "fp",
                F.col("_g.n_words").alias("n_words"),
                F.col("_g.mean_word_len_x100").alias("mean_word_len_x100"),
                F.col("_g.top_token_bp").alias("top_token_bp"),
                F.col("n_bigrams").cast("long").alias("n_bigrams"),
                F.col("nll_kn_x1024").cast("long").alias("nll_kn_x1024"),
                F.col("bits_per_bigram_x100")
                .cast("long")
                .alias("bits_per_bigram_x100"),
            )
        )

    @staticmethod
    def _with_canonical(delta: DataFrame) -> DataFrame:
        """is_canonical = minimum doc_id per fingerprint (the exact-dedup
        window's semantics, computed as a groupBy + broadcast join so no
        corpus-wide sort window appears anywhere in the store)."""
        mins = delta.groupBy("fp").agg(F.min("doc_id").alias("_min_id"))
        return (
            delta.join(F.broadcast(mins), "fp")
            .withColumn("is_canonical", F.col("doc_id") == F.col("_min_id"))
            .drop("_min_id")
        )

    def _hist_of(self, sig: DataFrame) -> DataFrame:
        return (
            sig.filter(F.col("bits_per_bigram_x100").isNotNull())
            .groupBy(
                "lang", F.col("bits_per_bigram_x100").alias("score")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def _cutoffs_of(self, hist: DataFrame) -> DataFrame:
        """Tertile cutoffs from the (lang, score, n) histogram — the
        perplexity_buckets rank-selection discipline over a value-domain-
        sized input (never a per-language rank window over the corpus)."""
        from pyspark.sql import Window

        w = (
            Window.partitionBy("lang")
            .orderBy("score")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        tot_w = Window.partitionBy("lang")
        cum = hist.select(
            "lang",
            "score",
            F.sum("n").over(w).alias("_cum"),
            F.sum("n").over(tot_w).alias("_tot"),
        )
        return cum.groupBy("lang").agg(
            F.min(
                F.when(F.col("_cum") * 3 >= F.col("_tot"), F.col("score"))
            ).alias("c1"),
            F.min(
                F.when(F.col("_cum") * 3 >= F.col("_tot") * 2, F.col("score"))
            ).alias("c2"),
        )

    # --- build / maintain ---------------------------------------------------

    def build(self, docs: DataFrame) -> None:
        """Full (re)build: train the KN model (on the reference-language
        slice, or one per language with ``per_lang``), score and
        fingerprint every document, derive the histogram and cutoffs,
        commit all four tables under ONE fresh lineage id."""
        if self.per_lang:
            from affinity_spark.operators.lm import (
                train_bigram_models_per_group,
            )

            model = train_bigram_models_per_group(
                docs, group_col=self.lang_col, text_col=self.text_col
            ).withColumnRenamed(self.lang_col, "lang")
        else:
            model = train_bigram_model(
                docs.filter(F.col(self.lang_col) == self.ref_lang),
                text_col=self.text_col,
            )
        lineage = {
            "q_lineage": uuid.uuid4().hex,
            "q_gen": int(self._model.commit_meta().get("q_gen", -1)) + 1,
            "n_at_build": docs.count(),
            "next_gen": 1,
        }
        lineage["h_sync"] = self._sync_token(lineage)
        self._model.overwrite(model, meta=lineage)
        sig = self._with_canonical(
            self._signals_delta(docs, self.model())
        ).withColumn("gen", F.lit("g0"))
        self._signals.overwrite(sig, meta=lineage, reset_fences=True)
        hist = self._hist_of(self._signals.read())
        self._hist.overwrite(hist, meta=lineage)
        self._cutoffs.overwrite(
            self._cutoffs_of(self._hist.read()), meta=lineage
        )

    def admit(self, docs: DataFrame, fence: str | None = None) -> None:
        """Incremental MERGE of a batch of new/replaced documents:

        - score the batch against the STANDING model (map-side + one
          batch-sized groupBy; the corpus is never rescanned for scoring);
        - write the batch as a brand-new ``gen`` partition;
        - rewrite an EXISTING generation only when it holds a replaced
          doc_id or a doc whose canonical flag flips (a batch doc landed
          on its fingerprint with a smaller/larger id) — everything else
          hardlinks forward;
        - apply the batch's (lang, score) counts to the histogram
          ADDITIVELY (replaced docs subtract their old counts) and
          re-derive the cutoffs.

        Matches a full rebuild against the same model exactly (pinned by
        tests/test_quality_store.py). ``fence`` is the replay key
        ("run_id:batch_id") — the DDStore additive-fence rule: histogram
        addition is not idempotent, so a fenced batch is dropped WHOLE."""
        # the signals table is the meta and fence authority for admit
        # state (it is rewritten by every admit anyway); the model table
        # keeps its build-time meta — the model is immutable across admits
        meta = self._signals.commit_meta()
        if fence is not None and fence in self._signals.applied_fences():
            # the batch's signal commit landed; make sure the DERIVED
            # tables did too (a crash between the signals and hist
            # commits would otherwise desync them forever, because the
            # fence drops the replay whole — r10 ADVICE)
            self._heal_if_torn(meta)
            return
        self._heal_if_torn(meta)
        gen_no = int(meta.get("next_gen", 1))
        new_gen = f"g{gen_no}"
        lineage = {
            k: meta[k]
            for k in ("q_lineage", "q_gen", "n_at_build")
            if k in meta
        }
        lineage["next_gen"] = gen_no + 1
        lineage["h_sync"] = self._sync_token(lineage)

        delta = self._signals_delta(docs, self.model())
        cur = self._signals.read()
        delta = delta.select(
            # snapshot-width cast: a delta at a different numeric width
            # would write mixed physical parquet types into one table
            *[
                F.col(c).cast(cur.schema[c].dataType).alias(c)
                for c in _CORE_COLS
            ]
        ).persist()

        batch_ids = F.broadcast(delta.select("doc_id").distinct())
        replaced = cur.join(batch_ids, "doc_id").persist()
        # fingerprints whose membership changes: the batch's own fps plus
        # the OLD fps of replaced docs (their previous text's group
        # shrinks, which can promote a new canonical row)
        touched_fp = F.broadcast(
            delta.select("fp")
            .unionByName(replaced.select("fp"))
            .distinct()
        )
        survivors = cur.join(batch_ids, "doc_id", "left_anti")
        affected = survivors.join(touched_fp, "fp")
        # new canonical minimum per touched fp, over survivors + batch
        mins = (
            affected.select("fp", "doc_id")
            .unionByName(delta.select("fp", "doc_id"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("_min_id"))
        )
        flips = (
            affected.join(F.broadcast(mins), "fp")
            .filter(
                F.col("is_canonical") != (F.col("doc_id") == F.col("_min_id"))
            )
        )
        # touched old generations: those holding a replaced or flipped row
        # (driver-side list bounded by the number of admits, not the corpus)
        old_gens = {
            r[0]
            for r in replaced.select("gen")
            .unionByName(flips.select("gen"))
            .distinct()
            .collect()
        }
        gens = sorted(old_gens) + [new_gen]

        kept = (
            survivors.filter(F.col("gen").isin(sorted(old_gens)))
            .join(F.broadcast(mins), "fp", "left")
            .withColumn(
                "is_canonical",
                F.coalesce(
                    F.col("doc_id") == F.col("_min_id"),
                    F.col("is_canonical"),
                ),
            )
            .select(*_CORE_COLS, "is_canonical", "gen")
            if old_gens
            else None
        )
        new_rows = (
            delta.join(F.broadcast(mins), "fp")
            .withColumn("is_canonical", F.col("doc_id") == F.col("_min_id"))
            .select(*_CORE_COLS, "is_canonical")
            .withColumn("gen", F.lit(new_gen))
        )
        out = new_rows if kept is None else kept.unionByName(new_rows)
        base_version = self._signals._current_version_dir()
        self._signals.overwrite_partitions(
            out, gens, expected_base=base_version, meta=lineage, fence=fence
        )

        # histogram: add the batch's counts, subtract replaced docs' old
        # counts, drop zeroed rows, re-derive cutoffs (all value-domain-
        # sized work — the corpus is never rescanned)
        hdelta = self._hist_of(delta).unionByName(
            self._hist_of(replaced.select(*_CORE_COLS)).withColumn(
                "n", -F.col("n")
            )
        )
        merged = (
            self._hist.read()
            .unionByName(hdelta)
            .groupBy("lang", "score")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") != 0)
        )
        self._hist.overwrite(merged, meta=lineage)
        self._cutoffs.overwrite(
            self._cutoffs_of(self._hist.read()), meta=lineage
        )
        delta.unpersist()
        replaced.unpersist()

    @staticmethod
    def _sync_token(signals_meta: dict) -> str:
        """Identity of a committed signals state: lineage + admit counter
        (``next_gen`` increments on every content-changing signals commit,
        so it doubles as the sync epoch for the derived tables)."""
        return (
            f"{signals_meta.get('q_lineage')}:"
            f"{int(signals_meta.get('next_gen', 1))}"
        )

    def _heal_if_torn(self, signals_meta: dict) -> None:
        """Admit is a multi-table commit (signals → hist → cutoffs); a
        crash between the commits leaves the derived tables behind the
        signals — and because the replay fence lives in the FIRST commit,
        the maintainer's replay of that batch is dropped whole, so the
        divergence would be permanent (r10 ADVICE). Rather than moving the
        fence, treat hist/cutoffs as derived caches: each commit carries
        the sync token of the signals state it was computed from, and any
        mismatch — whatever the tear order — heals here with ONE
        value-domain-sized rebuild from the committed signals (the source
        of truth). Called at the top of every admit, including fenced
        replays."""
        tok = self._sync_token(signals_meta)
        if (
            self._hist.commit_meta().get("h_sync") == tok
            and self._cutoffs.commit_meta().get("h_sync") == tok
        ):
            return
        lineage = {
            k: signals_meta[k]
            for k in ("q_lineage", "q_gen", "n_at_build", "next_gen")
            if k in signals_meta
        }
        lineage["h_sync"] = tok
        self._hist.overwrite(
            self._hist_of(self._signals.read()), meta=lineage
        )
        self._cutoffs.overwrite(
            self._cutoffs_of(self._hist.read()), meta=lineage
        )

    def retrain(self, docs: DataFrame) -> None:
        """Drift response: full rebuild with a FRESH model over the current
        corpus (the caller supplies the corpus frame — the store keeps
        signals, not text). New lineage, new generation numbering."""
        self.build(docs)

    def compact_generations(self) -> None:
        """Squash every generation partition into one. Each admit writes
        its batch as a new ``gen`` partition; a long-running maintainer
        would otherwise accumulate one tiny hive dir per micro-batch —
        file-count pressure and planner overhead, the small-files problem.
        Signals are FINAL (scored against the standing model), so
        compaction is a pure rewrite — no rescoring — and the lineage and
        the table's fence ledger carry forward (a replayed batch still
        fences after compaction)."""
        meta = self._signals.commit_meta()
        sig = (
            self._signals.read()
            .drop("gen")
            .withColumn("gen", F.lit("g0"))
        )
        new_meta = {**meta, "next_gen": 1}
        new_meta["h_sync"] = self._sync_token(new_meta)
        self._signals.overwrite(sig, meta=new_meta)
        # compaction restarts the gen counter, which changes the sync
        # token; re-stamp the derived tables (content unchanged,
        # value-domain-sized rewrite) so the next admit doesn't see a tear
        self._hist.overwrite(self._hist.read(), meta=new_meta)
        self._cutoffs.overwrite(self._cutoffs.read(), meta=new_meta)

    def maintainer(self, run_id: str, max_generations: int = 16):
        """foreachBatch maintenance: each micro-batch of documents is
        admitted incrementally under a run-scoped replay fence (the DDStore
        additive-state rule — batch ids restart at 0 on a fresh
        checkpoint, so the fence is scoped by the caller's run id).

        When the admit-generation count reaches ``max_generations`` the
        signals table is squashed to one generation (each admit writes a
        new tiny hive dir; a long-running stream would otherwise
        accumulate one per micro-batch — file-count pressure and planner
        overhead). Fences and lineage carry through compaction. 0
        disables."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df, fence=f"{run_id}:{batch_id}")
            gens = int(self._signals.commit_meta().get("next_gen", 1))
            if max_generations and gens >= max_generations:
                self.compact_generations()

        return apply

    # --- drift --------------------------------------------------------------

    def needs_retrain(self, max_growth: float = 0.5) -> bool:
        """True when the corpus has grown more than ``max_growth`` of what
        the standing model was trained on — scores of new-domain text
        against a stale reference model drift meaningless (the IVFIndex
        growth trigger, applied to the LM). One count aggregate."""
        n0 = int(self._model.commit_meta().get("n_at_build", 0))
        if n0 <= 0:
            return False
        n_now = self._signals.read().count()
        return (n_now - n0) / n0 > max_growth

    # --- consistency --------------------------------------------------------

    def exists(self) -> bool:
        """True when all four tables are committed AND share one lineage id
        (a torn build reads as absent so the caller self-heals)."""
        tables = [self._signals, self._model, self._hist, self._cutoffs]
        if not all(t.exists() for t in tables):
            return False
        ids = {t.commit_meta().get("q_lineage") for t in tables}
        return len(ids) <= 1

    # --- reads --------------------------------------------------------------

    def model(self) -> DataFrame:
        cols = (["lang"] if self.per_lang else []) + ["w1", "w2", "c"]
        return self._model.read().select(*cols)

    def signals(self) -> DataFrame:
        return self._signals.read()

    def cutoffs(self) -> DataFrame:
        return self._cutoffs.read().select("lang", "c1", "c2")

    def buckets(self) -> DataFrame:
        """(doc_id, lang, bits_per_bigram_x100, ppl_bucket) for every
        scored doc — the CCNet tertile shard assignment, served: a
        column-pruned signals scan + one broadcast cutoff join, zero
        corpus-sized shuffles and no model anywhere in the plan."""
        scored = self._signals.read().select(
            "doc_id", "lang", "bits_per_bigram_x100"
        ).filter(F.col("bits_per_bigram_x100").isNotNull())
        return scored.join(F.broadcast(self.cutoffs()), "lang").select(
            "doc_id",
            "lang",
            "bits_per_bigram_x100",
            F.when(
                F.col("bits_per_bigram_x100") <= F.col("c1"), F.lit("head")
            )
            .when(F.col("bits_per_bigram_x100") <= F.col("c2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )

    def ensemble(
        self,
        min_words: int = 20,
        mean_len_range: tuple[int, int] = (300, 1000),
        max_top_bp: int = 1500,
    ) -> DataFrame:
        """The assembled filter verdict, served from committed signals:
        gopher gate (map-side comparison of stored fields), CCNet tertile
        (broadcast cutoff join), canonicality (stored flag), folded into
        ``keep``. The thresholds are READ parameters — changing a cutoff
        policy re-reads the store, it does not recompute a signal."""
        sig = self._signals.read().select(
            "doc_id",
            "lang",
            "n_words",
            "mean_word_len_x100",
            "top_token_bp",
            "bits_per_bigram_x100",
            "is_canonical",
        )
        lo, hi = mean_len_range
        out = sig.join(F.broadcast(self.cutoffs()), "lang", "left").select(
            "doc_id",
            (
                (F.col("n_words") >= min_words)
                & F.col("mean_word_len_x100").between(lo, hi)
                & (F.col("top_token_bp") <= max_top_bp)
            ).alias("quality_pass"),
            F.when(F.col("bits_per_bigram_x100").isNull(), F.lit("tail"))
            .when(
                F.col("bits_per_bigram_x100") <= F.col("c1"), F.lit("head")
            )
            .when(F.col("bits_per_bigram_x100") <= F.col("c2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
            "is_canonical",
        )
        return out.withColumn(
            "keep",
            F.col("quality_pass")
            & F.col("is_canonical")
            & (F.col("ppl_bucket") != "tail"),
        )


# --- process-shared store (the shared_postings / shared_ivf contract) -------

_SHARED: dict = {}


def shared_quality(
    spark: SparkSession,
    docs: DataFrame,
    corpus_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    per_lang: bool = False,
) -> QualityStore:
    """Build-once-per-process quality store over ``docs``, keyed by
    (application id, corpus_key) with the physical corpus fingerprint in
    the value — a regenerated corpus at the same path rebuilds and evicts
    the superseded store instead of serving stale signals. The first
    quality query pays the ONE scoring pass; every later query reads the
    committed tables."""
    import shutil
    import tempfile

    from affinity_spark.operators.postings import _corpus_fingerprint

    key = (spark.sparkContext.applicationId, corpus_key)
    fp = _corpus_fingerprint(docs)
    cached = _SHARED.get(key)
    if cached is not None:
        cached_fp, store = cached
        if cached_fp == fp and store.per_lang == per_lang and store.exists():
            return store
        del _SHARED[key]
        shutil.rmtree(store.path, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="affinity_quality_")
    store = QualityStore(
        spark, root, id_col=id_col, text_col=text_col, lang_col=lang_col,
        per_lang=per_lang,
    )
    store.build(docs)
    _SHARED[key] = (fp, store)
    return store
