"""Auto-sized hive-bucket lever shared by the maintained-index families.

BandIndex, PostingsIndex, PrefixIndex, ClusterStore and MediaIndex lay
their tables out as ``_bucket=<n>`` hive partitions, with
``_bucket = pmod(hash(cast(<column> AS string)), <count>)``. An admit then
rewrites only the touched bucket dirs and hardlinks the rest
(:meth:`BucketLever.merge` over ``KeyedTable.overwrite_partitions``;
ClusterStore, whose admit relabels, runs its own merge). The hash runs over the STRING form:
murmur3 of int32 and int64 differ for the same value, so an id arriving
at a different numeric width would otherwise land in another bucket and
the merge would rewrite the wrong dir while hardlinking the stale one.

That delta-IO contract holds only in the regime **batch << buckets and
buckets ∝ corpus**: an admit rewrites ~min(batch, buckets) partition dirs
of corpus/buckets rows each, so with a FIXED small bucket count the
per-bucket size grows with the corpus and a constant batch approaches a
full rewrite (BASELINE r11k measured 9.0× rewritten bytes at 10× corpus
under the old ``doc_buckets=8`` default — the anti-pattern regime;
buckets ∝ corpus measured 1.06×). :class:`BucketLever` makes the count
automatic, and is the one implementation every store delegates to:

- ``build()`` sizes the count ∝ corpus (:func:`auto_bucket_count`,
  capped by :func:`bytes_floor_cap`) unless the constructor pinned it,
  and COMMITS it in the table meta (``doc_buckets``/``cluster_buckets``);
- every later operation resolves the COMMITTED count
  (:func:`committed_buckets`) — placement is a function of the count, so
  the committed rows' count is the only correct one whatever a
  re-attaching constructor was told. An admit re-resolves it after
  capturing its CAS base, so a long-lived instance never places rows
  under a count cached before another instance's ``rebucket()``;
- ``needs_rebucket()`` fires when the corpus has outgrown the committed
  count (the IVFIndex ``needs_retrain`` discipline) and ``rebucket()`` is
  the amortized full rewrite that re-places every table and re-freezes
  the count.

At deployment scale the same ∝-corpus rule applies with a larger
``rows_per_bucket`` so each bucket is a few hundred MB; the constant
cancels out of the rewrite RATIO, which is what the rehearsal
(``tools/autobucket_rehearsal.py``) pins ≤ ~1.2 at 10× with defaults.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def auto_bucket_count(
    n_rows: int,
    rows_per_bucket: int = 64,
    min_buckets: int = 8,
    max_buckets: int = 1 << 20,
) -> int:
    """Bucket count ∝ ``n_rows``: the next power of two holding
    ``rows_per_bucket`` rows per bucket, clamped to [min, max].

    Power-of-two steps keep growth-triggered rebuckets coarse (a count
    that crept +1 per admit would rewrite the whole table for nothing);
    the floor keeps tiny corpora on the historical local default."""
    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    need = max(1, -(-n_rows // max(1, rows_per_bucket)))
    return max(min_buckets, min(max_buckets, 1 << (need - 1).bit_length()))


def bytes_floor_cap(
    n_bytes: int, min_bucket_bytes: int = 256 << 10, min_buckets: int = 8
) -> int:
    """Upper bound on a USEFUL bucket count for a table of ``n_bytes``.

    Rewrite granularity is a parquet file: below ~``min_bucket_bytes``
    per bucket a finer split cannot reduce real admit IO (each bucket is
    already a single tiny file) — it only multiplies per-read file opens
    and footer parses. The r12 auto lever sized the sf0.1 postings index
    into 128 × 5–15 KB files and DOUBLED the retrieval family's read
    walls (bm25 1.4 → 2.8 s measured, r13); the ∝-corpus growth law is
    kept ABOVE this floor, where buckets are at least row-group-sized and
    the delta-IO contract is physically real. pow2 floor so the cap
    composes with :func:`auto_bucket_count`'s pow2 steps."""
    if n_bytes <= min_bucket_bytes * min_buckets:
        return min_buckets
    need = max(1, n_bytes // min_bucket_bytes)
    return max(min_buckets, 1 << (need.bit_length() - 1))


def committed_buckets(table, meta_key: str, explicit: int | None) -> int:
    """The effective bucket count for operations on an EXISTING store.

    The committed count always wins over the constructor's — the
    committed rows were PLACED under it, and a partition-pruned merge
    computed under any other count rewrites the wrong dirs while
    hardlinking the stale ones (the r5 BandIndex silent-stale-rows
    failure, now impossible to reintroduce by attaching with a different
    constructor arg). Falls back to ``explicit`` then the historical
    default (8) for tables committed before the count was stamped."""
    committed = table.commit_meta().get(meta_key)
    if committed is not None:
        return int(committed)
    return explicit if explicit is not None else 8


class BucketLever:
    """One store's bucket lever: ``column`` is hashed into ``_bucket``,
    ``tables`` are re-placed by :meth:`rebucket` (``tables[0]`` holds the
    committed count under ``meta_key``), ``auto_size()`` is the store's
    auto count for its current corpus, and ``explicit`` is the
    constructor's pinned count (``None`` = auto)."""

    def __init__(
        self,
        meta_key: str,
        column: str,
        tables: Sequence,
        auto_size: Callable[[], int],
        explicit: int | None,
    ) -> None:
        self.meta_key = meta_key
        self.column = column
        self.tables = list(tables)
        self.auto_size = auto_size
        self.explicit = explicit
        self._count: int | None = None

    @property
    def count(self) -> int:
        """The committed count, cached until :meth:`refresh`."""
        if self._count is None:
            self._count = committed_buckets(
                self.tables[0], self.meta_key, self.explicit
            )
        return self._count

    def refresh(self) -> None:
        """Re-resolve the committed count on next use (call after the
        admit's CAS base is captured)."""
        self._count = None

    def freeze(self, auto: Callable[[], int]) -> int:
        """Fix the count for a build: the pinned one, else ``auto()``."""
        self._count = self.explicit if self.explicit is not None else auto()
        return self._count

    def meta(self) -> dict:
        return {self.meta_key: self.count}

    def col(self) -> Column:
        """The ``_bucket`` value of the lever's column under its count."""
        return F.pmod(F.hash(F.col(self.column).cast("string")), F.lit(self.count))

    def touched(self, ids) -> list:
        """The buckets holding ``ids`` (a frame with the lever's column) —
        a driver-side list bounded by the bucket count."""
        return [
            r[0]
            for r in ids.select(self.col().alias("_bucket")).distinct().collect()
        ]

    def merge(self, table, delta, ids, buckets, expected_base, meta=None) -> None:
        """Replace the rows of ``ids`` in ``buckets`` by ``delta``: only
        those bucket dirs are scanned and rewritten, every other one is
        hardlinked forward (``KeyedTable.overwrite_partitions``). The delta
        is cast to the snapshot's schema — a changelog at another numeric
        width (long ids against an int table) would otherwise write mixed
        physical parquet types into one table and poison every later read."""
        cur = table.read()
        kept = (
            cur.filter(F.col("_bucket").isin(buckets))
            .join(F.broadcast(ids), self.column, "left_anti")
            .select(*cur.columns)
        )
        delta = delta.select(
            *[F.col(c).cast(cur.schema[c].dataType).alias(c) for c in cur.columns]
        )
        table.overwrite_partitions(
            kept.unionByName(delta), buckets,
            expected_base=expected_base, meta=meta,
        )

    def needs_rebucket(self, factor: float) -> bool:
        return self.auto_size() >= factor * self.count

    def rebucket(self, n: int | None = None, meta: dict | None = None) -> int:
        """Re-place every table under ``n`` (auto unless given) and commit
        it, with ``meta`` merged into each table's commit meta. Pure
        physical placement: reads are identical across it."""
        new = n or self.auto_size()
        self._count = new
        for table in self.tables:
            table.overwrite(
                table.read().withColumn("_bucket", self.col()),
                meta={**table.commit_meta(), **(meta or {}), self.meta_key: new},
            )
        return new
