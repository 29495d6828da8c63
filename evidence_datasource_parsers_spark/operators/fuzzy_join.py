"""Edit-distance similarity join (entity resolution / canonicalization).

The classic missing piece between EXACT dedup (hash equality) and NEAR dedup
(set similarity over shingles): two short strings — titles, author names,
source labels, URLs paths — that differ by at most ``k`` character edits.
Training-data pipelines need it to canonicalize metadata before grouping
(the same venue spelled three ways fragments every downstream aggregate).

All-pairs ``levenshtein`` is O(n²) and dead at scale.  This operator uses
the pigeonhole segment-blocking scheme of PassJoin (Li, Deng, Wang, Feng —
"PASS-JOIN: a partition-based method for similarity joins", VLDB 2011,
public literature): partition every string into ``k+1`` contiguous
segments; if ``ed(s, t) <= k`` then at least one segment of ``s`` survives
the k edits untouched and appears VERBATIM in ``t``, shifted by at most
``k`` positions (the net insertions-minus-deletions before it).  So:

* **index side** — each string emits its ``k+1`` segments keyed by
  ``(length, segment_no, segment_text)``: ``k+1`` rows per string.
* **probe side** — each string enumerates, for every partner length
  ``l ∈ [L-k, L+k]`` and segment ``i``, the substrings at positions where
  segment ``i`` could survive under PassJoin's multi-match-aware shift
  window (``max(i,|shift|) + |Δ-shift| ≤ k`` — see
  :func:`probe_substrings`): ≤ 29 rows per string at k=2, a CONSTANT
  fan-out independent of corpus size and ~2.6× below the naive ±k
  enumeration.
* equi-join on the key with the exact ``levenshtein ≤ k`` verify as a
  join residual (built-in, JVM-side), then a distinct over
  ``(id, id, dist)`` — strings never ride an exchange.

The join shuffles on ``(length, segment_no, segment_text)`` — bounded keys,
never all-pairs; Catalyst picks SMJ/SHJ and AQE handles moderate skew.  For
web-scale boilerplate (one segment shared by millions of rows) the
``hot_bucket_cap`` guard bounds each bucket to deterministic
representatives, trading bounded recall for bounded fan-out — the same
contract as ``dedupe.incremental_lsh_dedupe``.

Guarantee (exact, no cap): every pair with ``ed <= max_dist`` is emitted
exactly once; no false positives survive the verify step.  Designed for
SHORT string columns (metadata, titles); for document bodies use the
shingle/LSH family (``operators/dedupe.py``).

Reference parity note: the reference has no fuzzy matching (grep clean);
this is a beyond-parity capability for the LLM-pipeline use case.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CANON_META_FILE",
    "IncrementalCanonIndexedResult",
    "incremental_canonicalize_indexed",
    "canon_segment_rows",
    "canon_store_hits",
    "compact_canon_store",
    "canonicalize_labels",
    "edit_distance_self_join",
    "edit_distance_join",
    "read_canon_store_meta",
    "segment_index",
    "probe_substrings",
    "write_canon_store_meta",
]


def _seg_len(l: Column, i: Column, k: int) -> Column:
    """Length of segment *i* when a length-*l* string splits into k+1 parts.

    Even split, remainder spread over the FIRST ``l % (k+1)`` segments —
    the standard PassJoin convention; both sides must agree on it.
    """
    parts = k + 1
    rem = l % parts
    base = ((l - rem) / parts).cast("int")  # exact: (l - rem) % parts == 0
    return base + F.when(i < rem, F.lit(1)).otherwise(F.lit(0))


def _seg_start(l: Column, i: Column, k: int) -> Column:
    """0-based start of segment *i* of a length-*l* string."""
    parts = k + 1
    rem = l % parts
    base = ((l - rem) / parts).cast("int")
    return i * base + F.least(i, rem)


def segment_index(
    df: DataFrame, string_col: str, id_col: str, max_dist: int
) -> DataFrame:
    """Index rows ``(id, s, l, i, seg)`` — the ``k+1`` segments per string."""
    k = max_dist
    l = F.length(F.col(string_col)).cast("int")
    base = df.select(
        F.col(id_col).alias("__fid"),
        F.col(string_col).alias("__fs"),
        l.alias("__fl"),
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"),
    )
    i = F.col("__i")
    fl = F.col("__fl")
    return base.select(
        "__fid",
        "__fs",
        "__fl",
        "__i",
        F.col("__fs")
        .substr(_seg_start(fl, i, k) + 1, _seg_len(fl, i, k))
        .alias("__seg"),
    )


def probe_substrings(
    df: DataFrame, string_col: str, id_col: str, max_dist: int
) -> DataFrame:
    """Probe rows ``(id, s, l_partner, i, sub)``.

    For each partner length ``l`` within ±k of this string's length and
    each segment number ``i``, the substrings of this string at positions
    where segment ``i`` of a length-``l`` partner could survive.  The
    shift window is PassJoin's multi-match-aware selection, not the naive
    ±k: take ``i`` to be the FIRST untouched segment of the partner —
    then segments ``0..i-1`` each contain ≥1 edit (≥ i edits before, so
    ``|shift| ≤ edits_before``), and the net length change after it needs
    ``≥ |Δ - shift|`` more edits (Δ = this length − partner length), so

        max(i, |shift|) + |Δ - shift| ≤ k

    which roughly HALVES probe fan-out vs the naive window (e.g. k=2,
    Δ=0: segment 2 probes exactly one position instead of five).  Empty
    position windows produce no rows — ``sequence`` is guarded because
    Spark's ``sequence(a, b)`` DESCENDS when ``a > b`` instead of
    returning empty.
    """
    k = max_dist
    tl = F.length(F.col(string_col)).cast("int")
    base = df.select(
        F.col(id_col).alias("__pid"),
        F.col(string_col).alias("__ps"),
        tl.alias("__pl"),
        F.explode(
            F.sequence(F.greatest(tl - k, F.lit(0)), tl + k)
        ).alias("__l"),
    ).select(
        "__pid",
        "__ps",
        "__pl",
        "__l",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"),
    )
    l = F.col("__l")
    i = F.col("__i")
    pl = F.col("__pl")
    slen = _seg_len(l, i, k)
    sstart = _seg_start(l, i, k)
    delta = pl - l
    s = F.col("__s")
    # explode the full ±k shift range, filter in the SAME narrow stage
    # (whole-stage codegen, rows die before the join's build/shuffle side —
    # an array-lambda filter would be CodegenFallback)
    shifted = base.select(
        "__pid",
        "__ps",
        "__pl",
        "__l",
        "__i",
        F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("__s"),
    ).where(
        (F.greatest(i, F.abs(s)) + F.abs(delta - s) <= F.lit(k))
        & (sstart + s >= 0)
        & (sstart + s <= pl - slen)
    )
    # distinct column names on the probe side: the candidate join is a
    # self-join for edit_distance_self_join, and alias-based resolution over
    # shared computed columns can mis-resolve (see dedupe.py:281) — so the
    # probe never shares a name with the index.
    return shifted.select(
        "__pid",
        "__ps",
        "__l",
        F.col("__i").alias("__pi"),
        (sstart + s).alias("__p"),
        slen.alias("__slen"),
    ).select(
        "__pid",
        "__ps",
        "__l",
        "__pi",
        F.col("__ps").substr(F.col("__p") + 1, F.col("__slen")).alias("__sub"),
    )


def _cap_index(index: DataFrame, cap: int) -> DataFrame:
    """Keep ``cap`` deterministic representatives per (l, i, seg) bucket."""
    from pyspark.sql import Window

    w = Window.partitionBy("__fl", "__i", "__seg").orderBy(
        F.col("__fid").asc()
    )
    return (
        index.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .drop("__rk")
    )


def _blocked_pairs(
    indexed: DataFrame,
    probed: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int,
    hot_bucket_cap: int | None,
    ordered_ids: bool,
) -> DataFrame:
    """Shared candidate-join body for both join variants.

    The levenshtein verify lives IN the join condition (the optimizer
    puts it there anyway as a residual); the distinct then runs over
    (id, id, int) survivors only — never over carried strings, whose
    wide-row exchange dominated the first implementation.
    """
    index = segment_index(indexed, string_col, id_col, max_dist)
    if hot_bucket_cap is not None:
        index = _cap_index(index, hot_bucket_cap)
    probe = probe_substrings(probed, string_col, id_col, max_dist)
    cond = [
        F.col("__fl") == F.col("__l"),
        F.col("__i") == F.col("__pi"),
        F.col("__seg") == F.col("__sub"),
        F.levenshtein(F.col("__fs"), F.col("__ps")) <= max_dist,
    ]
    if ordered_ids:
        cond.insert(3, F.col("__fid") < F.col("__pid"))
    cand = index.join(probe, on=cond)
    return cand.select(
        F.col("__fid").alias("id_a"),
        F.col("__pid").alias("id_b"),
        F.levenshtein(F.col("__fs"), F.col("__ps"))
        .cast("int")
        .alias("edit_dist"),
    ).distinct()


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int = 2,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein <= max_dist``.

    Output: ``(id_a, id_b, edit_dist)`` with ``id_a`` from *left*.  Both
    inputs must expose *string_col* and *id_col*; ids need not be disjoint
    (no id predicate is applied across tables).  The pigeonhole guarantee
    needs only ONE direction — a surviving segment of the LEFT string
    appears in the RIGHT string — so left is indexed, right is probed.
    """
    return _blocked_pairs(
        left, right, string_col, id_col, max_dist, hot_bucket_cap,
        ordered_ids=False,
    )


def canonicalize_labels(
    df: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int = 2,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Canonical value per fuzzy-equivalence cluster — the one-call
    metadata cleanup: rows whose *string_col* values are within
    ``max_dist`` edits (transitively) share a cluster, and every row maps
    to the cluster's min-id representative value.

    Output: the input columns + ``canonical_id`` (min id in the cluster)
    + ``canonical`` (that row's string).  Singleton rows map to
    themselves.  Composition: :func:`edit_distance_self_join` →
    ``dedupe.duplicate_clusters`` (pointer-doubling connected components)
    → two hash joins back.  Transitive closure is the point — 'colour',
    'color', 'colr' all canonicalize together even when the endpoints are
    3 edits apart; pick ``max_dist`` accordingly.
    """
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    pairs = edit_distance_self_join(
        df, string_col, id_col, max_dist, hot_bucket_cap
    )
    # (doc_id, cluster_id) — paired rows only
    clusters = duplicate_clusters(pairs)
    labeled = df.join(
        clusters.select(
            F.col("doc_id").alias(id_col), F.col("cluster_id").alias("__cid")
        ),
        on=id_col,
        how="left",
    ).withColumn(
        "canonical_id", F.coalesce(F.col("__cid"), F.col(id_col))
    )
    reps = df.select(
        F.col(id_col).alias("canonical_id"),
        F.col(string_col).alias("canonical"),
    )
    return labeled.drop("__cid").join(reps, on="canonical_id").select(
        *df.columns, "canonical_id", "canonical"
    )


def edit_distance_self_join(
    df: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int = 2,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """All unordered pairs within *df* with ``levenshtein <= max_dist``.

    Output ``(id_a, id_b, edit_dist)`` with ``id_a < id_b``, each pair
    once.  Ordering by id is sound because the segment guarantee is
    symmetric (``ed`` is a metric): for any qualifying pair some segment
    of the LOWER-id string survives in the higher-id string, so indexing
    lower ids and probing higher ids finds every pair.
    """
    return _blocked_pairs(
        df, df, string_col, id_col, max_dist, hot_bucket_cap,
        ordered_ids=True,
    )


# ---------------------------------------------------------------------------
# Incremental canonicalization — the fuzzy-family member of the engine's
# incremental dedup pattern (exact / LSH / SimHash / embedding / span all
# carry stores; canonical labels do too).
#
# The carried store is the SEGMENT INDEX of the elected representatives:
#
#     (seg_key bigint, canonical_id, canonical)
#
# with ``seg_key = xxhash64(length, segment_no, segment_text)``, written
# once via ``sinks.write_bucketed_store(..., ["seg_key"], n)`` (or as a
# plain parquet dir) and ADVANCED by appending each batch's delta.  The
# per-batch probe shuffles ONLY batch-derived rows (≤29 per string at
# k=2) into the store's bucket layout — the store side rides no Exchange
# (plan-asserted in tests/test_plan_shapes.py), the same zero-Exchange
# contract as the exact/LSH fingerprint stores.  Hash collisions on
# seg_key only ADD candidates; the exact ``levenshtein <= k`` verify
# kills them, and the PassJoin pigeonhole guarantees every true match
# also arrives through a genuine segment key — so the hash join is exact.
# ---------------------------------------------------------------------------

CANON_META_FILE = "_canon_store_meta.json"


def read_canon_store_meta(store_dir: str) -> int | None:
    """The ``max_dist`` the segment store was built under, or None."""
    from evidence_datasource_parsers_spark.operators.store_meta import (
        read_store_identity,
    )

    return read_store_identity(store_dir, CANON_META_FILE, "max_dist")


def write_canon_store_meta(store_dir: str, max_dist: int) -> None:
    """Record ``max_dist`` beside the store (atomic).  The segment split
    is k-specific — k+1 segments per representative — so probing a k=2
    store with k=3 windows silently MISSES matches; mixing is refused."""
    from evidence_datasource_parsers_spark.operators.store_meta import (
        write_store_identity,
    )

    write_store_identity(
        store_dir, CANON_META_FILE, "max_dist", max_dist,
        "the segment index is k-specific (k+1 segments per "
        "representative) and probes at a different k miss matches",
    )


def canon_segment_rows(
    reps: DataFrame, max_dist: int, hot_bucket_cap: int | None = None
) -> DataFrame:
    """Segment-index rows ``(seg_key, canonical_id, canonical)`` for a
    representative table ``(canonical_id, canonical)`` — k+1 rows per
    representative, the persisted form of the canon store.

    ``hot_bucket_cap`` keeps that many min-id representatives per
    ``(length, segment_no, segment_text)`` bucket — applied WITHIN the
    given frame only, so per-delta appends enforce it per batch and
    :func:`compact_canon_store` re-applies it globally at compaction
    cadence (the same cap discipline as ``dedupe._cap_index``)."""
    # NULL representatives are dropped: a NULL label can never match
    # anything (levenshtein against NULL is NULL, and NULL batch strings
    # emit no probe rows), yet its k+1 segment rows would all collide on
    # the same NULL-skipping xxhash64 values — an unbounded dead hot
    # bucket at web scale (review finding, round 11).  NULL-label docs
    # still self-canonicalize in every round they arrive.
    idx = segment_index(
        reps.select("canonical_id", "canonical").where(
            F.col("canonical").isNotNull()
        ),
        "canonical",
        "canonical_id",
        max_dist,
    )
    if hot_bucket_cap is not None:
        idx = _cap_index(idx, hot_bucket_cap)
    return idx.select(
        F.xxhash64(F.col("__fl"), F.col("__i"), F.col("__seg")).alias(
            "seg_key"
        ),
        F.col("__fid").alias("canonical_id"),
        F.col("__fs").alias("canonical"),
    )


def canon_store_hits(
    segment_store: DataFrame,
    new_batch: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int,
    prune_lengths: bool = True,
) -> DataFrame:
    """Verified batch-row → stored-representative candidates
    ``(__pid, __d, canonical_id, canonical)``: probe substrings of the
    batch equi-join the store on the single bucketed ``seg_key`` column,
    with the exact edit-distance verify as the join residual.  A batch
    string matching the same representative through several segments
    yields duplicate rows — :func:`incremental_canonicalize_indexed`'s
    ``min_by`` collapses them without a distinct.

    ``prune_lengths`` (r11 item 5 — the canon probe base-cost shave):
    every probe string explodes into rows for ALL 2k+1 partner lengths,
    but rows targeting a length NO stored representative has can never
    join — a broadcast semi-join against the store's distinct-length
    set (≤ a few hundred rows for any label corpus) kills them BEFORE
    the probe side shuffles into the store's bucket layout.  The length
    set is derived from the store frame in the same plan, so it can
    never go stale; its aggregate shuffles one combined row per
    distinct length, never store rows.  A cheap ``±k`` length residual
    also runs before the levenshtein verify, so seg-key hash collisions
    between incompatible lengths die without paying the O(len²) edit
    distance."""
    probe = probe_substrings(new_batch, string_col, id_col, max_dist)
    keyed = probe.select(
        "__pid",
        "__ps",
        "__l",
        F.xxhash64(F.col("__l"), F.col("__pi"), F.col("__sub")).alias(
            "seg_key"
        ),
    )
    if prune_lengths:
        lengths = segment_store.select(
            F.length("canonical").cast("int").alias("__l")
        ).distinct()
        keyed = keyed.join(F.broadcast(lengths), on="__l", how="left_semi")
    keyed = keyed.drop("__l")
    return (
        keyed.join(segment_store, on="seg_key")
        .where(
            F.abs(F.length("canonical") - F.length("__ps")) <= max_dist
        )
        .select(
            "__pid",
            F.levenshtein(F.col("canonical"), F.col("__ps"))
            .cast("int")
            .alias("__d"),
            "canonical_id",
            "canonical",
        )
        .where(F.col("__d") <= max_dist)
    )


class IncrementalCanonIndexedResult(NamedTuple):
    """Result of :func:`incremental_canonicalize_indexed`.

    ``mapping`` — every new-batch row with ``canonical_id``/``canonical``
    (stored representative when one is within ``max_dist``, else a
    representative elected within the batch).  All store frames are
    SEGMENT rows ``(seg_key, canonical_id, canonical)``: ``delta`` holds
    only the new representatives' segments — advance the on-disk store
    by APPENDING it (O(batch) I/O per round); ``store`` is the in-plan
    union view for callers that chain rounds in memory."""

    mapping: DataFrame
    store: DataFrame
    delta: DataFrame


def incremental_canonicalize_indexed(
    new_batch: DataFrame,
    segment_store: DataFrame | None,
    string_col: str,
    id_col: str,
    max_dist: int = 2,
    hot_bucket_cap: int | None = None,
) -> IncrementalCanonIndexedResult:
    """Batch-over-batch metadata canonicalization against the carried
    segment-index store (:func:`canon_segment_rows` rows from prior
    rounds; None on the first run).  Read it with
    ``sinks.read_bucketed_store`` so the bucket layout survives — a plain
    parquet read works but re-shuffles the store into the probe join.
    Per batch, the store side of the candidate join rides zero Exchange;
    every shuffled row is batch-derived.  A flat ``(canonical_id,
    canonical)`` store raises ``store_meta.ClassicStoreError``: migrate
    it once with :func:`canon_segment_rows`.

    Semantics, in priority order:

    1. a new string within ``max_dist`` of ANY stored representative maps
       to the BEST one (min distance, then min canonical_id — fully
       deterministic), so re-crawled and near-re-crawled metadata
       converges on the canon elected in earlier rounds;
    2. the remainder self-canonicalizes via :func:`canonicalize_labels`
       (transitive closure within the batch) and its representatives
       join the store.

    Store-priority is the same deliberate asymmetry the other
    incremental operators have: a pair of NEW strings that straddles a
    stored rep's neighborhood can split (one maps to the store, the
    other elects a new rep) where an at-rest pass over everything would
    merge them — the cost of never re-scanning history.  Run the at-rest
    :func:`canonicalize_labels` over the full corpus at compaction
    cadence if that drift matters.
    """
    if segment_store is None:
        mapping = canonicalize_labels(
            new_batch, string_col, id_col, max_dist, hot_bucket_cap
        ).select(*new_batch.columns, "canonical_id", "canonical")
        new_reps = mapping.select("canonical_id", "canonical").distinct()
        delta = canon_segment_rows(new_reps, max_dist, hot_bucket_cap)
        return IncrementalCanonIndexedResult(mapping, delta, delta)
    from evidence_datasource_parsers_spark.operators.store_meta import (
        _require_columns,
    )

    _require_columns(
        segment_store, ["seg_key", "canonical_id", "canonical"],
        "canon segment-index store",
        "A flat (canonical_id, canonical) store must be migrated once: "
        "write canon_segment_rows(store, max_dist) in its place.",
    )
    hits = canon_store_hits(
        segment_store, new_batch, string_col, id_col, max_dist
    )
    best = (
        hits.groupBy("__pid")
        .agg(
            F.min_by(
                F.struct(F.col("canonical_id"), F.col("canonical")),
                F.struct(F.col("__d"), F.col("canonical_id")),
            ).alias("__m")
        )
        .select(
            "__pid",
            F.col("__m.canonical_id").alias("canonical_id"),
            F.col("__m.canonical").alias("canonical"),
        )
        # ONE evaluation of the probe⋈store⋈levenshtein subtree (r13):
        # best feeds the matched join, the rest anti-join, AND — through
        # rest — every frame canonicalize_labels derives (blocked pairs
        # both sides, the cluster joins), and Catalyst reuses none of it
        # (0 ReusedExchange; levenshtein appeared 4× in the mapping plan
        # alone, plus the eager CC build's evaluations).  best is at most
        # one row per batch row — far smaller than any recomputation.
        # localCheckpoint, not persist: this path is already eager (the
        # fresh leg's duplicate_clusters runs jobs at build time, forcing
        # best through rest), the lineage cut keeps every consumer on the
        # materialized blocks, and — unlike a cacheManager entry nobody
        # ever unpersists — the blocks are freed when the result frames
        # are garbage-collected, so per-batch sink calls don't accrete.
        .localCheckpoint(eager=True)
    )
    matched = (
        new_batch.join(best, on=F.col(id_col) == F.col("__pid"))
        .drop("__pid")
        .select(*new_batch.columns, "canonical_id", "canonical")
    )
    rest = new_batch.join(
        best.select(F.col("__pid").alias(id_col)), on=id_col, how="left_anti"
    )
    fresh = canonicalize_labels(
        rest, string_col, id_col, max_dist, hot_bucket_cap
    ).select(*new_batch.columns, "canonical_id", "canonical")
    delta = canon_segment_rows(
        fresh.select("canonical_id", "canonical").distinct(),
        max_dist, hot_bucket_cap,
    )
    return IncrementalCanonIndexedResult(
        matched.unionByName(fresh), segment_store.unionByName(delta), delta
    )


def compact_canon_store(
    df: DataFrame, hot_bucket_cap: int | None = None
) -> DataFrame:
    """Compacted segment store: crash-replayed duplicate rows dropped,
    the hot-bucket cap re-applied GLOBALLY (per-delta appends only
    enforce it within their own batch).  The cap keys on ``seg_key`` —
    a hash collision can merge two segment buckets under one cap, which
    only trades a little more recall away, the cap's existing contract.
    Rewrite via ``sinks.write_bucketed_store`` on an explicit cadence,
    never per batch."""
    from pyspark.sql import Window

    out = df.dropDuplicates(["seg_key", "canonical_id"])
    if hot_bucket_cap is not None:
        w = Window.partitionBy("seg_key").orderBy(
            F.col("canonical_id").asc()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= hot_bucket_cap)
            .drop("__rk")
        )
    return out
