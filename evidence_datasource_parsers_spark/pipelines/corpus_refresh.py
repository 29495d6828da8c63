"""The crawl-refresh pipeline as a first-class composable.

Every training-data refresh runs the same loop: new batch → drop
everything already seen (exact OR near-dup, against the carried
fingerprint store) → quality-gate the survivors → assign leakage-safe
splits → deterministic shards — and persist the updated store for the
next run.  The pieces all exist as operators; this module is the
supported composition, so a user gets the inter-stage decisions
(documented below) instead of re-deriving them per pipeline.

Decisions encoded here, stated because each is easy to get wrong:

* **Rejected docs still enter the store.**  A doc dropped by the QUALITY
  gate was still SEEN — its fingerprints go in the store so tomorrow's
  re-crawl of the same junk is dropped by the cheap dedup path, not
  re-scored.  (Dedup-dropped docs are already in the store by
  definition.)
* **Split before shard.**  Shards are a layout concern inside a split;
  sharding first would scatter val docs through train shards.
* **One persisted handle.**  The incremental operators pin the batch
  fingerprints; the result exposes that handle and `RefreshResult.done()`
  releases it — call it after the store and ready frames are
  materialized (written or checkpointed).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.quality import (
    lexical_quality_score,
)
from evidence_datasource_parsers_spark.operators.dedupe import (
    incremental_exact_dedupe,
    incremental_lsh_dedupe,
    incremental_simhash_dedupe_indexed,
)
from evidence_datasource_parsers_spark.operators.sampling import (
    split_assign,
)
from evidence_datasource_parsers_spark.operators.sharding import (
    assign_shards,
)


class RefreshResult(NamedTuple):
    """``ready``: fresh docs that passed every gate, with ``quality``,
    ``split``, ``shard``, ``shard_pos`` columns.  ``store``: the updated
    fingerprint store (in-plan view); ``store_delta``: the batch's
    disjoint store contribution alone — persist the on-disk store by
    APPENDING the delta (O(batch) I/O), never by rewriting ``store``.
    ``span_store``/``span_store_delta``: the updated gram-count store
    view and the batch's capped gram-count contribution when the span
    stage ran (else None) — the gram store is append-only too (probes
    take the capped sum per gram; ``compact_gram_store`` on cadence).  ``drop_audit``: the per-drop
    provenance frame when ``audit_drops=True`` (else None).  ``pinned``:
    cache handles — call :meth:`done` once every returned frame is
    materialized."""

    ready: DataFrame
    store: DataFrame
    pinned: tuple
    span_store: DataFrame | None = None
    drop_audit: DataFrame | None = None
    store_delta: DataFrame | None = None
    span_store_delta: DataFrame | None = None
    canon_store: DataFrame | None = None
    canon_store_delta: DataFrame | None = None

    def done(self) -> None:
        for p in self.pinned:
            p.unpersist()


def refresh_corpus_batch(
    batch: DataFrame,
    prev_store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    mode: str = "lsh",
    min_quality: float | None = None,
    splits: dict | None = None,
    num_shards: int = 64,
    canonicalize: bool = False,
    lm: DataFrame | None = None,
    max_perplexity: float | None = None,
    lm_n: int = 2,
    quality_weights: DataFrame | None = None,
    quality_buckets: int = 4096,
    span_min_tokens: int | None = None,
    span_store: DataFrame | None = None,
    span_min_occurrences: int = 2,
    canon_col: str | None = None,
    canon_store: DataFrame | None = None,
    canon_max_dist: int = 2,
    canon_hot_bucket_cap: int | None = None,
    eval_set: DataFrame | None = None,
    eval_text_col: str | None = None,
    decontam_n: int = 8,
    decontam_min_overlap: float | None = None,
    audit_drops: bool = False,
    **dedupe_kwargs,
) -> RefreshResult:
    """One refresh-loop iteration.  ``mode``: ``exact`` | ``lsh`` |
    ``simhash`` selects the dedup family (and therefore the store schema —
    a store is only meaningful to the mode that wrote it).
    ``dedupe_kwargs`` pass through to the chosen incremental operator
    (num_perm/bands/k/threshold/…).

    ``prev_store`` is the carried store in the mode's form — content
    hashes (exact), band keys (lsh), or the ``(combo, key, simhash, id)``
    key-index rows (simhash, `incremental_simhash_dedupe_indexed`),
    read from a plain parquet dir or a bucketed table alike.  A classic
    one-row-per-document simhash store raises
    ``store_meta.ClassicStoreError``; migrate it once with
    ``streaming.incremental.migrate_hamming_store``.

    ``canonicalize=True`` fingerprints the Unicode-canonical text
    (textnorm.dedup_key: NFKC + casefold + whitespace collapse) instead of
    the raw bytes, so a full-width/ligature/case re-render of a stored doc
    is recognized as a re-crawl.  The ORIGINAL text flows through to
    ``ready`` — canonicalization is a fingerprint policy, not a mutation,
    and it must be set consistently for the lifetime of a store (keys
    written raw will never match keys written canonical).

    ``lm`` + ``max_perplexity`` add the CCNet-style gate: docs scoring
    above the perplexity ceiling under the supplied n-gram model
    (functions/ngram_lm.train_ngram_lm over a clean corpus) are dropped
    AFTER dedup — so, like quality rejects, they are SEEN by the store
    and tomorrow's re-crawl dies at the cheap dedup stage.  ``ready``
    carries the ``perplexity`` column for audit.

    ``eval_set`` adds the benchmark-decontamination gate
    (operators/decontaminate.py): docs sharing a length-``decontam_n``
    token n-gram with any eval document (or ≥ ``decontam_min_overlap``
    of some eval doc's grams, when set) are dropped AFTER dedup — seen
    by the store, never shipped, never sharded.  ``eval_text_col`` names
    the eval frame's text column when it differs from ``text_col``.

    ``quality_weights``: a TRAINED ``(bucket, weight)`` table
    (functions/quality.train_quality_classifier over a seed label set)
    replaces the placeholder expression tier for the ``quality`` column —
    same hashing (``quality_buckets`` must match training), same [-1, 1]
    scale, so ``min_quality`` thresholds transfer.

    Production LSH knobs ride ``dedupe_kwargs`` straight through:
    ``hot_bucket_cap=N`` bounds boilerplate-bucket fan-out in the store
    join (see ``incremental_lsh_dedupe`` for the recall contract), so a
    refresh loop enables it without dropping to the operator layer.

    ``audit_drops=True`` (``mode='lsh'`` only) additionally returns the
    ``lsh_drop_provenance`` frame — ``(batch_id, store_id, est_jaccard,
    reason)`` for every cross-run drop this batch — as
    ``RefreshResult.drop_audit``.  It is a second fingerprint pass over
    the batch (the diagnostic contract of the operator: the production
    drop path stays a bare anti-join); enable it on sampled or disputed
    batches, and materialize ``drop_audit`` BEFORE :meth:`RefreshResult.
    done` like every other returned frame.

    ``span_min_tokens`` enables the SUB-document stage: after doc-level
    dedup, token spans whose ``span_min_tokens``-gram content recurred
    across all runs (``span_store`` = the carried gram-count store) are
    excised from the surviving docs (span_dedup.incremental_span_dedupe) —
    boilerplate that rides inside otherwise-novel pages dies here, where
    doc-level fingerprints can't see it.  ``text_col`` is REPLACED by the
    cleaned text (a mutation, unlike canonicalize) and a
    ``span_removed_tokens`` audit column is added BEFORE quality/LM
    scoring, so the gates judge the text that would actually ship.  The
    updated gram store returns as ``RefreshResult.span_store``.

    ``canon_col`` enables the METADATA canonicalization stage: after
    dedup (and span excision), the named short-string column — a source
    label, venue, author field — is fuzzy-canonicalized against the
    carried ``canon_store`` segment index
    (fuzzy_join.incremental_canonicalize_indexed), adding
    ``{canon_col}_canonical_id`` / ``{canon_col}_canonical`` columns so
    downstream groupBys stop fragmenting over near-identical spellings.
    The updated segment store returns as ``RefreshResult.canon_store``
    with the batch's new representatives alone in
    ``canon_store_delta`` — append-only advance, same as every other
    store here.  ``canon_max_dist`` is store identity (the segment
    split is k-specific); the CLI validates it against the store's
    ``_canon_store_meta.json`` sidecar.
    """
    if audit_drops and mode != "lsh":
        raise ValueError(
            "audit_drops requires mode='lsh' (lsh_drop_provenance is the "
            f"only provenance twin), got mode={mode!r}"
        )
    fp_col = text_col
    if canonicalize:
        from evidence_datasource_parsers_spark.functions.textnorm import (
            dedup_key,
        )

        fp_col = "__fp_text"
        batch = batch.withColumn(fp_col, dedup_key(F.col(text_col)))
    if mode == "exact":
        eres = incremental_exact_dedupe(
            batch, prev_store, fp_col, id_col, **dedupe_kwargs
        )
        fresh, store, delta = eres.fresh, eres.store, eres.delta
        pinned: tuple = (fresh,)
    elif mode == "lsh":
        res = incremental_lsh_dedupe(
            batch, prev_store, fp_col, id_col, **dedupe_kwargs
        )
        fresh, store, delta, pinned = (
            res.fresh, res.store, res.delta, (res.pinned,)
        )
    elif mode == "simhash":
        res = incremental_simhash_dedupe_indexed(
            batch, prev_store, fp_col, id_col, **dedupe_kwargs
        )
        fresh, store, delta, pinned = (
            res.fresh, res.store, res.delta, (res.pinned,)
        )
    else:
        raise ValueError(f"mode must be exact|lsh|simhash, got {mode!r}")

    drop_audit = None
    if audit_drops and prev_store is not None:
        from evidence_datasource_parsers_spark.operators.dedupe import (
            lsh_drop_provenance,
        )

        audit_keys = ("num_perm", "bands", "k", "mode", "threshold")
        drop_audit = lsh_drop_provenance(
            batch,
            prev_store,
            fp_col,
            id_col,
            **{k: v for k, v in dedupe_kwargs.items() if k in audit_keys},
        )
    if canonicalize:
        fresh = fresh.drop(fp_col)  # fingerprint policy, not a mutation
    span_store_out = None
    span_delta_out = None
    if span_min_tokens is not None:
        from evidence_datasource_parsers_spark.operators.span_dedup import (
            incremental_span_dedupe,
        )

        sres = incremental_span_dedupe(
            fresh,
            span_store,
            text_col,
            id_col,
            min_tokens=span_min_tokens,
            min_occurrences=span_min_occurrences,
        )
        fresh = (
            sres.cleaned.withColumn(text_col, F.col("clean_text"))
            .withColumnRenamed("n_removed_tokens", "span_removed_tokens")
            .drop("clean_text", "n_tokens")
        )
        span_store_out = sres.store
        span_delta_out = sres.delta
        pinned = pinned + (sres.pinned,)
    canon_store_out = None
    canon_delta_out = None
    if canon_col is not None:
        from evidence_datasource_parsers_spark.operators.fuzzy_join import (
            incremental_canonicalize_indexed,
        )

        cres = incremental_canonicalize_indexed(
            fresh,
            canon_store,
            canon_col,
            id_col,
            max_dist=canon_max_dist,
            hot_bucket_cap=canon_hot_bucket_cap,
        )
        # mapping = every surviving doc + (canonical_id, canonical) —
        # a label ENRICHMENT, not a drop stage; downstream gates see it
        fresh = cres.mapping.withColumnRenamed(
            "canonical_id", f"{canon_col}_canonical_id"
        ).withColumnRenamed("canonical", f"{canon_col}_canonical")
        canon_store_out = cres.store
        canon_delta_out = cres.delta
    if quality_weights is not None:
        from evidence_datasource_parsers_spark.functions.quality import (
            score_with_weight_table,
        )

        scored = score_with_weight_table(
            fresh, text_col, id_col, quality_weights,
            n_buckets=quality_buckets, out_col="quality",
        )
    else:
        scored = fresh.withColumn(
            "quality", lexical_quality_score(F.col(text_col))
        )
    if min_quality is not None:
        scored = scored.where(
            F.coalesce(F.col("quality"), F.lit(float("-inf")))
            >= min_quality
        )
    if lm is not None and max_perplexity is not None:
        from evidence_datasource_parsers_spark.functions.ngram_lm import (
            doc_perplexity,
        )

        ppl = doc_perplexity(scored, lm, text_col, id_col, n=lm_n).select(
            id_col, "perplexity"
        )
        scored = scored.join(ppl, on=id_col).where(
            F.col("perplexity") <= max_perplexity
        )
    if eval_set is not None:
        from evidence_datasource_parsers_spark.operators.decontaminate import (  # noqa: E501
            decontaminate,
        )

        # eval-set contamination gate, SAME placement convention as the
        # quality/perplexity gates: after dedup, so a contaminated doc is
        # still SEEN by the fingerprint store and tomorrow's re-crawl of
        # it dies at the cheap dedup stage instead of re-running the
        # n-gram overlap; before splits, so no contaminated doc ever
        # receives a shard.  Scale shape is decontaminate()'s: eval grams
        # broadcast (benchmark-suite-sized), the corpus gram stream is
        # scanned, never shuffled.
        scored = decontaminate(
            scored, eval_set, text_col, id_col, eval_text_col,
            n=decontam_n, min_eval_overlap=decontam_min_overlap,
        )
    split = split_assign(
        scored, id_col, splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    ready = assign_shards(split, id_col, num_shards)
    return RefreshResult(
        ready=ready, store=store, pinned=pinned,
        span_store=span_store_out, drop_audit=drop_audit,
        store_delta=delta, span_store_delta=span_delta_out,
        canon_store=canon_store_out, canon_store_delta=canon_delta_out,
    )


class MediaRefreshResult(NamedTuple):
    """Media twin of :class:`RefreshResult`.  ``ready``: fresh images that
    survived perceptual dedup (plus decode-stats columns when requested);
    ``store``: the updated pHash store (in-plan view) and
    ``store_delta`` the batch's disjoint contribution — APPEND the delta
    to persist, never rewrite; ``stream_store``/``stream_store_delta``:
    same pair for the elementary-stream hash store when the remux tier
    ran (else None); ``pinned``: cache handles — call :meth:`done` after
    materializing every returned frame."""

    ready: DataFrame
    store: DataFrame
    pinned: tuple
    stream_store: DataFrame | None = None
    store_delta: DataFrame | None = None
    stream_store_delta: DataFrame | None = None

    def done(self) -> None:
        for p in self.pinned:
            p.unpersist()


def refresh_media_batch(
    batch: DataFrame,
    prev_phash_store: DataFrame | None,
    binary_col: str = "blob",
    id_col: str = "media_id",
    *,
    max_hamming: int = 6,
    n_blocks: int = 9,
    decode_stats: bool = True,
    min_width: int | None = None,
    min_height: int | None = None,
    decode_hook=None,
) -> MediaRefreshResult:
    """One media-refresh iteration — the image branch of the crawl loop
    (``warc_media`` batch → perceptual dedup against the carried pHash
    key-index store → decode-stats gate), mirroring
    :func:`refresh_corpus_batch`'s decisions:

    * **Gated images still enter the store** — an image dropped by the
      dimension gate was SEEN; its pHash persists so tomorrow's re-crawl
      dies at the cheap dedup stage, not at a re-decode.
    * **Undecodable blobs pass through ungated and unstored** (NULL
      pHash/stats rows, the adapter contract): they carry no fingerprint
      to store and no dimensions to judge; callers route them to a
      richer decoder or drop them explicitly.

    When ``batch`` already carries ``width``/``height`` (a ``warc_media``
    frame with ``decode_stats=True``), the existing columns are used —
    no second decode pass.
    """
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decoded_image_stats,
        incremental_phash_dedupe_indexed,
    )

    res = incremental_phash_dedupe_indexed(
        batch,
        prev_phash_store,
        binary_col,
        id_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        decode_hook=decode_hook,
    )
    ready = res.fresh
    have_stats = "width" in ready.columns and "height" in ready.columns
    if decode_stats and not have_stats:
        stats = decoded_image_stats(
            ready, binary_col, id_col, decode_hook=decode_hook
        )
        ready = ready.join(stats, on=id_col, how="left")
        have_stats = True
    if have_stats and (min_width is not None or min_height is not None):
        cond = F.lit(True)
        if min_width is not None:
            cond = cond & (F.col("width") >= min_width)
        if min_height is not None:
            cond = cond & (F.col("height") >= min_height)
        # NULL dims (undecodable) pass through — see the contract above
        ready = ready.where(F.col("width").isNull() | cond)
    return MediaRefreshResult(
        ready=ready, store=res.store, pinned=(res.pinned,),
        store_delta=res.delta,
    )


def refresh_audio_batch(
    batch: DataFrame,
    afp_store: DataFrame | None,
    binary_col: str = "blob",
    id_col: str = "media_id",
    *,
    max_hamming: int = 8,
    n_blocks: int = 10,
    min_duration_s: float | None = None,
    decode_hook=None,
    stream_tier: bool = False,
    stream_store: DataFrame | None = None,
) -> MediaRefreshResult:
    """Audio twin of :func:`refresh_media_batch`: incremental spectral-
    fingerprint dedup against the carried afp key-index store, then an
    optional minimum-duration gate over :func:`audio_features` columns
    (re-used when the batch — a ``warc_media(content_prefix='audio/')``
    frame — already carries ``duration_s``).  Same store semantics:
    gated clips are still SEEN; undecodable blobs pass ungated/unstored.

    ``stream_tier=True`` runs the exact PCM-hash tier FIRST
    (``incremental_remux_dedupe_indexed`` over ``audio_stream_hash_frame``
    against the carried ``stream_store``): WAV re-uploads and lossless
    FLAC re-encodes of stored audio — which share the PCM MD5 by spec —
    die on an 8-byte equi-join before any sample decode.  The updated
    hash store returns as ``MediaRefreshResult.stream_store``."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_features,
        audio_meta_frame,
        audio_stream_hash_frame,
        incremental_audio_dedupe_indexed,
        incremental_remux_dedupe_indexed,
    )

    pinned_extra: tuple = ()
    stream_store_out = None
    stream_delta_out = None
    if stream_tier:
        rres = incremental_remux_dedupe_indexed(
            batch, stream_store, binary_col, id_col,
            batch_stream_hashes=audio_stream_hash_frame(
                batch, binary_col, id_col
            ),
        )
        batch = rres.fresh
        stream_store_out = rres.store
        stream_delta_out = rres.delta
        pinned_extra = (rres.pinned,)
    res = incremental_audio_dedupe_indexed(
        batch,
        afp_store,
        binary_col,
        id_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        decode_hook=decode_hook,
    )
    ready = res.fresh
    if min_duration_s is not None:
        if "duration_s" not in ready.columns:
            feats = audio_features(
                ready, binary_col, id_col, decode_hook=decode_hook
            )
            # container tier fills duration for compressed codecs the
            # sample decoder reports NULL on (MP3/FLAC/OGG), so the gate
            # applies to them too; decoded values win the coalesce
            meta = audio_meta_frame(ready, binary_col, id_col).select(
                id_col, F.col("duration_s").alias("__m_dur")
            )
            ready = (
                ready.join(feats, on=id_col, how="left")
                .join(meta, on=id_col, how="left")
                .withColumn(
                    "duration_s",
                    F.coalesce(F.col("duration_s"), F.col("__m_dur")),
                )
                .drop("__m_dur")
            )
        ready = ready.where(
            F.col("duration_s").isNull()
            | (F.col("duration_s") >= min_duration_s)
        )
    return MediaRefreshResult(
        ready=ready, store=res.store,
        pinned=pinned_extra + (res.pinned,),
        stream_store=stream_store_out,
        store_delta=res.delta,
        stream_store_delta=stream_delta_out,
    )


def refresh_video_batch(
    batch: DataFrame,
    frame_store: DataFrame | None,
    binary_col: str = "blob",
    id_col: str = "media_id",
    *,
    stride: int = 1,
    max_frames: int | None = 32,
    min_overlap: float = 0.5,
    frame_max_hamming: int = 6,
    min_n_frames: int | None = None,
    decode_hook=None,
    remux_tier: bool = False,
    stream_store: DataFrame | None = None,
) -> MediaRefreshResult:
    """Video twin of the media branches: clip-level dedup against the
    carried sampled-frame pHash store, then an optional minimum-length
    gate over :func:`video_meta_frame` columns.  Same store semantics:
    gated clips are still SEEN; undecodable containers pass ungated and
    unstored.

    ``remux_tier=True`` runs the exact elementary-stream tier FIRST
    (``incremental_remux_dedupe_indexed`` against the carried
    ``stream_store``, a stream-hash key-index store):
    re-uploads of a stored encoding in a new container die on an 8-byte
    equi-join before paying frame decode, and — because the stream hash
    needs no codec — this tier is fully real for MP4/H.264 where the
    pHash tier needs a ``decode_hook``.  The updated hash store returns
    as ``MediaRefreshResult.stream_store``; persist it alongside the
    frame store."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_remux_dedupe_indexed,
        incremental_video_dedupe,
        video_meta_frame,
    )

    pinned_extra: tuple = ()
    stream_store_out = None
    stream_delta_out = None
    if remux_tier:
        rres = incremental_remux_dedupe_indexed(
            batch, stream_store, binary_col, id_col
        )
        batch = rres.fresh
        stream_store_out = rres.store
        stream_delta_out = rres.delta
        pinned_extra = (rres.pinned,)
    res = incremental_video_dedupe(
        batch,
        frame_store,
        binary_col,
        id_col,
        stride=stride,
        max_frames=max_frames,
        min_overlap=min_overlap,
        frame_max_hamming=frame_max_hamming,
        decode_hook=decode_hook,
    )
    ready = res.fresh
    if min_n_frames is not None:
        if "n_frames" not in ready.columns:
            meta = video_meta_frame(
                ready, binary_col, id_col, decode_hook=decode_hook
            )
            ready = ready.join(meta, on=id_col, how="left")
        ready = ready.where(
            F.col("n_frames").isNull()
            | (F.col("n_frames") >= min_n_frames)
        )
    return MediaRefreshResult(
        ready=ready, store=res.store,
        pinned=pinned_extra + (res.pinned,),
        stream_store=stream_store_out,
        store_delta=res.delta,
        stream_store_delta=stream_delta_out,
    )


class CrawlRefreshResult(NamedTuple):
    """The modalities of one refresh iteration; ``done()`` releases every
    pinned handle.  ``audio``/``video`` are None when no such batch was
    supplied."""

    docs: RefreshResult
    media: MediaRefreshResult
    audio: MediaRefreshResult | None = None
    video: MediaRefreshResult | None = None

    def done(self) -> None:
        self.docs.done()
        self.media.done()
        if self.audio is not None:
            self.audio.done()
        if self.video is not None:
            self.video.done()


def refresh_crawl_batch(
    doc_batch: DataFrame,
    media_batch: DataFrame,
    doc_store: DataFrame | None,
    phash_store: DataFrame | None,
    *,
    doc_kwargs: dict | None = None,
    media_kwargs: dict | None = None,
    audio_batch: DataFrame | None = None,
    afp_store: DataFrame | None = None,
    audio_kwargs: dict | None = None,
    video_batch: DataFrame | None = None,
    frame_store: DataFrame | None = None,
    video_kwargs: dict | None = None,
) -> CrawlRefreshResult:
    """One refresh call carrying the modalities of a crawl: the text
    triad over ``doc_batch`` (``warc_documents``), the perceptual-image
    branch over ``media_batch`` (``warc_media``), and optionally the
    audio/video branches (``warc_media(content_prefix='audio/')`` /
    ``'video/'``) — each against its own carried store.  The branches
    share no state — a text store is meaningless to the image branch —
    so this is deliberately a thin composition; its value is the single
    materialize-then-``done()`` lifecycle over all pinned handles."""
    docs = refresh_corpus_batch(
        doc_batch, doc_store, **(doc_kwargs or {})
    )
    media = refresh_media_batch(
        media_batch, phash_store, **(media_kwargs or {})
    )
    audio = None
    if audio_batch is not None:
        audio = refresh_audio_batch(
            audio_batch, afp_store, **(audio_kwargs or {})
        )
    video = None
    if video_batch is not None:
        video = refresh_video_batch(
            video_batch, frame_store, **(video_kwargs or {})
        )
    return CrawlRefreshResult(
        docs=docs, media=media, audio=audio, video=video
    )
