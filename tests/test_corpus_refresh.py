"""refresh_corpus_batch: two-run store carry, quality-gate store
semantics (rejected docs are still SEEN), mode dispatch, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
    refresh_corpus_batch,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_two_run_refresh_drops_recrawls(spark):
    b1 = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different content about shipping containers"),
    ])
    r1 = refresh_corpus_batch(b1, None, mode="lsh", k=3, num_shards=2)
    assert {r.doc_id for r in r1.ready.select("doc_id").collect()} == {1, 2}
    store = r1.store.localCheckpoint(eager=True)
    r1.done()

    b2 = _docs(spark, [
        (11, "the quick brown fox jumps over the lazy dog again and again"),
        (12, "a genuinely new document about distributed query engines"),
    ])
    r2 = refresh_corpus_batch(b2, store, mode="lsh", k=3, num_shards=2)
    ready = {r.doc_id for r in r2.ready.select("doc_id").collect()}
    assert ready == {12}  # re-crawl 11 dropped against the carried store
    cols = set(r2.ready.columns)
    assert {"quality", "split", "shard", "shard_pos"} <= cols
    r2.done()


def test_quality_rejects_still_enter_store(spark):
    """A doc dropped by the quality gate must still be in the store so the
    next run's re-crawl short-circuits at the dedup stage."""
    junk = "zzz " * 30
    b1 = _docs(spark, [(1, junk.strip())])
    r1 = refresh_corpus_batch(b1, None, mode="exact", min_quality=10.0)
    assert r1.ready.count() == 0  # rejected by quality
    store = r1.store.localCheckpoint(eager=True)
    assert store.count() == 1    # ...but SEEN
    r1.done()

    r2 = refresh_corpus_batch(
        _docs(spark, [(2, junk.strip())]), store, mode="exact",
        min_quality=10.0,
    )
    # re-crawl of the junk dies at dedup (store hit), not at re-scoring
    assert r2.store.count() == 1
    r2.done()


def test_mode_dispatch_and_guard(spark):
    b = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    for mode in ("exact", "lsh", "simhash"):
        r = refresh_corpus_batch(b, None, mode=mode)
        assert r.ready.count() == 1
        r.done()
    with pytest.raises(ValueError, match="mode"):
        refresh_corpus_batch(b, None, mode="fuzzy")


def test_deterministic_across_runs(spark):
    b = _docs(spark, [
        (i, f"document number {i} with shared filler words common to all")
        for i in range(20)
    ])
    r1 = refresh_corpus_batch(b, None, mode="lsh", k=3, num_shards=4)
    r2 = refresh_corpus_batch(b, None, mode="lsh", k=3, num_shards=4)
    a = sorted((r.doc_id, r.split, r.shard, r.shard_pos)
               for r in r1.ready.collect())
    c = sorted((r.doc_id, r.split, r.shard, r.shard_pos)
               for r in r2.ready.collect())
    assert a == c
    r1.done(); r2.done()


def test_canonicalize_catches_unicode_rerenders(spark):
    """A full-width/ligature re-render of a stored doc is a re-crawl under
    canonicalize=True, and raw text still flows to ready."""
    b1 = _docs(spark, [(1, "file transfer complete")])
    r1 = refresh_corpus_batch(b1, None, mode="exact", canonicalize=True)
    store = r1.store.localCheckpoint(eager=True)
    r1.done()

    rerender = "ﬁle  TRANSFER complete"  # ligature + case + spacing
    b2 = _docs(spark, [(2, rerender), (3, "actually new content")])
    r2 = refresh_corpus_batch(b2, store, mode="exact", canonicalize=True)
    rows = {r.doc_id: r.text for r in
            r2.ready.select("doc_id", "text").collect()}
    assert set(rows) == {3}
    assert rows[3] == "actually new content"  # original text untouched
    assert "__fp_text" not in r2.ready.columns
    r2.done()

    # without canonicalization the re-render slips through
    r3 = refresh_corpus_batch(b2, store, mode="exact")
    assert r3.ready.count() == 2
    r3.done()


def test_lm_perplexity_gate(spark):
    """The CCNet gate inside the refresh loop: docs fluent under the
    clean-corpus LM pass, gibberish is dropped — but still enters the
    store (seen-set semantics, like quality rejects)."""
    from evidence_datasource_parsers_spark.functions.ngram_lm import (
        train_ngram_lm,
    )

    clean = _docs(spark, [
        (i, "the quick brown fox jumps over the lazy dog")
        for i in range(5)
    ])
    lm = train_ngram_lm(clean, "text", n=2)

    batch = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "zz qq vv kk ww pp xx yy"),
    ])
    # calibrate the ceiling: fluent text scores far below gibberish
    loose = refresh_corpus_batch(batch, None, mode="exact", lm=lm,
                                 max_perplexity=1e9)
    ppl = {r.doc_id: r.perplexity for r in
           loose.ready.select("doc_id", "perplexity").collect()}
    assert ppl[1] < ppl[2]
    loose.done()

    ceiling = (ppl[1] + ppl[2]) / 2
    gated = refresh_corpus_batch(batch, None, mode="exact", lm=lm,
                                 max_perplexity=ceiling)
    assert {r.doc_id for r in gated.ready.collect()} == {1}
    assert gated.store.count() == 2  # the gibberish is still SEEN
    gated.done()


# ---------------------------------------------------------------------------
# Media branch (round 6): the image twin of the text refresh loop
# ---------------------------------------------------------------------------


def _photo(seed: int):
    """64×64 low-frequency content: JPEG re-encodes stay within a few
    pHash bits, structurally different seeds land tens of bits apart."""
    import numpy as np

    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(
        128 + 60 * np.sin(x / (9.0 + seed)) + 50 * np.cos(y / (7.0 + seed))
        + 20 * np.sin((x * y) / (301.0 + 40 * seed)),
        0, 255,
    )
    return np.stack([p, p * 0.8 + 20, p * 0.6 + 30], axis=2).astype(np.uint8)


def test_media_refresh_two_runs(spark):
    """Two media-refresh iterations: run 1 seeds the pHash store; run 2's
    JPEG re-encode of a stored photo drops, its genuinely new photo keeps,
    gated-small images are dropped from ready but still SEEN by the store,
    undecodable blobs pass through ungated/unstored — and ready carries
    real decode-stats columns."""
    import numpy as np

    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_media_batch,
    )

    b1 = spark.createDataFrame(
        [(1, encode_jpeg(_photo(0), quality=95))],
        "media_id long, blob binary",
    )
    r1 = refresh_media_batch(b1, None)
    ready1 = r1.ready.collect()
    assert [r["media_id"] for r in ready1] == [1]
    assert ready1[0]["width"] == 64 and ready1[0]["img_format"] == "jpeg"
    store = r1.store.localCheckpoint(eager=True)
    r1.done()

    tiny = np.full((4, 4, 3), 90, dtype=np.uint8)
    b2 = spark.createDataFrame(
        [
            (10, encode_jpeg(_photo(0), quality=60)),  # re-encode → drop
            (11, encode_jpeg(_photo(3), quality=95)),  # new → keep
            (12, encode_jpeg(tiny, quality=95)),       # gated by min_width
            (13, b"\xff\xd8\xffbroken"),               # undecodable → pass
        ],
        "media_id long, blob binary",
    )
    r2 = refresh_media_batch(b2, store, min_width=8, min_height=8)
    ready2 = {r["media_id"]: r for r in r2.ready.collect()}
    assert 10 not in ready2           # perceptual store hit
    assert 12 not in ready2           # dimension gate
    assert set(ready2) == {11, 13}
    assert ready2[13]["img_format"] is None  # undecodable: NULL stats row
    stored = {r["media_id"] for r in r2.store.collect()}
    assert 12 in stored               # gated images are still SEEN
    assert 11 in stored and 1 in stored
    assert 13 not in stored           # no fingerprint to store
    r2.done()


def test_media_refresh_progressive_jpeg_enters_dedup_tier(spark):
    """A progressive re-encode of a stored baseline photo must be caught
    by the perceptual store — the round-6 decoder closes the hole where
    progressive crawl images were invisible to the dedup tier."""
    from evidence_datasource_parsers_spark.functions.jpeg import (
        encode_jpeg, encode_jpeg_progressive,
    )
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_media_batch,
    )

    r1 = refresh_media_batch(
        spark.createDataFrame(
            [(1, encode_jpeg(_photo(1), quality=95))],
            "media_id long, blob binary",
        ),
        None,
    )
    store = r1.store.localCheckpoint(eager=True)
    r1.done()

    r2 = refresh_media_batch(
        spark.createDataFrame(
            [
                (20, encode_jpeg_progressive(_photo(1), quality=70)),
                (21, encode_jpeg_progressive(_photo(4), quality=95)),
            ],
            "media_id long, blob binary",
        ),
        store,
    )
    assert {r["media_id"] for r in r2.ready.collect()} == {21}
    r2.done()


def test_crawl_refresh_carries_both_modalities(spark):
    """One refresh call for one crawl: text triad + image branch, shared
    done() lifecycle."""
    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_crawl_batch,
    )

    docs = _docs(spark, [
        (1, "a long enough document about container shipping economics"),
        (2, "another distinct document describing spark query planning"),
    ])
    media = spark.createDataFrame(
        [(7, encode_jpeg(_photo(2), quality=95))],
        "media_id long, blob binary",
    )
    res = refresh_crawl_batch(
        docs, media, None, None,
        doc_kwargs={"mode": "exact", "num_shards": 2},
    )
    assert res.docs.ready.count() == 2
    assert res.media.ready.count() == 1
    # one stored image (its C(9,3) key-index rows)
    assert res.media.store.select("media_id").distinct().count() == 1
    assert {"split", "shard"} <= set(res.docs.ready.columns)
    res.done()


def test_refresh_with_trained_quality_weights(spark):
    """The trained NB weight table plugs into the refresh loop's quality
    gate: spam-vocabulary docs drop under a threshold the placeholder
    family would not produce, and rejects are still SEEN by the store."""
    from evidence_datasource_parsers_spark.functions.quality import (
        train_quality_classifier,
    )

    prose = "the quick brown fox jumps over a lazy dog near the river"
    spam = "win free casino bonus click buy cheap pills lottery now"
    seed = spark.createDataFrame(
        [(i, prose, 1) for i in range(6)]
        + [(50 + i, spam, 0) for i in range(6)],
        "doc_id long, text string, label int",
    )
    weights = train_quality_classifier(seed, "text", "label")

    batch = _docs(spark, [
        (1, "quick fox jumps over the lazy river dog again"),
        (2, "free casino pills click bonus lottery cheap win"),
    ])
    res = refresh_corpus_batch(
        batch, None, mode="exact",
        quality_weights=weights, min_quality=0.0,
    )
    assert {r.doc_id for r in res.ready.collect()} == {1}
    assert res.store.count() == 2  # the spam doc is still SEEN
    scores = {r.doc_id: r.quality for r in
              refresh_corpus_batch(batch, None, mode="exact",
                                   quality_weights=weights).ready.collect()}
    assert scores[1] > 0 > scores[2]
    res.done()


def test_span_stage_excises_cross_run_boilerplate(spark):
    """The sub-document stage: run-2 docs are NOVEL at doc level (they pass
    exact dedup) but carry a passage already seen in run 1 — the span stage
    excises it via the carried gram store, and the quality/split gates see
    the cleaned text."""
    boiler = "subscribe to our newsletter for daily updates and offers"
    b1 = _docs(
        spark,
        [(1, f"a first article about topic one {boiler}")],
    )
    r1 = refresh_corpus_batch(
        b1, None, mode="exact", span_min_tokens=4, num_shards=2
    )
    assert r1.span_store is not None
    gram_store = r1.span_store.localCheckpoint(eager=True)
    doc_store = r1.store.localCheckpoint(eager=True)
    # run 1: boilerplate seen once — nothing excised yet
    row1 = r1.ready.collect()[0]
    assert row1.span_removed_tokens == 0
    r1.done()

    b2 = _docs(
        spark,
        [(2, f"a second piece on another subject entirely {boiler}")],
    )
    r2 = refresh_corpus_batch(
        b2, doc_store, mode="exact",
        span_min_tokens=4, span_store=gram_store, num_shards=2,
    )
    row2 = r2.ready.collect()[0]
    assert row2.doc_id == 2  # doc-level dedup kept it (novel doc)
    assert row2.span_removed_tokens == 9
    assert boiler.split()[0] not in row2.text.split()
    assert row2.text == "a second piece on another subject entirely"
    r2.done()


def test_span_stage_off_by_default(spark):
    b1 = _docs(spark, [(1, "plain document with no repetition at all")])
    r1 = refresh_corpus_batch(b1, None, mode="exact")
    assert r1.span_store is None
    assert "span_removed_tokens" not in r1.ready.columns
    r1.done()


def test_refresh_hot_bucket_cap_and_drop_audit(spark):
    """Production knobs through the pipeline surface: hot_bucket_cap rides
    dedupe_kwargs into incremental_lsh_dedupe, and audit_drops=True
    returns the lsh_drop_provenance frame naming which stored doc killed
    each re-crawl."""
    b1 = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different content about shipping containers"),
    ])
    r1 = refresh_corpus_batch(
        b1, None, mode="lsh", k=3, num_shards=2, hot_bucket_cap=2,
    )
    store = r1.store.localCheckpoint(eager=True)
    r1.done()

    b2 = _docs(spark, [
        (11, "the quick brown fox jumps over the lazy dog again and again"),
        (12, "a genuinely new document about distributed query engines"),
    ])
    r2 = refresh_corpus_batch(
        b2, store, mode="lsh", k=3, num_shards=2,
        hot_bucket_cap=2, audit_drops=True,
    )
    assert {r.doc_id for r in r2.ready.select("doc_id").collect()} == {12}
    audit = r2.drop_audit.collect()
    r2.done()
    assert {(r.batch_id, r.store_id) for r in audit} == {(11, 1)}
    assert all(r.reason in ("exact", "near") for r in audit)

    # run 1 (no store yet) and audit-off runs return no audit frame
    assert r1.drop_audit is None
    r3 = refresh_corpus_batch(b2, store, mode="lsh", k=3)
    assert r3.drop_audit is None
    r3.done()

    with pytest.raises(ValueError, match="audit_drops"):
        refresh_corpus_batch(b1, None, mode="exact", audit_drops=True)


def test_video_refresh_remux_tier(spark):
    """remux_tier=True: a re-containered copy of a stored clip dies on
    the 8-byte stream-hash equi-join (no codec, no frame decode), and the
    updated stream store carries forward alongside the frame store."""
    from evidence_datasource_parsers_spark.functions.mp4 import encode_mp4
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_video_batch,
    )

    samples = [bytes([60 + i]) * (30 + i) for i in range(6)]
    base = encode_mp4(samples, 64, 48, fps=24.0)
    remux = encode_mp4(
        samples, 64, 48, fps=24.0, moov_first=True, free_bytes=32,
        brand=b"mp42",
    )
    other = encode_mp4([b"\x11" * 44] * 4, 32, 32)

    b1 = spark.createDataFrame(
        [(1, bytearray(base))], "media_id long, blob binary"
    )
    r1 = refresh_video_batch(b1, None, remux_tier=True)
    sstore = r1.stream_store.localCheckpoint(eager=True)
    fstore = r1.store.localCheckpoint(eager=True)
    assert sstore.count() == 1
    r1.done()

    b2 = spark.createDataFrame(
        [(10, bytearray(remux)), (11, bytearray(other))],
        "media_id long, blob binary",
    )
    r2 = refresh_video_batch(
        b2, fstore, remux_tier=True, stream_store=sstore
    )
    ready = {r.media_id for r in r2.ready.select("media_id").collect()}
    assert ready == {11}  # remux of clip 1 dropped before frame decode
    assert {r.media_id for r in
            r2.stream_store.select("media_id").collect()} == {1, 11}
    r2.done()

    # tier off: no stream store returned
    r3 = refresh_video_batch(b1, None)
    assert r3.stream_store is None
    r3.done()


def test_eval_set_decontamination_gate(spark):
    """eval_set: a batch doc reproducing an eval item's n-gram is dropped
    from ready but still SEEN by the fingerprint store (same convention
    as the quality gate) — the next round's re-crawl of it dies at the
    cheap dedup stage, not at a second n-gram overlap pass."""
    eval_q = "what is the capital of france paris is the capital"
    # doc 1 reproduces only the eval item's first 8 tokens — exactly ONE
    # of its three distinct 8-grams (the partial-leak shape)
    leak = "what is the capital of france paris is"
    b1 = _docs(spark, [
        (1, f"some exam dump page: {leak} and more padding text here"),
        (2, "completely unrelated content about shipping containers"),
    ])
    eval_set = _docs(spark, [(900, eval_q)])
    r1 = refresh_corpus_batch(
        b1, None, mode="exact", eval_set=eval_set, decontam_n=8,
    )
    assert {r.doc_id for r in r1.ready.select("doc_id").collect()} == {2}
    store = r1.store.localCheckpoint(eager=True)
    assert store.count() == 2  # contaminated doc 1 is SEEN
    r1.done()

    # round 2: exact re-crawl of the contaminated page → dedup drop
    # (store unchanged), while a clean doc ships
    b2 = _docs(spark, [
        (11, f"some exam dump page: {leak} and more padding text here"),
        (12, "a genuinely new clean document about query engines"),
    ])
    r2 = refresh_corpus_batch(
        b2, store, mode="exact", eval_set=eval_set, decontam_n=8,
    )
    assert {r.doc_id for r in r2.ready.select("doc_id").collect()} == {12}
    assert r2.store.count() == 3
    r2.done()

    # overlap-fraction rule: an 8-gram of boilerplate alone is NOT enough
    # when the threshold requires most of the eval item
    r3 = refresh_corpus_batch(
        b1, None, mode="exact", eval_set=eval_set, decontam_n=8,
        decontam_min_overlap=0.99,
    )
    ids = {r.doc_id for r in r3.ready.select("doc_id").collect()}
    assert ids == {1, 2}  # 1 of 3 eval grams shared — under the threshold
    r3.done()
