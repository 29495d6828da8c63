"""Capstone integration: ONE crawl archive carrying html + images (baseline
and progressive JPEG, GIF) + audio (WAV) + video (MJPEG-AVI) flows through
the WARC adapters into refresh_crawl_batch — all four modalities deduped
against their carried stores in one call, re-crawls dropped on run 2."""

from __future__ import annotations

import gzip
import struct

import numpy as np

from evidence_datasource_parsers_spark.functions.avi import encode_avi_mjpeg
from evidence_datasource_parsers_spark.functions.gif import encode_gif
from evidence_datasource_parsers_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
)
from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
    refresh_crawl_batch,
)
from evidence_datasource_parsers_spark.sources.warc import (
    warc_documents,
    warc_media,
)

_SEQ = [0]


def _record(payload: bytes, ctype: bytes, url: str) -> bytes:
    _SEQ[0] += 1
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n" + payload
    )
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: <urn:uuid:e2e-%d>" % _SEQ[0],
        b"WARC-Date: 2024-03-01T00:00:00Z",
        b"Content-Length: " + str(len(body)).encode(),
        b"WARC-Target-URI: " + url.encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _photo(seed):
    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(
        128 + 60 * np.sin(x / (9.0 + seed)) + 50 * np.cos(y / (7.0 + seed))
        + 20 * np.sin(x * y / (301.0 + 40 * seed)),
        0, 255,
    )
    return np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)


def _wav(freqs, rate=8000, seconds=2.0):
    t = np.arange(int(rate * seconds)) / rate
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
    x = x * (0.6 + 0.4 * np.sin(np.pi * t / seconds))
    x = x / (np.abs(x).max() + 1e-9) * 0.8
    pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _clip(seed, n=6):
    y, x = np.mgrid[0:64, 0:64]
    frames = []
    for t in range(n):
        p = np.clip(
            128 + 60 * np.sin(x / (9.0 + seed) + t * 0.3)
            + 50 * np.cos(y / (7.0 + seed) - t * 0.2)
            + 20 * np.sin(x * y / (301.0 + 40 * seed)),
            0, 255,
        )
        frames.append(
            np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)
        )
    return frames


_SONG = [(220.0, 1.0), (550.0, 0.7), (1320.0, 0.5)]
_OTHER = [(330.0, 1.0), (880.0, 0.8), (1760.0, 0.4)]


def _write_warc(tmp_path, name, records):
    (tmp_path / name).mkdir()
    (tmp_path / name / "c.warc.gz").write_bytes(
        gzip.compress(b"".join(records))
    )
    return str(tmp_path / name)


def test_full_crawl_two_runs_all_modalities(spark, tmp_path):
    # ---- crawl 1: seed every store
    crawl1 = _write_warc(tmp_path, "crawl1", [
        _record(b"<html><body>a long article about container shipping "
                b"economics and port logistics</body></html>",
                b"text/html", "http://site/a"),
        _record(encode_jpeg(_photo(0), quality=95), b"image/jpeg",
                "http://site/p0.jpg"),
        _record(_wav(_SONG), b"audio/wav", "http://site/s0.wav"),
        _record(encode_avi_mjpeg(_clip(0), quality=95), b"video/x-msvideo",
                "http://site/v0.avi"),
    ])
    docs1 = warc_documents(spark, crawl1)
    res1 = refresh_crawl_batch(
        docs1,
        warc_media(spark, crawl1, decode_stats=False),
        None, None,
        doc_kwargs={"mode": "lsh", "k": 3, "num_shards": 2,
                    "id_col": "doc_id"},
        audio_batch=warc_media(spark, crawl1, decode_stats=False,
                               content_prefix="audio/"),
        video_batch=warc_media(spark, crawl1, decode_stats=False,
                               content_prefix="video/"),
    )
    assert res1.docs.ready.count() == 1
    assert res1.media.ready.count() == 1
    assert res1.audio.ready.count() == 1
    assert res1.video.ready.count() == 1
    stores = {
        "doc": res1.docs.store.localCheckpoint(eager=True),
        "img": res1.media.store.localCheckpoint(eager=True),
        "aud": res1.audio.store.localCheckpoint(eager=True),
        "vid": res1.video.store.localCheckpoint(eager=True),
    }
    res1.done()

    # ---- crawl 2: every modality re-crawled in a DIFFERENT rendering,
    # plus one genuinely new item per modality
    crawl2 = _write_warc(tmp_path, "crawl2", [
        # re-crawl: same article, trivially re-rendered whitespace
        _record(b"<html><body>a long article  about container shipping "
                b"economics and port logistics</body></html>",
                b"text/html", "http://site/a?utm_source=feed"),
        _record(b"<html><body>an entirely different note on sparse "
                b"retrieval and query planners</body></html>",
                b"text/html", "http://site/b"),
        # image re-crawl: PROGRESSIVE re-encode of the stored photo
        _record(encode_jpeg_progressive(_photo(0), quality=60),
                b"image/jpeg", "http://site/p0-reenc.jpg"),
        _record(encode_gif(
            (np.mgrid[0:64, 0:64][0] // 4).astype(np.uint8),
            np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)),
            b"image/gif", "http://site/new.gif"),
        # audio re-crawl: resampled rendering
        _record(_wav(_SONG, rate=16000), b"audio/wav",
                "http://site/s0-16k.wav"),
        _record(_wav(_OTHER), b"audio/wav", "http://site/s1.wav"),
        # video re-crawl: re-encoded without DHT segments
        _record(encode_avi_mjpeg(_clip(0), quality=60, strip_dht=True),
                b"video/x-msvideo", "http://site/v0-reenc.avi"),
        _record(encode_avi_mjpeg(_clip(5), quality=95),
                b"video/x-msvideo", "http://site/v1.avi"),
    ])
    res2 = refresh_crawl_batch(
        warc_documents(spark, crawl2),
        warc_media(spark, crawl2, decode_stats=False),
        stores["doc"], stores["img"],
        doc_kwargs={"mode": "lsh", "k": 3, "num_shards": 2,
                    "id_col": "doc_id"},
        audio_batch=warc_media(spark, crawl2, decode_stats=False,
                               content_prefix="audio/"),
        afp_store=stores["aud"],
        video_batch=warc_media(spark, crawl2, decode_stats=False,
                               content_prefix="video/"),
        frame_store=stores["vid"],
    )
    doc_urls = {r["url"] for r in res2.docs.ready.collect()}
    img_urls = {r["url"] for r in res2.media.ready.collect()}
    aud_urls = {r["url"] for r in res2.audio.ready.collect()}
    vid_urls = {r["url"] for r in res2.video.ready.collect()}
    assert doc_urls == {"http://site/b"}
    assert img_urls == {"http://site/new.gif"}
    assert aud_urls == {"http://site/s1.wav"}
    assert vid_urls == {"http://site/v1.avi"}
    # stores grew by exactly the survivors
    assert res2.media.store.select("media_id").distinct().count() == 2
    assert res2.audio.store.select("media_id").distinct().count() == 2
    assert res2.video.store.count() == 12  # 6 sampled frames x 2 clips
    res2.done()


def test_pdf_and_charset_docs_through_refresh(spark, tmp_path):
    """Round-8 ingestion tiers end-to-end: a cp1252-declared page goes
    through charset sniffing and a PDF response through the extraction
    tier, and BOTH land in the documents shape that feeds the text
    dedupe loop (refresh_corpus_batch)."""
    from evidence_datasource_parsers_spark.functions.pdf import encode_pdf
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_corpus_batch,
    )

    crawl = _write_warc(tmp_path, "crawlpdf", [
        _record(
            "<p>São Paulo — relatório de logística portuária e "
            "comércio marítimo</p>".encode("cp1252"),
            b"text/html; charset=iso-8859-1", "http://site/latin",
        ),
        _record(
            encode_pdf(
                [["a pdf report about maritime freight rates and "
                  "container economics"]],
                title="Freight",
            ),
            b"application/pdf", "http://site/r.pdf",
        ),
    ])
    docs = warc_documents(
        spark, crawl, charset="sniff", include_pdf=True
    )
    rows = {r["url"]: r for r in docs.collect()}
    assert rows["http://site/latin"]["text"] == (
        "São Paulo — relatório de logística portuária e comércio marítimo"
    )
    assert rows["http://site/latin"]["charset"] == "cp1252"
    assert rows["http://site/latin"]["charset_source"] == "http"
    assert rows["http://site/r.pdf"]["text"].startswith("a pdf report")
    assert rows["http://site/r.pdf"]["charset"] is None  # not sniffed

    res = refresh_corpus_batch(
        docs.select("doc_id", "url", "crawl_ts", "text"),
        None,
        mode="lsh", k=3, num_shards=2, id_col="doc_id",
    )
    assert res.ready.count() == 2  # both documents survive the first pass
    assert res.store.count() > 0
    res.done()
