"""CLI surface: list, run (+ --output sink), and error paths — in-process
(get_spark reuses the test session, so no second JVM)."""

from __future__ import annotations

import gzip
import json

from evidence_datasource_parsers_spark.__main__ import main


def test_list_names_every_query(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "q62_multimodal_meta" in out
    assert out.count("oracle") == 50  # every entry carries its oracle tag


def test_run_shows_rows(spark, sf_dir, capsys):
    assert main(["run", "q04_region_rollup", "--sf-dir", sf_dir,
                 "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "r_name" in out or "region" in out.lower()


def test_run_writes_gzip_jsonl(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "out.json.gz")
    assert main(["run", "q04_region_rollup", "--sf-dir", sf_dir,
                 "--output", dest]) == 0
    with gzip.open(dest, "rt") as fh:
        rows = [json.loads(line) for line in fh]
    assert len(rows) == 5  # five regions


def test_unknown_query_exits_2(spark, capsys):
    assert main(["run", "q99_nope"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_refresh_media_cli_two_runs(spark, tmp_path, capsys):
    """The media branch as an operation: two CLI runs with the same swap-
    safe pHash store; the second run's re-encode of a stored photo drops
    and the store directory survives the swap discipline."""
    import numpy as np

    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg

    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(
        128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 7.0)
        + 20 * np.sin((x * y) / 301.0),
        0, 255,
    )
    photo = np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)
    q = np.clip(128 + 70 * np.cos(x / 5.0) - 40 * np.sin(y / 11.0), 0, 255)
    other = np.stack([q] * 3, axis=2).astype(np.uint8)

    store, out = str(tmp_path / "phash_store"), str(tmp_path / "ready")
    b1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, encode_jpeg(photo, quality=95))], "media_id long, blob binary"
    ).write.parquet(b1)
    assert main(["refresh-media", "--batch", b1, "--store", store,
                 "--out", out]) == 0
    assert "1 fresh images" in capsys.readouterr().out

    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [
            (10, encode_jpeg(photo, quality=60)),   # re-encode → drop
            (11, encode_jpeg(other, quality=95)),   # new → keep
        ],
        "media_id long, blob binary",
    ).write.parquet(b2)
    assert main(["refresh-media", "--batch", b2, "--store", store,
                 "--out", out]) == 0
    assert "1 fresh images" in capsys.readouterr().out

    ready = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert ready == {1, 11}
    stored = {r["media_id"] for r in spark.read.parquet(store).collect()}
    assert stored == {1, 11}


def test_ingest_and_cdx_cli(spark, tmp_path, capsys):
    """The two new crawl-front-door commands: `ingest` writes the
    documents shape (with sniffed charset + PDF rows) and `cdx` writes
    the capture index plus the digest dedupe map."""
    import gzip as _gzip

    from evidence_datasource_parsers_spark.functions.pdf import encode_pdf

    def record(rid, url, body, ctype):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n"
            + body
        )
        hdr = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
            + f"WARC-Target-URI: {url}\r\n".encode()
            + b"WARC-Date: 2026-02-02T00:00:00Z\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode() + b"\r\n"
        )
        return hdr + http + b"\r\n\r\n"

    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    (warc_dir / "a.warc.gz").write_bytes(_gzip.compress(
        record("c1", "http://site.example/p",
               "<p>página São</p>".encode("cp1252"),
               b"text/html; charset=iso-8859-1")
        + record("c2", "http://site.example/r.pdf",
                 encode_pdf([["pdf body text"]]), b"application/pdf")
    ))

    docs_out = str(tmp_path / "docs")
    assert main(["ingest", "--warc", str(warc_dir), "--out", docs_out,
                 "--charset", "sniff", "--include-pdf"]) == 0
    docs = {r["url"]: r for r in spark.read.parquet(docs_out).collect()}
    assert docs["http://site.example/p"]["text"] == "página São"
    assert docs["http://site.example/p"]["charset"] == "cp1252"
    assert docs["http://site.example/r.pdf"]["text"] == "pdf body text"

    cdx_out = str(tmp_path / "cdx")
    dmap_out = str(tmp_path / "dmap")
    assert main(["cdx", "--warc", str(warc_dir), "--out", cdx_out,
                 "--digest-map", dmap_out]) == 0
    idx = spark.read.parquet(cdx_out)
    assert idx.count() == 2
    assert {r["urlkey"] for r in idx.collect()} == {
        "example,site)/p", "example,site)/r.pdf"
    }
    assert spark.read.parquet(dmap_out).count() == 2


def test_frontier_cli_two_rounds(spark, tmp_path, capsys):
    """The frontier as an operation: round 1 schedules and seeds the
    seen store; round 2 drops re-discoveries against it and schedules
    only the new url."""
    c1 = str(tmp_path / "cand1")
    spark.createDataFrame(
        [("http://site.example/a?utm_source=x",),
         ("http://site.example/a",),
         ("http://site.example/b",)],
        "url string",
    ).write.parquet(c1)
    store = str(tmp_path / "seen")
    out = str(tmp_path / "fetch")
    assert main(["frontier", "--candidates", c1, "--store", store,
                 "--out", out]) == 0
    urls1 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert urls1 == {"http://site.example/a", "http://site.example/b"}
    assert spark.read.parquet(store).count() == 2

    c2 = str(tmp_path / "cand2")
    spark.createDataFrame(
        [("http://site.example/b",), ("http://site.example/c",)],
        "url string",
    ).write.parquet(c2)
    assert main(["frontier", "--candidates", c2, "--store", store,
                 "--out", out]) == 0
    urls2 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert urls2 == urls1 | {"http://site.example/c"}
    st = spark.read.parquet(store)
    assert st.count() == 3
    # the CLI records the fetch clock by default — rounds run before an
    # operator enables --refresh-after must still be expirable later
    assert "last_fetch_ts" in st.columns
    assert st.where("last_fetch_ts IS NULL").count() == 0


def test_cdx_cli_digest_map_accumulates(spark, tmp_path):
    """Review regression: the digest map must cover the FULL accumulated
    index, not just the latest run's captures."""
    import gzip as _gzip

    def rec(rid, url, body):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        )
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
            + f"WARC-Target-URI: {url}\r\n".encode()
            + b"WARC-Date: 2026-02-02T00:00:00Z\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode() + b"\r\n"
            + http + b"\r\n\r\n"
        )

    w1 = tmp_path / "w1"
    w1.mkdir()
    (w1 / "a.warc.gz").write_bytes(
        _gzip.compress(rec("b1", "http://one.example/", b"batch one body"))
    )
    w2 = tmp_path / "w2"
    w2.mkdir()
    (w2 / "b.warc.gz").write_bytes(
        _gzip.compress(rec("b2", "http://two.example/", b"batch two body"))
    )
    out, dmap = str(tmp_path / "idx"), str(tmp_path / "dmap")
    assert main(["cdx", "--warc", str(w1), "--out", out,
                 "--digest-map", dmap]) == 0
    assert main(["cdx", "--warc", str(w2), "--out", out,
                 "--digest-map", dmap]) == 0
    urls = {r["url"] for r in spark.read.parquet(dmap).collect()}
    assert urls == {"http://one.example/", "http://two.example/"}


def test_compact_cli_all_kinds(spark, tmp_path, capsys):
    """`compact` collapses each append-only store kind in place and the
    compacted dir still answers probes identically."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        hll_store,
        sketch_store_estimates,
    )

    # gram: two appended capped-count rows for one gram → one row of 2
    gram = str(tmp_path / "gram")
    spark.createDataFrame(
        [(1, 1), (1, 1), (2, 2)], "gram_hash long, n_seen long"
    ).write.parquet(gram)
    assert main(["compact", "--store", gram, "--kind", "gram",
                 "--min-occurrences", "2"]) == 0
    rows = {
        (r.gram_hash, r.n_seen)
        for r in spark.read.parquet(gram).collect()
    }
    assert rows == {(1, 2), (2, 2)}
    # compaction recorded the cap sidecar — the next run needs no flag,
    # and a CONFLICTING flag is refused (compacting below the cap the
    # counts saturated at silently truncates them)
    from evidence_datasource_parsers_spark.operators.span_dedup import (
        read_gram_store_meta,
    )

    assert read_gram_store_meta(gram) == 2
    assert main(["compact", "--store", gram, "--kind", "gram"]) == 0
    assert main(["compact", "--store", gram, "--kind", "gram",
                 "--min-occurrences", "3"]) == 2
    assert read_gram_store_meta(gram) == 2
    # a pre-sidecar store with no flag: refuse rather than trust a default
    legacy = str(tmp_path / "gram_legacy")
    spark.createDataFrame(
        [(1, 1)], "gram_hash long, n_seen long"
    ).write.parquet(legacy)
    assert main(["compact", "--store", legacy, "--kind", "gram"]) == 2

    # sketch: three appended batch sketches → one row per group,
    # estimates unchanged
    sk = str(tmp_path / "sk")
    for lo, hi in [(0, 60), (40, 120), (100, 150)]:
        batch = spark.createDataFrame(
            [("a", f"u{i}") for i in range(lo, hi)],
            "domain string, url string",
        )
        hll_store(batch, ["domain"], "url").write.mode(
            "append"
        ).parquet(sk)
    before = sketch_store_estimates(
        spark.read.parquet(sk), ["domain"]
    ).collect()[0].approx_distinct
    assert main(["compact", "--store", sk, "--kind", "sketch",
                 "--group-cols", "domain"]) == 0
    after_df = spark.read.parquet(sk)
    assert after_df.count() == 1
    assert sketch_store_estimates(after_df, ["domain"]).collect()[0] \
        .approx_distinct == before

    # histogram: appended bin counts add exactly
    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [("g", [1, 0, 2]), ("g", [0, 3, 1])],
        "g string, counts array<long>",
    ).write.parquet(hist)
    assert main(["compact", "--store", hist, "--kind", "histogram",
                 "--group-cols", "g"]) == 0
    assert spark.read.parquet(hist).collect()[0].counts == [1, 3, 3]

    # fingerprint: disjoint rows — a bucket-keyed rewrite consolidates
    # the file sets without changing contents
    fp = str(tmp_path / "fp")
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(4)], "content_hash long"
        ).write.mode("append").parquet(fp)
    assert main(["compact", "--store", fp, "--kind", "fingerprint",
                 "--buckets", "4", "--bucket-col", "content_hash"]) == 0
    got = sorted(r.content_hash for r in spark.read.parquet(fp).collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(4))

    # cms: appended cell histories sum exactly
    cms = str(tmp_path / "cms")
    spark.createDataFrame(
        [("a", 0, 5, 2), ("a", 0, 5, 3), ("a", 1, 9, 2)],
        "g string, __d long, __bucket long, n long",
    ).write.parquet(cms)
    assert main(["compact", "--store", cms, "--kind", "cms",
                 "--group-cols", "g"]) == 0
    cms_rows = {
        (r["g"], r["__d"], r["__bucket"], r["n"])
        for r in spark.read.parquet(cms).collect()
    }
    assert cms_rows == {("a", 0, 5, 5), ("a", 1, 9, 2)}

    # bloom: appended word histories OR together (idempotent — the
    # duplicate row collapses without changing any bit)
    bloom = str(tmp_path / "bloom")
    spark.createDataFrame(
        [("a", 3, 5), ("a", 3, 5), ("a", 3, 2), ("a", 7, 1)],
        "g string, __w long, bits long",
    ).write.parquet(bloom)
    assert main(["compact", "--store", bloom, "--kind", "bloom",
                 "--group-cols", "g"]) == 0
    bloom_rows = {
        (r["g"], r["__w"], r["bits"])
        for r in spark.read.parquet(bloom).collect()
    }
    assert bloom_rows == {("a", 3, 7), ("a", 7, 1)}

    # bottomk: appended per-batch samples re-reduce to one k-set
    bk = str(tmp_path / "bk")
    spark.createDataFrame(
        [("a", 5, 10.0), ("a", 1, 20.0), ("a", 9, 30.0), ("a", 1, 20.0)],
        "g string, __hk long, value double",
    ).write.parquet(bk)
    assert main(["compact", "--store", bk, "--kind", "bottomk",
                 "--group-cols", "g", "--k", "2"]) == 0
    bk_rows = {
        (r["g"], r["__hk"], r["value"])
        for r in spark.read.parquet(bk).collect()
    }
    assert bk_rows == {("a", 1, 20.0), ("a", 5, 10.0)}
    # k is store identity (sidecar recorded): no flag → read back;
    # conflicting flag → refused (compacting below k truncates forever)
    from evidence_datasource_parsers_spark.operators.sketches import (
        read_bottomk_store_meta,
    )

    assert read_bottomk_store_meta(bk) == 2
    assert main(["compact", "--store", bk, "--kind", "bottomk",
                 "--group-cols", "g"]) == 0
    assert main(["compact", "--store", bk, "--kind", "bottomk",
                 "--group-cols", "g", "--k", "5"]) == 2
    # sidecar-less store with no flag: refuse, never default
    bk_legacy = str(tmp_path / "bk_legacy")
    spark.read.parquet(bk).write.parquet(bk_legacy)
    assert main(["compact", "--store", bk_legacy, "--kind", "bottomk",
                 "--group-cols", "g"]) == 2
    # a data-less dir (e.g. sidecar-only from a stamp-first sink whose
    # first batch was empty) is a friendly refusal, not a Spark
    # schema-inference crash
    import os as _os

    empty = str(tmp_path / "bk_empty")
    _os.makedirs(empty)
    (tmp_path / "bk_empty" / "_bottomk_meta.json").write_text('{"k": 2}')
    assert main(["compact", "--store", empty, "--kind", "bottomk",
                 "--group-cols", "g"]) == 2

    # seen: the frontier store collapses to max-ts per hash through the
    # same CLI entry (mixed legacy layout handled by read_seen_store)
    seen = str(tmp_path / "seen")
    spark.createDataFrame([(7,)], "url_hash long").write.mode(
        "append"
    ).parquet(seen)
    spark.createDataFrame(
        [(7, 5.0), (8, 9.0)], "url_hash long, last_fetch_ts double"
    ).write.mode("append").parquet(seen)
    assert main(["compact", "--store", seen, "--kind", "seen"]) == 0
    got_seen = {
        r.url_hash: r.last_fetch_ts
        for r in spark.read.parquet(seen).collect()
    }
    assert got_seen == {7: 5.0, 8: 9.0}

    # missing --group-cols is a usage error, not a crash
    assert main(["compact", "--store", sk, "--kind", "sketch"]) == 2
    capsys.readouterr()


def test_layout_audit_cli(spark, tmp_path, capsys):
    from evidence_datasource_parsers_spark.__main__ import main

    p = str(tmp_path / "t")
    spark.range(1024).selectExpr("id", "id * 2 AS x").repartitionByRange(
        4, "id"
    ).write.parquet(p)
    assert main(["layout-audit", p]) == 0
    out = capsys.readouterr().out
    assert "width_amplification" in out
    assert "x" in out and "id" in out


def test_compact_cli_canon_kind(spark, tmp_path, capsys):
    """`compact --kind canon`: replayed-append dups collapse, the global
    hot-bucket cap applies, and the max_dist sidecar survives the swap."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        read_canon_store_meta,
        write_canon_store_meta,
    )

    store = str(tmp_path / "canon")
    reps = spark.createDataFrame(
        [(7, "aaaa"), (3, "aaaa"), (9, "bbbb")],
        "canonical_id long, canonical string",
    )
    seg = canon_segment_rows(reps, max_dist=1)
    seg.write.parquet(store)
    seg.write.mode("append").parquet(store)  # a crash-replayed append
    # no sidecar + no flag: refused (identity must be known to re-stamp)
    assert main(["compact", "--store", store, "--kind", "canon"]) == 2
    write_canon_store_meta(store, 1)
    # conflicting flag refused, sidecar wins when omitted
    assert main(["compact", "--store", store, "--kind", "canon",
                 "--max-dist", "2"]) == 2
    assert main(["compact", "--store", store, "--kind", "canon",
                 "--hot-bucket-cap", "1"]) == 0
    rows = spark.read.parquet(store).collect()
    assert {r.canonical_id for r in rows} == {3, 9}
    assert len(rows) == 4  # dups gone, cap kept min-id rep per bucket
    assert read_canon_store_meta(store) == 1  # re-stamped after the swap


def test_refresh_cli_canon_col(spark, tmp_path, capsys):
    """`refresh --canon-col`: two rounds — round-2 near-duplicate labels
    converge on round-1 representatives, the canon segment store advances
    append-only, and a mismatched --canon-max-dist is refused."""
    import pyspark.sql.functions as F  # noqa: N812

    batch1 = str(tmp_path / "b1")
    batch2 = str(tmp_path / "b2")
    store = str(tmp_path / "store")
    canon_store = str(tmp_path / "canon_store")
    out = str(tmp_path / "ready")
    spark.createDataFrame(
        [(1, "a a a a unique first document", "NeurIPS"),
         (2, "b b b b second document body", "NeurIPS conf")],
        "doc_id long, text string, venue string",
    ).write.parquet(batch1)
    spark.createDataFrame(
        [(10, "c c c c third document body", "NeurIPS cnf"),
         (11, "d d d d fourth document body", "totally other")],
        "doc_id long, text string, venue string",
    ).write.parquet(batch2)

    base = ["refresh", "--batch", batch1, "--store", store, "--out", out,
            "--mode", "exact", "--canon-col", "venue",
            "--canon-store", canon_store, "--canon-max-dist", "2"]
    # --canon-col without --canon-store is refused
    assert main([a for a in base if a not in (
        "--canon-store", canon_store)]) == 2
    assert main(base) == 0
    r1 = spark.read.parquet(out)
    assert {c for c in r1.columns} >= {
        "venue_canonical_id", "venue_canonical"
    }
    # 'NeurIPS' / 'NeurIPS conf' are >2 edits apart → separate reps
    m1 = {r.doc_id: r.venue_canonical_id for r in r1.collect()}
    assert m1 == {1: 1, 2: 2}
    seg1 = spark.read.parquet(canon_store).count()

    base2 = ["refresh", "--batch", batch2, "--store", store, "--out", out,
             "--mode", "exact", "--canon-col", "venue",
             "--canon-store", canon_store, "--canon-max-dist", "2"]
    assert main(base2) == 0
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # 'NeurIPS cnf' is 1 edit from stored 'NeurIPS conf' → converges
    assert rows[10].venue_canonical == "NeurIPS conf"
    assert rows[10].venue_canonical_id == 2
    assert rows[11].venue_canonical_id == 11
    # append-only advance: exactly the new rep's k+1=3 segment rows landed
    assert spark.read.parquet(canon_store).count() == seg1 + 3
    # identity guard: a different k is refused before touching anything
    bad = list(base2)
    bad[bad.index("2")] = "1"
    assert main(bad) == 2
    err = capsys.readouterr().err
    assert "not comparable" in err


def test_compact_cli_table_store(spark, tmp_path, capsys):
    """compact --table: the bucketed TABLE store's explicit-cadence
    collapse — file sets consolidate under the sidecar's bucket identity,
    the table re-registers at the new files, and the flag conflicts are
    refused."""
    import glob
    import uuid

    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucket_spec,
        write_bucketed_store,
    )

    table = f"cli_tbl_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "tbl_store")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("content_hash")
    )
    try:
        write_bucketed_store(mk(0, 100), store, table, ["content_hash"], 4)
        append_bucketed_store(mk(100, 200), table, ["content_hash"], 4)
        files_before = len(glob.glob(f"{store}/*.parquet"))
        assert files_before > 4

        assert main(["compact", "--store", store, "--kind", "fingerprint",
                     "--table", table]) == 0
        out = capsys.readouterr().out
        assert "200 rows" in out
        assert len(glob.glob(f"{store}/*.parquet")) <= 4
        spec = read_bucket_spec(store)
        assert spec["bucket_cols"] == ["content_hash"]
        assert spec["n_buckets"] == 4
        assert spark.table(table).count() == 200

        # conflicts are refused before damage: --kind seen against a
        # content_hash-keyed table store is a bucket-identity mismatch
        # (it would distinct away the fingerprint rows), and bootstrap
        # flags beside a sidecar-carrying store conflict with identity
        assert main(["compact", "--store", store, "--kind", "seen",
                     "--table", table]) == 2
        assert main(["compact", "--store", store, "--kind", "fingerprint",
                     "--table", table, "--bucket-col", "content_hash"]) == 2
        err = capsys.readouterr().err
        assert "not a seen store" in err and "--bucket-col" in err
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_refresh_cli_store_table_two_rounds(spark, tmp_path):
    """refresh --store-table (+ --canon-table): the batch CLI rides the
    same bucketed-table store lifecycle as the streaming sink — round 1
    creates both tables, round 2's probes read them in place, re-crawls
    are dropped, and the sidecars let a fresh session resume."""
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )

    t_fp = f"rcli_fp_{uuid.uuid4().hex[:8]}"
    t_cn = f"rcli_cn_{uuid.uuid4().hex[:8]}"
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    store = str(tmp_path / "fp_store")
    cstore = str(tmp_path / "cn_store")
    out = str(tmp_path / "ready_out")
    spark.createDataFrame(
        [(1, "alpha beta gamma", "acme inc"),
         (2, "alpha delta", "acme inc.")],
        "doc_id long, text string, publisher string",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(10, "alpha beta gamma", "acme inc"),   # re-crawl — dropped
         (11, "epsilon zeta", "akme inc")],      # near-miss label
        "doc_id long, text string, publisher string",
    ).write.parquet(b2)
    base = ["refresh", "--store", store, "--out", out, "--mode", "exact",
            "--store-table", t_fp, "--store-buckets", "4",
            "--canon-col", "publisher", "--canon-store", cstore,
            "--canon-table", t_cn, "--canon-max-dist", "1"]
    try:
        assert main(base + ["--batch", b1]) == 0
        assert spark.catalog.tableExists(t_fp)
        assert spark.catalog.tableExists(t_cn)
        assert read_bucket_spec(store)["bucket_cols"] == ["content_hash"]
        assert read_bucket_spec(cstore)["bucket_cols"] == ["seg_key"]

        # fresh-session resume: drop the in-memory registrations
        spark.sql(f"DROP TABLE {t_fp}")
        spark.sql(f"DROP TABLE {t_cn}")
        assert main(base + ["--batch", b2]) == 0
        ready = spark.read.parquet(out)
        assert sorted(r.doc_id for r in ready.collect()) == [1, 2, 11]
        # doc 11's near-miss label canonicalized to round 1's stored rep
        canon = {
            r.doc_id: r.publisher_canonical
            for r in ready.collect()
        }
        assert canon[11] == "acme inc"
        assert spark.table(t_fp).count() == 3   # three distinct contents
        # guards
        assert main(base + ["--batch", b2, "--mode", "simhash"]) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_fp}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cn}")


def test_compact_cli_bootstraps_plain_dir_into_table(spark, tmp_path, capsys):
    """compact --table --bucket-col: the migration path a plain-parquet
    store (built by rounds that predate store_table) takes into the
    bucketed-table lifecycle — bootstrap once at a compaction boundary,
    then the sidecar is the identity and conflicting flags are refused."""
    import uuid

    from evidence_datasource_parsers_spark.operators.df_store import (
        df_store_delta,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
    )

    table = f"boot_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "plain_df_store")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    # two plain appends — the pre-table world
    df_store_delta(docs, "text", "doc_id").write.mode("append").parquet(store)
    df_store_delta(
        spark.createDataFrame([(3, "beta delta")], "doc_id long, text string"),
        "text", "doc_id",
    ).write.mode("append").parquet(store)

    try:
        # without the bootstrap spec the table read refuses honestly
        import pytest

        with pytest.raises(ValueError, match="Bootstrap it once"):
            read_store(spark, store, table)

        assert main(["compact", "--store", store, "--kind", "df",
                     "--table", table, "--bucket-col", "term",
                     "--buckets", "4"]) == 0
        capsys.readouterr()
        spec = read_bucket_spec(store)
        assert spec["bucket_cols"] == ["term"]
        assert spec["n_buckets"] == 4
        assert spark.catalog.tableExists(table)
        # the additive collapse happened too: one row per (kind, term)
        rows = {(r.kind, r.term): r.n for r in spark.table(table).collect()}
        assert rows[("df", "alpha")] == 2
        assert rows[("meta", "__n_docs")] == 3

        # identity is now recorded: conflicting flags refuse
        assert main(["compact", "--store", store, "--kind", "df",
                     "--table", table, "--bucket-col", "other"]) == 2
        assert "_bucket_spec.json" in capsys.readouterr().err
        # and a flag-less re-compaction under the sidecar succeeds
        assert main(["compact", "--store", store, "--kind", "df",
                     "--table", table]) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_refresh_cli_eval_set_decontamination(spark, tmp_path):
    """refresh --eval-set: benchmark decontamination as an operation —
    the leaked doc never ships, but its fingerprint enters the store."""
    b1 = str(tmp_path / "dc_b1")
    ev = str(tmp_path / "dc_eval")
    store = str(tmp_path / "dc_store")
    out = str(tmp_path / "dc_out")
    eval_q = "what is the capital of france paris is the capital"
    spark.createDataFrame(
        [(1, f"exam dump: {eval_q} plus padding"),
         (2, "clean document about shipping containers and ports")],
        "doc_id long, text string",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(900, eval_q)], "doc_id long, text string"
    ).write.parquet(ev)
    assert main(["refresh", "--batch", b1, "--store", store, "--out", out,
                 "--mode", "exact", "--eval-set", ev,
                 "--decontam-n", "8"]) == 0
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [2]
    assert spark.read.parquet(store).count() == 2  # doc 1 SEEN, not shipped


def test_compact_cli_table_misuse_exits_2(spark, tmp_path, capsys):
    """Bootstrap misuse keeps the CLI contract (stderr + exit 2, no raw
    traceback): --table on a sidecar-less dir without a bootstrap spec."""
    store = str(tmp_path / "plain_fp")
    spark.range(5).selectExpr("id AS content_hash").write.parquet(store)
    assert main(["compact", "--store", store, "--kind", "fingerprint",
                 "--table", "nope_tbl"]) == 2
    err = capsys.readouterr().err
    assert "_bucket_spec.json" in err and "bootstrap" in err


def test_refresh_cli_simhash_index_table_two_rounds(spark, tmp_path):
    """refresh --mode simhash --store-table: the batch CLI rides the
    KEY-INDEX store — near-dup re-crawls die against the carried
    (combo, key) table across a catalog-losing restart, and the combo
    split sidecar gates resumption."""
    import uuid

    base_txt = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    table = f"rcli_sh_{uuid.uuid4().hex[:8]}"
    b1, b2 = str(tmp_path / "sh_b1"), str(tmp_path / "sh_b2")
    store = str(tmp_path / "sh_fp_store")
    out = str(tmp_path / "sh_ready")
    spark.createDataFrame(
        [(1, base_txt)], "doc_id long, text string"
    ).write.parquet(b1)
    spark.createDataFrame(
        [(10, base_txt.replace("afternoon", "evening")),  # near re-crawl
         (11, "completely unrelated content about distributed query "
              "engines partitioning shuffle exchanges and plans")],
        "doc_id long, text string",
    ).write.parquet(b2)
    args = ["refresh", "--store", store, "--out", out, "--mode", "simhash",
            "--store-table", table, "--store-buckets", "8"]
    try:
        assert main(args + ["--batch", b1]) == 0
        from evidence_datasource_parsers_spark.operators.dedupe import (
            read_simhash_index_meta,
        )
        from evidence_datasource_parsers_spark.sources.sinks import (
            read_bucket_spec,
        )

        assert read_bucket_spec(store)["bucket_cols"] == ["combo", "key"]
        assert read_simhash_index_meta(store) == {
            "nbits": 32, "max_hamming": 3, "n_blocks": 6,
        }
        spark.sql(f"DROP TABLE {table}")  # fresh-session resume
        assert main(args + ["--batch", b2]) == 0
        got = sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )
        assert got == [1, 11]  # 10 dropped against the carried index
        assert spark.table(table).count() == 2 * 20
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_classic_simhash_store_refused_then_migrated(spark, tmp_path, capsys):
    """A classic one-row-per-document simhash store, as the retired
    classic operator wrote it: `refresh` refuses it (exit 2, naming the
    migration); migrate_hamming_store rewrites it in place from its own
    fingerprint column and stamps the sidecar; a probe against the
    migrated store drops exactly the ids a brute-force min-hamming replay
    drops; and the CLI then advances it."""
    from hamming_oracle import replay_hamming_dedupe

    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe_indexed,
        read_simhash_index_meta,
        simhash_fingerprints,
        write_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        migrate_hamming_store,
    )

    base_txt = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    stored_docs = spark.createDataFrame(
        [(1, base_txt), (2, "some other original document body entirely")],
        "doc_id long, text string",
    )
    classic = simhash_fingerprints(stored_docs, "text", "doc_id")
    store = str(tmp_path / "classic_sh")
    classic.write.parquet(store)
    batch_rows = [
        (10, base_txt.replace("afternoon", "evening")),  # near re-crawl
        (11, "completely unrelated content about distributed query "
             "engines partitioning shuffle exchanges and plans"),
        (12, base_txt),                                  # exact re-crawl
    ]
    b = str(tmp_path / "classic_sh_batch")
    spark.createDataFrame(
        batch_rows, "doc_id long, text string"
    ).write.parquet(b)
    out = str(tmp_path / "classic_sh_out")
    args = ["refresh", "--batch", b, "--store", store, "--out", out,
            "--mode", "simhash"]

    assert main(args) == 2
    assert "migrate_hamming_store" in capsys.readouterr().err
    # a classic dir carrying a sidecar anyway (stamped by hand) passes the
    # sidecar check and is refused by the operator's column check, still
    # as the CLI's message + exit 2
    write_simhash_index_meta(store, nbits=32, max_hamming=3, n_blocks=6)
    assert main(args) == 2
    assert "missing ['combo', 'key']" in capsys.readouterr().err

    assert migrate_hamming_store(spark, store, "simhash", "doc_id") == 2 * 20
    assert read_simhash_index_meta(store) == {
        "nbits": 32, "max_hamming": 3, "n_blocks": 6,
    }
    batch = spark.read.parquet(b)
    [(expected, _kept)] = replay_hamming_dedupe(
        [[(r.doc_id, r.content_hash, r.simhash) for r in
          simhash_fingerprints(batch, "text", "doc_id").collect()]],
        max_hamming=3,
        store=[r.simhash for r in classic.collect()],
    )
    assert expected == {11}
    res = incremental_simhash_dedupe_indexed(
        batch, spark.read.parquet(store), "text", "doc_id"
    )
    assert {r.doc_id for r in res.fresh.collect()} == expected
    res.pinned.unpersist()

    assert main(args) == 0
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == expected
    assert spark.read.parquet(store).select("doc_id").distinct().count() == 3


def test_refresh_cli_store_errors_exit_2(spark, tmp_path, capsys):
    """refresh keeps the message+exit-2 CLI contract _compact follows for
    the same store-layer refusals (ADVICE r13): --store-table against a
    sidecar-less plain dir, and a flag-less round against a bucketed
    TABLE store, both print `refresh: ...` to stderr — never a raw
    traceback."""
    import uuid

    batch = str(tmp_path / "re2_batch")
    out = str(tmp_path / "re2_out")
    spark.createDataFrame(
        [(1, "some body of text")], "doc_id long, text string"
    ).write.parquet(batch)

    # case 1: --store-table over a dir whose files are plain parquet
    plain = str(tmp_path / "re2_plain")
    spark.range(3).selectExpr(
        "id AS content_hash"
    ).write.parquet(plain)
    assert main(["refresh", "--batch", batch, "--store", plain,
                 "--out", out, "--mode", "exact",
                 "--store-table", f"re2_{uuid.uuid4().hex[:8]}"]) == 2
    err = capsys.readouterr().err
    assert err.startswith("refresh:") and "_bucket_spec.json" in err

    # case 2: flag-less round against a bucketed TABLE store
    table = f"re2b_{uuid.uuid4().hex[:8]}"
    bstore = str(tmp_path / "re2_bucketed")
    try:
        assert main(["refresh", "--batch", batch, "--store", bstore,
                     "--out", out, "--mode", "exact",
                     "--store-table", table,
                     "--store-buckets", "4"]) == 0
        capsys.readouterr()
        assert main(["refresh", "--batch", batch, "--store", bstore,
                     "--out", out, "--mode", "exact"]) == 2
        err = capsys.readouterr().err
        assert err.startswith("refresh:")
        assert "bucketed TABLE store" in err
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_frontier_cli_store_table_lifecycle(spark, tmp_path):
    """Table-backed seen store (VERDICT r12 item 5): round 1 creates the
    bucketed table atomically; a catalog-losing restart re-registers
    from the sidecar; re-discoveries die against the carried history;
    `compact --kind seen --table` collapses it keeping the bucket
    identity; and a flag-less round against the bucketed dir refuses
    instead of poisoning the layout."""
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )

    table = f"seen_cli_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "seen_tbl")
    out = str(tmp_path / "fetch_tbl")
    c1, c2 = str(tmp_path / "cand1"), str(tmp_path / "cand2")
    spark.createDataFrame(
        [("http://site.example/a",), ("http://site.example/b",)],
        "url string",
    ).write.parquet(c1)
    spark.createDataFrame(
        [("http://site.example/b",), ("http://site.example/c",)],
        "url string",
    ).write.parquet(c2)
    try:
        assert main(["frontier", "--candidates", c1, "--store", store,
                     "--out", out, "--store-table", table]) == 0
        assert read_bucket_spec(store)["bucket_cols"] == ["url_hash"]
        assert spark.table(table).count() == 2
        # restart: in-memory catalog lost, sidecar re-registers
        spark.sql(f"DROP TABLE {table}")
        assert main(["frontier", "--candidates", c2, "--store", store,
                     "--out", out, "--store-table", table]) == 0
        urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
        assert urls == ["http://site.example/a", "http://site.example/b",
                        "http://site.example/c"]
        assert spark.table(table).count() == 3
        # compaction keeps the bucket identity (appends collapsed)
        assert main(["compact", "--store", store, "--kind", "seen",
                     "--table", table]) == 0
        assert read_bucket_spec(store)["bucket_cols"] == ["url_hash"]
        assert spark.table(table).count() == 3
        # a flag-less round must not poison the bucketed layout
        assert main(["frontier", "--candidates", c1, "--store", store,
                     "--out", out]) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_cli_seen_table_migrates_plain_store(spark, tmp_path):
    """`compact --kind seen --table` is the migration boundary for a
    pre-table plain seen store: the rewrite bootstraps the bucket spec
    on url_hash, after which --store-table rounds probe it in place."""
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )

    table = f"seen_mig_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "seen_plain")
    out = str(tmp_path / "fetch_mig")
    c1, c2 = str(tmp_path / "mcand1"), str(tmp_path / "mcand2")
    spark.createDataFrame(
        [("http://m.example/a",), ("http://m.example/b",)], "url string"
    ).write.parquet(c1)
    spark.createDataFrame(
        [("http://m.example/b",), ("http://m.example/c",)], "url string"
    ).write.parquet(c2)
    try:
        # round 1: plain-dir store (no table flags)
        assert main(["frontier", "--candidates", c1, "--store", store,
                     "--out", out]) == 0
        assert read_bucket_spec(store) is None
        # a --store-table round against the plain dir refuses w/ recipe
        assert main(["frontier", "--candidates", c2, "--store", store,
                     "--out", out, "--store-table", table]) == 2
        # migrate at the compaction boundary
        assert main(["compact", "--store", store, "--kind", "seen",
                     "--table", table, "--buckets", "8"]) == 0
        spec = read_bucket_spec(store)
        assert spec == {
            "bucket_cols": ["url_hash"], "n_buckets": 8,
            "schema": spec["schema"],
        }
        # table-backed rounds now work
        assert main(["frontier", "--candidates", c2, "--store", store,
                     "--out", out, "--store-table", table]) == 0
        urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
        assert urls == ["http://m.example/a", "http://m.example/b",
                        "http://m.example/c"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_cli_refuses_flagless_on_bucketed_store(
    spark, tmp_path, capsys
):
    """A flag-less compaction of a bucketed TABLE store would swap plain
    files under a catalog name that still claims the bucket layout —
    every later probe would silently mis-join; the CLI refuses for both
    the generic kinds and the seen kind."""
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        write_bucketed_store,
    )

    table = f"flagless_{uuid.uuid4().hex[:8]}"
    p = str(tmp_path / "flagless_store")
    try:
        write_bucketed_store(
            spark.range(64).selectExpr("id AS content_hash"),
            p, table, ["content_hash"], 4,
        )
        assert main(["compact", "--store", p,
                     "--kind", "fingerprint"]) == 2
        err = capsys.readouterr().err
        assert "without --table" in err
        assert main(["compact", "--store", p, "--kind", "seen"]) == 2
        err = capsys.readouterr().err
        assert "store_table" in err or "--table" in err
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
