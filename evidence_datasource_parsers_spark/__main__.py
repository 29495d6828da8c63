"""CLI front-end — the reference's per-parser argparse surface, unified.

Every reference parser is a CLI module (``python modules/ClinGen.py
--input … --output …``); here one entry point drives the whole engine:

    python -m evidence_datasource_parsers_spark list
    python -m evidence_datasource_parsers_spark run q01_pricing_summary \
        --sf-dir /root/testdata/sf0.01 [--output out.json.gz] [--explain]
    python -m evidence_datasource_parsers_spark refresh \
        --batch new_docs.parquet --store ./fp_store --out ./fresh_out \
        [--mode lsh] [--min-quality 0.0] [--canonicalize] [--shards 64]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="evidence_datasource_parsers_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list catalog queries")

    run = sub.add_parser("run", help="run a catalog query")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--output", help="write gzip JSON-lines here")
    run.add_argument("--explain", action="store_true")
    run.add_argument("--limit", type=int, default=20)

    refresh = sub.add_parser(
        "refresh",
        help="one crawl-refresh iteration: dedup against the store, "
        "quality-gate, split, shard, persist the updated store",
    )
    refresh.add_argument("--batch", required=True, help="parquet of new docs")
    refresh.add_argument("--store", required=True,
                         help="fingerprint store dir (created on first run)")
    refresh.add_argument("--out", required=True, help="ready-docs output dir")
    refresh.add_argument("--mode", default="lsh",
                         choices=["exact", "lsh", "simhash"])
    refresh.add_argument("--text-col", default="text")
    refresh.add_argument("--id-col", default="doc_id")
    refresh.add_argument("--min-quality", type=float, default=None)
    refresh.add_argument("--shards", type=int, default=64)
    refresh.add_argument("--canonicalize", action="store_true")
    refresh.add_argument("--canon-col", default=None,
                         help="fuzzy-canonicalize this short-string "
                         "metadata column against the carried segment "
                         "store (adds {col}_canonical_id/_canonical)")
    refresh.add_argument("--canon-store", default=None,
                         help="canon segment-store dir (created on "
                         "first run; required with --canon-col)")
    refresh.add_argument("--canon-max-dist", type=int, default=2)
    refresh.add_argument("--df-store", default=None,
                         help="document-frequency store dir: append the "
                         "READY docs' (kind, term, n) additive delta "
                         "each round (BM25/IDF statistics of everything "
                         "ingested; created on first run)")
    refresh.add_argument("--store-table", default=None,
                         help="carry the fingerprint store as a BUCKETED "
                         "catalog table under this name, bucketed on the "
                         "mode's probe key (exact: content_hash, lsh: "
                         "band+key, simhash: combo+key): the per-round "
                         "probe reads the store in place instead of "
                         "re-shuffling it — the corpus-scale path; "
                         "re-registered from _bucket_spec.json in fresh "
                         "sessions.  Without it the same rows live in a "
                         "plain parquet dir")
    refresh.add_argument("--canon-table", default=None,
                         help="carry the canon segment store as a "
                         "bucketed table (seg_key); needs --canon-store")
    refresh.add_argument("--store-buckets", type=int, default=64,
                         help="bucket count when --store-table/"
                         "--canon-table CREATE their store (size for the "
                         "store's TARGET scale; fixed at creation)")
    refresh.add_argument("--eval-set", default=None,
                         help="parquet of evaluation documents: drop "
                         "every batch doc sharing an n-gram with any "
                         "eval doc (benchmark decontamination) — gated "
                         "AFTER dedup, so contaminated docs are still "
                         "seen by the store and re-crawls die cheap")
    refresh.add_argument("--eval-text-col", default=None,
                         help="eval set's text column when it differs "
                         "from --text-col")
    refresh.add_argument("--decontam-n", type=int, default=8,
                         help="contamination n-gram length (8 strict, "
                         "13 = GPT-3 convention)")
    refresh.add_argument("--decontam-min-overlap", type=float, default=None,
                         help="switch to the overlap-fraction rule: "
                         "contaminated only when >= this fraction of "
                         "some eval doc's distinct grams appear "
                         "(kills boilerplate false positives)")

    media = sub.add_parser(
        "refresh-media",
        help="one media-refresh iteration: perceptual (pHash) dedup "
        "against the image store, decode-stats gate, persist the store",
    )
    media.add_argument("--batch", required=True,
                       help="parquet of new media rows (media_id, blob)")
    media.add_argument("--store", required=True,
                       help="pHash store dir (created on first run)")
    media.add_argument("--out", required=True, help="ready-media output dir")
    media.add_argument("--binary-col", default="blob")
    media.add_argument("--id-col", default="media_id")
    media.add_argument("--max-hamming", type=int, default=6)
    media.add_argument("--min-width", type=int, default=None)
    media.add_argument("--min-height", type=int, default=None)

    ingest = sub.add_parser(
        "ingest",
        help="WARC archives → documents parquet (html stripped, urls "
        "canonical, portable ids) ready for `refresh`",
    )
    ingest.add_argument("--warc", required=True, help="WARC dir/glob")
    ingest.add_argument("--out", required=True, help="documents output dir")
    ingest.add_argument("--charset", default="utf8",
                        choices=["utf8", "sniff"],
                        help="'sniff' decodes the non-UTF-8 tail "
                        "(HTML5 order) and adds provenance columns")
    ingest.add_argument("--include-pdf", action="store_true",
                        help="extract text from application/pdf responses")
    ingest.add_argument("--main-content", action="store_true",
                        help="readability extraction instead of tag strip")

    cdx = sub.add_parser(
        "cdx",
        help="WARC archives → CDX capture index parquet (SURT urlkey, "
        "digest, seekable offset/length)",
    )
    cdx.add_argument("--warc", required=True, help="WARC dir/glob")
    cdx.add_argument("--out", required=True, help="index output dir")
    cdx.add_argument("--digest-map",
                     help="also write best_capture_per_digest here "
                     "(the at-crawl revisit dedupe map)")

    frontier = sub.add_parser(
        "frontier",
        help="one frontier round: discovered URLs → deduped, gated, "
        "politely scheduled fetch list; advance the seen-URL store",
    )
    frontier.add_argument("--candidates", required=True,
                          help="parquet of discovered urls (url column)")
    frontier.add_argument("--store", required=True,
                          help="seen-URL store dir (created on first run)")
    frontier.add_argument("--out", required=True,
                          help="fetch-list output dir (append mode; "
                          "rounds written before the is_recrawl column "
                          "existed mix layouts — read such dirs with "
                          "option('mergeSchema', true) or the column "
                          "silently drops)")
    frontier.add_argument("--robots",
                          help="parquet (domain, robots_txt) frame")
    frontier.add_argument("--url-col", default="url")
    frontier.add_argument("--agent", default="*")
    frontier.add_argument("--block-domains", default=None,
                          help="comma-separated registrable domains")
    frontier.add_argument("--budget", type=int, default=1000,
                          help="max urls per domain per round")
    frontier.add_argument("--default-delay", type=float, default=1.0)
    frontier.add_argument("--refresh-after", type=float, default=None,
                          help="re-admit seen urls older than this many "
                          "seconds (enables timestamped store rows)")
    frontier.add_argument("--now", type=float, default=None,
                          help="epoch-seconds clock for --refresh-after "
                          "(defaults to wall clock)")
    frontier.add_argument("--recrawl-share", type=float, default=None,
                          help="cap re-admitted (re-crawl) urls at this "
                          "fraction of each domain's --budget; new "
                          "discoveries get the rest (either side may "
                          "borrow unused slots)")
    frontier.add_argument("--lastmod-col", default=None,
                          help="epoch-seconds candidates column; a seen "
                          "url whose lastmod post-dates its last fetch "
                          "re-admits")
    frontier.add_argument("--compact", action="store_true",
                          help="compact the seen store after the round "
                          "(one row per hash; the only O(store) step — "
                          "run on a cadence, not every round)")
    frontier.add_argument("--store-table", default=None,
                          help="carry the seen store as a bucketed "
                          "catalog TABLE on url_hash (the dedup sinks' "
                          "store_table form): the round's anti-join "
                          "reads the crawl history in place — zero "
                          "store-side shuffle — instead of re-shuffling "
                          "O(history) per round; migrate a plain dir "
                          "once with `compact --kind seen --table`")
    frontier.add_argument("--store-buckets", type=int, default=64,
                          help="bucket count when --store-table creates "
                          "the table (size for the TARGET history)")

    compact = sub.add_parser(
        "compact",
        help="collapse an append-only store history in place — the "
        "explicit-cadence O(store) maintenance step every per-round "
        "advance defers (run when file counts grow, never per round)",
    )
    compact.add_argument("--store", required=True, help="store dir")
    compact.add_argument(
        "--kind", required=True,
        choices=["seen", "gram", "sketch", "histogram", "cms", "bloom",
                 "bottomk", "canon", "df", "fingerprint"],
        help="seen: frontier URL hashes (max last_fetch_ts per hash); "
        "gram: span-dedup counts (capped sum per gram); sketch: HLL "
        "(register-maxima merge per group); histogram: exact bin adds "
        "per group; cms: count-min cell adds per (group, depth, "
        "bucket); bloom: membership word ORs per (group, word); "
        "bottomk: deterministic uniform sample (k smallest row-id "
        "hashes per group, --k); "
        "canon: fuzzy-canonicalization segment index (replayed-append "
        "dup drop + global hot-bucket cap re-apply, --hot-bucket-cap); "
        "df: document-frequency store (additive sum per (kind, term)); "
        "fingerprint: rows are already disjoint — the rewrite "
        "consolidates small append files in a PLAIN parquet dir "
        "(--bucket-col partitions the files by hash for locality; a "
        "bucketed TABLE store instead passes --table, which keeps the "
        "sidecar-recorded bucket identity)",
    )
    compact.add_argument("--group-cols", default=None,
                         help="comma-separated group columns "
                         "(sketch/histogram kinds)")
    compact.add_argument("--min-occurrences", type=int, default=None,
                         help="gram kind: the span threshold the counts "
                         "saturate at (must match the operator's; read "
                         "from the store's _span_gram_meta.json sidecar "
                         "when omitted)")
    compact.add_argument("--k", type=int, default=None,
                         help="bottomk kind: the sample size (must match "
                         "the store's; read from the store's "
                         "_bottomk_meta.json sidecar when omitted)")
    compact.add_argument("--max-dist", type=int, default=None,
                         help="canon kind: the edit-distance bound the "
                         "segment index was built at (must match the "
                         "store's; read from _canon_store_meta.json "
                         "when omitted)")
    compact.add_argument("--hot-bucket-cap", type=int, default=None,
                         help="canon kind: keep this many min-id "
                         "representatives per segment bucket on rewrite")
    compact.add_argument("--buckets", type=int, default=None,
                         help="fingerprint kind: hash-partition the "
                         "rewrite into this many file sets on "
                         "--bucket-col (requires --bucket-col)")
    compact.add_argument("--bucket-col", default=None,
                         help="fingerprint kind: bucket key column")
    compact.add_argument("--table", default=None,
                         help="the store is a bucketed catalog TABLE "
                         "(the streaming sink's store_table form): the "
                         "rewrite keeps the dir's _bucket_spec.json "
                         "bucket identity via write_bucketed_store and "
                         "re-registers this table name at the new "
                         "files — the compacted store keeps its "
                         "zero-store-side-Exchange probe plan")
    compact.add_argument("--apply-layout", action="store_true",
                         help="ACT on the post-compaction layout "
                         "advisory: when the measured verdict is "
                         "'recluster', rewrite the store z-ordered on "
                         "the candidate columns (refused for bucketed "
                         "table stores, and when the verdict hedges on "
                         "unmeasured string columns unless "
                         "--layout-cols picks the axes explicitly)")
    compact.add_argument("--layout-cols", default=None,
                         help="comma list of z-order axes for "
                         "--apply-layout, overriding the advisory's "
                         "candidates (and its string-column hedge)")

    layout = sub.add_parser(
        "layout-audit",
        help="per-column clustering metrics of a parquet directory from "
        "footer stats alone (no data pages): clustering depth, width "
        "amplification, null fraction — the re-cluster-or-not signal",
    )
    layout.add_argument("path", help="parquet directory (or file)")
    layout.add_argument("--limit", type=int, default=50)
    layout.add_argument("--distributed-listing", action="store_true",
                        help="list files via the binaryFile source "
                        "(path column only) instead of the driver-side "
                        "inputFiles() list — for stores whose file "
                        "count outgrows the driver (~10^5+)")

    skew = sub.add_parser(
        "skew-audit",
        help="measure a would-be shuffle's key skew BEFORE paying for "
        "it: top heavy-hitter keys with share and load factor, plus a "
        "leave-or-salt verdict (the measurement half of salted_join)",
    )
    skew.add_argument("path", help="parquet directory (or file)")
    skew.add_argument("--keys", required=True,
                      help="comma-separated shuffle key columns")
    skew.add_argument("--partitions", type=int, default=None,
                      help="target shuffle width (default: the "
                      "session's spark.sql.shuffle.partitions)")
    skew.add_argument("--top", type=int, default=20)
    skew.add_argument("--sample", type=float, default=None,
                      help="Bernoulli sample fraction for quick passes "
                      "(shares/load factors are scale-free)")
    skew.add_argument("--max-load-factor", type=float, default=4.0,
                      help="quanta one key may pin on a single reducer "
                      "before the verdict flips to 'salt'")

    args = parser.parse_args(argv)

    if args.cmd == "compact":
        return _compact(args)
    if args.cmd == "refresh":
        return _refresh(args)
    if args.cmd == "refresh-media":
        return _refresh_media(args)
    if args.cmd == "ingest":
        return _ingest(args)
    if args.cmd == "cdx":
        return _cdx(args)
    if args.cmd == "frontier":
        return _frontier(args)
    if args.cmd == "layout-audit":
        return _layout_audit(args)
    if args.cmd == "skew-audit":
        return _skew_audit(args)

    from evidence_datasource_parsers_spark.plans import CATALOG

    if args.cmd == "list":
        for name, q in sorted(CATALOG.items()):
            oracle = "oracle" if q.oracle else "rows-only"
            print(f"{name}\t{oracle}\t{','.join(q.tags)}")
        return 0

    if args.query not in CATALOG:
        print(f"unknown query {args.query!r}; try 'list'", file=sys.stderr)
        return 2

    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = CATALOG[args.query].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.output:
        from evidence_datasource_parsers_spark.sources.sinks import (
            write_evidence_strings,
        )

        write_evidence_strings(df, args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _resolve_store_identity(store, flag_value, flag_name, read_fn, sidecar):
    """Resolve an identity parameter (gram cap, bottom-k k) from the
    store's sidecar and/or an explicit flag: sidecar wins, a conflicting
    flag is refused, and a missing-both is refused (never defaulted —
    compacting under the wrong identity silently corrupts the store).
    Returns (value, 0) or (None, 2)."""
    meta = read_fn(store)
    if meta is not None and flag_value is not None and flag_value != meta:
        print(
            f"compact: {flag_name} {flag_value} conflicts with the "
            f"store's recorded value {meta} ({sidecar}); refusing",
            file=sys.stderr,
        )
        return None, 2
    value = meta if meta is not None else flag_value
    if value is None:
        print(
            f"compact: this kind needs {flag_name} (store has no "
            f"{sidecar} sidecar to read it from)",
            file=sys.stderr,
        )
        return None, 2
    return value, 0


def _print_layout_advice(spark, store: str) -> None:
    """Best-effort leave-or-recluster advisory after a store rewrite —
    print, never act; a failed audit must not fail a committed compaction."""
    try:
        from evidence_datasource_parsers_spark.operators.layout_audit import (
            layout_advice,
            layout_metrics,
            row_group_stats,
            string_stat_columns,
        )

        # ONE footer scan feeding both consumers: persist the stats frame
        # around layout_metrics (numeric depth/width) and
        # string_stat_columns (the unmeasured hedge) — the old
        # layout_report + row_group_stats pair re-read every footer
        # twice after each compaction (ADVICE r11)
        stats = row_group_stats(spark, store).persist()
        try:
            adv = layout_advice(
                layout_metrics(stats),
                unmeasured=string_stat_columns(stats),
            )
        finally:
            stats.unpersist()
        print(f"compact: layout {adv['action']} — {adv['reason']}")
    except Exception as exc:  # noqa: BLE001
        print(f"compact: layout advice unavailable ({exc})",
              file=sys.stderr)


def _layout_advice_of(spark, store: str) -> dict:
    """The single-footer-scan advice frame both the print-only advisory
    and ``--apply-layout`` consume."""
    from evidence_datasource_parsers_spark.operators.layout_audit import (
        layout_advice,
        layout_metrics,
        row_group_stats,
        string_stat_columns,
    )

    stats = row_group_stats(spark, store).persist()
    try:
        return layout_advice(
            layout_metrics(stats),
            unmeasured=string_stat_columns(stats),
        )
    finally:
        stats.unpersist()


def _apply_layout(spark, store: str, layout_cols: str | None) -> int:
    """The ACTING half of the layout advisory (VERDICT r12 item 6):
    when the measured verdict is ``recluster``, rewrite the store
    z-ordered on the candidate columns via ``operators/zorder.py`` —
    same swap discipline as every compaction (sidecars carried).

    Refusals keep the measure-don't-guess contract: a ``recluster``
    verdict hedged on unmeasured string columns is NOT acted on (the
    store may be deliberately keyed on one of them — parquet truncates
    string stats, so the audit cannot see it); pass ``--layout-cols``
    to choose axes explicitly and override the hedge.  A bucketed TABLE
    store is always refused — its ``_bucket_spec.json`` identity IS its
    layout and a z-order rewrite would poison every co-located probe.
    """
    from evidence_datasource_parsers_spark.operators.zorder import zorder_by
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        rewrite_store_dir,
    )

    if read_bucket_spec(store) is not None:
        print(
            "compact: --apply-layout refused: the store is a bucketed "
            "TABLE store (_bucket_spec.json) — its bucket layout is its "
            "identity; a z-order rewrite would break every co-located "
            "probe",
            file=sys.stderr,
        )
        return 2
    cols = (
        [c.strip() for c in layout_cols.split(",") if c.strip()]
        if layout_cols
        else None
    )
    adv = _layout_advice_of(spark, store)
    if not cols:
        if adv["action"] != "recluster":
            print(
                f"compact: layout {adv['action']} — {adv['reason']}; "
                "nothing to apply"
            )
            return 0
        if adv["unmeasured"]:
            print(
                "compact: --apply-layout refused: the recluster verdict "
                f"is hedged on unmeasured string columns "
                f"{adv['unmeasured']} (parquet truncates string stats — "
                "the layout may key on one of them). Pass --layout-cols "
                "to choose the z-order axes explicitly.",
                file=sys.stderr,
            )
            return 2
        cols = adv["candidates"][:2]
    df = spark.read.parquet(store)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        print(
            f"compact: --layout-cols {missing} not in the store's "
            f"columns {sorted(df.columns)}",
            file=sys.stderr,
        )
        return 2
    n = rewrite_store_dir(store, zorder_by(df, cols))
    print(f"compact: layout reclustered on {cols} → {n} rows")
    after = _layout_advice_of(spark, store)
    print(f"compact: layout now {after['action']} — {after['reason']}")
    return 0


def _compact(args) -> int:
    """The explicit-cadence maintenance half of the append-only advance
    discipline: every per-round store advance is an O(batch) append;
    this command is where the deferred O(store) collapse actually runs.
    Swap-safe (tmp + rename with recover_store_dir), so a crash
    mid-compaction leaves the store readable."""
    from evidence_datasource_parsers_spark.session import get_spark
    from evidence_datasource_parsers_spark.streaming.incremental import (
        recover_store_dir,
        rewrite_store_dir,
    )

    spark = get_spark("compact")
    spark.sparkContext.setLogLevel("ERROR")

    if args.apply_layout and args.table:
        # refuse BEFORE the compaction runs — a z-order rewrite would
        # destroy the bucketed table's co-location either way, and
        # failing after the collapse would waste the whole pass
        print(
            "compact: --apply-layout refused: the store is a bucketed "
            "TABLE store — its bucket layout is its identity; a z-order "
            "rewrite would break every co-located probe",
            file=sys.stderr,
        )
        return 2
    if args.kind == "seen":
        from evidence_datasource_parsers_spark.pipelines.crawl_frontier import (  # noqa: E501
            compact_seen_store,
        )

        if args.table and args.bucket_col not in (None, "url_hash"):
            print(
                "compact: the seen store's bucket identity is fixed to "
                "url_hash (its probe key); omit --bucket-col",
                file=sys.stderr,
            )
            return 2
        try:
            # --table compacts INTO the bucketed-table form — also the
            # migration boundary for a plain dir (bootstraps the
            # _bucket_spec.json on url_hash and registers the table)
            n = compact_seen_store(
                spark, args.store, store_table=args.table,
                store_buckets=args.buckets or 64,
            )
        except ValueError as exc:
            print(f"compact: {exc}", file=sys.stderr)
            return 2
        print(f"compact: seen store {args.store} → {n} rows")
        if args.apply_layout:
            return _apply_layout(spark, args.store, args.layout_cols)
        _print_layout_advice(spark, args.store)
        return 0

    recover_store_dir(args.store)
    if not args.table:
        from evidence_datasource_parsers_spark.sources.sinks import (
            read_bucket_spec,
        )

        if read_bucket_spec(args.store) is not None:
            # a flag-less compaction would swap PLAIN files under a dir
            # whose catalog registrations (and restart re-registrations)
            # still claim the bucket layout — every later probe would
            # silently mis-join
            print(
                f"compact: {args.store} is a bucketed TABLE store "
                "(_bucket_spec.json): compacting it without --table "
                "would rewrite it as plain parquet while its catalog "
                "name still claims the bucket layout. Pass --table "
                "<name> to keep the identity.",
                file=sys.stderr,
            )
            return 2
    if args.table and (args.bucket_col or args.buckets):
        # flags beside --table are only meaningful as a BOOTSTRAP spec
        # for a plain dir; on a sidecar-carrying store the sidecar IS
        # the identity and conflicting flags are refused.  Checked AFTER
        # recover_store_dir: a store left as a lone __old_* dir by a
        # crashed compaction would otherwise read as sidecar-less and
        # slip past the guard (review finding r12).
        from evidence_datasource_parsers_spark.sources.sinks import (
            read_bucket_spec,
        )

        if read_bucket_spec(args.store) is not None:
            print(
                "compact: --table with --bucket-col/--buckets conflicts "
                "with the store's recorded _bucket_spec.json — the "
                "sidecar is the bucket identity; omit the flags (or "
                "re-create the store if it must change)",
                file=sys.stderr,
            )
            return 2
    import os as _os

    has_data = _os.path.isdir(args.store) and any(
        f.endswith(".parquet")
        for _, _, files in _os.walk(args.store)
        for f in files
    )
    if not has_data:
        # e.g. a sidecar-only dir left by a stamp-first sink whose first
        # batch was empty — nothing to compact, and spark.read.parquet
        # would die with an unhelpful schema-inference error
        print(
            f"compact: {args.store} has no data files (nothing to "
            "compact)",
            file=sys.stderr,
        )
        return 2
    df = spark.read.parquet(args.store)
    group_cols = (
        [c.strip() for c in args.group_cols.split(",") if c.strip()]
        if args.group_cols
        else None
    )
    if args.kind == "gram":
        from evidence_datasource_parsers_spark.operators.span_dedup import (
            compact_gram_store,
            read_gram_store_meta,
        )

        # The cap is store identity: compacting below the cap the counts
        # were saturated at silently truncates them and later probes
        # under-count.  Prefer the sidecar; a flag may only confirm it.
        cap, rc = _resolve_store_identity(
            args.store, args.min_occurrences, "--min-occurrences",
            read_gram_store_meta, "_span_gram_meta.json",
        )
        if rc:
            return rc
        out = compact_gram_store(df, cap)
    elif args.kind == "sketch":
        from evidence_datasource_parsers_spark.operators.sketches import (
            compact_sketch_store,
        )

        if not group_cols:
            print("compact: --kind sketch needs --group-cols",
                  file=sys.stderr)
            return 2
        out = compact_sketch_store(df, group_cols)
    elif args.kind == "histogram":
        from evidence_datasource_parsers_spark.operators.sketches import (
            compact_histogram_store,
        )

        if not group_cols:
            print("compact: --kind histogram needs --group-cols",
                  file=sys.stderr)
            return 2
        out = compact_histogram_store(df, group_cols)
    elif args.kind == "cms":
        from evidence_datasource_parsers_spark.operators.sketches import (
            compact_cms_store,
        )

        if not group_cols:
            print("compact: --kind cms needs --group-cols",
                  file=sys.stderr)
            return 2
        out = compact_cms_store(df, group_cols)
    elif args.kind == "bloom":
        from evidence_datasource_parsers_spark.operators.sketches import (
            compact_bloom_store,
        )

        if not group_cols:
            print("compact: --kind bloom needs --group-cols",
                  file=sys.stderr)
            return 2
        out = compact_bloom_store(df, group_cols)
    elif args.kind == "bottomk":
        from evidence_datasource_parsers_spark.operators.sketches import (
            compact_bottomk_store,
            read_bottomk_store_meta,
        )

        if not group_cols:
            print("compact: --kind bottomk needs --group-cols",
                  file=sys.stderr)
            return 2
        # k is store identity (same discipline as the gram cap):
        # compacting below the build k truncates the sample irreversibly
        bk, rc = _resolve_store_identity(
            args.store, args.k, "--k",
            read_bottomk_store_meta, "_bottomk_meta.json",
        )
        if rc:
            return rc
        out = compact_bottomk_store(df, group_cols, bk)
    elif args.kind == "df":
        from evidence_datasource_parsers_spark.operators.df_store import (
            compact_df_store,
        )

        out = compact_df_store(df)
    elif args.kind == "canon":
        from evidence_datasource_parsers_spark.operators.fuzzy_join import (
            compact_canon_store,
            read_canon_store_meta,
        )

        # max_dist is identity (k-specific segment split); compaction
        # itself doesn't consume it, but the swap replaces the dir, so
        # it must be resolvable NOW to re-stamp the sidecar after
        ck, rc = _resolve_store_identity(
            args.store, args.max_dist, "--max-dist",
            read_canon_store_meta, "_canon_store_meta.json",
        )
        if rc:
            return rc
        out = compact_canon_store(df, args.hot_bucket_cap)
    else:  # fingerprint: rows already disjoint — consolidate files
        if args.buckets and not args.bucket_col:
            print(
                "compact: --buckets needs --bucket-col (a bucket count "
                "without a key would silently rewrite unbucketed)",
                file=sys.stderr,
            )
            return 2
        out = df
        if args.bucket_col and not args.table:
            # plain-dir locality rewrite; under --table the bucketed
            # writer owns the layout (rewrite_bucketed_store pre-shuffles
            # into the bucket scheme itself)
            out = out.repartition(
                args.buckets or 64, args.bucket_col
            )

    if args.table:
        from evidence_datasource_parsers_spark.streaming.incremental import (
            rewrite_bucketed_store,
        )

        boot_cols = (
            [c.strip() for c in args.bucket_col.split(",") if c.strip()]
            if args.bucket_col
            else None
        )
        try:
            n = rewrite_bucketed_store(
                spark, args.table, args.store, out,
                bucket_cols=boot_cols, n_buckets=args.buckets,
            )
        except ValueError as exc:
            # misuse (sidecar-less dir without a bootstrap spec, spec
            # mismatch, stale table binding) keeps the CLI contract:
            # message to stderr, exit 2 — never a raw traceback
            print(f"compact: {exc}", file=sys.stderr)
            return 2
    else:
        n = rewrite_store_dir(args.store, out)
    # advisory (verdict r10: the layout report had no consumer): after
    # the rewrite, say whether the store's new layout prunes and what
    # would fix it; under --apply-layout the acting path below runs its
    # own before/after audit, so skip the duplicate footer scan here
    if not args.apply_layout:
        _print_layout_advice(spark, args.store)
    if args.kind == "gram":
        # the swap replaced the dir — re-record the cap sidecar so the
        # NEXT compaction/advance can read it back
        from evidence_datasource_parsers_spark.operators.span_dedup import (
            write_gram_store_meta,
        )

        write_gram_store_meta(args.store, cap)
    elif args.kind == "bottomk":
        from evidence_datasource_parsers_spark.operators.sketches import (
            write_bottomk_store_meta,
        )

        write_bottomk_store_meta(args.store, bk)
    elif args.kind == "canon":
        from evidence_datasource_parsers_spark.operators.fuzzy_join import (
            write_canon_store_meta,
        )

        write_canon_store_meta(args.store, ck)
    print(f"compact: {args.kind} store {args.store} → {n} rows")
    if args.apply_layout:
        return _apply_layout(spark, args.store, args.layout_cols)
    return 0


def _refresh(args) -> int:
    """The corpus_refresh pipeline as an operation.  The store advances
    APPEND-ONLY (the batch's disjoint delta lands beside the carried
    files — O(batch) I/O regardless of store size); store first, output
    second, so a crash loses the batch's output but never double-ingests
    it.  recover_store_dir still runs for stores last written by the old
    swap discipline."""
    import os

    from evidence_datasource_parsers_spark.streaming.incremental import (
        HAMMING_INDEX_IDENTITY,
        SINK_BUCKET_COLS,
        _check_hamming_index_meta,
        read_store,
        recover_store_dir,
    )
    from evidence_datasource_parsers_spark.operators.store_meta import (
        ClassicStoreError,
    )
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_corpus_batch,
    )
    from evidence_datasource_parsers_spark.session import get_spark

    if args.canon_col and not args.canon_store:
        print("refresh: --canon-col needs --canon-store", file=sys.stderr)
        return 2
    if args.canon_table and not args.canon_store:
        print("refresh: --canon-table needs --canon-store", file=sys.stderr)
        return 2

    spark = get_spark("refresh")
    spark.sparkContext.setLogLevel("ERROR")
    batch = spark.read.parquet(args.batch)
    # a previous run may have crashed mid-swap, leaving the store as a lone
    # __old_* dir — restore it before reading
    if recover_store_dir(args.store):
        print(f"refresh: recovered {args.store} from interrupted swap")
    # bucketed-table-first when --store-table is set (the probe join then
    # reads the store in place); plain parquet otherwise.  read_store's
    # refusals (sidecar-less dir under --store-table, stale/shadowed
    # binding) follow the CLI contract — message to stderr, exit 2 — like
    # _compact's, never a raw traceback.  A simhash store's combo split is
    # its identity: the CLI probes at the operator defaults, so the
    # sidecar must record exactly those (a classic store has none)
    try:
        if args.mode == "simhash":
            _check_hamming_index_meta(
                args.store, HAMMING_INDEX_IDENTITY["simhash"]
            )
        prev = read_store(spark, args.store, args.store_table)
    except ValueError as exc:
        print(f"refresh: {exc}", file=sys.stderr)
        return 2
    prev_canon = None
    if args.canon_col:
        from evidence_datasource_parsers_spark.operators.fuzzy_join import (
            read_canon_store_meta,
        )

        recover_store_dir(args.canon_store)
        if os.path.isdir(args.canon_store):
            recorded = read_canon_store_meta(args.canon_store)
            if recorded is None:
                # e.g. a first run that crashed between the delta append
                # and the sidecar stamp: the store's k is UNKNOWN, and no
                # --canon-max-dist value can satisfy a mismatch check —
                # give the stamping recovery instructions instead
                print(
                    f"refresh: canon store {args.canon_store} has no "
                    "_canon_store_meta.json sidecar — its max_dist is "
                    "unknown. Stamp it once with "
                    "write_canon_store_meta(store_dir, <true k>) and "
                    "re-run.",
                    file=sys.stderr,
                )
                return 2
            if recorded != args.canon_max_dist:
                print(
                    f"refresh: canon store {args.canon_store} records "
                    f"max_dist={recorded}, this run asked "
                    f"{args.canon_max_dist} — the segment indexes are "
                    "not comparable (stamp or re-run with the store's "
                    "k)",
                    file=sys.stderr,
                )
                return 2
            # bucketed-table-first under --canon-table (zero-Exchange
            # store side in the segment probe); plain parquet otherwise
            try:
                prev_canon = read_store(
                    spark, args.canon_store, args.canon_table
                )
            except ValueError as exc:
                print(f"refresh: {exc}", file=sys.stderr)
                return 2
    try:
        res = refresh_corpus_batch(
            batch,
            prev,
            args.text_col,
            args.id_col,
            mode=args.mode,
            min_quality=args.min_quality,
            num_shards=args.shards,
            canonicalize=args.canonicalize,
            canon_col=args.canon_col,
            canon_store=prev_canon,
            canon_max_dist=args.canon_max_dist,
            eval_set=(
                spark.read.parquet(args.eval_set) if args.eval_set else None
            ),
            eval_text_col=args.eval_text_col,
            decontam_n=args.decontam_n,
            decontam_min_overlap=args.decontam_min_overlap,
        )
    except ClassicStoreError as exc:
        # a store whose sidecar passed but whose files are not the index
        # form (an interrupted hand migration, a flat canon store with a
        # stamped k) is refused by the operators' column check
        print(f"refresh: {exc}", file=sys.stderr)
        return 2
    try:
        # checkpoint BEFORE the store append: committing a write to
        # args.store refreshes that path and invalidates dependent plans,
        # so a lazy ready would re-evaluate against the advanced store
        # (its own batch now "seen") and emit nothing
        ready = res.ready.localCheckpoint(eager=True)
        # the canon delta's lineage reads BOTH stores (its rest/fresh legs
        # ride the dedup output), so it must be materialized before EITHER
        # append refreshes a path it scans — a lazy delta evaluated after
        # the fingerprint-store append sees its own batch as "seen" and
        # silently appends nothing
        canon_delta = (
            res.canon_store_delta.localCheckpoint(eager=True)
            if res.canon_store_delta is not None
            else None
        )
        def advance(delta, store_dir, table, prev_frame, bucket_cols,
                    stamp=None):
            """Append one store's delta: bucketed table when a table name
            was given (created ATOMICALLY on the first round — files,
            bucket spec, and identity sidecars appear in one rename, so
            a crash can't leave a store whose identity is unrecorded —
            appended after; O(batch) either way), plain parquet
            otherwise."""
            if table is None:
                from evidence_datasource_parsers_spark.streaming.incremental import (  # noqa: E501
                    _refuse_plain_append,
                )

                # one flag-less round must not poison a bucketed table
                # store's file layout with plain part files
                _refuse_plain_append(
                    store_dir, "--store-table/--canon-table"
                )
                delta.write.mode("append").parquet(store_dir)
                return
            from evidence_datasource_parsers_spark.sources.sinks import (
                append_bucketed_store,
                store_bucket_identity,
            )
            from evidence_datasource_parsers_spark.streaming.incremental import (  # noqa: E501
                create_bucketed_store_atomic,
            )

            # sever the delta's lineage from the table it appends into
            delta = delta.localCheckpoint(eager=True)
            if prev_frame is None:
                create_bucketed_store_atomic(
                    spark, delta, store_dir, table, bucket_cols,
                    args.store_buckets, stamp=stamp,
                )
            else:
                # append under the store's RECORDED bucket identity, not
                # this run's --store-buckets
                acols, abuckets = store_bucket_identity(
                    store_dir, bucket_cols, args.store_buckets
                )
                append_bucketed_store(delta, table, acols, abuckets)

        def stamp_fp_store(d):
            from evidence_datasource_parsers_spark.operators.dedupe import (
                write_simhash_index_meta,
            )

            write_simhash_index_meta(d, **HAMMING_INDEX_IDENTITY["simhash"])

        simhash = args.mode == "simhash"
        advance(
            res.store_delta, args.store, args.store_table, prev,
            SINK_BUCKET_COLS.get(args.mode, ["content_hash"]),
            stamp=stamp_fp_store if simhash else None,
        )
        if simhash:
            # idempotent re-stamp (equal values): covers plain-dir rounds
            # and later appends; a first-round table create already
            # stamped atomically
            stamp_fp_store(args.store)
        if canon_delta is not None:
            from evidence_datasource_parsers_spark.operators.fuzzy_join import (  # noqa: E501
                write_canon_store_meta,
            )

            advance(
                canon_delta, args.canon_store, args.canon_table,
                prev_canon, SINK_BUCKET_COLS["canon"],
                stamp=lambda d: write_canon_store_meta(
                    d, args.canon_max_dist
                ),
            )
            write_canon_store_meta(args.canon_store, args.canon_max_dist)
        ready.write.mode("append").parquet(args.out)
        if args.df_store:
            from evidence_datasource_parsers_spark.operators.df_store import (
                df_store_delta,
            )

            # a compact --kind df crash mid-swap leaves the store as a
            # lone __old_* sibling; without recovery this append would
            # silently fork a near-empty store and the next compaction
            # would sweep the real history as garbage (review finding)
            recover_store_dir(args.df_store)

            # statistics reflect what actually ships: the READY docs
            # (post-dedup, post-gates) — disjoint across rounds by the
            # dedup contract, so the additive append is exact.  `ready`
            # is already checkpointed, so the delta reads no store path.
            # AFTER the --out write (ADVICE r11): the fingerprint store
            # has already advanced, so a crash in this window cannot be
            # replayed — appending df BEFORE out would permanently
            # overcount terms for docs that never shipped.  This order
            # fails soft instead: a crash here UNDER-counts docs that
            # did ship, recoverable by re-deriving the batch's delta
            # from --out.
            df_store_delta(ready, args.text_col, args.id_col).write.mode(
                "append"
            ).parquet(args.df_store)
        n = ready.count()
        print(f"refresh: {n} fresh docs → {args.out}; store → {args.store}")
    except ValueError as exc:
        # operational refusals from the store layer (flag-less round
        # against a bucketed table store, bucket-spec mismatch) follow
        # the CLI contract like _compact: message to stderr, exit 2
        print(f"refresh: {exc}", file=sys.stderr)
        return 2
    finally:
        res.done()
    return 0


def _refresh_media(args) -> int:
    """The media branch of the crawl loop as an operation — identical
    append-only store discipline to the text ``refresh``, over the
    perceptual pHash key-index store (its combo split, with this run's
    ``--max-hamming``, is validated against and stamped into the
    ``_simhash_index_meta.json`` sidecar)."""
    import os

    from evidence_datasource_parsers_spark.operators.dedupe import (
        write_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        _check_hamming_index_meta,
        _index_identity,
        recover_store_dir,
    )
    from evidence_datasource_parsers_spark.pipelines.corpus_refresh import (
        refresh_media_batch,
    )
    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("refresh-media")
    spark.sparkContext.setLogLevel("ERROR")
    batch = spark.read.parquet(args.batch)
    if recover_store_dir(args.store):
        print(f"refresh-media: recovered {args.store} from interrupted swap")
    ident = _index_identity("phash", {"max_hamming": args.max_hamming})
    try:
        _check_hamming_index_meta(args.store, ident)
    except ValueError as exc:
        print(f"refresh-media: {exc}", file=sys.stderr)
        return 2
    prev = (
        spark.read.parquet(args.store)
        if os.path.isdir(args.store)
        else None
    )
    res = refresh_media_batch(
        batch,
        prev,
        args.binary_col,
        args.id_col,
        max_hamming=args.max_hamming,
        min_width=args.min_width,
        min_height=args.min_height,
    )
    try:
        # same checkpoint-before-append discipline as `refresh`
        ready = res.ready.localCheckpoint(eager=True)
        res.store_delta.write.mode("append").parquet(args.store)
        write_simhash_index_meta(args.store, **ident)
        ready.write.mode("append").parquet(args.out)
        n = ready.count()
        print(
            f"refresh-media: {n} fresh images → {args.out}; "
            f"store → {args.store}"
        )
    finally:
        res.done()
    return 0


def _ingest(args) -> int:
    """WARC → documents parquet: the front door of the crawl loop
    (`ingest` then `refresh` is the two-command production cycle)."""
    from evidence_datasource_parsers_spark.session import get_spark
    from evidence_datasource_parsers_spark.sources.warc import (
        warc_documents,
    )

    spark = get_spark("ingest")
    spark.sparkContext.setLogLevel("ERROR")
    docs = warc_documents(
        spark,
        args.warc,
        main_content=args.main_content,
        charset=args.charset,
        include_pdf=args.include_pdf,
    )
    docs.write.mode("append").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"ingest: documents → {args.out} (now {n} rows)")
    return 0


def _frontier(args) -> int:
    """One frontier round as an operation.  The fetch list materializes
    BEFORE the store advance, so a crash never records urls as seen
    without queueing them (the inverse — queued but not yet recorded —
    re-schedules the batch later, a duplicate fetch, not a lost one).
    The advance APPENDS only the batch's rows (advance_seen_store);
    --compact runs the O(store) collapse on the operator's cadence."""
    import os
    import time

    from evidence_datasource_parsers_spark.pipelines.crawl_frontier import (
        advance_seen_store,
        compact_seen_store,
        plan_fetch_batch,
        read_seen_store,
    )
    from evidence_datasource_parsers_spark.session import get_spark
    from evidence_datasource_parsers_spark.streaming.incremental import (
        recover_store_dir,
    )

    spark = get_spark("frontier")
    spark.sparkContext.setLogLevel("ERROR")
    candidates = spark.read.parquet(args.candidates)
    robots = spark.read.parquet(args.robots) if args.robots else None
    if recover_store_dir(args.store):
        print(f"frontier: recovered {args.store} from interrupted swap")
    if args.store_table:
        # bucketed-table-first (the dedup sinks' store_table form): the
        # round's anti-join reads the crawl history in place instead of
        # re-shuffling O(history); same CLI error contract as refresh
        from evidence_datasource_parsers_spark.streaming.incremental import (  # noqa: E501
            read_store,
        )

        try:
            seen = read_store(spark, args.store, args.store_table)
        except ValueError as exc:
            print(f"frontier: {exc}", file=sys.stderr)
            return 2
    else:
        seen = (
            read_seen_store(spark, args.store)  # mergeSchema: mixed layouts
            if os.path.isdir(args.store)
            else None
        )
    # ALWAYS record a fetch timestamp (override with --now): a round run
    # without a clock mints bare-hash rows that no later-enabled
    # --refresh-after can ever expire — the legacy never-expires
    # semantics are for stores written before freshness existed, not a
    # default to keep minting
    now_ts = args.now if args.now is not None else time.time()
    res = plan_fetch_batch(
        candidates,
        seen,
        robots,
        url_col=args.url_col,
        agent=args.agent,
        block_domains=(
            args.block_domains.split(",") if args.block_domains else None
        ),
        max_urls_per_domain=args.budget,
        default_delay=args.default_delay,
        refresh_after=args.refresh_after,
        now_ts=now_ts,
        lastmod_col=args.lastmod_col,
        recrawl_share=args.recrawl_share,
    )
    ready = res.ready.localCheckpoint(eager=True)
    ready.drop("url_hash").write.mode("append").parquet(args.out)
    # advance from the MATERIALIZED fetch list — writing res.store would
    # re-run the whole dedup/gate/schedule plan AND rewrite the store
    try:
        advance_seen_store(
            ready, args.store, now_ts=now_ts,
            store_table=args.store_table,
            store_buckets=args.store_buckets,
        )
    except ValueError as exc:
        print(f"frontier: {exc}", file=sys.stderr)
        return 2
    try:
        n_compacted = (
            compact_seen_store(
                spark, args.store, store_table=args.store_table,
                store_buckets=args.store_buckets,
            )
            if args.compact
            else None
        )
    except ValueError as exc:
        print(f"frontier: {exc}", file=sys.stderr)
        return 2
    print(
        f"frontier: {ready.count()} urls scheduled → {args.out}; "
        f"seen store → {args.store}"
        + (f" (compacted to {n_compacted} rows)"
           if n_compacted is not None else "")
    )
    return 0


def _skew_audit(args) -> int:
    """Heavy-hitter table + leave-or-salt verdict for a planned shuffle."""
    from evidence_datasource_parsers_spark.operators.skew import (
        key_skew_report,
        skew_advice,
    )
    from evidence_datasource_parsers_spark.session import get_spark

    keys = [c.strip() for c in args.keys.split(",") if c.strip()]
    if not keys:
        print("skew-audit: --keys needs at least one column",
              file=sys.stderr)
        return 2
    spark = get_spark("skew-audit")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.path)
    missing = [k for k in keys if k not in df.columns]
    if missing:
        print(f"skew-audit: {args.path} has no column(s) {missing}",
              file=sys.stderr)
        return 2
    # two driver-bounded consumers (show + advice collect) of one
    # top-N frame: persist so the per-key aggregate runs once
    rep = key_skew_report(
        df, keys, n_partitions=args.partitions, top=args.top,
        sample_fraction=args.sample,
    ).persist()
    try:
        rep.show(args.top, truncate=False)
        adv = skew_advice(rep, max_load_factor=args.max_load_factor)
    finally:
        rep.unpersist()
    print(f"skew-audit: {adv['action']} — {adv['reason']}")
    return 0


def _layout_audit(args) -> int:
    """Parquet footer scan → per-column clustering metrics table."""
    from evidence_datasource_parsers_spark.operators.layout_audit import (
        layout_advice,
        layout_metrics,
        row_group_stats,
        string_stat_columns,
    )
    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("layout-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # one footer scan for both consumers (same fix as the compact
    # advisory, ADVICE r11)
    stats = row_group_stats(
        spark, args.path,
        listing="distributed" if args.distributed_listing else "driver",
    ).persist()
    try:
        rep = layout_metrics(stats)
        rep.orderBy("column").show(args.limit, truncate=False)
        adv = layout_advice(rep, unmeasured=string_stat_columns(stats))
    finally:
        stats.unpersist()
    print(f"layout-audit: {adv['action']} — {adv['reason']}")
    return 0


def _cdx(args) -> int:
    """WARC → capture index parquet (+ optional digest dedupe map)."""
    from evidence_datasource_parsers_spark.session import get_spark
    from evidence_datasource_parsers_spark.sources.cdx import (
        best_capture_per_digest,
        warc_cdx,
    )

    spark = get_spark("cdx")
    spark.sparkContext.setLogLevel("ERROR")
    cdx = warc_cdx(spark, args.warc)
    cdx.write.mode("append").parquet(args.out)
    print(f"cdx: indexed {args.warc} → {args.out}")
    if args.digest_map:
        # the dedupe map must cover the FULL accumulated index (the
        # index dir appends across runs) — rebuilding it from only this
        # run's captures would silently drop earlier crawls' digests
        best = best_capture_per_digest(spark.read.parquet(args.out))
        best.write.mode("overwrite").parquet(args.digest_map)
        print(f"cdx: {best.count()} distinct digests → {args.digest_map}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
