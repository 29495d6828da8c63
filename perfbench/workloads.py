"""The benchmark's workloads.

Each workload prepares its inputs (untimed), warms the session up (part of
``setup_s``), and then yields passes of items.  An item is one catalog
query, one refresh batch, or one evidence pipeline with its sink and
validation.  Every item's output is checked; a failed check marks the item
failed and is never dropped.  With ``--corrupt`` one output of every kind
of item is corrupted after the program wrote it, so the checks must fail.
"""

from __future__ import annotations

import contextlib
import glob
import gzip
import hashlib
import io
import os
import random
import shutil
import sys
import time

import inputs

RELATIONAL = ["q01", "q03", "q04", "q05", "q27", "q46", "q59", "q60"]
# LSH candidates (similarity, a persisted frame) and ANN top-k (ivf,
# Python workers, a persisted frame), at the base scale: the two text/ANN
# queries whose builder time the ROADMAP tracks
TEXT_ANN = ["q34", "q39"]


def catalog_name(short: str) -> str:
    from evidence_datasource_parsers_spark.plans import CATALOG

    return next(n for n in CATALOG if n.split("_")[0] == short)


def free_state(spark) -> int:
    """Count the persisted RDDs an item left registered, then drop them and
    the SQL cache and settle the JVM with ``free_case_state``, so the next
    item starts clean.  Its forced GC costs about 0.3 s an item of run
    time, outside the item's timing, and keeps one item's garbage out of
    the next one's."""
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    from tools.bench_scale import free_case_state

    free_case_state(spark)
    return leaked


def _canon_hash(pdf) -> tuple[str, int]:
    from evidence_datasource_parsers_spark.forensics import canon_pandas

    cols, rows = canon_pandas(pdf)
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return digest, len(rows)


class Item:
    """One timed unit of work plus its (untimed) output check.  ``rows``:
    the result rows of a catalog query (for the per-layer scan ratio)."""

    def __init__(self, item_id: str, run, check=None, rows=None):
        self.id, self.run, self.check, self.rows = item_id, run, check, rows


# ------------------------------------------------------------------ catalog


class Catalog:
    """Catalog queries through the ``noop`` sink, in a seeded order.  The
    warm-up collects every query once and compares it with its DuckDB
    oracle at the same scale; a mismatch fails that query's items."""

    def __init__(self, ctx, queries: list[str], data_dir: str):
        self.ctx, self.data_dir = ctx, data_dir
        self.names = [catalog_name(q) for q in queries]
        self.rng = random.Random(ctx.seed)
        self.bad: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.oracle = ctx.cache.oracle_hashes(data_dir, self.names)

    def warmup(self) -> float:
        from evidence_datasource_parsers_spark.plans import CATALOG

        spark, spent = self.ctx.spark, 0.0
        for name in self.names:
            t = time.perf_counter()
            try:
                pdf = CATALOG[name].builder(spark, self.data_dir).toPandas()
                spent += time.perf_counter() - t
                if self.ctx.corrupt and name == self.names[0] and len(pdf):
                    pdf.iloc[0, 0] = None
                got = _canon_hash(pdf)
                self.rows[name] = got[1]
            except Exception as exc:  # noqa: BLE001 — fails its items
                self.bad[name] = f"spark error: {exc}"
            else:
                if list(got) != self.oracle[name]:
                    self.bad[name] = (f"oracle mismatch: rows {got[1]} vs "
                                      f"{self.oracle[name][1]}")
            free_state(spark)
            print(f"perfbench: warm-up {name.split('_')[0]} "
                  f"{time.perf_counter() - t:.2f}s", file=sys.stderr)
        return spent

    def items(self, pass_no: int) -> list[Item]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [Item(f"{name.split('_')[0]}#{pass_no}", self._runner(name),
                     self._checker(name), self.rows.get(name))
                for name in order]

    def _runner(self, name):
        def run():
            self.ctx.run_query(name, self.data_dir)
        return run

    def _checker(self, name):
        def check():
            if name in self.bad:
                raise AssertionError(f"{name}: {self.bad[name]}")
        return check


# ---------------------------------------------------------- corpus refresh


def _parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "**", "*.parquet"),
                         recursive=True))


def _rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def _bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


class CorpusRefresh:
    """The documents, split into seeded batches with planted duplicate
    groups, each batch refreshed in process through the CLI (``refresh
    --mode lsh --store-table``) against a store that starts empty every
    pass and grows every batch."""

    def __init__(self, ctx, docs_path: str, n_batches: int):
        import pandas as pd

        self.ctx = ctx
        self.root = os.path.join(ctx.tmp, "refresh")
        docs = pd.read_parquet(docs_path)
        split, self.groups = inputs.refresh_batches(docs, ctx.seed, n_batches)
        self.batches = []
        os.makedirs(self.root, exist_ok=True)
        for i, frame in enumerate(split):
            path = os.path.join(self.root, f"batch{i}.parquet")
            frame.to_parquet(path, index=False)
            self.batches.append((path, frame.doc_id.tolist()))
        self.stats: dict = {}

    def _dirs(self, pass_no):
        base = os.path.join(self.root, f"pass-{pass_no}")
        return (os.path.join(base, "store"), os.path.join(base, "out"),
                f"perfbench_store_{pass_no}")

    def _drop(self, pass_no) -> None:
        store, out, table = self._dirs(pass_no)
        self.ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)

    def items(self, pass_no: int) -> list[Item]:
        from evidence_datasource_parsers_spark.__main__ import main

        if pass_no > 0:
            self._drop(pass_no - 1)
        store, out, table = self._dirs(pass_no)
        st = self.stats[pass_no] = {"in": 0, "kept": 0, "delta_rows": 0,
                                "store_files": [], "written": 0,
                                "in_bytes": 0, "last": None}
        items = []
        for i, (path, ids) in enumerate(self.batches):
            def run(path=path, first=i == 0):
                before = _parquet_files(out)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    rc = main(["refresh", "--batch", path, "--store", store,
                               "--out", out, "--mode", "lsh",
                               "--store-table", table])
                st["last"] = (rc, buf.getvalue())
                if self.ctx.corrupt and first:
                    _duplicate_ready_doc(out, before)

            def check(ids=ids, path=path, last=i == len(self.batches) - 1):
                try:
                    self._check_batch(st, store, out, ids, path)
                finally:
                    if last:
                        self._check_pass(st, out, table)

            items.append(Item(f"batch{i}#{pass_no}", run, check))
        return items

    def _check_batch(self, st, store, out, ids, path) -> None:
        import pyarrow.parquet as pq

        rc, text = st["last"]
        if rc != 0:
            raise AssertionError(f"refresh exited {rc}")
        fresh = int(text.split("refresh: ", 1)[1].split(" fresh", 1)[0])
        before_out = st.setdefault("out_files", set())
        new_out = _parquet_files(out) - before_out
        st["out_files"] = before_out | new_out
        new_store = _parquet_files(store) - set(st["store_files"])
        st["store_files"] = sorted(set(st["store_files"]) | new_store)
        st.setdefault("files_per_append", []).append(len(new_store))
        st["delta_rows"] += _rows(new_store)
        st["in"] += len(ids)
        st["kept"] += fresh
        st["in_bytes"] += os.path.getsize(path)
        st["written"] += _bytes(new_store) + _bytes(new_out)
        kept_ids = [v for f in sorted(new_out) for v in
                    pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()]
        # the rows written are the reported fresh docs, each once, all from
        # this batch (so kept + dropped = in)
        if (len(kept_ids) != fresh or len(set(kept_ids)) != len(kept_ids)
                or not set(kept_ids) <= set(ids)):
            raise AssertionError(
                f"{len(kept_ids)} rows ({len(set(kept_ids))} distinct ids) "
                f"written for {fresh} reported fresh of {len(ids)} in")

    def _check_pass(self, st, out, table) -> None:
        import pyarrow.parquet as pq

        store_rows = st["store_rows"] = self.ctx.spark.table(table).count()
        if store_rows != st["delta_rows"]:
            raise AssertionError(
                f"store rows {store_rows} != sum of delta rows "
                f"{st['delta_rows']}")
        ready = [pq.read_table(f, columns=["doc_id", "text"]).to_pydict()
                 for f in sorted(_parquet_files(out))]
        texts = [t for r in ready for t in r["text"]]
        if len(set(texts)) != len(texts):
            raise AssertionError("two ready docs share exact text")
        kept = {i for r in ready for i in r["doc_id"]}
        wrong = [g for g in self.groups if len(kept.intersection(g)) != 1]
        if wrong:
            raise AssertionError(
                f"{len(wrong)} of {len(self.groups)} planted duplicate "
                f"groups do not keep exactly one member, e.g. {wrong[0]} "
                f"keeps {sorted(kept.intersection(wrong[0]))}")


def _duplicate_ready_doc(out: str, before: set) -> None:
    """Corrupt the output: write one ready doc of this batch a second
    time, as a file of its own."""
    import pyarrow.parquet as pq

    src = sorted(_parquet_files(out) - before)[0]
    pq.write_table(pq.read_table(src).slice(0, 1),
                   os.path.join(out, "part-corrupt.parquet"))


# ------------------------------------------------------------ evidence ETL


class EvidenceETL:
    """The evidence parser pipelines of ``contracts.PIPELINES`` through
    ``Runner.run(out_dir=…)``: each item builds the evidence frame, checks
    its Spark schema, writes the single gzipped JSON-lines file and
    validates it against its JSON Schema."""

    def __init__(self, ctx, scale: float):
        from evidence_datasource_parsers_spark.runner import Runner

        import contracts

        self.ctx = ctx
        self.in_dir = os.path.join(ctx.tmp, "etl", "in")
        self.expected = inputs.evidence_inputs(self.in_dir, ctx.seed, scale)
        self.runner = Runner()
        for name, (build, ddl, schema) in contracts.PIPELINES.items():
            self.runner.register(name, self._build(build), ddl,
                                 json_schema=schema)
        self.gz_bytes: dict[str, int] = {}

    def _build(self, build):
        def spanned(spark, config):
            with self.ctx.tracer.span("pipelines.build"):
                return build(spark, config)
        return spanned

    def items(self, pass_no) -> list[Item]:
        out = os.path.join(self.ctx.tmp, "etl", f"out-{pass_no}")
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
        config = {"in_dir": self.in_dir}
        items = []
        for i, name in enumerate(self.runner.pipelines):
            path = os.path.join(out, f"{name}.json.gz")

            def run(path=path, name=name, first=i == 0):
                self.runner.run(self.ctx.spark, config, out_dir=out,
                                only=[name])
                if self.ctx.corrupt and first:
                    _duplicate_first_line(path)

            def check(name=name, path=path):
                self.gz_bytes[name] = os.path.getsize(path)
                with gzip.open(path, "rt") as fh:
                    lines = sum(1 for _ in fh)
                want = self.expected[name]
                if lines != want:
                    raise AssertionError(f"{name}: {lines} rows written, "
                                         f"generator fixes {want}")

            items.append(Item(f"{name}#{pass_no}", run, check))
        return items


def _duplicate_first_line(path: str) -> None:
    """Corrupt the output: write its first evidence string twice."""
    with gzip.open(path, "rt") as fh:
        lines = fh.readlines()
    with gzip.open(path, "wt") as fh:
        fh.writelines(lines[:1] + lines)


class Pipelines:
    """Text/ANN catalog queries at the base scale, then a corpus refresh
    (the store starts empty and grows every batch), then the evidence
    parsers, back to back in one pass."""

    def __init__(self, text: Catalog, refresh: CorpusRefresh,
                 etl: EvidenceETL):
        self.text, self.refresh, self.etl = text, refresh, etl

    def warmup(self) -> float:
        # only the catalog queries are warmed up (their oracle check needs
        # one collection anyway): a warm-up pass of the parsers would add
        # about 20 s to every run and a warm-up refresh batch 8 s, more
        # than the run budget of the benchmark leaves (perfbench/README.md)
        return self.text.warmup()

    def items(self, pass_no) -> list[Item]:
        return (self.text.items(pass_no) + self.refresh.items(pass_no)
                + self.etl.items(pass_no))


def workload(ctx):
    """Build the workload named by ``ctx.workload`` (inputs prepared)."""
    if ctx.workload == "catalog_relational":
        return Catalog(ctx, RELATIONAL, ctx.cache.scaled_dir())
    if ctx.workload == "pipelines":
        base = ctx.cache.base_dir()
        return Pipelines(
            Catalog(ctx, TEXT_ANN, base),
            CorpusRefresh(ctx, os.path.join(base, "documents.parquet"),
                          ctx.size["batches"]),
            EvidenceETL(ctx, ctx.size["etl_scale"]))
    raise SystemExit(f"unknown workload {ctx.workload!r}")
