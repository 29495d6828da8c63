"""Engine benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run builds its inputs (cached under
``.perfbench/cache`` once per checkout), starts one Spark session, warms it
up, then issues the workload's items one after another until ``--seconds``
have passed (always at least one full pass).  Every item's output is
checked.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["catalog_relational", "pipelines"]
SIZES = {
    # stated input sizes (BENCHMARK.json records them per workload)
    "full": {"base_sf": 0.1, "replicas": 10, "batches": 3, "etl_scale": 1.0},
    # the smoke test's tiny inputs
    "tiny": {"base_sf": 0.001, "replicas": 2, "batches": 2,
             "etl_scale": 0.02},
}


class Cache:
    """Deterministic inputs, built once per checkout and reused by every
    later run: the catalog tables, their 10x replica and the DuckDB oracle
    results.  A key over the generating code keeps stale entries apart."""

    def __init__(self, ctx):
        self.ctx = ctx
        src = b"".join(open(os.path.join(d, f), "rb").read() for d, f in (
            (HERE, "inputs.py"), (os.path.join(ROOT, "tools"),
                                  "bench_scale.py")))
        key = hashlib.sha256(src).hexdigest()[:12]
        self.dir = os.path.join(ROOT, ".perfbench", "cache", key)

    def _build(self, name: str, make) -> str:
        path = os.path.join(self.dir, name)
        if not os.path.isdir(path):
            tmp = os.path.join(self.ctx.tmp, "build-" + name)
            make(tmp)
            os.makedirs(self.dir, exist_ok=True)
            try:
                os.replace(tmp, path)
            except OSError:
                if not os.path.isdir(path):  # not a concurrent builder's
                    raise
        return path

    def base_dir(self) -> str:
        from inputs import catalog_tables

        sf = self.ctx.size["base_sf"]
        return self._build(f"sf{sf}", lambda d: catalog_tables(d, sf))

    def scaled_dir(self) -> str:
        from tools.bench_scale import build_scaled

        base, n = self.base_dir(), self.ctx.size["replicas"]
        return self._build(
            f"{os.path.basename(base)}x{n}",
            lambda d: build_scaled(self.ctx.spark, base, d, n))

    def oracle_hashes(self, data_dir: str, names: list[str]) -> dict:
        """``{query: [canonical result hash, rows]}`` of each query's DuckDB
        oracle over ``data_dir``, cached per oracle SQL text."""
        import duckdb

        from evidence_datasource_parsers_spark.forensics import TABLES
        from evidence_datasource_parsers_spark.plans import CATALOG
        from workloads import _canon_hash

        path = data_dir + ".oracle.json"
        known = {}
        if os.path.exists(path):
            with open(path) as fh:
                known = json.load(fh)
        out, con = {}, None
        for name in names:
            sql = CATALOG[name].oracle
            key = hashlib.sha256(sql.encode()).hexdigest()
            if key not in known:
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET threads TO 2")
                    for t in TABLES:
                        src = f"{data_dir}/{t}.parquet"
                        if os.path.isdir(src):  # a Spark-written table
                            src += "/*.parquet"
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{src}'")
                known[key] = list(_canon_hash(con.sql(sql).df()))
            out[name] = known[key]
        if con is not None:
            con.close()
            with open(path + ".tmp", "w") as fh:
                json.dump(known, fh)
            os.replace(path + ".tmp", path)
        return out


class Context:
    """Per-run state shared by the workload and the measuring loop."""

    def __init__(self, args):
        self.workload, self.seed = args.workload, args.seed
        self.size_name, self.size = args.size, SIZES[args.size]
        self.corrupt = args.corrupt
        self.tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.spark = None
        self.cache = Cache(self)
        from trace import Tracer

        self.tracer = Tracer(bool(args.trace))
        self.py4j = None
        self.layer: list[dict] = []

    def run_query(self, name: str, data_dir: str) -> None:
        """Build the query's frame and run it through the ``noop`` sink.
        The traced run takes the same path; it times the builder and counts
        its py4j commands, and reads the rest from the write's own
        execution (``measure``)."""
        from evidence_datasource_parsers_spark.plans import CATALOG

        counting = (self.py4j.counting() if self.tracer.active
                    else contextlib.nullcontext())
        with self.tracer.span("plans.build"), counting:
            df = CATALOG[name].builder(self.spark, data_dir)
        df.write.format("noop").mode("overwrite").save()


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), and that percentile.  With fewer than 20 samples no
    percentile above the median qualifies; the maximum is reported and
    flagged as p100."""
    xs, n = sorted(values), len(values)
    if n < 20:
        return xs[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return xs[rank - 1], pct


def _prepare_env(ctx) -> None:
    os.makedirs(ctx.tmp, exist_ok=True)
    for sub in ("local", "tmp", "warehouse", "forensics"):
        os.makedirs(os.path.join(ctx.tmp, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.tmp, "local")
    os.environ["TMPDIR"] = os.path.join(ctx.tmp, "tmp")
    os.environ["SPARK_GRAFT_FORENSICS_DIR"] = os.path.join(ctx.tmp,
                                                           "forensics")


def _start_spark(ctx):
    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(ctx.tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ctx.tmp, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a hung JVM is killed below
        proc.kill()
        proc.wait()


def measure(ctx, wl, seconds: float) -> dict:
    """Closed loop: issue each item after the previous one finished, whole
    passes, until ``seconds`` have elapsed.  Returns the raw records.  The
    traced run records spans, status-store deltas and the item's SQL
    executions; it reads them after the item's timing ends."""
    from workloads import free_state

    tracer = ctx.tracer
    records, passes, stage_diff, listener = [], [], None, None
    if tracer.enabled:
        from trace import Py4jCounter, QueryListener, StageDiff, \
            execution_metrics

        ctx.py4j = Py4jCounter(ctx.spark)
        stage_diff = StageDiff(ctx.spark)
        listener = QueryListener(ctx.spark)
        tracer.active = True
    t0 = time.perf_counter()
    pass_no = 0
    while pass_no < 1 or time.perf_counter() - t0 < seconds:
        items, ids = wl.items(pass_no), []
        for item in items:
            tracer.item_id = item.id
            if tracer.enabled:
                stage_diff.take()
                calls = ctx.py4j.count
            ok, err = True, None
            t = time.perf_counter()
            try:
                with tracer.span("item"):
                    item.run()
            except Exception:  # noqa: BLE001 — counted as a failed item
                ok, err = False, traceback.format_exc(limit=3)
            secs = time.perf_counter() - t
            if tracer.enabled:
                rec = {"item": item.id, "pass": pass_no,
                       "result_rows": item.rows or 0,
                       "plans.py4j_calls": ctx.py4j.count - calls}
                rec.update({f"exec.{k}": v for k, v in
                            stage_diff.take().items()})
                ex = execution_metrics(ctx.spark._jvm, listener.drain())
                rec.update({
                    "catalyst.optimize_s": ex.pop("optimize_s"),
                    "catalyst.physical_s": ex.pop("physical_s"),
                    **{f"exec.{k}": v for k, v in ex.items()}})
                ctx.layer.append(rec)
            if ok and item.check is not None:
                try:
                    item.check()
                except Exception:  # noqa: BLE001 — fails the item
                    ok, err = False, traceback.format_exc(limit=3)
            leaked = free_state(ctx.spark)
            if tracer.enabled:
                ctx.layer[-1]["exec.leaked_cached_blocks"] = leaked
                listener.drain()  # the check's own executions
            if err:
                print(f"perfbench: item {item.id} failed:\n{err}",
                      file=sys.stderr)
            records.append({"item": item.id, "pass": pass_no, "secs": secs,
                            "ok": ok})
            ids.append(item.id)
        passes.append(ids)
        pass_no += 1
    tracer.item_id, tracer.active = None, False
    if tracer.enabled:
        listener.close()
        ctx.py4j.close()
    return {"records": records, "passes": passes}


def pass_walls(res) -> list[float]:
    """Seconds of each pass: the sum of its item latencies."""
    return [sum(r["secs"] for r in res["records"] if r["pass"] == p)
            for p in range(len(res["passes"]))]


def _result_path(ctx, seed=None) -> str:
    seed = ctx.seed if seed is None else seed
    return os.path.join(ROOT, ".perfbench", "results",
                        f"{ctx.workload}-{ctx.size_name}-seed{seed}.json")


def save_untraced(ctx, wall_s: float) -> None:
    """Keep the untraced ``wall_s`` of this seed for the traced run's
    overhead figure."""
    path = _result_path(ctx)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"wall_s": wall_s}, fh)


def untraced_wall(ctx) -> tuple[float | None, str]:
    """The untraced ``wall_s`` to hold the traced one against: the
    untraced run with the same seed, else the median over the untraced
    runs of this workload kept in the checkout, else none."""
    path = _result_path(ctx)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)["wall_s"], f"seed {ctx.seed}"
    import glob

    walls = []
    for other in glob.glob(_result_path(ctx, "*")):
        with open(other) as fh:
            walls.append(json.load(fh)["wall_s"])
    if walls:
        return statistics.median(walls), f"median of {len(walls)} seeds"
    return None, "none"


def peak_rss_mb(ctx) -> float:
    """``VmHWM`` of the Spark JVM plus the driver Python, in MB."""
    return (_vm_hwm_kb(ctx.spark.sparkContext._gateway.proc.pid)
            + _vm_hwm_kb("self")) / 1024.0


def end_to_end(ctx, res, setup_s: float) -> dict:
    recs = res["records"]
    walls = pass_walls(res)
    secs = [r["secs"] for r in recs]
    tail, pct = _tail(secs)
    failed = sum(not r["ok"] for r in recs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
    }
    print(f"perfbench: {ctx.workload} seed={ctx.seed} passes={len(walls)} "
          f"size={json.dumps(ctx.size)} items: "
          + " ".join(f"{r['item']}={r['secs']:.2f}" for r in recs),
          file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"  {name:12s} {value:12.4f} {unit}")
    # printed, but not in the result (perfbench/README.md): the median and
    # the maximum of a few items of unequal cost do not repeat between runs;
    # peak RSS does not repeat within a tenth and is reported per layer;
    # error_rate is the result's failed / attempted
    print(f"  {'item_p50_s':12s} {statistics.median(secs):12.4f} s  "
          f"(median of {len(secs)} items)")
    print(f"  {'item_tail_s':12s} {tail:12.4f} s  (p{pct} of {len(secs)} "
          "items)")
    print(f"  {'peak_rss_mb':12s} {peak_rss_mb(ctx):12.4f} MB")
    print(f"  {'error_rate':12s} {failed / len(recs):12.4f} ratio"
          f"  ({failed} of {len(recs)} items failed)")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def per_layer(ctx, wl, res, timings: dict) -> dict:
    """Per-pass sums of the traced layer numbers, median over passes."""
    traced = list(range(len(res["passes"])))
    rows = {p: [r for r in ctx.layer if r["pass"] == p] for p in traced}

    def per_pass(fn):
        return statistics.median(fn(p) for p in traced)

    def total(key, p):
        return sum(r.get(key, 0.0) for r in rows[p])

    wall = statistics.median(pass_walls(res))
    base, base_from = untraced_wall(ctx)
    print(f"perfbench: traced wall_s {wall:.4f} s; untraced wall_s "
          + (f"{base:.4f} s ({base_from})" if base is not None else
             "unknown: run --trace 0 with this seed first; overhead 0"),
          file=sys.stderr)
    ids = {p: [r["item"] for r in rows[p]] for p in traced}
    out = {
        "session.start_s": (timings["start"], "s"),
        "session.warmup_s": (timings["warmup"], "s"),
        "inputs.gen_s": (timings["inputs"], "s"),
        "trace.overhead_s": (wall - base if base is not None else 0.0, "s"),
        "mem.peak_rss_mb": (peak_rss_mb(ctx), "MB"),
        "plans.build_s": (per_pass(
            lambda p: ctx.tracer.total("plans.build", ids[p])), "s"),
    }
    for key, unit in (("plans.py4j_calls", "count"),
                      ("catalyst.optimize_s", "s"),
                      ("catalyst.physical_s", "s"), ("exec.run_s", "s"),
                      ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
                      ("exec.stages", "count"), ("exec.tasks", "count"),
                      ("exec.shuffle_write_bytes", "B"),
                      ("exec.spill_bytes", "B"),
                      ("exec.broadcast_bytes", "B"),
                      ("exec.python_init_s", "s"), ("exec.python_run_s", "s"),
                      ("exec.leaked_cached_blocks", "count")):
        out[key] = (per_pass(lambda p: total(key, p)), unit)

    def scan_ratio(p):
        # catalog items only: they know their result rows
        cat = [r for r in rows[p] if r["result_rows"]]
        result = sum(r["result_rows"] for r in cat)
        scan = sum(r["exec.scan_rows"] for r in cat)
        return scan / result if result else 0.0

    out["exec.scan_rows_per_result_row"] = (per_pass(scan_ratio), "ratio")
    out.update(wl_layer_metrics(ctx, wl, traced, ids))
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


def wl_layer_metrics(ctx, wl, traced, ids) -> dict:
    refresh = getattr(wl, "refresh", None)
    etl = getattr(wl, "etl", None)
    tr = ctx.tracer
    med = statistics.median
    out = {k: (0.0, u) for k, u in (
        ("refresh.plan_s", "s"), ("sinks.store_append_s", "s"),
        ("store.rows", "count"), ("store.files_per_append", "count"),
        ("store.write_amp", "ratio"), ("refresh.kept_ratio", "ratio"),
        ("refresh.late_over_early", "ratio"), ("pipelines.build_s", "s"),
        ("sinks.evidence_write_s", "s"), ("validation.check_s", "s"),
        ("sinks.gzip_bytes_per_row", "B"))}
    if refresh is not None:
        stats = [refresh.stats[p] for p in traced]
        item_secs = {p: [s["end"] - s["start"] for s in tr.spans
                         if s["name"] == "item" and s["item"] in ids[p]
                         and s["item"].startswith("batch")]
                     for p in traced}
        out.update({
            "refresh.plan_s": (med(tr.total("refresh.plan", ids[p])
                                   for p in traced), "s"),
            "sinks.store_append_s": (med(tr.total("sinks.store_append", ids[p])
                                         for p in traced), "s"),
            "store.rows": (med(s["store_rows"] for s in stats), "count"),
            "store.files_per_append": (med(
                statistics.mean(s["files_per_append"]) for s in stats),
                "count"),
            "store.write_amp": (med(s["written"] / s["in_bytes"]
                                    for s in stats), "ratio"),
            "refresh.kept_ratio": (med(s["kept"] / s["in"] for s in stats),
                                   "ratio"),
            "refresh.late_over_early": (med(
                statistics.mean(v[-2:]) / statistics.mean(v[:2])
                for v in item_secs.values()), "ratio"),
        })
    if etl is not None:
        rows_out = sum(etl.expected.values())
        out.update({
            "pipelines.build_s": (med(tr.total("pipelines.build", ids[p])
                                      for p in traced), "s"),
            "sinks.evidence_write_s": (med(tr.total("sinks.evidence_write",
                                                    ids[p])
                                           for p in traced), "s"),
            "validation.check_s": (med(tr.total("validation.check", ids[p])
                                       for p in traced), "s"),
            "sinks.gzip_bytes_per_row": (sum(etl.gz_bytes.values())
                                         / rows_out, "B"),
        })
    return out


def dump_trace(ctx, res, metrics) -> None:
    """Write the spans, per-item status-store deltas and plan walks."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{ctx.workload}-seed{ctx.seed}.json")
    ctx.tracer.dump(path, {"workload": ctx.workload, "seed": ctx.seed,
                           "records": res["records"], "layers": ctx.layer,
                           "metrics": metrics})
    print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")


def install_wrappers(ctx) -> None:
    """Spans around the public calls of the refresh, store and ETL layers
    (module attributes, resolved at call time by their callers)."""
    from evidence_datasource_parsers_spark import runner, validation
    from evidence_datasource_parsers_spark.pipelines import corpus_refresh
    from evidence_datasource_parsers_spark.sources import sinks
    from evidence_datasource_parsers_spark.streaming import incremental

    tr = ctx.tracer
    tr.wrap(corpus_refresh, "refresh_corpus_batch", "refresh.plan")
    tr.wrap(sinks, "append_bucketed_store", "sinks.store_append")
    tr.wrap(incremental, "create_bucketed_store_atomic", "sinks.store_append")
    tr.wrap(runner, "write_evidence_strings", "sinks.evidence_write")
    tr.wrap(validation, "assert_json_schema", "validation.check")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output row of every kind of item "
                         "(smoke test: the checks must fail)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT,
                                      "evidence_datasource_parsers_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    ctx = Context(args)
    _prepare_env(ctx)
    spark = None
    try:
        spark = ctx.spark = _start_spark(ctx)
        start_s = time.perf_counter() - T_START
        t = time.perf_counter()
        import workloads

        wl = workloads.workload(ctx)
        inputs_s = time.perf_counter() - t
        # warm-up time counts the program's work only, not the checks
        warmup_s = wl.warmup()
        if ctx.tracer.enabled:
            install_wrappers(ctx)
        res = measure(ctx, wl, args.seconds)
        ctx.tracer.unwrap_all()
        recs = res["records"]
        failed = sum(not r["ok"] for r in recs)
        if args.trace:
            metrics = per_layer(ctx, wl, res, {"start": start_s,
                                               "warmup": warmup_s,
                                               "inputs": inputs_s})
            dump_trace(ctx, res, metrics)
        else:
            metrics = end_to_end(ctx, res, start_s + warmup_s)
            save_untraced(ctx, metrics["wall_s"]["value"])
        result = {"correct": failed == 0, "attempted": len(recs),
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(ctx.tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
