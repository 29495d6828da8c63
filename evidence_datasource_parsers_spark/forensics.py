"""Hash-mismatch forensics for the oracle correctness gate.

Round 4's driver gate recorded a value-hash mismatch on q38 (rows and schema
green) that five local replays at the identical commit could not reproduce —
an environment-dependent failure with zero captured evidence.  This module
closes that forensic gap: an oracle-gated query can call
:func:`audit_against_oracle` on its own result DataFrame, which re-runs the
DuckDB oracle *in the same process that is about to be graded*, canonicalizes
both sides exactly like the driver does (columns sorted by name, values
stringified with full ``repr`` precision, rows sorted), and — only on
mismatch — writes a ``{NAME}_DIFF.json`` artifact with the first diverging
rows plus the library versions in play.  The next unreproducible red row
ships its own diagnosis.

The audit costs one extra execution of the query plan, so it is enabled only
for queries that opt in (currently q38) and can be disabled wholesale with
``SPARK_GRAFT_NO_FORENSICS=1`` (pytest repeat-runs, bench).  It never raises:
a forensics failure must not turn a green query red.

``canon_value``/``canon_rows`` are the single source of truth for the
driver-replica canonicalization; ``tools/verify_local.py`` imports them from
here.
"""

from __future__ import annotations

import json
import math
import os

#: where audit artifacts land: $SPARK_GRAFT_FORENSICS_DIR, else the root
#: of the checkout this package was imported from
ARTIFACT_DIR = os.environ.get(
    "SPARK_GRAFT_FORENSICS_DIR",
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)

#: the driver's correctness gate runs at this scale; audit ARTIFACTS are
#: persisted only for gate-scale runs so an sf0.001 smoke/pytest pass can
#: never overwrite the committed gate evidence (recurring round-8/9 drift).
GATE_SF = "sf0.01"


def is_gate_sf(sf_dir: str) -> bool:
    return os.path.basename(os.path.normpath(sf_dir or "")) == GATE_SF


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v) -> str:
    """Driver-replica canonicalization of one cell (full float precision).

    Accepts both plain-Python values (``collect()``/``fetchall()``) and the
    numpy/pandas scalars a ``toPandas()``/``rel.df()`` row yields — np.float64
    (a float subclass, normalized through ``float()``), np.bool_ (NOT a bool
    subclass), pd.Timestamp (a datetime subclass) and pd.NaT (a datetime
    subclass that is != itself).
    """
    import datetime

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(float(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        if v != v:  # pandas NaT
            return "nan"
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return "true" if v else "false"
    return str(v)


def canon_rows(cols, rows):
    """Sort columns by name, canonicalize every cell, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def canon_pandas(pdf):
    """Canonicalize a pandas DataFrame — the DRIVER-FAITHFUL path.

    The correctness driver compares Spark ``df.toPandas()`` against DuckDB
    ``rel.df()``; dtype coercions are visible only on this path and invisible
    to ``collect()``/``fetchall()``:

    * DuckDB HUGEINT / DECIMAL → float64 (round 9's q42 red: ``10025.0`` vs
      Spark's long ``10025`` on equal values);
    * nullable INT/BIGINT → float64 with NaN on BOTH engines (symmetric, so
      q40's rollup null super-aggregates stay green — but only because both
      sides coerce identically).
    """
    cols = list(pdf.columns)
    rows = list(pdf.itertuples(index=False, name=None))
    return canon_rows(cols, rows)


# DuckDB result types whose pandas rendering diverges from Spark's for the
# same values: HUGEINT/DECIMAL coerce to float64 (Spark emits int64), DATE
# becomes a midnight Timestamp (Spark ``toPandas`` yields datetime.date).
_COERCING_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "DATE")


def oracle_type_offenders(rel) -> list:
    """Columns of a DuckDB relation whose type the driver's pandas
    canonicalizer renders differently from Spark's (see
    ``_COERCING_ORACLE_TYPES``).  TIMESTAMP is deliberately NOT in the
    list: both engines render it identically; DATE is, because DuckDB's
    pandas path turns it into a midnight Timestamp while Spark keeps
    ``datetime.date``."""
    out = []
    for col, ty in zip(rel.columns, rel.types):
        ts = str(ty).upper()
        if any(k in ts for k in _COERCING_ORACLE_TYPES):
            out.append((col, str(ty)))
    return out


def _env_info() -> dict:
    import platform

    info = {"platform": platform.platform(), "python": platform.python_version()}
    for mod in ("numpy", "pyarrow", "duckdb", "pandas", "pyspark"):
        try:
            info[mod] = __import__(mod).__version__
        except Exception:  # noqa: BLE001
            info[mod] = "unavailable"
    return info


def _same_sans_ts(path: str, payload: dict) -> bool:
    """True when the artifact at ``path`` already records ``payload``
    modulo the ``ts`` field — the ts-stability test for audit writes."""
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (OSError, json.JSONDecodeError, ValueError):
        return False
    a = {k: v for k, v in existing.items() if k != "ts"}
    b = {k: v for k, v in payload.items() if k != "ts"}
    return a == b


def _write_status(name: str, status: dict, persist: bool = True) -> None:
    """Status stdout line + (gate-scale only) status artifact.

    The stdout line is unconditional (round-5 verdict #2: a silent-on-
    success audit cannot prove it ran at the driver's gate).  The JSON
    artifact persists only when ``persist`` — gate-scale runs — so smoke
    runs at other scale factors can't overwrite committed gate evidence.
    The write is also TS-STABLE: when the new status differs from the
    existing artifact only in its timestamp, the file is left untouched —
    three consecutive rounds ended with a ts-only git drift on these
    JSONs, so an identical re-verify now leaves the tree clean by
    construction.
    """
    import time

    status = {"query": name, "ts": time.time(), **status, "env": _env_info()}
    line = (
        f"{name} self-audit: {status.get('status', '?').upper()}"
        f" hash={status.get('result_hash', '-')} rows={status.get('rows_spark', '-')}"
    )
    if persist:
        try:
            path = os.path.join(ARTIFACT_DIR, f"{name.upper()}_AUDIT.json")
            payload = json.loads(json.dumps(status, default=str))
            if _same_sans_ts(path, payload):
                print(line + " (unchanged: artifact kept)", flush=True)
                return
            with open(path, "w") as fh:
                json.dump(status, fh, indent=1, default=str)
        except Exception:  # noqa: BLE001
            line += " (artifact write failed)"
    else:
        line += " (non-gate sf: artifact not persisted)"
    print(line, flush=True)


def _hash_canon(sc, sr) -> str:
    import hashlib

    h = hashlib.sha256()
    h.update("|".join(sc).encode())
    for r in sr:
        h.update("\x1f".join(r).encode("utf-8", "replace"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def result_hash(cols, rows) -> str:
    """Canonical sha256 of a (cols, rows) result — same canonicalization as
    the driver replica, so two sides that hash equal here hash equal there."""
    return _hash_canon(*canon_rows(cols, rows))


#: (name, abspath(sf_dir), sha256(canonicalized plan + oracle SQL)) keys
#: of audits COMPLETED (match or mismatch recorded) since process start —
#: a changed plan or oracle re-audits under a fresh hash, and an ERRORed
#: audit is deliberately NOT memoized so a transient failure (import
#: error, OOM) re-audits on the next invocation instead of being skipped
#: forever.  No query results are retained.
_AUDITED_THIS_PROCESS: set[tuple[str, str, str]] = set()


def audit_against_oracle(name: str, df, sf_dir: str, oracle: str) -> None:
    """Self-audit ``df`` against its DuckDB ``oracle`` SQL.

    ALWAYS prints a one-line status to stdout so the driver's captured log
    tail records that the audit ran — round 5's audit was silent on
    success and could not prove it executed at the gate.  The
    ``{ARTIFACT_DIR}/{NAME}_AUDIT.json`` status artifact (match / mismatch
    / error, canonical result hash, row counts, env versions, timestamp)
    persists only for GATE-scale runs (``is_gate_sf``): sf0.001 smoke and
    pytest passes must not overwrite committed sf0.01 gate evidence (the
    round-8/9 recurring artifact drift).  On divergence additionally
    writes a DIFF artifact with the first 20 diverging canonical rows at
    any scale — ``{NAME}_DIFF.json`` for gate-scale runs, a
    ``{NAME}_DIFF_{sf}.json`` sibling otherwise, so smoke-scale red
    evidence never clobbers gate evidence.  Best-effort: audit
    failures must never turn a green query red, but they are now
    *recorded*, not swallowed.
    """
    if os.environ.get("SPARK_GRAFT_NO_FORENSICS"):
        return
    # One audit per IDENTICAL (query plan, oracle, sf) per PROCESS (r13):
    # the audit executes the full query plus its DuckDB oracle (~seconds
    # at gate scale), and a builder invoked twice in one run — warm-up
    # then timed, or a registration pass then an execution pass — was
    # paying it twice for identical evidence.  The key hashes the
    # expr-id-canonicalized optimized plan WITH the oracle text, so a
    # changed query or a changed oracle always re-audits (the ts-stable /
    # smoke-vs-gate artifact contracts below depend on that).  The skip
    # is announced so a captured log tail still proves the audit ran.
    audit_key = None
    try:
        import hashlib
        import re as _re

        plan_canon = _re.sub(
            r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString()
        )
        audit_key = (
            name,
            os.path.abspath(sf_dir or ""),
            hashlib.sha256(
                (plan_canon + "\x00" + (oracle or "")).encode()
            ).hexdigest(),
        )
    except Exception:  # noqa: BLE001 — unplannable frame: just re-audit
        pass
    if audit_key is not None and audit_key in _AUDITED_THIS_PROCESS:
        print(
            f"{name} self-audit: SKIPPED (identical audit already ran "
            f"in this process at {sf_dir})"
        )
        return
    # the memo is added only on a COMPLETED audit (the match / mismatch
    # returns below), never up-front: memoizing before running would turn
    # one transient ERROR into a permanent skip whose log line claims the
    # audit ran
    persist = is_gate_sf(sf_dir)
    # DIFF artifacts are scale-addressed: the gate scale owns the bare
    # {NAME}_DIFF.json; any other scale writes a _sf-suffixed sibling, so
    # an sf0.001 smoke mismatch can never clobber committed sf0.01 gate
    # evidence (it used to share the bare path) while red evidence is
    # still captured at every scale.
    if persist:
        diff_path = os.path.join(ARTIFACT_DIR, f"{name.upper()}_DIFF.json")
    else:
        sf_tag = os.path.basename(os.path.normpath(sf_dir or "unknown"))
        diff_path = os.path.join(
            ARTIFACT_DIR, f"{name.upper()}_DIFF_{sf_tag}.json"
        )
    try:
        import duckdb

        # Driver-faithful extraction: Spark toPandas vs DuckDB rel.df()
        # (round 9: collect()/fetchall() hid a HUGEINT→float64 coercion).
        s_pdf = df.toPandas()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            rel = con.sql(oracle)
            type_offenders = oracle_type_offenders(rel)
            d_pdf = rel.df()
        finally:
            con.close()
        sc, sr = canon_pandas(s_pdf)
        dc, dr = canon_pandas(d_pdf)
        s_hash = _hash_canon(sc, sr)
        d_hash = _hash_canon(dc, dr)
        if type_offenders:
            _write_status(name, {
                "status": "mismatch",
                "reason": f"oracle type coercion risk: {type_offenders}",
                "result_hash": s_hash,
                "oracle_hash": d_hash,
                "rows_spark": len(sr),
                "rows_oracle": len(dr),
                "sf_dir": sf_dir,
            }, persist=persist)
            if audit_key is not None:
                _AUDITED_THIS_PROCESS.add(audit_key)
            return
        if sc == dc and sr == dr:
            # stale-DIFF cleanup removes only THIS scale's artifact (the
            # path is scale-addressed above), so a matching sf0.001 smoke
            # can never delete committed sf0.01 red evidence
            if os.path.exists(diff_path):
                os.remove(diff_path)
            _write_status(name, {
                "status": "match",
                "result_hash": s_hash,
                "oracle_hash": d_hash,
                "rows_spark": len(sr),
                "rows_oracle": len(dr),
                "sf_dir": sf_dir,
            }, persist=persist)
            if audit_key is not None:
                _AUDITED_THIS_PROCESS.add(audit_key)
            return
        spark_only = [r for r in sr if r not in set(dr)][:20]
        oracle_only = [r for r in dr if r not in set(sr)][:20]
        artifact = {
            "query": name,
            "sf_dir": sf_dir,
            "schema_spark": sc,
            "schema_oracle": dc,
            "rows_spark": len(sr),
            "rows_oracle": len(dr),
            "spark_only_rows": spark_only,
            "oracle_only_rows": oracle_only,
            "env": _env_info(),
        }
        with open(diff_path, "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
        _write_status(name, {
            "status": "mismatch",
            "result_hash": s_hash,
            "oracle_hash": d_hash,
            "rows_spark": len(sr),
            "rows_oracle": len(dr),
            "sf_dir": sf_dir,
        }, persist=persist)
        if audit_key is not None:
            _AUDITED_THIS_PROCESS.add(audit_key)
    except Exception as exc:  # noqa: BLE001 — forensics never fails the query
        import traceback

        try:
            _write_status(name, {
                "status": "error",
                "error": repr(exc),
                "traceback": traceback.format_exc()[-2000:],
                "sf_dir": sf_dir,
            }, persist=is_gate_sf(sf_dir))
        except Exception:  # noqa: BLE001 — truly last resort
            pass
