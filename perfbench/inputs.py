"""Seeded input generation for the benchmark.

Three families of inputs:

* ``catalog_tables`` writes the ten catalog tables (region … embeddings)
  with the shapes and value distributions of the engine's sf-scaled test
  data: uniform TPC-H-ish keys and measures, a 30-word document vocabulary
  with 5 % near-duplicates (an earlier text plus `` dup``), unit-norm 64-d
  embeddings.  The catalog workloads use one fixed table seed, so every run
  reads the same data; the run seed only orders the queries.
* ``refresh_batches`` splits the documents into batches with a seeded hash
  and plants duplicate groups whose outcome the refresh check knows.
* ``evidence_inputs`` writes the inputs of two evidence parsers from the
  run seed and returns the output row count each pipeline must produce,
  computed independently with pandas.

Nothing here imports Spark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    """Write the ten catalog tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pkeys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pkeys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_evt),
        "event_type": etypes[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(n_doc)]
    # 5 % near-duplicates: an earlier document's text plus one token
    for i in np.sort(rng.choice(np.arange(n_doc // 10, n_doc), n_doc // 20,
                                replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(["en"] * 8 + ["de", "es", "fr", "zh"] * 3)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


PLANTED_GROUPS = 40


def refresh_batches(docs: pd.DataFrame, seed: int, n_batches: int):
    """Split the documents into ``n_batches`` non-empty batches by a seeded
    hash of the id, and plant ``PLANTED_GROUPS`` duplicate groups in them.

    A group is an original document of random letter tokens (so it is
    near no other document), an exact copy and a near copy (the text plus
    `` dup``), each in a different batch when there are three or more
    (with two, the exact copy shares the original's batch).  The refresh
    keeps the first member it sees and must drop the other two, as an
    exact or near duplicate of a stored document, so exactly one member of
    every group is kept in a pass.  Returns the batches and the
    ``(original, exact copy, near copy)`` id triples.
    """
    rng = np.random.default_rng([seed, 7])
    base = int(docs.doc_id.max()) + 1
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    planted, triples, where = [], [], {}
    for g in range(PLANTED_GROUPS):
        text = " ".join("".join(letters[rng.integers(0, 26, 6)])
                        for _ in range(40))
        ids = (base + 3 * g, base + 3 * g + 1, base + 3 * g + 2)
        b = g % n_batches
        copy_b = (b + 2) % n_batches if n_batches >= 3 else b
        for doc_id, body, batch in zip(ids, (text, text, text + " dup"),
                                       (b, copy_b, (b + 1) % n_batches)):
            planted.append((doc_id, body))
            where[doc_id] = batch
        triples.append(ids)
    extra = pd.DataFrame({
        "doc_id": np.array([d for d, _ in planted], dtype=np.int64),
        "text": [t for _, t in planted], "lang": "en", "source": "planted",
        "n_chars": np.array([len(t) for _, t in planted], dtype=np.int64)})
    corpus = pd.concat([docs, extra], ignore_index=True)
    batch_of = []
    for i in corpus.doc_id:
        i = int(i)
        if i in where:
            batch_of.append(where[i])
        else:
            h = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8)
            batch_of.append(int.from_bytes(h.digest(), "little") % n_batches)
    batch_of = np.array(batch_of)
    batches = [corpus[batch_of == b].reset_index(drop=True)
               for b in range(n_batches)]
    return [b for b in batches if len(b)], triples


# --------------------------------------------------------------- evidence
#
# The parser inputs are written in the formats FIXTURES.md gives for them
# (F01 slapenrich: TSV read with inferSchema, with its TSV disease LUT;
# F07 IMPC: CSV tables with a header, as the reference's SOLR exports are
# read) and read through the engine's own
# readers in ``contracts.py``.


def _genes(rng, n: int) -> np.ndarray:
    return np.array([f"GENE{g}" for g in rng.integers(0, 4000, n)])


def _slapenrich(rng, n: int, out: str) -> int:
    ctypes = [f"CT{i}" for i in range(30)]
    pathways = pd.DataFrame({
        "ctype": np.array(ctypes)[rng.integers(0, 30, n)],
        "gene": _genes(rng, n),
        "pathway": [f"R-HSA-{k}: pathway {k}" for k in
                    rng.integers(0, 2000, n)],
        # a third below the 1e-4 threshold
        "SLAPEnrichPval": np.where(rng.random(n) < 0.33,
                                   10.0 ** -rng.uniform(5, 12, n),
                                   rng.uniform(1e-3, 1.0, n)),
    })
    lut = pd.DataFrame({
        "Cancer_type_acronym": ctypes[:25],
        "Cancer_type_name": [f"cancer {i}" for i in range(25)],
        "EFO_id": [f"EFO:{i:07d}" for i in range(25)],
        "EFO_name": [f"cancer type {i}" for i in range(25)],
        "Source": "perfbench",
    })
    pathways.to_csv(f"{out}/slapenrich_pathways.tsv", sep="\t", index=False)
    lut.to_csv(f"{out}/slapenrich_lut.tsv", sep="\t", index=False)
    hit = pathways[pathways.SLAPEnrichPval < 1e-4].merge(
        lut, left_on="ctype", right_on="Cancer_type_acronym")
    return len(hit[["gene", "EFO_name", "EFO_id", "SLAPEnrichPval",
                    "pathway"]].drop_duplicates())


def _impc(rng, n: int, out: str) -> int:
    n_mgi = max(n // 5, 10)
    mgi = [f"MGI:{i}" for i in range(n_mgi)]
    # a tenth of the mouse genes have no human ortholog and drop out
    mouse_genes = pd.DataFrame({"targetInModelMgiId": mgi,
                                "targetInModel": [f"Gm{i}" for i in
                                                  range(n_mgi)]})
    bridged = mgi[: n_mgi * 9 // 10]
    gene_map = pd.DataFrame({"gene_id": bridged,
                             "hgnc_gene_id": [f"HGNC:{i}" for i in
                                              range(len(bridged))]})
    human = pd.DataFrame({"hgnc_gene_id": gene_map.hgnc_gene_id,
                          "targetFromSourceId": [f"ENSG{i:011d}" for i in
                                                 range(len(bridged))]})
    marker = rng.integers(0, n_mgi, n)
    zyg = np.array(["hom", "het", "hemi"])[rng.integers(0, 3, n)]
    disease = rng.integers(0, 400, n)
    dm = pd.DataFrame({
        "model_id": [f"MGI:{m}#{z}#{k}" for m, z, k in
                     zip(marker, zyg, rng.integers(0, 5, n))],
        "marker_id": [f"MGI:{m}" for m in marker],
        "disease_id": [f"OMIM:{d}" for d in disease],
        "disease_term": [f"disease {d}" for d in disease],
        "disease_model_avg_norm": np.round(rng.random(n), 4),
        "model_description": [f"model {i}" for i in range(n)],
    })
    mp = dm[["model_id", "marker_id"]].drop_duplicates("model_id").copy()
    mp["model_phenotypes"] = [
        ",".join(f"MP:{k:07d} phenotype {k}" for k in rng.integers(0, 900, 3))
        for _ in range(len(mp))]
    dp = pd.DataFrame({"disease_id": [f"OMIM:{d}" for d in range(400)]})
    dp["disease_phenotypes"] = [
        ",".join(f"HP:{k:07d} sign {k}" for k in rng.integers(0, 600, 2))
        for _ in range(len(dp))]
    for name, frame in (("dm", dm), ("mouse_genes", mouse_genes),
                        ("gene_map", gene_map), ("human", human),
                        ("mp", mp), ("dp", dp)):
        frame.to_csv(f"{out}/impc_{name}.csv", index=False)
    joined = dm.assign(zyg=zyg).merge(
        gene_map, left_on="marker_id", right_on="gene_id").merge(
        human, on="hgnc_gene_id")
    return len(joined[["targetFromSourceId", "disease_term", "zyg"]]
               .drop_duplicates())


EVIDENCE = {
    "slapenrich": (_slapenrich, 30_000),
    "impc": (_impc, 10_000),
}


def evidence_inputs(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write the parser inputs under ``out_dir`` and return
    ``{pipeline: expected output rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    expected = {}
    for i, (name, (make, rows)) in enumerate(EVIDENCE.items()):
        rng = np.random.default_rng([seed, i])
        expected[name] = make(rng, max(int(rows * scale), 200), out_dir)
    return expected
