"""IVF (inverted-file) approximate nearest neighbors.

The second scale path for similarity search (alongside the random-hyperplane
LSH in operators/similarity.py): partition the corpus into Voronoi cells
around centroids, then score each query only against its ``n_probe``
nearest cells.  This is the classic IVF-Flat index expressed relationally:

    fit      : MLlib KMeans over (a sample of) the corpus     [train-once]
    assign   : one narrow pass adding cell_id to the corpus   [no shuffle]
    probe    : query × centroids (tiny, broadcast) → top-n_probe cells
    search   : join on cell_id → cosine → window top-k        [one shuffle]

Compute ratio vs brute force ≈ n_probe / n_cells; recall grows with n_probe.
At 100 TB the assigned corpus would be written bucketed by cell_id so the
search join is shuffle-free on the corpus side.

The cell assignment is an Arrow-batched pandas UDF, not an unrolled SQL
expression, for the same two reasons the ANN-LSH bucketing is
(operators/similarity.py): n_cells literal-laden dim-term trees (a) compile
to generated methods past HotSpot's 8 KB JIT ceiling, so they execute in the
JVM's bytecode interpreter, and (b) serialize thousands of literal nodes
into every task binary (multi-MB per stage).  In the kernel the centroid
matrix is a 4 KB numpy closure constant, and the squared-distance fold
replays the IDENTICAL IEEE arithmetic the DuckDB oracle computes — products,
then pairwise balanced-tree additions in the same order — so assignments,
probes, and the final top-k match the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.similarity import (
    CENTROIDS_META_KEY,
    centroid_fingerprint,
    cosine_pairs_udf,
    deterministic_planes,
    nearest_cells,
    rank_topk,
    vector_kernel_udf,
)


class CellIndexMismatchError(ValueError):
    """``ivf_topk(corpus_assigned=...)`` got a frame it cannot search: a
    required column is missing, or its cells were not assigned against the
    search's centroids (a stale or differently-fitted index would silently
    return wrong neighbors)."""


def fit_ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
):
    """KMeans centroids over the corpus (MLlib; deterministic via seed).

    Returns a list[list[float]] — small enough to broadcast as literals.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def deterministic_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Unit-norm pseudo-random centroids from the same LCG family as the ANN
    hyperplanes — no RNG state, no data-dependent fit, reproducible across
    engines.  For unit-norm embeddings the Voronoi assignment then reduces to
    argmax dot product, so cells stay direction-driven and roughly balanced.

    KMeans-fitted centroids (fit_ivf_centroids) give better cells in
    production; deterministic centroids exist so an IVF result can be
    replayed bit-for-bit by a second engine (the correctness oracle).
    """
    cells = []
    for row in deterministic_planes(dim, n_cells):
        nrm = sum(v * v for v in row) ** 0.5
        cells.append([v / nrm for v in row])
    return cells


def _cells_udf(centroids: list[list[float]], n_probe: int):
    """Arrow pandas UDF: embedding array → the ``n_probe`` nearest cell ids,
    nearest first, ties toward the LARGER cell id
    (similarity.nearest_cells)."""
    cents = [[float(v) for v in c] for c in centroids]

    def cells_kernel(V):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64)  # (n_cells, dim)
        return pd.Series(list(nearest_cells(V, C, n_probe)))

    return vector_kernel_udf(cells_kernel, len(cents[0]), "array<int>")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF search: score queries only against their n_probe nearest cells.

    One shuffle (the cell_id join); the probe side is broadcast — it carries
    |queries| × n_probe rows regardless of corpus size.

    ``corpus_assigned``: precomputed ``(corpus_id, __cv, __cell)`` rows —
    e.g. a slice of ``similarity.corpus_index_rows`` or a persisted
    :func:`assign_cells` index with ``cell`` renamed ``__cell`` — sharing
    one corpus assignment pass between consumers instead of re-running the
    cell kernel per search.  The assignment must come from the same
    centroids: a missing column, or a ``__cell`` whose metadata fingerprint
    (stamped by both assigners) is absent or names other centroids, raises
    :class:`CellIndexMismatchError`."""
    if corpus_assigned is None:
        c = assign_cells(corpus, centroids, corpus_id, vec_col).select(
            corpus_id,
            F.col(vec_col).alias("__cv"),
            F.col("cell").alias("__cell"),
        )
    else:
        _check_assigned(corpus_assigned, corpus_id, centroids)
        c = corpus_assigned
    probe = _cells_udf(centroids, n_probe)
    q = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
    ).withColumn("__cell", F.explode(probe(F.col("__qv"))))
    scored = c.join(F.broadcast(q), on="__cell").where(
        F.col(query_id) != F.col(corpus_id)
    ).select(
        query_id,
        corpus_id,
        cosine_pairs_udf()(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
    )
    return rank_topk(scored, query_id, corpus_id, k)


def _check_assigned(
    corpus_assigned: DataFrame, corpus_id: str, centroids: list[list[float]]
) -> None:
    schema = corpus_assigned.schema
    missing = sorted({corpus_id, "__cv", "__cell"} - set(schema.names))
    if missing:
        raise CellIndexMismatchError(
            f"corpus_assigned lacks column(s) {missing}; it must carry "
            f"({corpus_id}, __cv, __cell)"
        )
    got = schema["__cell"].metadata.get(CENTROIDS_META_KEY)
    want = centroid_fingerprint(centroids)
    if got != want:
        raise CellIndexMismatchError(
            "corpus_assigned.__cell was assigned against "
            + (f"centroids {got}" if got else "unknown centroids")
            + f", not the search's centroids {want}; re-assign it with "
            "assign_cells or corpus_index_rows"
        )


# ---------------------------------------------------------------------------
# Index maintenance — the operational side of IVF at 100 TB: the assigned
# corpus (id, vec, cell) IS the index, persisted bucketed by cell so the
# search join is co-located.  New batches append via assignment against the
# EXISTING centroids (no refit — assignments already in the index must never
# move, or the bucketed layout and any cached cell stats are invalidated);
# occupancy drift tells you when a refit + rebuild is actually worth it.
# ---------------------------------------------------------------------------


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted IVF index frame: ``(id, vec, cell)`` — one narrow pass,
    no shuffle.  Write with ``sinks.write_partitioned(..., buckets=...)`` on
    ``cell`` so ivf search joins leave the corpus side in place.  ``cell``
    carries the centroids' fingerprint in its field metadata
    (``similarity.CENTROIDS_META_KEY``; it survives select, persist and
    parquet), which :func:`ivf_topk` checks."""
    assign = _cells_udf(centroids, 1)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("cell", F.element_at(assign(F.col(vec_col)), 1)).withMetadata(
        "cell", {CENTROIDS_META_KEY: centroid_fingerprint(centroids)}
    )


def ivf_add_batch(
    index: DataFrame,
    new_batch: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a new batch to an existing index: assign against the SAME
    centroids and union — existing rows never move.  Quality decays only as
    the data distribution drifts from the fitted centroids; monitor with
    :func:`cell_occupancy` / :func:`needs_refit` and rebuild when flagged."""
    return index.unionByName(
        assign_cells(new_batch, centroids, id_col, vec_col)
    )


def cell_occupancy(index: DataFrame) -> DataFrame:
    """Per-cell row counts — one aggregate, the index health metric."""
    return index.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


def needs_refit(
    occupancy: DataFrame,
    n_cells: int,
    max_imbalance: float = 4.0,
) -> bool:
    """Refit heuristic: True when the fullest cell exceeds ``max_imbalance``
    × the ideal (total/n_cells), or any fitted cell is empty — either way
    probes stop pruning evenly and search cost skews.  One tiny aggregate
    (n_cells rows) — safe to run after every batch append."""
    rows = occupancy.agg(
        F.max("n").alias("mx"),
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("nonempty"),
    ).first()
    if not rows or not rows.total:
        return False
    ideal = rows.total / n_cells
    return bool(rows.mx > max_imbalance * ideal or rows.nonempty < n_cells)
