"""IVF (inverted-file) similarity search — the k-means scale path.

No reference counterpart (gnames has no vectors); required by the
training-data mandate, which names BOTH ANN families: "an IVF or
LSH-bucketed variant as the scale path". The sign-LSH family lives in
operators/embeddings.py; this module is the IVF family:

- :func:`train_ivf_centroids` — spherical k-means coarse quantizer
  trained on a BOUNDED, deterministic sample (the driver pull is
  ``sample_n × dim`` floats regardless of corpus size — the standard
  coarse-quantizer training shape: centroid quality needs a
  representative sample, not the corpus).
- :func:`build_ivf_index` — one pass over the corpus assigning every
  vector to its single nearest centroid cell. The posting table
  carries ONLY ``(cell, vid)``; a caller with repeated query batches
  writes it bucketed by ``cell`` once and reuses it (same economics
  as sources/tables.write_bucketed).
- :func:`ivf_topk` — per query, probe the ``nprobe`` nearest cells;
  scoring is ONE numpy GEMM task per cell (members ship once, probing
  queries ship nprobe times; the candidate cross product never hits
  the shuffle), local top-(k+slack) per cell, then an exact Catalyst
  cosine recompute on the tiny survivor set (oracle-identical
  rounding, same policy as blocked_cosine_pairs) and a global rank.

Why this complements sign-LSH rather than duplicating it: LSH buckets
are data-independent (random hyperplanes — recall at a given cosine is
ANALYTIC, which is why ann_dup_pairs can derive banding from the
threshold), IVF cells are data-ADAPTIVE (k-means follows the corpus
density — far fewer probes per query on clustered real-world
embeddings, but recall is empirical, not derivable). So: LSH for
threshold-mining with a recall guarantee, IVF for cheap repeated
top-k serving. Measured recall + scan fraction: tools/ivf_recall.py →
ANN_RECALL.json (ivf_topk section).

Scale shape (10^12 vectors): centroids are a ``n_cells × dim`` float
broadcast (derive_ivf_cells caps at 2^16 cells ≈ 16 MB at dim=64);
the corpus shuffles ONCE by cell at index build; each query ships
``nprobe`` rows of (cell, qid) — vectors hydrate by join-back only
for scoring. Unlike multi-band LSH every vector lives in EXACTLY ONE
cell, so candidates need no dedup and the index is not replicated
n_bands times. k-means cells on real corpora skew (dense regions →
hot cells): ``cell_cap`` drops over-full cells into an overflow
DataFrame, never silently (same policy as postings.capped_posting_pairs). Past
the 2^16-cell cap the composition is hierarchical and IMPLEMENTED:
:func:`train_ivf2` / :func:`ivf2_topk` — a broadcastable coarse level
plus per-cell fine k-means trained distributedly (one task per coarse
cell), the full fine centroid table living in a DataFrame joined BY
CELL (a single flat quantizer with 10^9 centroids would not
broadcast); probing everything reproduces brute force exactly
(pytest-pinned).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from gnames_spark.operators.embeddings import cosine_similarity_col


def derive_ivf_cells(n_vectors: int, min_cells: int = 4, max_cells: int = 65536) -> int:
    """Cell count ≈ sqrt(n), clamped. sqrt balances the two costs a
    probe pays: scanning ~n/n_cells postings per probed cell vs
    ranking n_cells centroids to pick probes — equal at sqrt(n)."""
    return max(min_cells, min(max_cells, int(round(math.sqrt(max(1, n_vectors))))))


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_cells: int,
    sample_n: int = 8192,
    n_iters: int = 20,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means (cosine) coarse quantizer; returns unit-norm
    centroids of shape ``(n_cells, dim)``.

    Deterministic end-to-end: the sample is the ``sample_n`` smallest
    ``xxhash64(id)`` values (a seedable uniform pseudo-random sample
    that any executor layout reproduces), rows are sorted by id before
    training, init is kmeans++ under a fixed RandomState, and Lloyd
    runs a fixed iteration budget with deterministic empty-cell
    reseeding (the point worst-served by its current centroid). Zero
    vectors are excluded from training (cosine undefined; they assign
    to cell 0 at index time and never score above 0.0).
    """
    sample = (
        vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .filter(F.expr("aggregate(vec, 0.0D, (a, v) -> a + abs(cast(v as double)))") > 0.0)
        .orderBy(F.xxhash64(F.col("vid"), F.lit(seed)), F.col("vid"))
        .limit(int(sample_n))
        .toPandas()
        .sort_values("vid")
    )
    X = np.stack([np.asarray(v, dtype=np.float64) for v in sample["vec"]])
    return spherical_kmeans(X, int(n_cells), seed=seed, n_iters=n_iters)


def spherical_kmeans(
    X: np.ndarray, k: int, seed: int = 42, n_iters: int = 20
) -> np.ndarray:
    """Deterministic spherical k-means core (numpy; kmeans++ init under
    a fixed RandomState, Lloyd with deterministic empty-cell reseeding
    — the point its own cell serves worst). Rows are normalized here;
    returns unit-norm centroids of shape (min(k, len(X)), dim)."""
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    n, dim = X.shape
    k = min(int(k), n)
    rng = np.random.RandomState(seed)

    # kmeans++ seeding in cosine distance (1 - cos on unit vectors)
    centroids = np.empty((k, dim), dtype=np.float64)
    centroids[0] = X[rng.randint(n)]
    d2 = np.maximum(0.0, 1.0 - X @ centroids[0])
    for c in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[c] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, np.maximum(0.0, 1.0 - X @ centroids[c]))

    assign = np.full(n, -1, dtype=np.int64)
    for _ in range(int(n_iters)):
        sims = X @ centroids.T
        new_assign = sims.argmax(axis=1)
        if np.array_equal(new_assign, assign):
            break
        assign = new_assign
        for c in range(k):
            members = X[assign == c]
            if len(members) == 0:
                # deterministic reseed: the point its own cell serves worst
                worst = (sims.max(axis=1)).argmin()
                centroids[c] = X[worst]
                continue
            m = members.sum(axis=0)
            norm = np.linalg.norm(m)
            centroids[c] = m / norm if norm > 0 else centroids[c]
    return centroids


def make_cell_probe_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: vector → array<int> of the ``nprobe`` nearest cell
    ids by cosine against the broadcast centroid matrix (one
    batch-sized matmul per Arrow batch; ties broken by cell id via
    stable argsort on (-sim, cell))."""
    C = np.asarray(centroids, dtype=np.float64).T  # dim × k
    k = C.shape[1]
    p = min(int(nprobe), k)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ C
        order = np.argsort(-sims, axis=1, kind="stable")[:, :p].astype(np.int32)
        return pd.Series(list(order))

    return probe_udf


def build_ivf_index(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign every vector to its single nearest cell. Returns
    ``(postings, overflow_cells)`` where postings carry ONLY
    ``(cell, vid)`` — the vector never rides the shuffle — and
    overflow_cells holds any cell larger than ``cell_cap`` (those
    postings are dropped from the index, logged never silent)."""
    probe = make_cell_probe_udf(centroids, nprobe=1)
    posting = vectors.select(
        F.col(id_col).alias("vid"),
        probe(F.col(vec_col)).getItem(0).alias("cell"),
    )
    spark = vectors.sparkSession
    if cell_cap is not None:
        counts = posting.groupBy("cell").agg(F.count("*").alias("n_vecs"))
        overflow = counts.filter(F.col("n_vecs") > cell_cap)
        posting = posting.join(overflow.select("cell"), ["cell"], "left_anti")
    else:
        overflow = spark.createDataFrame([], "cell int, n_vecs long")
    return posting, overflow


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray | None = None,
    nprobe: int = 8,
    n_cells: int | None = None,
    n_vectors_hint: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cap: int | None = None,
    min_cosine: float | None = None,
    round_digits: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Approximate top-k neighbors per query via IVF. Returns
    ``(topk, overflow_cells)`` with columns
    (query_id, neighbor_id, cosine, rank).

    Pass trained ``centroids`` to reuse an index across query batches;
    otherwise they are trained here (``n_cells`` defaults to
    :func:`derive_ivf_cells` of ``n_vectors_hint`` or a corpus count).
    ``min_cosine`` ranks only neighbors at or above the threshold —
    the thresholded form a brute-force oracle can reproduce whenever
    every such neighbor lands in a probed cell (measured, never
    assumed: tools/ivf_recall.py).

    Characterized miss class (empirical, unlike sign-LSH's analytic
    one): a true neighbor assigned to a cell the query does not probe.
    Raising ``nprobe`` monotonically closes it — at
    ``nprobe == n_cells`` the result is EXACTLY brute force (pytest
    pins this), so nprobe is a pure recall/cost dial.
    """
    if centroids is None:
        n = int(n_vectors_hint) if n_vectors_hint is not None else corpus.count()
        cells = int(n_cells) if n_cells is not None else derive_ivf_cells(n)
        dim = len(
            corpus.select(F.col(vec_col)).filter(F.col(vec_col).isNotNull()).first()[0]
        )
        centroids = train_ivf_centroids(
            corpus, dim, cells, seed=seed, id_col=id_col, vec_col=vec_col
        )
    posting, overflow = build_ivf_index(corpus, centroids, id_col, vec_col, cell_cap)
    probe = make_cell_probe_udf(centroids, nprobe=nprobe)
    probes = queries.select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).alias("vec"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    ).withColumn("side", F.lit(1))
    # Scoring shape: ONE GEMM task per cell, never a per-candidate join.
    # Each cell group holds its member vectors (shipped once, hydrated by
    # a posting join) plus the query vectors probing it (shipped nprobe
    # times) — the candidate cross product lives only inside the numpy
    # matmul, so ~|cell|·|probes| interpreted-cosine rows never hit the
    # shuffle. The group emits its LOCAL top-(k+slack) per query; the
    # global top-k is a window over <= nprobe·(k+slack) rows per query.
    members = (
        posting.join(
            corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
            "vid",
        )
        .select(F.col("cell"), F.col("vid").alias("rid"), "vec")
        .withColumn("side", F.lit(0))
    )
    margin = float("-inf") if min_cosine is None else float(min_cosine) - 1e-6
    cands = (
        members.unionByName(probes)
        .groupBy("cell")
        .applyInPandas(
            _make_group_topk_fn(k, margin), schema="query_id long, neighbor_id long"
        )
    )
    topk = _exact_rerank(
        cands, corpus, queries, k, min_cosine, round_digits, id_col, vec_col
    )
    return topk, overflow


def _make_group_topk_fn(k: int, margin: float, slack: int = 8):
    """GEMM local-top-k over one tagged group: rows carry (rid, vec,
    side) with side 0 = index members, 1 = probing queries. Emits each
    query's local top-(k+slack) member ids in the GLOBAL tie-break
    order (-cosine, id); ``slack`` survives GEMM-vs-sequential-fold
    last-ulp drift at the cut."""

    def group_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["side"] == 0]
        qs = pdf[pdf["side"] == 1]
        if len(mem) == 0 or len(qs) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": []})
        ids_m = mem["rid"].to_numpy()
        ids_q = qs["rid"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in mem["vec"]])
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in qs["vec"]])
        nm = np.linalg.norm(M, axis=1)
        nq = np.linalg.norm(Q, axis=1)
        nm[nm == 0] = np.inf  # zero vectors: cosine defined as 0
        nq[nq == 0] = np.inf
        sims = (Q / nq[:, None]) @ (M / nm[:, None]).T  # |Q| x |M|
        out_q, out_n = [], []
        take = k + slack
        for qi in range(len(ids_q)):
            row = sims[qi]
            ok = (row >= margin) & (ids_m != ids_q[qi])
            idx = np.nonzero(ok)[0]
            if len(idx) == 0:
                continue
            # deterministic local order == global tie-break: (-cos, id)
            order = idx[np.lexsort((ids_m[idx], -row[idx]))][:take]
            out_q.extend([ids_q[qi]] * len(order))
            out_n.extend(ids_m[order])
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    return group_topk


def _exact_rerank(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    min_cosine: float | None,
    round_digits: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact join-back cosine on the tiny survivor set (Catalyst
    sequential fold == the DuckDB oracle's rounding, same policy as
    blocked_cosine_pairs) — at most probes·(k+slack) rows per query —
    then the global per-query rank."""
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
    scored = (
        cands.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cosine", F.round(cosine_similarity_col("_qv", "_nv"), round_digits))
        .select("query_id", "neighbor_id", "cosine")
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= float(min_cosine))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# Two-level IVF — the composition past the flat quantizer's broadcast cap
# --------------------------------------------------------------------------

def train_ivf2(
    corpus: DataFrame,
    dim: int,
    n_coarse: int,
    n_fine: int,
    n_vectors_hint: int | None = None,
    sample_per_cell: int = 1024,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: np.ndarray | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Train the hierarchical quantizer the flat docstring promises:
    a broadcastable COARSE spherical-k-means level plus, per coarse
    cell, a FINE spherical-k-means trained DISTRIBUTEDLY (one
    applyInPandas task per coarse cell over a deterministic sample) —
    total fine centroids n_coarse × n_fine can exceed any broadcast
    budget because they live in a DataFrame joined BY CELL, never
    shipped whole to anyone.

    Returns ``(coarse_centroids, fine_df)`` where fine_df has columns
    (cell int, fine int, centroid array<double>), centroids unit-norm,
    fine ids dense per cell.

    Determinism: the fine-training sample is ``pmod(xxhash64(id, seed),
    ratio) == 0`` (ratio from ``n_vectors_hint`` targeting
    ``sample_per_cell`` rows per cell in expectation — no per-cell
    window, no skew pattern), rows sort by id inside each task, each
    cell's k-means seeds with ``seed*1000003 + cell``.
    """
    n = int(n_vectors_hint) if n_vectors_hint is not None else corpus.count()
    if coarse is None:
        coarse = train_ivf_centroids(
            corpus, dim, n_coarse, seed=seed, id_col=id_col, vec_col=vec_col
        )
    posting, _ = build_ivf_index(corpus, coarse, id_col, vec_col)
    ratio = max(1, n // (len(coarse) * int(sample_per_cell)))
    samp = (
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .filter(F.pmod(F.xxhash64(F.col("vid"), F.lit(seed)), F.lit(ratio)) == 0)
        .join(posting, "vid")
    )
    fine_k = int(n_fine)
    cap = 4 * int(sample_per_cell)
    base_seed = int(seed)

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = key
        pdf = pdf.sort_values("vid").head(cap)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        X = X[np.linalg.norm(X, axis=1) > 0]
        if len(X) == 0:
            return pd.DataFrame(
                {
                    "cell": pd.Series(dtype="int64"),
                    "fine": pd.Series(dtype="int64"),
                    # dtype=object: an empty float64 ndarray column cannot
                    # Arrow-convert to list<double>
                    "centroid": pd.Series(dtype=object),
                }
            )
        cents = spherical_kmeans(
            X, fine_k, seed=(base_seed * 1000003 + int(cell)) % (2**31)
        )
        return pd.DataFrame(
            {
                "cell": [int(cell)] * len(cents),
                "fine": list(range(len(cents))),
                "centroid": [list(map(float, c)) for c in cents],
            }
        )

    fine = samp.groupBy("cell").applyInPandas(
        fit, schema="cell int, fine int, centroid array<double>"
    )
    return coarse, fine


def _assign_fine(
    tagged: DataFrame, fine: DataFrame, out_schema: str, top_p: int
):
    """Shared fine-level assignment: group rows (cell, rid, vec) with
    the cell's fine centroids in ONE applyInPandas per coarse cell —
    the centroid table is joined by cell, never broadcast. Emits each
    row's ``top_p`` nearest fine ids."""
    cents = fine.select(
        "cell",
        F.col("fine").alias("rid"),
        F.col("centroid").alias("vec"),
    ).withColumn("side", F.lit(2))

    def assign(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = key
        cs = pdf[pdf["side"] == 2].sort_values("rid")
        rows = pdf[pdf["side"] != 2]
        if len(cs) == 0 or len(rows) == 0:
            return pd.DataFrame(
                {
                    "cell": pd.Series(dtype="int64"),
                    "fine": pd.Series(dtype="int64"),
                    "rid": pd.Series(dtype="int64"),
                    "vec": pd.Series(dtype=object),  # see fit(): list column
                }
            )
        C = np.stack([np.asarray(v, dtype=np.float64) for v in cs["vec"]])
        ids_f = cs["rid"].to_numpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in rows["vec"]])
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (X / norms) @ C.T
        p = min(top_p, len(ids_f))
        order = np.argsort(-sims, axis=1, kind="stable")[:, :p]
        out_cell, out_fine, out_rid, out_vec = [], [], [], []
        for i, rid in enumerate(rows["rid"]):
            for j in order[i]:
                out_cell.append(int(cell))
                out_fine.append(int(ids_f[j]))
                out_rid.append(int(rid))
                out_vec.append(list(rows["vec"].iloc[i]))
        return pd.DataFrame(
            {"cell": out_cell, "fine": out_fine, "rid": out_rid, "vec": out_vec}
        )

    return tagged.unionByName(cents).groupBy("cell").applyInPandas(
        assign, schema=out_schema
    )


def ivf2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    coarse: np.ndarray,
    fine: DataFrame,
    nprobe_coarse: int = 4,
    nprobe_fine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Two-level IVF top-k: queries probe ``nprobe_coarse`` coarse
    cells, then ``nprobe_fine`` fine cells within each; candidates are
    the probed (cell, fine) buckets' members, scored by the same
    per-group GEMM + exact-fold rerank as :func:`ivf_topk`.

    The at-scale point: the per-task candidate set shrinks from
    n/n_coarse (flat) to n/(n_coarse·n_fine), and the full fine
    centroid table (n_coarse × n_fine × dim — past any broadcast
    budget at 10^9-centroid scale) is only ever JOINED by coarse cell:
    each task sees its own cell's n_fine centroids. Every corpus vector
    lives in exactly one (cell, fine) bucket, so candidates need no
    dedup. Recall dial: (nprobe_coarse, nprobe_fine); probing
    everything reproduces the flat result at the same coarse level.
    """
    probe = make_cell_probe_udf(coarse, nprobe=nprobe_coarse)
    # index side: each vector's single (cell, fine) bucket
    cposting, _ = build_ivf_index(corpus, coarse, id_col, vec_col)
    cmembers = (
        cposting.join(
            corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
            "vid",
        )
        .select("cell", F.col("vid").alias("rid"), "vec")
        .withColumn("side", F.lit(0))
    )
    members = _assign_fine(
        cmembers, fine, "cell int, fine int, rid long, vec array<double>", top_p=1
    ).withColumn("side", F.lit(0))
    # query side: nprobe_coarse cells, then nprobe_fine fine ids each
    qprobes = queries.select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).cast(T.ArrayType(T.DoubleType())).alias("vec"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    ).withColumn("side", F.lit(1))
    probes = _assign_fine(
        qprobes, fine, "cell int, fine int, rid long, vec array<double>",
        top_p=nprobe_fine,
    ).withColumn("side", F.lit(1))
    margin = float("-inf") if min_cosine is None else float(min_cosine) - 1e-6
    cands = (
        members.unionByName(probes)
        .groupBy("cell", "fine")
        .applyInPandas(
            _make_group_topk_fn(k, margin), schema="query_id long, neighbor_id long"
        )
    )
    return _exact_rerank(
        cands, corpus, queries, k, min_cosine, round_digits, id_col, vec_col
    )
