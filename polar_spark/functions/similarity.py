"""Embedding similarity search: brute-force top-k, IVF probe, LSH bucketing.

Scale design:
- **Quantized dot product**: embeddings are quantized to int ``floor(x·1e4)``
  so distributed summation is exact and order-independent — a reduction
  that is both deterministic (oracle-comparable) and SIMD-friendly.
- **Vectorized scoring**: all hot-path linear algebra (pair dots, centroid
  distances, hyperplane projections) runs as Arrow-batched numpy
  ``pandas_udf``s — one BLAS-shaped matmul per record batch instead of
  per-row interpreted ``aggregate``/``zip_with`` lambdas (Spark's
  higher-order-function lambdas are interpreted, not codegen; the fold
  form measured 5-10× slower — see functions/dedup.py MinHash note).
  All arithmetic stays int64-exact, so results are bit-identical to the
  fold form and to the DuckDB oracles.
- **Brute-force top-k** (the baseline): broadcast the query set, score
  partition-local, window top-k per query. Cost O(|Q|·n) — right answer
  for |Q| small; at 100 TB candidates never shuffle, only the per-query
  top-k rows move (AQE-coalesced).
- **Hyperplane LSH buckets** (the scale path): 8 deterministic md5-derived
  hyperplanes → 256 sign buckets; top-k search then probes only the
  query's bucket (± neighbors), shrinking the candidate set ~256×.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)
from pyspark.sql.window import Window

QUANT = 10000
N_PLANES = 8
NLIST = 16  # IVF coarse cells (small by construction: always inlineable)
NPROBE = 4
# brute_force_topk collects the query set driver-side; beyond this the
# closure broadcast + per-batch matmul need the bucketed ANN paths
MAX_BRUTE_FORCE_QUERIES = 10_000


def quantize(col: str | Column) -> Column:
    """float32 embedding → exact int64 vector: ``floor(double(x)·1e4)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint")
    )


def _mat(s: pd.Series) -> np.ndarray:
    """Stack an Arrow list<int64> Series into an (n, dims) int64 matrix.

    Vectors must be non-null and equal-length (the quantize contract)."""
    return np.stack(s.to_numpy()).astype(np.int64, copy=False)


@pandas_udf(LongType())
def _dot_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    return pd.Series((_mat(a) * _mat(b)).sum(axis=1))


def dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors — one numpy
    elementwise-multiply+sum per Arrow batch (order-independent because
    integer addition is associative; products stay < 2⁶³)."""
    return _dot_pd(a, b)


@pandas_udf(LongType())
def _sqdist_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    D = _mat(a) - _mat(b)
    return pd.Series((D * D).sum(axis=1))


def sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared-L2 distance of two quantized vectors —
    same Arrow-batch discipline as :func:`dot` (int64 subtract, square,
    sum; order-independent, engine-reproducible)."""
    return _sqdist_pd(a, b)


def dot_expr(a: Column, b: Column) -> Column:
    """JVM expression form of the quantized dot (interpreted HOF fold).

    Keep for tiny literal arrays embedded in a larger codegen pipeline
    where an Arrow round-trip costs more than the fold; every hot path
    should use :func:`dot`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Double-precision cosine similarity (vectorized; use for ranking —
    for oracle-exact comparisons prefer the quantized forms)."""

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = _mat(a).astype(np.float64)
        B = _mat(b).astype(np.float64)
        d = (A * B).sum(axis=1)
        return pd.Series(
            d / (np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1)))
        )

    return cos(a, b)


def cosine_exact(a: Column, b: Column) -> Column:
    """Cosine from exact integer dot products: ``dot/(√(a·a)·√(b·b))``.

    The three dots are exact int64 sums (< 2⁵³, so their double casts are
    exact); sqrt/multiply/divide are correctly-rounded IEEE ops — the
    result is bit-identical in any engine, hence oracle-comparable.

    When one side's norm is reused across many pairs (bucketed near-dup
    join), precompute ``sq_norm`` per vector before the join instead —
    see queries/similarity.py dedup_embedding_cosine."""

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A, B = _mat(a), _mat(b)
        d = (A * B).sum(axis=1).astype(np.float64)
        na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        return pd.Series(d / (na * nb))

    return cos(a, b)


def sq_norm(a: Column) -> Column:
    """Exact int64 squared L2 norm of a quantized vector (one pass;
    precompute per vector before a pair join so norms are never
    recomputed per pair)."""
    return _dot_pd(a, a)


def _centroid_arrays(
    centroids: list[tuple[int, list[int]]],
) -> tuple[np.ndarray, np.ndarray]:
    ordered = sorted(centroids)
    cids = np.array([int(cid) for cid, _ in ordered], dtype=np.int64)
    C = np.array([[int(x) for x in cv] for _, cv in ordered], dtype=np.int64)
    return cids, C


def _d2_matrix(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact int64 squared-L2 distances, (n, nlist): |v|²+|c|²−2v·c.

    One int64 matmul per Arrow batch — the codebook is broadcast to every
    task via the UDF closure (an IVF coarse codebook is tiny by
    construction), so assignment is a narrow per-partition pass with
    zero shuffle even at 100 TB."""
    v2 = (V * V).sum(axis=1)[:, None]
    c2 = (C * C).sum(axis=1)[None, :]
    return v2 + c2 - 2 * (V @ C.T)


def ivf_cell(
    vec_col: str | Column, centroids: list[tuple[int, list[int]]]
) -> Column:
    """Nearest-centroid cell id (ties → lowest cid: centroids are scored
    in cid order and argmin takes the first minimum)."""
    cids, C = _centroid_arrays(centroids)

    @pandas_udf(LongType())
    def cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        d2 = _d2_matrix(_mat(v), C)
        return pd.Series(cids[np.argmin(d2, axis=1)])

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return cell(c)


def ivf_probe_cells(
    vec_col: str | Column,
    centroids: list[tuple[int, list[int]]],
    nprobe: int = NPROBE,
) -> Column:
    """The ``nprobe`` nearest cell ids for a query vector (sorted by
    distance, ties → lowest cid via stable argsort over cid-ordered
    distances)."""
    cids, C = _centroid_arrays(centroids)

    @pandas_udf(ArrayType(LongType()))
    def probes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        d2 = _d2_matrix(_mat(v), C)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cids[idx]))

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return probes(c)


def build_super_codebook(
    centroids: list[tuple[int, list[int]]],
    n_super: int | None = None,
    iters: int = 10,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[np.ndarray], np.ndarray]:
    """Group an IVF codebook's centroids into ~√nlist SUPER-cells for
    two-level assignment (``ivf_cell_twolevel``).

    Flat nearest-centroid assignment is O(n·nlist) — quadratic once
    nlist is grown as √n with the corpus, which is why faiss routes
    assignment through an index over the centroids themselves. This is
    the Spark-shaped version of that index: a driver-side exact Lloyd's
    over the nlist centroid rows (tiny by construction) produces integer
    super-centroids, each centroid's membership, and per-super-cell
    radii ``r_S = max_{c∈S} ‖c − sc_S‖`` — everything
    ``ivf_cell_twolevel`` needs for triangle-inequality-exact pruning.

    Returns ``(cids, C, S, members, radii)``: centroid ids and matrix
    (cid order), super-centroid int64 matrix, per-super-cell member
    index arrays (ascending cid), and float radii (safely rounded UP)."""
    cids, C = _centroid_arrays(centroids)
    nlist = len(cids)
    m = int(n_super) if n_super else max(1, math.isqrt(nlist))
    m = min(m, nlist)
    S = C[:m].astype(np.float64)  # deterministic init: first m centroids
    for _ in range(iters):
        d2 = ((C[:, None, :].astype(np.float64) - S[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        newS = np.stack(
            [C[a == j].mean(0) if (a == j).any() else S[j] for j in range(m)]
        )
        if np.array_equal(newS, S):
            break
        S = newS
    S = np.floor(S).astype(np.int64)
    d2 = _d2_matrix(C, S)  # exact int assignment to integer super-centroids
    a = d2.argmin(1)
    members = [np.nonzero(a == j)[0] for j in range(m)]
    radii = np.array(
        [
            (math.sqrt(float(d2[members[j], j].max())) * (1 + 1e-12) + 1e-9)
            if members[j].size
            else 0.0
            for j in range(m)
        ]
    )
    return cids, C, S, members, radii


def ivf_cell_twolevel(
    vec_col: str | Column,
    centroids: list[tuple[int, list[int]]],
    n_super: int | None = None,
) -> Column:
    """EXACT nearest-centroid cell id via two-level (super-cell routed)
    assignment — bit-identical to :func:`ivf_cell` including ties
    (lowest cid), at O(n·(√nlist + examined members)) instead of
    O(n·nlist).

    Per Arrow batch: one (batch × √nlist) matmul scores the
    super-centroids; each row's NEAREST super-cell is scored exactly
    against its members to seed an upper bound u; then only super-cells
    whose triangle-inequality lower bound ``(d(v, sc_S) − r_S)²`` is
    ≤ u are scored (sound: for any member c, ‖v−c‖ ≥ ‖v−sc_S‖ − r_S, so
    every centroid at the true minimum — including lowest-cid ties —
    survives the prune; float bounds carry a downward safety margin and
    all real scoring stays exact int64)."""
    cids, C, S, members, radii = build_super_codebook(centroids, n_super)
    m = len(members)

    @pandas_udf(LongType())
    def cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = _mat(v)
        n = len(V)
        D2S = _d2_matrix(V, S)
        dS = np.sqrt(D2S.astype(np.float64)) * (1 - 1e-12)
        bound = np.maximum(dS - radii[None, :], 0.0)
        bound = bound * bound - 1.0  # sound int-valued lower bound
        near = np.argmin(D2S, axis=1)
        best_d2 = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        best_cid = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)

        def score(rows: np.ndarray, j: int) -> None:
            idx = members[j]
            if idx.size == 0 or rows.size == 0:
                return
            d2 = _d2_matrix(V[rows], C[idx])
            k = d2.argmin(1)  # first min = lowest cid (idx is cid-ordered)
            dmin = d2[np.arange(rows.size), k]
            cand = cids[idx][k]
            better = (dmin < best_d2[rows]) | (
                (dmin == best_d2[rows]) & (cand < best_cid[rows])
            )
            rws = rows[better]
            best_d2[rws] = dmin[better]
            best_cid[rws] = cand[better]

        for j in range(m):
            score(np.nonzero(near == j)[0], j)
        ubound = best_d2.astype(np.float64)
        for j in range(m):
            score(np.nonzero((near != j) & (bound[:, j] <= ubound))[0], j)
        return pd.Series(best_cid)

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return cell(c)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[tuple[int, list[int]]],
    k: int = 5,
    nprobe: int = NPROBE,
    query_id: str = "qid",
    cand_id: str = "vec_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
    cell_col: str | None = None,
) -> DataFrame:
    """IVF-style ANN: assign candidates to coarse cells (narrow pass),
    probe only each query's ``nprobe`` nearest cells, exact top-k inside.

    At 100 TB: the inverted lists are the big table hash-partitioned by
    ``cell``; queries explode to nprobe rows and broadcast, so the big
    side never shuffles and scoring touches nprobe/nlist of the corpus.
    The codebook may be externally trained (Faiss/k-means) and O(10³)
    cells — it rides the UDF closure; only probes are broadcast-joined.

    ``cell_col``: name of a PRE-COMPUTED cell column on ``candidates``
    (the materialized inverted list, built once at ingest with
    :func:`ivf_cell` and stored/partitioned by cell). Without it, every
    call pays one O(n) assignment pass over the candidates — fine for a
    one-shot query, the dominant cost across repeated query batches
    (measured in tools/ann_scale_experiment.py / SURVEY §9.2)."""
    if cell_col is not None:
        asg = candidates.withColumnRenamed(cell_col, "cell")
    else:
        asg = candidates.withColumn("cell", ivf_cell(cand_vec, centroids))
    probes = queries.withColumn(
        "cell", F.explode(ivf_probe_cells(query_vec, centroids, nprobe))
    )
    j = asg.join(F.broadcast(probes), "cell").filter(
        F.col(cand_id) != F.col(query_id)
    )
    scored = j.select(
        query_id, cand_id, dot(F.col(query_vec), F.col(cand_vec)).alias("dot")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dot").desc(), F.col(cand_id))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    cand_id: str = "vec_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
    exclude_on: tuple[str, str] | None = None,
) -> DataFrame:
    """Exact top-k by quantized dot product, two-phase (map-side combine
    for top-k):

    1. The query set rides the scoring UDF's closure (small by contract —
       the brute-force baseline is for O(10-10³) probes). One
       ``mapInPandas`` pass over the candidates does a
       (batch × dims)·(dims × |Q|) int64 matmul per Arrow batch and keeps
       a running PER-PARTITION top-k per query — the big side is scanned
       once and never shuffles, and the scored rows never leave the task.
    2. Only k·|Q| rows per partition reach the global top-k merge — at
       100 TB the shuffle is O(partitions·k·|Q|), independent of n
       (the n·|Q| scored-row shuffle of the naive window form is the
       scale killer this avoids).

    Tie-break is (dot desc, cand_id asc) at both phases, so results are
    deterministic and oracle-identical.

    The query set is collected to the driver and shipped in the UDF
    closure, so |Q| is hard-capped at ``MAX_BRUTE_FORCE_QUERIES``: beyond
    that the closure broadcast and the per-batch (n × |Q|) matmul stop
    being "small side rides along" and the bucketed paths (``ivf_topk``
    with a trained codebook, or ``lsh_bucket`` prefiltering) are the
    scale-correct tools — the cap makes the documented contract
    executable instead of an OOM at 10⁶ queries.

    ``exclude_on=(query_col, cand_col)`` additionally masks candidates
    whose ``cand_col`` equals the query row's ``query_col`` BEFORE
    ranking — the hard-negative-mining shape (top-k most-similar with a
    different label); the mask is applied inside the vectorized scan, so
    the exclusion costs one elementwise compare per batch, never a
    join. NULL follows SQL ``<>`` three-valued logic (matching the
    registry oracle): a NULL-valued candidate never qualifies, and a
    NULL-valued query keeps no candidates at all."""
    from pyspark.sql import types as T

    q_cols = [query_id, query_vec] + ([exclude_on[0]] if exclude_on else [])
    qrows = queries.select(*q_cols).limit(MAX_BRUTE_FORCE_QUERIES + 1).collect()
    if not qrows:
        raise ValueError("brute_force_topk: empty query set")
    if len(qrows) > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"brute_force_topk: query set exceeds {MAX_BRUTE_FORCE_QUERIES} rows; "
            "brute force collects queries to the driver and is the baseline for "
            "small probe sets — use ivf_topk (trained codebook) or an "
            "lsh_bucket-prefiltered join for large query sets"
        )
    qids_py = [r[query_id] for r in qrows]
    Q = np.array([list(r[query_vec]) for r in qrows], dtype=np.int64)  # (m, d)
    qex_py = [r[exclude_on[0]] for r in qrows] if exclude_on else None
    m = len(qids_py)
    carry = [c for c in candidates.columns if c not in (cand_id, cand_vec)]
    cs = candidates.schema
    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(cand_id, cs[cand_id].dataType),
            *[T.StructField(c, cs[c].dataType) for c in carry],
            T.StructField("dot", T.LongType()),
        ]
    )

    def part_topk(batches):
        qids = np.array(qids_py)
        best_v = [np.empty(0, np.int64) for _ in range(m)]
        best_i = [np.empty(0, dtype=object) for _ in range(m)]
        best_c = [[np.empty(0, dtype=object) for _ in carry] for _ in range(m)]
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            V = np.stack(pdf[cand_vec].to_numpy()).astype(np.int64, copy=False)
            ids = pdf[cand_id].to_numpy()
            if exclude_on:
                ex_vals = pdf[exclude_on[1]].to_numpy()
                ex_notnull = pdf[exclude_on[1]].notna().to_numpy()
            else:
                ex_vals = ex_notnull = None
            carries = [pdf[c].to_numpy() for c in carry]
            D = V @ Q.T  # (n, m)
            for q in range(m):
                mask = ids != qids[q]  # a vector is not its own neighbor
                if ex_vals is not None:
                    # SQL <> semantics: NULL on either side disqualifies
                    if qex_py[q] is None:
                        mask &= False
                    else:
                        mask &= ex_notnull & (ex_vals != qex_py[q])
                v = np.concatenate([best_v[q], D[mask, q]])
                i = np.concatenate([best_i[q], ids[mask]])
                cols = [
                    np.concatenate([best_c[q][j], col[mask]])
                    for j, col in enumerate(carries)
                ]
                order = np.lexsort((i, -v))[:k]
                best_v[q], best_i[q] = v[order], i[order]
                best_c[q] = [col[order] for col in cols]
        if not seen:
            return
        counts = [len(best_v[q]) for q in range(m)]
        out = {
            query_id: [qids_py[q] for q in range(m) for _ in range(counts[q])],
            cand_id: np.concatenate(best_i) if sum(counts) else [],
        }
        for j, c in enumerate(carry):
            out[c] = (
                np.concatenate([best_c[q][j] for q in range(m)])
                if sum(counts)
                else []
            )
        out["dot"] = np.concatenate(best_v) if sum(counts) else []
        yield pd.DataFrame(out, columns=[query_id, cand_id, *carry, "dot"])

    partial = candidates.mapInPandas(part_topk, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("dot").desc(), F.col(cand_id))
    return partial.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def train_ivf_codebook(
    candidates: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 256,
    iters: int = 4,
) -> list[tuple[int, list[int]]]:
    """Deterministic Lloyd's k-means over quantized vectors → an IVF
    coarse codebook of ``nlist`` cells, as the ``centroids`` input of
    :func:`ivf_topk` / :func:`ivf_cell`.

    Scale shape: each iteration is ONE narrow Arrow pass that assigns
    cells (the same ``_d2_matrix``/argmin kernel :func:`ivf_cell`
    evaluates, via the same :func:`_centroid_arrays` ordering) and
    accumulates exact per-cell integer sums/counts per partition — only
    O(parts·nlist·dims) partial rows reach the driver, never O(corpus).
    (The former shape posexploded the corpus into corpus×dims (dim, x)
    rows per iteration — guide §2.3/§4.2, r13 optimization round; the
    partials merge by exact integer addition and the mean is
    ``floor(double(sum)/double(count))``, the same IEEE op sequence the
    old Spark aggregate evaluated, so codebooks are bit-identical.)
    Deterministic: init = the ``nlist`` lowest-id vectors, integer sums
    are exact and order-independent, means re-quantize with floor.
    Empty cells keep their previous centroid. The oracle-checked query
    keeps the trivial first-NLIST codebook; this trainer is the
    realistic-scale path (externally trained Faiss/k-means codebooks can
    be passed to ivf_topk directly in the same [(cid, vec)] shape)."""
    base = candidates.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    init = base.orderBy("_id").limit(nlist).collect()
    cents = [(i, [int(x) for x in r["_v"]]) for i, r in enumerate(init)]
    for _ in range(iters):
        cids, C = _centroid_arrays(cents)
        neff = len(cids)

        def _stats(it):
            dims = C.shape[1]
            S = np.zeros((neff, dims), dtype=np.int64)
            N = np.zeros(neff, dtype=np.int64)
            for pdf in it:
                if not len(pdf):
                    continue
                V = _mat(pdf["_v"])
                a = np.argmin(_d2_matrix(V, C), axis=1)
                np.add.at(S, a, V)
                N += np.bincount(a, minlength=neff)
            nz = np.nonzero(N)[0]
            if nz.size:
                yield pd.DataFrame(
                    {
                        "i": nz.astype("int64"),
                        "n": N[nz],
                        "sums": [S[j].tolist() for j in nz],
                    }
                )

        parts = base.select("_v").mapInPandas(
            _stats, "i long, n long, sums array<long>"
        ).collect()
        totS: dict[int, list[int]] = {}
        totN: dict[int, int] = {}
        for r in parts:
            cid = int(cids[int(r["i"])])
            if cid in totS:
                acc = totS[cid]
                for d, x in enumerate(r["sums"]):
                    acc[d] += int(x)
                totN[cid] += int(r["n"])
            else:
                totS[cid] = [int(x) for x in r["sums"]]
                totN[cid] = int(r["n"])
        cents = [
            (
                cid,
                [
                    # floor of IEEE double division — bit-identical to the
                    # former F.floor(F.sum/F.count) Spark aggregate
                    int(math.floor(float(s) / float(totN[cid])))
                    for s in totS[cid]
                ]
                if cid in totN
                else old,
            )
            for cid, old in cents
        ]
    return cents


def hyperplane_weights(dims: int, planes: int = N_PLANES) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes: weight(p, i) =
    first-md5-hex-digit(p:i) − 8 ∈ [−8, 7]. Reproducible in any engine
    (same construction as the DuckDB oracle in queries/similarity.py)."""
    return [
        [
            int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) - 8
            for i in range(1, dims + 1)
        ]
        for p in range(planes)
    ]


def lsh_bucket(vec_col: str | Column, dims: int, planes: int = N_PLANES) -> Column:
    """Sign-of-projection LSH bucket id as a ``planes``-char bit-string.

    All ``planes`` projections are one (batch × dims)·(dims × planes)
    int64 matmul per Arrow batch — exact integer dots with md5-derived
    weights, so bucket ids are engine-reproducible."""
    W = np.array(hyperplane_weights(dims, planes), dtype=np.int64)  # (p, d)

    @pandas_udf(StringType())
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        proj = _mat(v) @ W.T  # (n, planes)
        # '1'/'0' bytes → one decode per row (vectorized; ~10× the
        # per-char "".join this replaced — measured as the ingest
        # bottleneck of the 2000× stored-index sweep)
        bits = np.where(proj >= 0, 49, 48).astype(np.uint8)
        return pd.Series([row.tobytes().decode("ascii") for row in bits])

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return bucket(c)


# Banded sign-LSH defaults — the τ=0.95 (SemDeDup's published
# threshold) operating point: per-plane agreement p₁ = 1−θ/π ≈ 0.899,
# so a band of 8 planes fires at 0.899⁸ ≈ 0.43 and 8 bands miss a true
# pair with prob (1−0.43)⁸ ≈ 1.2% (recall ≈ 98.8%), while a random
# near-orthogonal pair (p₂ ≈ 0.5) collides at 8·0.5⁸ ≈ 3% — the
# classic n^(1+ρ) LSH bound with ρ = ln p₁ / ln p₂ ≈ 0.15. Like
# MinHash bands, (bands, planes_per_band) is an operating point chosen
# per threshold and scale, not a universal constant.
LSH_BANDS = 8
LSH_BAND_PLANES = 8


def lsh_band_buckets(
    vec_col: str | Column,
    dims: int,
    bands: int = LSH_BANDS,
    planes_per_band: int = LSH_BAND_PLANES,
) -> Column:
    """Per-band sign-LSH bucket ids: an array of ``bands`` bit-strings
    (array index = band id; band ``t`` owns planes
    ``[t·r, (t+1)·r)`` of one shared md5-derived hyperplane family).

    All ``bands·r`` projections are ONE (batch × dims)·(dims × bands·r)
    int64 matmul per Arrow batch; exact integer dots with md5-derived
    weights keep every bucket id engine-reproducible (the DuckDB oracle
    rebuilds the same planes from the same md5 construction)."""
    r = int(planes_per_band)
    if bands < 1 or r < 1:
        raise ValueError(
            f"bands and planes_per_band must be >= 1, got ({bands}, {r})"
        )
    W = np.array(
        hyperplane_weights(dims, bands * r), dtype=np.int64
    )  # (bands·r, d)

    @pandas_udf(ArrayType(StringType()))
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        proj = _mat(v) @ W.T  # (n, bands·r)
        # one ascii decode per row, then r-char string slices per band
        # (vectorized; the per-char joins this replaced dominated the
        # 2000× stored-index ingest)
        bits = np.where(proj >= 0, 49, 48).astype(np.uint8)
        return pd.Series(
            [
                [s[t * r : (t + 1) * r] for t in range(bands)]
                for s in (row.tobytes().decode("ascii") for row in bits)
            ]
        )

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return buckets(c)


def lsh_band_bucket_ids(
    vec_col: str | Column,
    dims: int,
    bands: int = LSH_BANDS,
    planes_per_band: int = LSH_BAND_PLANES,
) -> Column:
    """Per-band sign-LSH bucket ids as INTEGERS: ``array<long>`` where
    element ``t`` is band ``t``'s bucket id — the bit-string of
    :func:`lsh_band_buckets` parsed MSB-first (identical value to
    ``conv(bucket, 2, 10)``), from the SAME shared md5-derived
    hyperplane family, so the two forms are interchangeable keys.

    This is the stored-index form (sources/semlsh_index r13 packed
    layout): an int64 bucket costs 8 bytes/row where the bit-string
    cost ``planes_per_band`` chars + string overhead, and the bucket
    prefix used for directory/group pruning becomes one shift
    (``bucket >> (r - prefix_bits)``) instead of substring+conv."""
    r = int(planes_per_band)
    if bands < 1 or r < 1:
        raise ValueError(
            f"bands and planes_per_band must be >= 1, got ({bands}, {r})"
        )
    if r > 62:
        raise ValueError(f"planes_per_band must fit an int64 bucket, got {r}")
    W = np.array(
        hyperplane_weights(dims, bands * r), dtype=np.int64
    )  # (bands·r, d)
    pw = (1 << np.arange(r - 1, -1, -1)).astype(np.int64)  # MSB-first

    @pandas_udf(ArrayType(LongType()))
    def bucket_ids(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        proj = _mat(v) @ W.T  # (n, bands·r)
        bits = (proj >= 0).astype(np.int64).reshape(-1, bands, r)
        ids = bits @ pw  # (n, bands)
        return pd.Series(list(ids))

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return bucket_ids(c)


# Packed-vector codec: a quantized int64 vector whose values fit the
# declared width is stored as ONE fixed-size little-endian binary blob.
# vs array<bigint> this is lossless and 4× smaller at width 2 before
# parquet even sees it (8 B → 2 B per element, plus it sheds the
# per-element repetition/definition levels a parquet LIST carries).
# The quantize contract (floor(x·1e4)) keeps any |x| ≤ 3.27 embedding
# inside int16; wider-range corpora pin width=4 in their store props.
_PACK_DTYPES = {2: "<i2", 4: "<i4", 8: "<i8"}


def pack_vec(col: str | Column, width: int = 2) -> Column:
    """Quantized int64 vector → packed little-endian binary of the
    given element ``width`` (bytes). Raises in the task (loud, not
    lossy) if any component overflows the width — callers choose a
    wider pack instead of silently corrupting dots."""
    dt = _PACK_DTYPES[int(width)]
    lim = (1 << (8 * int(width) - 1)) - 1

    @pandas_udf("binary")
    def pk(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = _mat(v)
        if len(M) and int(np.abs(M).max()) > lim:
            raise ValueError(
                f"vector component exceeds pack width {width} "
                f"(|x| > {lim}); write the store with a wider vbytes"
            )
        P = M.astype(dt)
        return pd.Series([row.tobytes() for row in P])

    c = F.col(col) if isinstance(col, str) else col
    return pk(c)


def unpack_mat(s: pd.Series, width: int = 2) -> np.ndarray:
    """Pandas-side inverse of :func:`pack_vec`: (n, dims) int64 matrix
    from a Series of packed binary blobs (equal-length contract)."""
    dt = _PACK_DTYPES[int(width)]
    return np.stack(
        [np.frombuffer(b, dtype=dt) for b in s.to_numpy()]
    ).astype(np.int64, copy=False)


def dot_packed(a: Column, b: Column, width: int = 2) -> Column:
    """Exact integer dot of two :func:`pack_vec`-packed vectors — the
    packed twin of :func:`dot` (same int64 arithmetic after unpack, so
    results are bit-identical to the list form)."""
    dt = _PACK_DTYPES[int(width)]

    @pandas_udf(LongType())
    def dp(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack([np.frombuffer(x, dtype=dt) for x in a.to_numpy()])
        B = np.stack([np.frombuffer(x, dtype=dt) for x in b.to_numpy()])
        return pd.Series(
            (A.astype(np.int64) * B.astype(np.int64)).sum(axis=1)
        )

    return dp(a, b)


def dot_packed_list(a: Column, b: Column, width: int = 2) -> Column:
    """Exact integer dot of an ``array<bigint>`` vector against a
    :func:`pack_vec`-packed one — the mixed form the streaming LSH
    verify uses (store side reads list vectors from the 1× kept-vectors
    table; batch side rides the broadcast packed). Bit-identical to
    :func:`dot` on the unpacked pair."""
    dt = _PACK_DTYPES[int(width)]

    @pandas_udf(LongType())
    def dpl(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        A = _mat(a)
        B = np.stack(
            [np.frombuffer(x, dtype=dt) for x in b.to_numpy()]
        ).astype(np.int64)
        return pd.Series((A * B).sum(axis=1))

    return dpl(a, b)


def lsh_operating_point(
    n: int, tau: float, target_recall: float = 0.95
) -> tuple[int, int]:
    """(bands, planes_per_band) for banded sign-LSH at corpus size
    ``n`` and cosine threshold ``tau`` — the same per-scale calibration
    MinHash bands get, made explicit.

    Standard LSH sizing (Indyk–Motwani; Charikar STOC'02 for the
    sign-projection family): with per-plane agreement
    ``p₁ = 1 − arccos(τ)/π`` for a true pair and ``p₂ ≈ 1/2`` for a
    random near-orthogonal pair,

    - ``r = ceil(log₂ n)`` pins a RANDOM pair's per-band collision
      probability at ``p₂^r ≤ 1/n``, so expected spurious candidates
      are ≤ bands·n/2 — linear in the corpus, per band;
    - ``bands = ceil(ln(1/(1−recall)) / p₁^r)`` then restores pair
      recall to the target (miss prob ``(1−p₁^r)^bands ≤ 1−recall``).

    Total work is the textbook ``n^(1+ρ)``, ρ = ln p₁ / ln p₂ — ≈ 0.15
    at τ = 0.95 (bands grows ≈ n^ρ: 10 bands at n = 2 000, 29 at
    n = 2 000 000). At low τ the family degrades honestly (ρ ≈ 0.66 at
    τ = 0.4 — angular LSH is only cheap for NEAR-IDENTICAL pairs, which
    is exactly SemDeDup's τ = 0.95 regime)."""
    import math

    if not 0.0 < tau < 1.0:
        raise ValueError(f"tau must be in (0, 1), got {tau}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    p1 = 1.0 - math.acos(tau) / math.pi
    r = max(1, math.ceil(math.log2(max(2, n))))
    bands = max(1, math.ceil(math.log(1.0 / (1.0 - target_recall)) / (p1**r)))
    return bands, r


def tau_pass(
    d: np.ndarray, na2: np.ndarray, nb2: np.ndarray, tau_sq_pct: int
) -> np.ndarray:
    """Exact SemDeDup threshold mask over int64 dots ``d``: ``d > 0``
    and ``d²·10⁴ ≥ τ²pct·|a|²·|b|²``, with the int64 squared norms
    ``na2``/``nb2`` broadcast against ``d``. Both products pass 2⁵³, so
    float64 alone misdecides pairs ON the threshold (exact twins at
    τ² = 1.0, Pythagorean pairs at cos 0.8): float64 classifies every
    pair outside a 1e-9 relative guard band — its rounding error is
    ~1e-16 — and exact Python ints arbitrate the few inside it. The
    same decision as the oracles' HUGEINT / decimal(38,0) test."""
    tau = int(tau_sq_pct)
    na2, nb2 = np.asarray(na2), np.asarray(nb2)
    df = d.astype(np.float64)
    lhs = df * df * 10000.0
    rhs = (na2.astype(np.float64) * nb2.astype(np.float64)) * float(tau)
    pos = d > 0
    out = pos & (lhs > rhs * (1.0 + 1e-9))
    border = pos & (lhs >= rhs * (1.0 - 1e-9)) & ~out
    if border.any():
        idx = np.nonzero(border)
        a = np.broadcast_to(na2, d.shape)[idx].tolist()
        b = np.broadcast_to(nb2, d.shape)[idx].tolist()
        out[idx] = [
            x * x * 10000 >= p * q * tau
            for x, p, q in zip(d[idx].tolist(), a, b)
        ]
    return out


def semdedup_lsh_drop_ids(
    vecs: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bands: int = LSH_BANDS,
    planes_per_band: int = LSH_BAND_PLANES,
    tau_sq_pct: int = 9025,
) -> DataFrame:
    """SemDeDup with banded sign-LSH cells instead of a k-means
    codebook — the corpus-proportional-cell-count scale path.

    :func:`semdedup_drop_ids`'s k-means cells bound pair work to
    O(Σ|cell|²), but with a FIXED codebook the cell count does not grow
    with the corpus, so Σ|cell|² is quadratic in n no matter how the
    work is spread (16 cells over 2M vectors is 125k-vector cells); and
    growing the codebook with n makes nearest-centroid ASSIGNMENT the
    n·nlist quadratic instead (the reason faiss assigns via an HNSW
    index over the centroids). Banded sign-LSH sidesteps both: bucket
    count grows with data diversity automatically, assignment is one
    linear matmul pass, and candidate volume follows the n^(1+ρ) LSH
    bound (ρ ≈ 0.15 at τ = 0.95) instead of n². The price is bounded
    recall (1 − (1 − p₁^r)^bands, measured by the
    ``semdedup_recall_lsh_vs_exact`` eval query); precision stays exact
    because every candidate pair is verified with the same integer
    threshold test as the k-means path, so the drop set is always a
    subset of the exact all-pairs drop set.

    Physical shape (r13, guide §2.3/§8): one pass — explode each
    vector to its ``bands`` (band, bucket) rows WITH the vector, hash
    by (band, bucket), and verify every co-bucketed pair inside its
    group with the stored index's numpy kernel
    (sources/semlsh_index._verify_group_fn — the exact same integer
    arithmetic, so drop sets stay bit-identical across the query-time
    and stored forms, pytest law). The band shuffle carries bands× the
    vector payload — LINEAR in n — where the pre-r13 pair-join form
    shuffled two vector payloads per CANDIDATE (n^(1+ρ) pairs; at the
    sf0.1 operating point that was 1.27M distinct pairs ≈ 1.3 GB of
    verify-join traffic vs 32k band rows ≈ 16 MB here, and the
    4M-vector wall in DECADES_r10_semdedup.json was exactly that
    candidate-pair shuffle). Ingest-materializing the same layout once
    (sources/semlsh_index) amortizes even the bands× pass across
    queries — that stored form stays the production path.

    Returns distinct ids to DROP (higher id of every verified pair —
    the same keep-lowest policy as :func:`semdedup_drop_ids`)."""
    # local import: sources/semlsh_index top-imports from this module
    from polar_spark.sources.semlsh_index import _verify_group_fn

    t = vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    k = t.select(
        "id",
        "v",
        sq_norm(F.col("v")).alias("n2"),
        F.posexplode(
            lsh_band_buckets("v", dims, bands, planes_per_band)
        ).alias("band", "bucket"),
    )
    verified = k.groupBy("band", "bucket").applyInPandas(
        _verify_group_fn(tau_sq_pct, lambda g: _mat(g["v"])),
        schema="drop_id long",
    )
    return verified.distinct()


def semdedup_drop_ids(
    vecs: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    tau_sq_pct: int = 9025,  # τ² · 10⁴ — 9025 ⇔ cosine ≥ 0.95
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings, then removing near-identical pairs WITHIN each
    cluster only.

    Scale shape — the whole point of the method: a global pairwise
    cosine sweep is O(n²) and impossible at 100 TB; clustering first
    bounds the quadratic term to O(Σ|cell|²) and turns the job into a
    self-join on ``cell`` (one hash shuffle on a low-cardinality key;
    per-cell work is independent and spreads across executors). Cell
    assignment is the same narrow zero-shuffle pass as IVF ingest
    (:func:`ivf_cell`), so a stored IVF index (sources/ivf_index)
    already has the clustering for free.

    Exactness contract: quantized int64 vectors make the threshold test
    pure integer arithmetic — ``cos(a,b) ≥ τ`` (with dot > 0) iff
    ``10⁴·dot² ≥ (τ²·10⁴)·|a|²·|b|²`` — evaluated in decimal(38,0) so it
    is bit-reproducible in any engine (the DuckDB oracle uses HUGEINT).

    Returns the ids to DROP: for every over-threshold pair the larger id
    loses (deterministic keep-lowest policy), distinct.

    Physical shape (r13, guide §2.3/§4.2): ONE narrow assignment pass
    (cell + n2 computed alongside the vector), hash by cell, and verify
    every within-cell pair inside its group with the stored LSH index's
    numpy kernel (sources/semlsh_index._verify_group_fn — same exact
    integer arithmetic, bit-identical drops). The pre-r13 self-join on
    ``cell`` evaluated the assignment UDF once per side and shuffled
    two vector payloads per PAIR (O(Σ|cell|²) rows through the
    exchange); this shuffles each vector exactly once and runs the
    Σ|cell|² term as chunked numpy matmuls. An ingest-materialized IVF
    index (sources/ivf_index) still amortizes even the single pass.
    """
    # local import: sources/semlsh_index top-imports from this module
    from polar_spark.sources.semlsh_index import _verify_group_fn

    t = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        ivf_cell(vec_col, centroids).alias("bucket"),
        sq_norm(F.col(vec_col)).alias("n2"),
    )
    verified = t.groupBy("bucket").applyInPandas(
        _verify_group_fn(tau_sq_pct, lambda g: _mat(g["v"])),
        schema="drop_id long",
    )
    return verified.distinct()


def _cosine_pairs_fn(threshold: float):
    """Per-bucket pair scorer: numpy pairwise exact int64 dots, cosine in
    double, emits every (id_a < id_b) pair at ``cosine >= threshold``.

    Bit-identical to the pair-join form it replaces: the dot is an exact
    int64 sum (quantize contract — products < 2⁶³, casts to double exact
    below 2⁵³), and ``dot / (sqrt(na2) * sqrt(nb2))`` is the same
    correctly-rounded IEEE op sequence the JVM expression evaluated.
    NaN cosines (zero-norm vectors) are KEPT, matching Spark SQL's
    NaN-is-largest comparison semantics for ``cosine >= threshold``."""
    thr = float(threshold)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        # local import: sources/semlsh_index top-imports from this module
        from polar_spark.sources.semlsh_index import _CHUNK_CELLS

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy()).astype(np.int64, copy=False)
        rt = np.sqrt(pdf["n2"].to_numpy().astype(np.float64))
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        chunk = max(1, _CHUNK_CELLS // m)
        cols = np.arange(m)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, m, chunk):
                e = min(s + chunk, m)
                D = V[s:e] @ V.T  # exact int64 (quantize contract)
                C = D.astype(np.float64) / (rt[s:e, None] * rt[None, :])
                upper = cols > np.arange(s, e)[:, None]
                mask = upper & ((C >= thr) | np.isnan(C))
                ri, ci = np.nonzero(mask)
                out_a.append(ids[ri + s])
                out_b.append(ids[ci])
                out_c.append(C[ri, ci])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return score


def bucketed_cosine_pairs(
    vecs: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.35,
) -> DataFrame:
    """Same-LSH-bucket near-duplicate pairs with their exact cosine.

    Physical shape (r13 round, guide §2.3/§4.2): ONE narrow pass
    computes (id, v, bucket, n2) — the bucket/norm Arrow UDFs run once,
    not once per join side — then ``groupBy(bucket)`` ships each vector
    through exactly one exchange and scores every within-bucket pair in
    a chunked numpy kernel. The pre-rework self-join on ``bucket``
    scanned the corpus twice, evaluated the assignment UDFs per side,
    shuffled two vector payloads per PAIR, and re-ran the per-pair dot
    UDF under the threshold filter (the guide §4.4 duplication).
    Output (id_a < id_b, cosine) is bit-identical — see
    :func:`_cosine_pairs_fn` for the exactness argument."""
    t = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(vec_col, dims=dims).alias("bucket"),
        sq_norm(F.col(vec_col)).alias("n2"),
    )
    return t.groupBy("bucket").applyInPandas(
        _cosine_pairs_fn(threshold),
        schema="id_a long, id_b long, cosine double",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ/ADC) — compressed-domain ANN
# ---------------------------------------------------------------------------

PQ_NSUB = 8
PQ_KSUB = 16


def train_pq_codebook(
    candidates: DataFrame,
    vec_col: str,
    id_col: str,
    nsub: int = PQ_NSUB,
    ksub: int = PQ_KSUB,
    iters: int = 4,
) -> list[list[list[int]]]:
    """Deterministic per-subspace Lloyd's k-means → a product-quantizer
    codebook ``books[sub][code] = centroid subvector``.

    PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search") is the storage half of the Faiss IVFADC design: a vector
    becomes ``nsub`` byte codes (64 float dims → 8 bytes, 32×
    compression), so a 100 TB embedding corpus's search structure fits
    in ~3 TB and scans stay memory-bandwidth-bound.

    Scale shape mirrors :func:`train_ivf_codebook`: every iteration is
    ONE narrow Arrow pass that assigns codes (via the same
    :func:`_pq_codes_matrix` kernel the encoder uses) and accumulates
    exact per-(subspace, code) integer sums/counts per partition — only
    O(parts·nsub·ksub) partial rows reach the driver, never O(corpus).
    (The former shape posexploded the corpus into corpus×dims (dim, x)
    rows per iteration — guide §2.3/§4.2, r13 optimization round; the
    partials merge by exact integer addition, so books are
    bit-identical.) Deterministic: init = subvectors of the ``ksub``
    lowest-id vectors, exact integer sums, floor means — the update is
    ``floor(double(sum)/double(count))``, the same IEEE op sequence the
    old Spark aggregate evaluated — empty codes keep their previous
    centroid."""
    base = candidates.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    init = base.orderBy("_id").limit(ksub).collect()
    dims = len(init[0]["_v"])
    if dims % nsub:
        raise ValueError(f"dims {dims} not divisible by nsub {nsub}")
    dsub = dims // nsub
    books = [
        [[int(x) for x in r["_v"][s * dsub : (s + 1) * dsub]] for r in init]
        for s in range(nsub)
    ]
    keff = len(books[0])  # < ksub when the corpus has fewer vectors
    for _ in range(iters):
        # fail fast on ragged books (ADVICE r13): the codes schema and
        # the bincount minlength below assume every subspace has keff
        # codes — a ragged list would silently mis-size the partials
        if any(len(b) != keff for b in books):
            raise ValueError(
                f"ragged PQ codebook: subspace sizes "
                f"{[len(b) for b in books]}, expected {keff} each"
            )
        B = [np.array(b, dtype=np.int64) for b in books]

        def _stats(it):
            S = np.zeros((nsub, keff, dsub), dtype=np.int64)
            N = np.zeros((nsub, keff), dtype=np.int64)
            for pdf in it:
                if not len(pdf):
                    continue
                V = _mat(pdf["_v"])
                codes = _pq_codes_matrix(V, B)
                for s in range(nsub):
                    np.add.at(S[s], codes[:, s], V[:, s * dsub : (s + 1) * dsub])
                    N[s] += np.bincount(codes[:, s], minlength=keff)
            ss, cc = np.nonzero(N)
            if ss.size:
                yield pd.DataFrame(
                    {
                        "s": ss.astype("int64"),
                        "c": cc.astype("int64"),
                        "n": N[ss, cc],
                        "sums": [S[s, c].tolist() for s, c in zip(ss, cc)],
                    }
                )

        parts = base.select("_v").mapInPandas(
            _stats, "s long, c long, n long, sums array<long>"
        ).collect()
        totS: dict[tuple[int, int], list[int]] = {}
        totN: dict[tuple[int, int], int] = {}
        for r in parts:
            key = (int(r["s"]), int(r["c"]))
            if key in totS:
                acc = totS[key]
                for d, x in enumerate(r["sums"]):
                    acc[d] += int(x)
                totN[key] += int(r["n"])
            else:
                totS[key] = [int(x) for x in r["sums"]]
                totN[key] = int(r["n"])
        books = [
            [
                [
                    # floor of IEEE double division — bit-identical to the
                    # former F.floor(F.sum/F.count) Spark aggregate
                    int(math.floor(float(totS[(s, c)][d]) / float(totN[(s, c)])))
                    if (s, c) in totN
                    else books[s][c][d]
                    for d in range(dsub)
                ]
                for c in range(keff)
            ]
            for s in range(nsub)
        ]
    return books


def _pq_codes_matrix(V: np.ndarray, B: list[np.ndarray]) -> np.ndarray:
    """PQ code assignment for a batch: (n, nsub) int32 codes, one small
    matmul per subspace; ties → lowest code (argmin takes the first
    minimum over code-ordered distances). Shared verbatim by
    :func:`pq_encode` and the training kernel in
    :func:`train_pq_codebook` so encode and training assign IDENTICALLY."""
    nsub = len(B)
    dsub = B[0].shape[1]
    codes = np.empty((len(V), nsub), dtype=np.int32)
    for s, Bs in enumerate(B):
        Vs = V[:, s * dsub : (s + 1) * dsub]
        d2 = (
            (Vs * Vs).sum(axis=1)[:, None]
            + (Bs * Bs).sum(axis=1)[None, :]
            - 2 * (Vs @ Bs.T)
        )
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def pq_encode(vec_col: str | Column, books: list[list[list[int]]]) -> Column:
    """PQ codes for a quantized vector — ``array<int>`` of length nsub
    (each entry < ksub; conceptually one byte). One narrow Arrow pass,
    nsub small matmuls per batch; ties → lowest code (argmin takes the
    first minimum over code-ordered distances)."""
    B = [np.array(b, dtype=np.int64) for b in books]

    @pandas_udf(ArrayType(IntegerType()))
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_pq_codes_matrix(_mat(v), B)))

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return enc(c)


def collect_query_vectors(
    queries: DataFrame, query_id: str, query_vec: str, op: str
) -> tuple[list, np.ndarray]:
    """Driver-side collect of a (capped) probe set: (qids, (m, dims)
    int64 matrix). Shared contract of every closure-shipped-query
    operator (brute force, ADC): |Q| is hard-capped so 'small side
    rides along' stays true."""
    qrows = (
        queries.select(query_id, query_vec)
        .limit(MAX_BRUTE_FORCE_QUERIES + 1)
        .collect()
    )
    if not qrows:
        raise ValueError(f"{op}: empty query set")
    if len(qrows) > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"{op}: query set exceeds {MAX_BRUTE_FORCE_QUERIES} rows; "
            "batch the probe set or route through an IVF partition / "
            "lsh_bucket prefilter first"
        )
    qids = [r[query_id] for r in qrows]
    Q = np.array([list(r[query_vec]) for r in qrows], dtype=np.int64)
    return qids, Q


def pq_lut(books: list[list[list[int]]], Q: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup tables: LUT[q][s][code] =
    dot(query subvector s, codebook centroid) — (m, nsub, ksub) int64."""
    B = [np.array(b, dtype=np.int64) for b in books]
    nsub, dsub = len(B), B[0].shape[1]
    return np.stack(
        [
            np.stack([B[s] @ Q[q, s * dsub : (s + 1) * dsub] for s in range(nsub)])
            for q in range(Q.shape[0])
        ]
    )


def exact_rerank_topk(
    short: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    query_id: str,
    cand_id: str,
    query_vec: str,
    cand_vec: str,
) -> DataFrame:
    """Re-rank an approximate shortlist with exact quantized dots — only
    O(shortlist·|Q|) rows join the raw vectors (the +R of IVFADC+R)."""
    exact = (
        short.select(query_id, cand_id)
        .join(vectors.select(cand_id, cand_vec), cand_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .withColumn("dot", dot(F.col(query_vec), F.col(cand_vec)))
        .select(query_id, cand_id, "dot")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dot").desc(), F.col(cand_id))
    return exact.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def pq_topk_adc(
    queries: DataFrame,
    encoded: DataFrame,
    books: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    rerank: DataFrame | None = None,
    query_id: str = "qid",
    cand_id: str = "vec_id",
    query_vec: str = "qv",
    codes_col: str = "codes",
    cand_vec: str = "cv",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes, with optional exact
    re-rank (the IVFADC+R pattern).

    ADC: each query precomputes an (nsub × ksub) dot-product lookup
    table against the codebook; a candidate's approximate dot is the sum
    of nsub table lookups — no decode, no per-candidate matmul. The
    corpus side scans codes (bytes, not vectors): per-partition running
    top-``shortlist`` exactly like :func:`brute_force_topk`, so the
    shuffle is O(partitions·shortlist·|Q|), independent of n.

    ``rerank`` (id → raw vector) joins ONLY the global shortlist
    (O(shortlist·|Q|) rows) back to exact vectors and re-scores — the
    standard recall fix for quantization error, paying exact dots for
    shortlist·|Q| candidates instead of n·|Q|."""
    from pyspark.sql import types as T

    qids_py, Q = collect_query_vectors(queries, query_id, query_vec, "pq_topk_adc")
    m = len(qids_py)
    LUT = pq_lut(books, Q)  # (m, nsub, ksub)
    nsub = LUT.shape[1]

    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(cand_id, encoded.schema[cand_id].dataType),
            T.StructField("adc_dot", T.LongType()),
        ]
    )

    def part_topk(batches):
        qids = np.array(qids_py)
        best_v = [np.empty(0, np.int64) for _ in range(m)]
        best_i = [np.empty(0, dtype=object) for _ in range(m)]
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            C = np.stack(pdf[codes_col].to_numpy()).astype(np.int64)  # (n, nsub)
            ids = pdf[cand_id].to_numpy()
            n = len(ids)
            D = np.zeros((n, m), dtype=np.int64)
            for s in range(nsub):
                D += LUT[:, s, C[:, s]].T  # (n, m)
            for q in range(m):
                mask = ids != qids[q]
                v = np.concatenate([best_v[q], D[mask, q]])
                i = np.concatenate([best_i[q], ids[mask]])
                order = np.lexsort((i, -v))[:shortlist]
                best_v[q], best_i[q] = v[order], i[order]
        if not seen:
            return
        counts = [len(best_v[q]) for q in range(m)]
        yield pd.DataFrame(
            {
                query_id: [qids_py[q] for q in range(m) for _ in range(counts[q])],
                cand_id: np.concatenate(best_i) if sum(counts) else [],
                "adc_dot": np.concatenate(best_v) if sum(counts) else [],
            },
            columns=[query_id, cand_id, "adc_dot"],
        )

    partial = encoded.select(cand_id, codes_col).mapInPandas(
        part_topk, schema=out_schema
    )
    w = Window.partitionBy(query_id).orderBy(F.col("adc_dot").desc(), F.col(cand_id))
    short = partial.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist
    )
    if rerank is None:
        return short.filter(F.col("rn") <= k)
    return exact_rerank_topk(
        short, rerank, queries, k, query_id, cand_id, query_vec, cand_vec
    )


def adc_dot_expr(
    qids: list, LUT: np.ndarray, qid_col: Column, codes_col: Column
) -> Column:
    """Row-wise asymmetric-distance dot: ``Σ_s LUT[qid, s, code_s]``.

    For the joined (query, candidate-codes) shape IVFADC produces —
    the LUT (|Q| × nsub × ksub int64) rides the closure; scoring is
    pure fancy-indexed numpy per Arrow batch, no decode, no matmul."""
    idx_map = {q: i for i, q in enumerate(qids)}
    nsub = LUT.shape[1]

    @pandas_udf(LongType())
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qid) == 0:
            return pd.Series([], dtype="int64")
        qi = qid.map(idx_map).to_numpy(dtype=np.int64)
        C = np.stack(codes.to_numpy()).astype(np.int64)
        D = np.zeros(len(qi), dtype=np.int64)
        for s in range(nsub):
            D += LUT[qi, s, C[:, s]]
        return pd.Series(D)

    return adc(qid_col, codes_col)
