"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant is the 100 TB scale path (candidate set shrinks by the bucket
factor; the per-bucket scan is embarrassingly parallel and the query
vector broadcasts).  All arithmetic is promoted to double before any
product so results are engine-portable bit-for-bit.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .spread import spread


def _as_double(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col


# ----------------------------------------------------------------------
# Exact-sequential numpy kernels (Arrow-batched).
#
# The HOF ``aggregate`` folds below (dot / l2norm / projections) are
# bit-exact cross-engine because they fix the IEEE operation ORDER:
# ((0 + x0*c0) + x1*c1) + ...  Spark interprets those lambdas per
# element (~us each), which made the fold the dominant cost of every
# similarity operator.  These kernels vectorize across ROWS while
# looping dims IN THE SAME ORDER — each row's float sequence is
# identical to the fold's (including the 0.0 + first-term step and the
# separate x*c rounding), so every produced double is bit-identical
# (pinned by the q15/q20/q27/q29/q41/q42 oracles and unit A/Bs), at
# numpy speed instead of expression-interpreter speed (guide §4.2).
# ----------------------------------------------------------------------


def _stack_embeddings(v: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(n x d float64 matrix, null-row mask) from a Series of vectors."""
    isnull = v.isna().to_numpy()
    vals = v.tolist()
    if isnull.any():
        proto = next((x for x in vals if x is not None), [])
        zero = [0.0] * len(proto)
        vals = [zero if x is None else x for x in vals]
    if not vals:
        return np.zeros((0, 0)), isnull
    return np.asarray(vals, dtype=np.float64), isnull


def _seq_dot(X: np.ndarray, c) -> np.ndarray:
    """Row-wise dot(X, c) in the fold's exact order: 0 + x0*c0 + ..."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * c[j]
    return acc


def _seq_sq_norm(X: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return acc


def _seq_norm_const(c) -> float:
    """l2norm of a constant vector by the same scalar fold."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return float(np.sqrt(acc))


def _ge0(a: np.ndarray) -> np.ndarray:
    """Spark's ``proj >= 0`` including its NaN-is-largest semantics."""
    return np.where(np.isnan(a), True, a >= 0)


def _bucket_udf(coeffs_per_band: list[list[list[float]]]):
    """pandas_udf: embedding -> array<long> of per-band sign buckets,
    bit p of band b = sign of the band's p-th plane projection."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        X, isnull = _stack_embeddings(v)
        n = len(X)
        out = np.zeros((n, len(coeffs_per_band)), dtype=np.int64)
        for b, planes in enumerate(coeffs_per_band):
            bucket = np.zeros(n, dtype=np.int64)
            for p, cv in enumerate(planes):
                bucket += _ge0(_seq_dot(X, cv)).astype(np.int64) << p
            out[:, b] = bucket
        # a null embedding folds to null projections, and the exprs'
        # when(proj >= 0, ...).otherwise(0) then yields bucket 0 per
        # band — mirror that, not the zero-vector substitute's signs
        if isnull.any():
            out[isnull, :] = 0
        return pd.Series(list(out))

    return buckets


def _cosine_pair_udf():
    """pandas_udf: exact cosine(a, b) — same op order as cosine()."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A, na_ = _stack_embeddings(a)
        B, nb_ = _stack_embeddings(b)
        isnull = na_ | nb_
        if A.size == 0:
            out = np.zeros(len(a))
        else:
            # dot via zip_with order: x*y rounded once, then fold
            acc = np.zeros(len(A))
            for j in range(A.shape[1]):
                acc = acc + A[:, j] * B[:, j]
            out = acc / (np.sqrt(_seq_sq_norm(A)) * np.sqrt(_seq_sq_norm(B)))
        res = pd.Series(out)
        if isnull.any():
            res[isnull] = None
        return res

    return cos


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(_as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    ))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(emb: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k vs one stored vector (broadcast, no shuffle of
    the big side; the global top-k is a TakeOrdered, not a full sort)."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    return (
        spread(emb, "vec_id").filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _cosine_pair_udf()(
                    F.col("embedding").cast("array<double>"), F.col("qv")
                ),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def plane_coeff(d, p: int, seed: int):
    """Deterministic pseudo-random plane coefficient in [-1, 1].

    md5 of "dim_plane_seed" -> first 8 hex digits -> integer -> scaled.
    md5 (not xxhash64) so any engine — including the DuckDB oracle —
    reproduces the exact same planes and therefore the same buckets.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(d.cast("string"), F.lit(f"_{p}_{seed}"))), 1, 8),
        16, 10,
    ).cast("long")
    return (F.pmod(h, F.lit(20001)) - 10000) / 10000.0


def random_hyperplane_buckets(emb: DataFrame, n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Sign-LSH: bucket = sign bits against n fixed pseudo-random planes.

    Planes are derived deterministically from (seed, plane, dim) via a
    hash -> uniform in [-1, 1]; no RNG state, so a re-run or another
    engine reproduces the same buckets.
    """
    emb = spread(emb, "vec_id")  # parallelise the projection batch work
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    # one Arrow-batched kernel evaluates all plane projections in the
    # folds' exact IEEE order (see the kernel block above) — replaces
    # n_planes interpreted HOF folds per row, buckets bit-identical
    coeffs = hyperplane_coeffs(dim, n_planes, seed)
    barr = _bucket_udf([coeffs])(F.col("embedding").cast("array<double>"))
    return emb.select(
        "vec_id", "label", "embedding",
        F.element_at(barr, 1).alias("bucket"),
    )


def hyperplane_coeffs(
    dim: int, n_planes: int, seed: int = 42, plane_offset: int = 0
) -> list[list[float]]:
    """Driver-side materialization of the md5-derived plane matrix.

    Identical values to :func:`plane_coeff` (and to the DuckDB oracle's
    in-SQL md5 recompute) — hashlib md5 == SQL md5, and ``x / 10000.0``
    is the same IEEE division in every engine.  Precomputing on the
    driver turns 64 md5 calls *per row per plane* into literal arrays
    shipped once inside the plan — the scale-correct shape for a
    many-band bucket table.
    """
    return [
        [
            (
                int(hashlib.md5(f"{d}_{p}_{seed}".encode()).hexdigest()[:8], 16)
                % 20001
                - 10000
            )
            / 10000.0
            for d in range(dim)
        ]
        for p in range(plane_offset, plane_offset + n_planes)
    ]


def banded_hyperplane_buckets(
    emb: DataFrame,
    n_bands: int = 4,
    n_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, band, bucket): one sign-LSH bucket per band.

    Band ``b`` uses planes ``b*n_planes .. (b+1)*n_planes - 1`` of the
    same deterministic md5 plane family, so bands are independent and
    any engine reproduces every bucket bit-for-bit.  Coefficients are
    literal arrays (see :func:`hyperplane_coeffs`); the projection is
    the same sequential ``aggregate`` fold as the oracle's
    ``list_reduce``, so the sign bits match exactly.
    """
    if dim is None:
        dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    # the n_bands * n_planes projection folds per row dominated this
    # operator as interpreted HOF expressions; one Arrow-batched kernel
    # (same IEEE op order, see the kernel block above) computes every
    # band's bucket bit-identically.  spread() first so an unsplittable
    # input cannot serialise the batch work (no-op at scan scale).
    emb = spread(emb, "vec_id")
    coeffs_all = [
        hyperplane_coeffs(dim, n_planes, seed, plane_offset=b * n_planes)
        for b in range(n_bands)
    ]
    barr = _bucket_udf(coeffs_all)(F.col("embedding").cast("array<double>"))
    return emb.select("vec_id", barr.alias("bs")).select(
        "vec_id", F.posexplode("bs").alias("band", "bucket")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold_x10000: int = 3000,
    n_bands: int = 4,
    n_planes: int = 12,
    seed: int = 42,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs via BANDED sign-LSH.

    Candidate = same bucket in ANY of ``n_bands`` independent bucket
    tables of ``n_planes`` sign bits each (recall via OR over bands,
    exactly the MinHash-LSH banding trick in dedup.py) -> distinct pair
    ids -> fetch both vectors by join -> exact cosine -> threshold on
    the x10000-rounded value so any engine reproduces the cut.

    Scale shape: a single P-plane table makes the self-join
    O(N^2 / 2^P) with recall decaying in P — banding decouples the two
    (candidates ~ B * N^2 / 2^P with P large, recall restored by the
    OR).  ``bucket_cap`` guards the degenerate mega-bucket (e.g. a
    corpus of zero vectors): any (band, bucket) holding more than
    ``cap`` vectors is excluded from pairing, bounding per-bucket join
    cost at cap^2/2; the excluded set is at most N/cap buckets, so the
    anti-join side stays broadcast-small.  Pair ids are deduped BEFORE
    the vectors are fetched, so each surviving pair's cosine is
    computed once and embeddings are never carried through the bucket
    explosion.
    """
    bb = banded_hyperplane_buckets(emb, n_bands, n_planes, seed)
    # ONE bucket groupBy instead of the count + anti-join + self-join
    # formulation, which re-evaluated the 48-fold projection subtree
    # THREE times (Spark does not dedup self-join subtrees) and
    # shuffled it twice.  Per-bucket doc lists yield the identical a<b
    # pair set; the over-cap filter on the grouped count is the same
    # mega-bucket exclusion the anti-join applied.
    grouped = bb.groupBy("band", "bucket").agg(
        F.collect_list("vec_id").alias("ids")
    )
    if bucket_cap is not None:
        grouped = grouped.filter(F.size("ids") <= bucket_cap)
    cand = (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("vec_a"), "ids")
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("ea"),
    )
    ec = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("eb"),
    )
    # exact verify through the Arrow kernel (bit-identical doubles,
    # see the kernel block above) instead of three HOF folds per pair
    sim = F.round(_cosine_pair_udf()(F.col("ea"), F.col("eb")) * 10000).cast("long")
    return (
        cand.join(ea, "vec_a")
        .join(ec, "vec_b")
        .select("vec_a", "vec_b", sim.alias("cos_x10000"))
        .filter(F.col("cos_x10000") >= threshold_x10000)
        .orderBy("vec_a", "vec_b")
    )


_ASSIGN_EXPR_MAX_LISTS = 64


def list_id_col(cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid list assignment as a Column, size-gated
    (same shape as the portable-hash switch in functions/hashing.py):

    * <= _ASSIGN_EXPR_MAX_LISTS centroids: the exact-sequential Arrow
      kernel (_list_id_seq, since r07) — every cosine in the literal
      fold's IEEE order, so doubles match _list_id_expr and the DuckDB
      oracle bit-for-bit (q29/q42 green), with a plan that stays FLAT
      in n_lists instead of growing a literal array per centroid.
      _list_id_expr remains as the executable spec / A/B reference.
    * larger codebooks: an Arrow-batched pandas_udf over a broadcast
      numpy centroid matrix (_list_id_pandas) — one BLAS matmul per
      batch.  Tie-break matches (cos desc, cid asc).  numpy's pairwise
      summation can differ from the sequential fold in the last ulp,
      so exact-oracle paths (q29/q42, n_lists=8) stay on the seq side
      of the gate; at n_lists where this path engages there is no
      cross-engine oracle to disagree with.
    """
    if len(cents) <= _ASSIGN_EXPR_MAX_LISTS:
        return _list_id_seq(cents)(F.col("embedding").cast("array<double>"))
    return _list_id_pandas(cents)(F.col("embedding").cast("array<double>"))


def _list_id_seq(cents: list[tuple[int, list[float]]]):
    """Arrow-batched nearest-centroid assignment, bit-identical to the
    literal-expression argmax (_list_id_expr): per-centroid cosines in
    the folds' exact IEEE order (see the kernel block at the top),
    argmax = first maximum over columns in cid-ascending order (ties,
    including all-NaN zero vectors, resolve to the lowest cid exactly
    as the greatest() struct tie-break does).  Replaces n_lists
    interpreted cosine folds per row; the oracle-exactness argument of
    the literal path carries over unchanged because every double is
    the same bits."""
    from pyspark.sql.functions import pandas_udf

    order = sorted(cents, key=lambda t: t[0])
    cids = np.array([cid for cid, _ in order], dtype=np.int64)
    cvs = [[float(x) for x in cv] for _, cv in order]
    ncs = [_seq_norm_const(cv) for cv in cvs]

    @pandas_udf("bigint")
    def assign(v: pd.Series) -> pd.Series:
        X, isnull = _stack_embeddings(v)
        cos = np.empty((len(X), len(cvs)))
        if len(X):
            nv = np.sqrt(_seq_sq_norm(X))
            for i, cv in enumerate(cvs):
                cos[:, i] = _seq_dot(X, cv) / (nv * ncs[i])
        idx = np.argmax(cos, axis=1) if len(X) else np.zeros(0, dtype=np.int64)
        res = pd.Series(cids[idx])
        if isnull.any():
            res = res.astype(object)
            res[isnull] = None
        return res

    return assign


def _list_id_pandas(cents: list[tuple[int, list[float]]]):
    from pyspark.sql.functions import pandas_udf

    order = sorted(cents, key=lambda t: t[0])  # argmax first-hit = cid asc
    cids = np.array([cid for cid, _ in order], dtype=np.int64)
    m = np.array([cv for _, cv in order], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)

    @pandas_udf("bigint")
    def assign(embs: pd.Series) -> pd.Series:
        v = np.asarray(embs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (v / norms) @ mn.T
        return pd.Series(cids[sims.argmax(axis=1)])

    return assign


def _list_id_expr(cents: list[tuple[int, list[float]]]) -> Column:
    """argmax over literal-broadcast centroid cosines (cos desc, cid
    asc tie-break) via lexicographic struct greatest — one projection."""

    def cos_to_const(vec: list[float]) -> Column:
        carr = F.array(*[F.lit(float(x)) for x in vec])
        return cosine(F.col("embedding").cast("array<double>"), carr)

    return F.greatest(
        *[
            F.struct(
                cos_to_const(cv).alias("c"),
                F.lit(-cid).alias("n"),
                F.lit(cid).alias("cid"),
            )
            for cid, cv in cents
        ]
    )["cid"]


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN top-k: coarse quantizer -> inverted lists -> probe.

    The classic scale path alongside LSH: every vector is assigned to
    its nearest of ``n_lists`` centroids (the inverted-list id); a
    query scans only the ``nprobe`` lists whose centroids are nearest
    to it — ``~ nprobe / n_lists`` of the table, exact cosine inside.

    Centroids here are training-free (the ``n_lists`` lowest vec_ids),
    which keeps the operator fully deterministic and oracle-checkable;
    on a real deployment the centroid table is swapped for k-means
    output and the list structure, assignment plan, and probe path are
    identical.  Scale shape: centroids are tiny and collected to the
    driver, so LIST ASSIGNMENT IS A ZERO-SHUFFLE MAP (an argmax over
    n_lists cosines in one Arrow-batched projection — at 100 TB you'd
    persist it as an index column once); the probe is a filter +
    TakeOrdered, no exchange of the big side.  All arithmetic follows
    the sequential fold order so the DuckDB oracle reproduces every
    double bit-for-bit (same trick as the LSH planes; see the kernel
    block at the top).
    """
    emb = spread(emb, "vec_id")  # probe-scan argmax folds: parallelise
    cents = [
        (int(r["cid"]), list(r["cv"]))
        for r in emb.orderBy("vec_id")
        .limit(n_lists)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        .collect()
    ]
    qv = list(
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>"))
        .collect()[0][0]
    )

    def cos_py(a: list[float], b: list[float]) -> float:
        d = na = nb = 0.0  # same sequential fold order as the SQL sides
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        return d / (na**0.5 * nb**0.5)

    probes = [
        cid
        for cid, _ in sorted(
            ((cid, cos_py(cv, qv)) for cid, cv in cents),
            key=lambda t: (-t[1], t[0]),
        )[:nprobe]
    ]

    qarr = F.array(*[F.lit(float(x)) for x in qv])
    return (
        emb.withColumn("list_id", list_id_col(cents))
        .filter(F.col("list_id").isin(probes) & (F.col("vec_id") != query_vec_id))
        .select(
            "vec_id",
            F.round(
                _cosine_pair_udf()(F.col("embedding").cast("array<double>"), qarr), 4
            ).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def kmeans_centroids(
    emb: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's iterations for the IVF coarse quantizer.

    Fixed init (the ``n_lists`` lowest vec_ids, relabelled 0..n-1),
    fixed iteration count, cosine assignment via the same literal-
    centroid argmax ``ivf_topk`` uses (zero shuffle), and — the key to
    cross-engine bit-exactness — centroid updates in INTEGER space:
    components are scaled to ``round(x * scale)`` longs, summed (exact,
    order-independent, unlike float sums), floor-divided by the count
    and rescaled.  Any engine (the DuckDB oracle mirrors the same
    iterations) reproduces every centroid bit-for-bit, so the trained
    index is oracle-checkable end to end.

    Scale shape: assignment is a map-side projection; the update is one
    map-side-combinable (list_id, dim) aggregate whose result (n_lists
    x dim rows) collects to the driver each iteration — O(iters *
    n_lists * dim) driver traffic, never row data.  Empty lists keep
    their previous centroid.
    """
    emb = spread(emb, "vec_id")  # literal-argmax assignment folds: parallelise
    cents = [
        (i, list(r["cv"]))
        for i, r in enumerate(
            emb.orderBy("vec_id")
            .limit(n_lists)
            .select(F.col("embedding").cast("array<double>").alias("cv"))
            .collect()
        )
    ]
    for _ in range(iters):
        assigned = emb.select(
            F.col("embedding").cast("array<double>").alias("v"),
            list_id_col(cents).alias("list_id"),
        )
        ex = assigned.select(
            "list_id", F.posexplode("v").alias("j", "x")
        ).groupBy("list_id", "j").agg(
            F.sum(F.round(F.col("x") * scale).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        by = {(int(r["list_id"]), int(r["j"])): (int(r["s"]), int(r["n"])) for r in ex.collect()}
        cents = [
            (
                cid,
                [
                    (by[(cid, j)][0] // by[(cid, j)][1]) / scale
                    for j in range(len(cv))
                ]
                if (cid, 0) in by
                else cv,
            )
            for cid, cv in cents
        ]
    return cents


def ivf_topk_trained(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN top-k over TRAINED centroids (deterministic k-means):
    the real index build — same inverted-list/probe plan as ivf_topk,
    with the quantizer fit to the data instead of picked from it."""
    cents = kmeans_centroids(emb, n_lists, iters)
    emb = spread(emb, "vec_id")  # assignment+probe folds: parallelise
    qv = list(
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>"))
        .collect()[0][0]
    )

    def cos_py(a: list[float], b: list[float]) -> float:
        d = na = nb = 0.0  # same sequential fold order as the SQL sides
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        return d / (na**0.5 * nb**0.5)

    probes = [
        cid
        for cid, _ in sorted(
            ((cid, cos_py(cv, qv)) for cid, cv in cents),
            key=lambda t: (-t[1], t[0]),
        )[:nprobe]
    ]
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    return (
        emb.withColumn("list_id", list_id_col(cents))
        .filter(F.col("list_id").isin(probes) & (F.col("vec_id") != query_vec_id))
        .select(
            "vec_id",
            F.round(
                _cosine_pair_udf()(F.col("embedding").cast("array<double>"), qarr), 4
            ).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def lsh_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 6,
    multi_probe: bool = False,
) -> DataFrame:
    """ANN top-k: search the query's LSH bucket (scale path).

    multi_probe=True additionally probes every bucket at Hamming
    distance 1 from the query's (one sign bit flipped) — the standard
    multi-probe recall lever: candidate set grows ~(n_planes+1)x while
    still scanning a vanishing fraction of the table.  Returned schema
    matches brute_force_topk for comparison.
    """
    bucketed = random_hyperplane_buckets(emb, n_planes)
    qrow = bucketed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").cast("array<double>").alias("qv"), F.col("bucket").alias("qb")
    )
    if multi_probe:
        probes = F.array(
            F.col("qb"),
            *[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        qrow = qrow.select("qv", F.explode(probes).alias("qb"))
    return (
        bucketed.join(F.broadcast(qrow), F.col("bucket") == F.col("qb"))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(
                _cosine_pair_udf()(
                    F.col("embedding").cast("array<double>"), F.col("qv")
                ),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )
