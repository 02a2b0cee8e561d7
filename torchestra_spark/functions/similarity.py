"""Similarity search over embedding columns (``array<float>``).

* **cosine / dot** — Catalyst higher-order functions (zip_with +
  aggregate): JVM-side, no UDF, fine for scoring against a literal
  query vector.
* **brute_force_topk** — exact baseline: score every row, global top-k
  (`orderBy ... limit k` compiles to a distributed TakeOrdered — no full
  sort).
* **lsh_buckets / ann_topk** — the scale path: random-hyperplane
  signatures (one numpy matmul per Arrow batch), probe only the query's
  bucket (+ optional multi-probe neighbors), exact re-rank inside.
  Recall/latency tuned by n_planes and n_probes.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n > 0, d / n).otherwise(0.0)


def _lit_vec(v: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def l2_normalize(a: Column) -> Column:
    """Unit-normalize a vector column (zero vectors pass through).

    The norm is let-bound: a naive ``transform(a, x -> x / norm(a))``
    re-evaluates the O(d) norm aggregate per element (interpreted HOF
    semantics) — O(d²) per row."""
    from torchestra_spark.functions.text import _let

    return _let(
        a,
        lambda av: _let(
            norm(av),
            lambda n: F.when(
                n > 0, F.transform(av, lambda x: x.cast("double") / n)
            ).otherwise(F.transform(av, lambda x: x.cast("double"))),
        ),
    )


def quantize_int8(a: Column) -> Column:
    """Per-vector symmetric int8 quantization: struct(q array<int>,
    scale double) with q_i = round(x_i / scale), scale = max|x| / 127.
    4x (fp32) / 8x (fp64) memory + shuffle-byte reduction for ANN
    candidate stages; exact arithmetic replayed by the SQL oracle.
    Zero vectors quantize to all-zero with scale 0."""
    from torchestra_spark.functions.text import _let

    def build(av: Column) -> Column:
        mx = F.array_max(F.transform(av, lambda x: F.abs(x.cast("double"))))
        return _let(
            mx / 127.0,
            lambda s: F.struct(
                F.when(
                    s > 0,
                    F.transform(av, lambda x: F.round(x.cast("double") / s).cast("int")),
                )
                .otherwise(F.transform(av, lambda x: F.lit(0)))
                .alias("q"),
                s.alias("scale"),
            ),
        )

    return _let(a, build)


def dequantize_int8(qs: Column) -> Column:
    """Inverse of ``quantize_int8``: array<double> ≈ the original
    vector (max abs error = scale/2 per component)."""
    from torchestra_spark.functions.text import _let

    return _let(
        qs,
        lambda s: F.transform(
            s.getField("q"), lambda x: x.cast("double") * s.getField("scale")
        ),
    )


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.  The
    orderBy+limit compiles to TakeOrderedAndProject — each partition
    keeps only its local top-k, no global sort."""
    q = _lit_vec(query)
    scored = df.withColumn("cos_sim", cosine(F.col(vec_col), q))
    return scored.select(id_col, "cos_sim").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    ).limit(k)


# ------------------------------------------------------------------- LSH ANN
def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(dim, n_planes).astype(np.float64)


def _fixed_dim_matrix(arr, dim: int, stage: str) -> np.ndarray:
    """The (n, dim) float64 matrix of an Arrow list column, reshaped from
    its flat child buffer.  A NULL or wrong-length vector would silently
    misalign every later row of the flatten, so either raises a
    ``ValueError`` naming ``stage`` and the offending row count."""
    import pyarrow.compute as pc

    if arr.null_count:
        raise ValueError(
            f"{stage}: {arr.null_count} NULL embedding(s) in batch; "
            "filter NULL vectors upstream"
        )
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    bad = int((lens != dim).sum())
    if bad:
        raise ValueError(f"{stage}: {bad} embedding(s) with length != dim={dim}")
    flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), dim)


def _vec_matrix_stage(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_ddl: str,
    kernel,
    stage: str,
    keep_vec: bool = True,
    aux: Sequence[str] = (),
) -> DataFrame:
    """Append the ``out_ddl`` columns computed from the (n, dim) embedding
    matrix in ONE ``mapInArrow`` pass over the flat ListArray buffer:
    reshape the contiguous child buffer instead of materializing a
    per-row numpy object via ``np.stack(Series.map(np.asarray))``
    (measured ~2.4x on the token-sketch analog, dedup.py flat-buffer
    notes).  All other columns pass through untouched.

    ``kernel(X, *aux_values)`` gets the matrix plus the numpy values of
    each ``aux`` column and returns one numpy array per ``out_ddl``
    column (a lone array for one column): 1-D for a scalar column, 2-D
    (n, k) for an array column.  ``keep_vec=False`` moves the vector
    column last under a private name and leaves it out of the output,
    so no vector bytes travel back from Python.  NULL or wrong-length
    vectors raise (``_fixed_dim_matrix``) with ``stage`` in the
    message."""
    import pyarrow as pa

    if not keep_vec:
        df = df.select(*[c for c in df.columns if c != vec_col], F.col(vec_col).alias("__v"))
        vec_col = "__v"
    fields = df.schema.fields
    keep = [i for i, f in enumerate(fields) if keep_vec or f.name != vec_col]
    parts = [f"`{fields[i].name}` {fields[i].dataType.simpleString()}" for i in keep]
    out_names = [f.split()[0] for f in out_ddl.split(",")]

    def arrow(c: np.ndarray):
        if c.ndim == 1:
            return pa.array(c)
        n, k = c.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * k), pa.array(c.ravel())
        )

    def run(batches):
        for b in batches:
            X = _fixed_dim_matrix(b.column(b.schema.get_field_index(vec_col)), dim, stage)
            extra = [b.column(b.schema.get_field_index(c)).to_numpy(zero_copy_only=False) for c in aux]
            out = kernel(X, *extra)
            out = [out] if isinstance(out, np.ndarray) else out
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in keep] + [arrow(c) for c in out],
                [b.schema.names[i] for i in keep] + out_names,
            )

    return df.mapInArrow(run, ", ".join(parts + [out_ddl]))


def _buckets(X: np.ndarray, P: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """Random-hyperplane bucket ids: the sign pattern of X @ P packed
    into an int64 (one row of ``X`` per id; works for one vector too)."""
    return ((X @ P) > 0) @ weights


def lsh_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane bucket id per row: sign pattern of X @ P packed
    into an int.  One numpy matmul per Arrow batch over the flat
    ListArray buffer (mapInArrow) — no per-row Python object per cell."""
    P = _planes(dim, n_planes, seed)
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    return _vec_matrix_stage(
        df, vec_col, dim, f"{out_col} bigint", lambda X: _buckets(X, P, weights), "lsh_buckets"
    )


def lsh_buckets_multi(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    seeds: list,
    out_col: str = "buckets",
) -> DataFrame:
    """ALL tables' bucket ids per row in ONE Arrow stage: the per-table
    arithmetic is the same ``(X @ P_t) > 0`` matmul ``lsh_buckets``
    runs, so bucket values are bit-identical to T separate calls — but
    the corpus is scanned and Arrow-transferred once instead of once
    per table (the loop-of-unions shape this replaces)."""
    Ps = [_planes(dim, n_planes, s) for s in seeds]
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def kernel(X: np.ndarray):
        return np.stack([_buckets(X, P, weights) for P in Ps], axis=1)

    return _vec_matrix_stage(
        df, vec_col, dim, f"{out_col} array<bigint>", kernel, "lsh_buckets_multi"
    )


def _probe_masks(margins: np.ndarray, n_probes: int) -> np.ndarray:
    """Multi-probe perturbation masks ordered EXACTLY by flip cost (sum
    of the flipped planes' |margins|): mask 0 (the home bucket) first.

    Exactness without full 2**n_planes enumeration: the home bucket and
    the m cheapest single flips give m+1 masks with cost <= the m-th
    cheapest margin, while ANY mask touching a plane outside the m
    cheapest costs at least that margin — so the globally cheapest
    ``n_probes = m+1`` masks all live inside the powerset of the m
    cheapest planes.  Enumerating that 2**(n_probes-1) powerset is exact
    and stays tiny for real probe counts (n_probes <= 21), so wide hash
    tables (n_planes up to 63) never explode driver memory; a two-bit
    flip of two near planes correctly outranks a distant single flip."""
    margins = np.asarray(margins, dtype=np.float64)
    n_planes = len(margins)
    n_probes = int(n_probes)
    m = min(max(n_probes - 1, 0), n_planes)
    if m > 20:
        raise ValueError(
            f"n_probes={n_probes} needs enumeration over {m} planes "
            f"(2^{m} masks) — infeasible; lower n_probes or n_planes"
        )
    order = np.argsort(margins, kind="stable")[:m].astype(np.int64)
    sub = np.arange(1 << m, dtype=np.int64)
    bits = (sub[:, None] >> np.arange(m, dtype=np.int64)[None, :]) & 1
    cost = bits @ margins[order]
    full = bits @ (np.int64(1) << order)
    n_take = min(n_probes, 1 << m)
    return full[np.argsort(cost, kind="stable")[:n_take]].astype(np.int64)


def ann_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_probes: int = 1,
    seed: int = 42,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's hyperplane bucket plus the
    ``n_probes-1`` most likely neighbor buckets (multi-probe LSH:
    bucket ids ranked by the summed |margin| of their flipped planes —
    near-plane flips first), exact cosine re-rank inside.  Scans only
    matching buckets — with a bucketed / partitioned layout this prunes
    at the scan.  ``n_probes >= 2**n_planes`` probes every bucket,
    making the result exactly brute-force top-k (the recall-1.0
    correctness configuration).

    ``tables`` independent hash tables (different plane seeds) are
    OR-probed — the standard LSH recall lever: a true neighbor is found
    if ANY table buckets it with the query, recall 1-(1-p^planes)^tables
    vs p^planes for one table.  Still ONE scan: per-table bucket
    columns are computed in a single ArrowEvalPython stage and the
    filter is a disjunction, so cost grows only in the (cheap) hashing,
    not in passes over the data."""
    q = np.asarray(list(query), dtype=np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    seeds = [seed + 1000 * t for t in range(int(tables))]
    cond = None
    for t, s in enumerate(seeds):
        P = _planes(len(q), n_planes, s)
        base = int(_buckets(q, P, weights))
        probes = [base ^ int(m) for m in _probe_masks(np.abs(q @ P), n_probes)]
        c = F.element_at(F.col("__bkts"), t + 1).isin(probes)
        cond = c if cond is None else (cond | c)
    # all tables' bucket ids in ONE mapInArrow stage — probe cost grows
    # in the (cheap) hashing, never in passes over the corpus
    bucketed = lsh_buckets_multi(df, vec_col, len(q), n_planes, seeds, out_col="__bkts")
    cand = bucketed.filter(cond).drop("__bkts")
    return brute_force_topk(cand, vec_col, list(q), k=k, id_col=id_col)


# ------------------------------------------------------------------ IVF ANN
def _train_sample(
    df: DataFrame, vec_col: str, sample: int, order_col: Optional[str]
) -> DataFrame:
    """Deterministic bounded training sample.  With ``order_col`` the
    sample is the first ``sample`` rows by that key; WITHOUT it the rows
    are ranked by ``xxhash64(vec)`` (ties by the vector itself) — still
    partition- and rerun-stable, unlike a bare ``limit()`` which takes
    whatever partitions answer first and would train a different model
    per run.  Either way compiles to TakeOrderedAndProject: each
    partition keeps its local top-``sample``, no full sort."""
    if order_col is not None:
        return df.select(order_col, vec_col).orderBy(order_col).limit(sample).select(vec_col)
    return (
        df.select(F.xxhash64(vec_col).alias("__h"), vec_col)
        .orderBy("__h", vec_col)
        .limit(sample)
        .select(vec_col)
    )


def _to_matrix(df: DataFrame, vec_col: str) -> np.ndarray:
    """Collect a bounded frame's vectors to the driver as one (n, d)
    float64 matrix.  An empty frame raises a ``ValueError``, as a NULL or
    ragged vector does."""
    vecs = df.select(vec_col).toArrow()[vec_col].combine_chunks()
    if len(vecs) == 0:
        raise ValueError(f"vector collect: no rows in {vec_col!r}; the input frame is empty")
    dim = len(vecs[0]) if vecs[0].is_valid else 0
    return _fixed_dim_matrix(vecs, dim, "vector collect")


def _nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the nearest row of ``C`` for every row of ``X``:
    argmin ||x-c||^2 = argmin(c.c - 2 x.c), O(n*k) memory, no (n, k, d)
    difference tensor."""
    return ((C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)


def _kmeans(X: np.ndarray, k: int, iters: int, rng: np.random.RandomState) -> np.ndarray:
    """Lloyd's k-means: ``min(k, n)`` distinct rows drawn with ``rng``
    seed the centroids, then ``iters`` assign/mean rounds (an empty
    cluster keeps its centroid)."""
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = _nearest(X, C)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    order_col: Optional[str] = None,
) -> np.ndarray:
    """Train an IVF coarse quantizer: k-means (Lloyd's, deterministic
    seed) over a bounded sample collected to the driver — the classic
    two-stage pattern: train small, assign at scale."""
    X = _to_matrix(_train_sample(df, vec_col, sample, order_col), vec_col)
    return _kmeans(X, n_centroids, iters, np.random.RandomState(seed))


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray, out_col: str = "ivf_cell"
) -> DataFrame:
    """Assign every row to its nearest centroid cell (one numpy matmul
    per Arrow batch).  Store/partition by this column for scan-pruned
    ANN at scale."""
    C = np.asarray(centroids, dtype=np.float64)
    return _vec_matrix_stage(
        df, vec_col, C.shape[1], f"{out_col} int",
        lambda X: _nearest(X, C).astype(np.int32), "ivf_assign",
    )


def _probe_cells(q: np.ndarray, C: np.ndarray, n_probes: int) -> List[int]:
    """The ``n_probes`` cells whose centroids are nearest the query."""
    d = ((C - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d)[:n_probes]]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: scan only the ``n_probes`` cells nearest to the query,
    exact cosine re-rank inside.  With the table partitioned by
    ``ivf_cell`` the probe prunes at the scan."""
    assigned = ivf_assign(df, vec_col, centroids)
    return ivf_topk_stored(assigned, vec_col, query, centroids, k, n_probes, id_col)


def ivf_topk_stored(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF ANN over a PRE-ASSIGNED table (one that already carries
    ``cell_col``, e.g. written with ``write_partitioned(...,
    [cell_col])``): probes filter the STORED cell column, so with a
    cell-partitioned layout the ``.isin`` becomes PartitionFilters and
    the scan reads only the probed cells — no assign UDF runs over the
    corpus at query time.  This is the serving-path twin of
    ``ivf_topk`` (which assigns on the fly for ad-hoc frames); results
    are identical when ``cell_col`` was produced by ``ivf_assign`` with
    the same centroids (plan-quality pytest asserts the pruning, the
    driver oracle checks values)."""
    q = np.asarray(list(query), dtype=np.float64)
    probes = _probe_cells(q, np.asarray(centroids, dtype=np.float64), n_probes)
    cand = df.filter(F.col(cell_col).isin(probes))
    return brute_force_topk(cand, vec_col, list(q), k=k, id_col=id_col)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    max_bucket_size: Optional[int] = 5000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) — the vector-space analog of MinHash text dedup.

    * ``method='lsh'`` — the scale path: ``tables`` independent
      hyperplane hash tables (different seeds); a pair is a candidate if
      it shares a bucket in ANY table (recall grows as 1-(1-p^planes)^
      tables where p = 1 - angle/pi), then exact cosine verification.
      The banded self-join moves ONLY (id, table, bucket) — the
      embedding vectors stay out of the candidate shuffle and are
      re-attached to the (much smaller) deduped pair set for the exact
      verify, the same shape as ``lsh_candidate_pairs``.  Degenerate
      mega-buckets (near-zero or duplicated embeddings collapsing into
      one sign pattern would otherwise go O(n²) in pairs) are dropped
      via a broadcast anti-join above ``max_bucket_size`` (``None``
      disables the cap).  Shuffle cost is O(rows x tables) + the
      candidate pair set, never all-pairs.
    * ``method='exact'`` — all-pairs self-join baseline for verification
      and small tables; quadratic, use only as the correctness oracle.
    """
    from torchestra_spark.functions.dedup import _capped_self_join, _ensure_parallelism

    base = _ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    )
    if method == "exact":
        # broadcast-nested-loop parallelism = left-side partitions: a
        # single-file scan would put the whole O(n^2) loop on one task
        spark = df.sparkSession
        n_parts = max(2, spark.sparkContext.defaultParallelism)
        l, r = base.repartition(n_parts).alias("l"), base.alias("r")
        pairs = l.join(r, F.col("l.__id") < F.col("r.__id")).select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            cosine(F.col("l.__v"), F.col("r.__v")).alias("cos_sim"),
        )
        return pairs.filter(F.col("cos_sim") >= threshold)
    if method != "lsh":
        raise ValueError(method)
    dim = _infer_dim(df, vec_col)
    # all T tables' buckets in ONE scan + Arrow stage, then posexplode
    # to (table, bucket) rows — bit-identical to per-table lsh_buckets;
    # (table, bucket) cells above max_bucket_size are dropped first
    banded = lsh_buckets_multi(
        base, "__v", dim, n_planes, [seed + 1000 * t for t in range(tables)]
    ).select("__id", F.posexplode("buckets").alias("__tbl", "bucket"))
    cand = (
        _capped_self_join(banded, ["__tbl", "bucket"], max_bucket_size)
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-cosine verify: re-attach vectors to the deduped pair set only
    scored = (
        cand.join(base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
        .join(base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("__va"), F.col("__vb")).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def pairwise_topk_per_row(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    max_bucket_size: Optional[int] = 10_000,
) -> DataFrame:
    """All-rows ANN: bucket once, self-join within buckets, per-row
    top-k neighbors by cosine (window over bucket-join candidates).

    ``max_bucket_size`` drops degenerate mega-buckets (identical /
    near-zero vectors collapsing into one sign pattern) before the
    quadratic self-join — the same production guard as
    ``lsh_candidate_pairs``; pass ``None`` to disable."""
    from pyspark.sql import Window

    b = lsh_buckets(df, vec_col, _infer_dim(df, vec_col), n_planes, seed).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), "bucket"
    )
    if max_bucket_size is not None:
        big = (
            b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_bucket_size)
            .select("bucket")
        )
        b = b.join(F.broadcast(big), "bucket", "left_anti")
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.__id") != F.col("r.__id")),
    ).select(
        F.col("l.__id").alias("id_a"),
        F.col("r.__id").alias("id_b"),
        cosine(F.col("l.__v"), F.col("r.__v")).alias("cos_sim"),
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Length of the first non-NULL vector, 0 when there is none: an
    empty frame then gives an empty result, and NULL vectors reach
    ``_fixed_dim_matrix``'s named error like in every vector stage."""
    row = df.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    return 0 if row is None else int(row[0])


def exact_knn_batch(
    df: DataFrame, vec_col: str, id_col: str, Q: np.ndarray, k: int
) -> DataFrame:
    """Distributed EXACT cosine top-k for EVERY row of the (q, d) query
    matrix ``Q`` in ONE corpus pass — batch brute-force KNN (ground
    truth for ANN evals, small-query-set re-ranking): the normalized
    query matrix rides the task closure (q·d doubles), each Arrow batch
    computes the full (batch, q) similarity block with one matmul over
    the flat ListArray buffer and keeps its LOCAL top-k per query, and
    a q-partitioned window takes the global top-k over the surviving
    (partitions × k × q) candidate rows — exact because the global
    top-k is a subset of the union of local top-ks.  Ties break by id
    ascending.  Returns (q int, <id_col>, cos_sim double, rank int).

    This is the scale path for exact ground truth: no full-corpus
    collect, one scan for ALL queries, shuffle bounded by q·k·parts."""
    import pyarrow as pa

    from pyspark.sql import Window

    Q = np.ascontiguousarray(Q, dtype=np.float64)
    nq, dim = Q.shape
    Qn = (Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)).T
    id_type = df.schema[id_col].dataType.simpleString()
    sel = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    def stage(batches):
        for b in batches:
            arr = b.column(1)
            n = len(arr)
            if not n:
                continue
            X = _fixed_dim_matrix(arr, dim, "exact_knn_batch")
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
            S = Xn @ Qn  # (n, nq)
            kk = min(k, n)
            # Local top-k must respect the GLOBAL tie-break (sim desc,
            # id asc): a bare argpartition keeps an arbitrary subset of
            # rows tied at the k-th similarity, which the global window
            # cannot repair (the evicted id may be the smaller one).
            # id_rank = ascending rank of the id within the batch, so
            # lexsort((id_rank, -S[:, j])) is exactly the global order.
            id_rank = np.empty(n, dtype=np.int64)
            id_rank[
                np.argsort(b.column(0).to_numpy(zero_copy_only=False), kind="stable")
            ] = np.arange(n)
            part = np.stack(
                [np.lexsort((id_rank, -S[:, j]))[:kk] for j in range(nq)], axis=1
            )  # (kk, nq) row idx, tie-exact
            rows = part.ravel()  # C order: (i, j) -> i*nq + j
            qcol = np.tile(np.arange(nq, dtype=np.int32), kk)
            ids = b.column(0).take(pa.array(rows, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(qcol, type=pa.int32()), ids,
                 pa.array(S[rows, qcol], type=pa.float64())],
                ["q", "__id", "sim"],
            )

    scored = sel.mapInArrow(stage, f"q int, `__id` {id_type}, sim double")
    w = Window.partitionBy("q").orderBy(F.col("sim").desc(), F.col("__id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q",
            F.col("__id").alias(id_col),
            F.col("sim").alias("cos_sim"),
            "rank",
        )
    )


def exact_topk_multi(
    df: DataFrame, vec_col: str, id_col: str, Q: np.ndarray, k: int
) -> dict:
    """Driver-side convenience over :func:`exact_knn_batch`: returns
    {query_index: [ids best-first]} (the recall harness's ground-truth
    shape).  The heavy lifting — one scan for all queries — is the
    DataFrame op above."""
    top = exact_knn_batch(df, vec_col, id_col, Q, k).collect()
    out: dict = {j: [] for j in range(int(np.asarray(Q).shape[0]))}
    for r in sorted(top, key=lambda r: (r["q"], r["rank"])):
        out[r["q"]].append(r[id_col])
    return out


def recall_at_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    search_fns: dict,
    n_queries: int = 20,
    seed: int = 0,
) -> dict:
    """MEASUREMENT HARNESS (not a production operator): average recall@k
    of ANN search functions against exact cosine ground truth.

    ``search_fns`` maps a label -> callable(df, query_vec: list) ->
    DataFrame containing ``id_col`` (the ANN top-k).  Queries are
    ``n_queries`` corpus vectors picked by a deterministic seeded hash
    order (the ``_train_sample`` discipline — partition- and
    rerun-stable).  Ground truth comes from ``exact_topk_multi``: one
    distributed brute-force pass for ALL queries — no full-corpus
    driver collect, so the harness runs unchanged on a 100 TB corpus
    (the GT pass costs one scan; the per-fn ANN searches dominate)."""
    queries = (
        df.select(F.xxhash64(F.lit(seed), vec_col).alias("__h"), vec_col)
        .orderBy("__h", vec_col)
        .limit(n_queries)
        .select(vec_col)
    )
    Q = _to_matrix(queries, vec_col)
    truth = exact_topk_multi(df, vec_col, id_col, Q, k)
    out = {}
    for name, fn in search_fns.items():
        recalls = []
        for j in range(Q.shape[0]):
            got = {r[id_col] for r in fn(df, Q[j].tolist()).collect()}
            recalls.append(len(got & set(truth[j])) / k)
        out[name] = float(np.mean(recalls))
    return out


# ------------------------------------------------------------ product quant
def train_pq(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ks: int = 256,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    order_col: Optional[str] = None,
) -> np.ndarray:
    """Train product-quantization codebooks: split each vector into m
    contiguous subvectors and run k-means (Lloyd's, deterministic seed)
    per subspace over a bounded driver-side sample — the same
    train-small/encode-at-scale pattern as IVF.  Returns codebooks of
    shape (m, ks, d/m); d must be divisible by m."""
    X = _to_matrix(_train_sample(df, vec_col, sample, order_col), vec_col)
    return _pq_fit(X, m, ks, iters, seed)


def _pq_fit(X: np.ndarray, m: int, ks: int, iters: int, seed: int) -> np.ndarray:
    """Per-subspace Lloyd's over an in-memory training matrix — the
    shared kernel behind ``train_pq`` (raw vectors) and
    ``train_ivfpq`` (cell residuals).  RNG draw order is identical to
    the original train_pq, so existing oracles are unchanged."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, min(ks, len(X)), sub), dtype=np.float64)
    for j in range(m):
        books[j] = _kmeans(X[:, j * sub : (j + 1) * sub], ks, iters, rng)
    return books


def _pq_codes(X: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) int32 PQ code: the nearest centroid of each subvector in
    its subspace's codebook ``B[j]``."""
    m, _, sub = B.shape
    codes = np.empty((len(X), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _nearest(X[:, j * sub : (j + 1) * sub], B[j])
    return codes


def pq_encode(
    df: DataFrame, vec_col: str, codebooks: np.ndarray, out_col: str = "pq_code"
) -> DataFrame:
    """Encode vectors to m nearest-centroid indices (array<int>): d
    float64s -> m small ints, a 32-64x storage/shuffle compression for
    candidate scoring.  One numpy matmul per subspace per Arrow batch
    via mapInArrow over the flat ListArray buffer — no per-row
    Python."""
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, sub = B.shape
    return _vec_matrix_stage(
        df, vec_col, m * sub, f"{out_col} array<int>",
        lambda X: _pq_codes(X, B), "pq_encode", keep_vec=False,
    )


def pq_topk(
    code_df: DataFrame,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's distance to every
    centroid of every subspace is one tiny (m, ks) table computed on
    the driver and broadcast; each row's approximate distance is m
    table lookups summed — no vector data moves at query time, and
    orderBy+limit compiles to TakeOrderedAndProject."""
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ks, sub = B.shape
    q = np.asarray(query, dtype=np.float64).reshape(m, sub)
    table = ((B - q[:, None, :]) ** 2).sum(axis=2)  # (m, ks)

    def kernel(X: np.ndarray):
        # codes arrive as the flat ListArray buffer reshaped (n, m);
        # float64 round-trip is exact for code ids (< ks <= 2^16)
        return table[np.arange(m)[None, :], X.astype(np.int64)].sum(axis=1)

    scored = _vec_matrix_stage(code_df, code_col, m, "pq_dist double", kernel, "pq_topk")
    return scored.select(id_col, "pq_dist").orderBy(
        F.col("pq_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def sq_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    cand: DataFrame, vec_df: DataFrame, query: Sequence[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact squared-L2 top-k of the ``vec_df`` rows whose ids are in
    the (small) shortlist ``cand``: a broadcast semi-join, so only the
    shortlist rows are scored."""
    exact = vec_df.join(F.broadcast(cand.select(id_col)), id_col).select(
        id_col, sq_l2(F.col(vec_col), _lit_vec(query)).alias("dist")
    )
    return exact.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))


def pq_rerank_topk(
    code_df: DataFrame,
    vec_df: DataFrame,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search — the FAISS production serving pattern:

    1. ADC over the COMPRESSED codes shortlists ``shortlist``
       candidates (TakeOrderedAndProject; only m bytes/row move).
    2. The shortlist ids broadcast into a semi-join against the full
       vector table; exact squared-L2 re-ranks just those rows.

    At 100 TB the vector table is the big object: stage 1 touches the
    code column only, stage 2 computes exact distances for
    ``shortlist`` rows — never the corpus.  Re-ranking repairs ADC
    quantization error whenever the true neighbor is inside the
    shortlist (pytest asserts recall(rerank) >= recall(raw ADC) and
    exact-equality when the shortlist covers the corpus; the driver
    oracle checks the full two-stage plan in the recall-1.0 codebook
    configuration).  Ties break on ascending id, like every top-k in
    the engine."""
    cand = pq_topk(
        code_df, codebooks, query, k=shortlist, id_col=id_col, code_col=code_col
    )
    return _exact_rerank(cand, vec_df, query, k, id_col, vec_col)


# ------------------------------------------------------- IVF-PQ composite
def train_ivfpq(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 256,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    order_col: Optional[str] = None,
) -> tuple:
    """Train the FAISS-style composite index: IVF coarse centroids +
    PQ codebooks fit on cell RESIDUALS (x − centroid[cell]) — residual
    magnitudes are far smaller than raw vectors, so the same ks spends
    its precision where it matters.  One bounded driver-side sample
    trains both stages; returns (centroids (nc, d), codebooks
    (m, ks', d/m))."""
    X = _to_matrix(_train_sample(df, vec_col, sample, order_col), vec_col)
    C = _kmeans(X, n_centroids, iters, np.random.RandomState(seed))
    return C, _pq_fit(X - C[_nearest(X, C)], m, ks, iters, seed)


def ivfpq_encode(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector to (cell id, residual PQ code) in ONE Arrow
    pass: d float64s -> 1 int + m small ints.  Store partitioned by
    ``cell_col``: queries prune cells at the scan AND score 8-byte
    codes instead of vectors — the index layout that makes
    billion-vector ANN a metadata-plus-codes problem."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, sub = B.shape

    def kernel(X: np.ndarray):
        cells = _nearest(X, C)
        return cells.astype(np.int32), _pq_codes(X - C[cells], B)

    return _vec_matrix_stage(
        df, vec_col, m * sub, f"{cell_col} int, {code_col} array<int>",
        kernel, "ivfpq_encode", keep_vec=False,
    )


def ivfpq_topk(
    code_df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ query: prune to the ``n_probes`` cells nearest the query
    (a partition filter when the code table is stored by cell), then
    ADC-score the residual codes with PER-CELL lookup tables
    T[c, j, kk] = ||(q − centroid_c)_j − B[j, kk]||² — the whole query
    state is one (nc, m, ks) float table broadcast to executors; no
    vector bytes move.  Exact when the codebooks reproduce residuals
    exactly (driver oracle `ivfpq_topk` pins that configuration)."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ks, sub = B.shape
    q = np.asarray(list(query), dtype=np.float64)
    probes = _probe_cells(q, C, n_probes)
    Rq = (q[None, :] - C).reshape(len(C), m, sub)  # per-cell query residual
    T = ((B[None, :, :, :] - Rq[:, :, None, :]) ** 2).sum(axis=3)  # (nc, m, ks)
    jj = np.arange(m)

    def kernel(codes: np.ndarray, cells: np.ndarray):
        # flat-buffer ADC: the codes ListArray child buffer reshaped to
        # (n, m), gathered from the per-cell tables in one fancy-index
        return T[cells.astype(np.int64)[:, None], jj[None, :], codes.astype(np.int64)].sum(axis=1)

    cand = code_df.filter(F.col(cell_col).isin(probes))
    scored = _vec_matrix_stage(
        cand, code_col, m, "ivfpq_dist double", kernel, "ivfpq_topk", aux=[cell_col]
    )
    return scored.select(id_col, "ivfpq_dist").orderBy(
        F.col("ivfpq_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def ivfpq_rerank_topk(
    code_df: DataFrame,
    vec_df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 100,
    n_probes: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVF-PQ search: cell-pruned residual-ADC shortlist
    (``ivfpq_topk`` with k=shortlist) -> broadcast semi-join against
    the full vector table -> exact squared-L2 re-rank of just the
    shortlist rows.  Same plan shape as ``pq_rerank_topk``; the
    shortlist repairs both PQ quantization error and near-boundary
    cell misses whenever the true neighbor lands inside it."""
    cand = ivfpq_topk(
        code_df, centroids, codebooks, query, k=shortlist, n_probes=n_probes,
        id_col=id_col, cell_col=cell_col, code_col=code_col,
    )
    return _exact_rerank(cand, vec_df, query, k, id_col, vec_col)
