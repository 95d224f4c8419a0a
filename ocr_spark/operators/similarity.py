"""Similarity search over embedding columns (task directive): brute-force
cosine top-k baseline + LSH-bucketed (random hyperplane) scale path.

Spark-first: dot products via F.zip_with/F.aggregate (JVM codegen, no UDF);
hyperplanes are deterministic literal arrays (seeded numpy on the driver),
so both the Spark plan and the DuckDB oracle use the exact same planes.

Scale notes: brute-force is a broadcast of the query vector into a narrow
map — linear scan, no shuffle, fine as the exactness baseline at any scale
fan-out. The hyperplane variant buckets the corpus once (one narrow map +
one shuffle on the bucket key) and only scores within matching buckets —
the standard sign-LSH trade: recall < 1, cost ~ corpus/2^planes per bucket.
Every embedding near-dup stage (embedding_near_dups here, semantic_prune)
scores its buckets with ONE vectorized kernel, within_bucket_pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_DIM = 64  # driver embeddings table dimension (validated at runtime)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    # greatest(den, 1e-300) is the shared zero-norm convention (identical
    # to the numpy _coarse_cos guard and the SQL twins): a zero vector has
    # dot 0 exactly, so 0/1e-300 = 0.0 — no ±inf, no ANSI DIVIDE_BY_ZERO,
    # and no double evaluation of the interpreted HOF norms that an
    # F.when(den > 0, ...) guard would cost
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-300))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine to a literal query vector."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def cosine_topk_sql(query_vec: list[float], k: int = 10) -> str:
    q = "[" + ", ".join(f"{float(v)!r}" for v in query_vec) + "]::DOUBLE[]"
    return (
        f"SELECT vec_id, round({_sql_cos('embedding::DOUBLE[]', q)}, 6) "
        f"AS cos_sim "
        f"FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT {k}"
    )


def hyperplanes(n_planes: int = 8, dim: int = EMB_DIM, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes shared by engine and oracle."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6)


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Sign-LSH bucket id: bit i = (v · plane_i > 0), each dot the same left
    fold as _dot. Null when v is null, holds a null element or differs in
    length from the planes.

    The fold is sent as ONE SQL lambda `v -> ...`, applied to `vec_col`
    through a one-element transform (SQL text cannot name a Column): as a
    Column tree every plane literal cost a Py4J round trip, thousands per
    call."""
    bits = " + ".join(
        f"CAST(aggregate(zip_with(v, array({', '.join(f'{float(x)!r}D' for x in p)}), "
        f"(x, y) -> x * y), 0.0D, (acc, z) -> acc + z) > 0 AS BIGINT) * {1 << i}"
        for i, p in enumerate(planes)
    )
    fold = F.expr(f"v -> CAST(0 AS BIGINT) + {bits}")
    return F.element_at(F.call_function("transform", F.array(vec_col), fold), 1)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket."""
    planes = hyperplanes(n_planes, dim=len(query_vec))
    qv = np.array(query_vec, dtype=np.float64)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ qv) > 0))
    v = F.col(vec_col).cast("array<double>")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.withColumn("bucket", lsh_bucket_expr(v, planes))
        .where(F.col("bucket") == q_bucket)
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def lsh_topk_sql(query_vec: list[float], k: int = 10, n_planes: int = 8) -> str:
    planes = hyperplanes(n_planes, dim=len(query_vec))
    qv = np.array(query_vec, dtype=np.float64)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ qv) > 0))

    def lit(arr):
        return "[" + ", ".join(f"{float(x)!r}" for x in arr) + "]::DOUBLE[]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    q = lit(query_vec)
    return (
        f"SELECT vec_id, round({_sql_cos('embedding::DOUBLE[]', q)}, 6) "
        f"AS cos_sim "
        f"FROM embeddings WHERE ({bucket}) = {q_bucket} "
        f"ORDER BY cos_sim DESC, vec_id LIMIT {k}"
    )


def probe_lists(
    centroids: "np.ndarray", query_vec, nprobe: int
) -> list[int]:
    """The query's nprobe nearest coarse lists (1-based), cosine-ranked
    with the engine-shared 6-dp round + index tie-break. ONE implementation
    on purpose: the Spark queries and their driver-side SQL goldens must
    rank probes identically or oracle rows silently diverge."""
    qv = np.asarray(query_vec, dtype=np.float64)

    def cos_np(c):
        den = max(np.linalg.norm(c) * np.linalg.norm(qv), 1e-300)
        return round(float(c @ qv / den), 6)

    return sorted(
        range(1, len(centroids) + 1), key=lambda i: (-cos_np(centroids[i - 1]), i)
    )[:nprobe]


def cos_array(v, centroids: "np.ndarray", nv=None):
    """Array of cosine(v, centroid_i) rounded to 6dp — THE engine
    convention for centroid ranking (round-before-compare, 6dp,
    greatest(den, 1e-300) zero-norm floor), shared by ivf_assign and
    semantic k-means/pruning so a change to the guard or precision can
    never desynchronize one consumer's Spark/DuckDB/numpy parity from
    another's. Centroid norms fold to driver-side float constants.

    Pass `nv` (a staged |v| column) to share the row norm across the K
    per-centroid cosines — higher-order-function aggregates are interpreted
    (no codegen CSE), so an unstaged |v| re-aggregates K times."""
    if nv is None:
        nv = _norm(v)
    return F.array(
        *[
            F.round(
                _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                / F.greatest(
                    nv
                    * F.lit(
                        float(np.linalg.norm(np.asarray(c, dtype=np.float64)))
                    ),
                    F.lit(1e-300),
                ),
                6,
            )
            for c in centroids
        ]
    )


def ivf_assign(v, centroids: "np.ndarray", nv=None):
    """IVF coarse quantization: 1-based index of the nearest centroid by
    cosine, rounded to 6dp before the argmax so the Spark and DuckDB plans
    (different summation orders) agree bit-for-bit; ties break to the first
    index in both engines (array_position / list_indexof).

    Pass `nv` (a staged |v| column) to share the row norm across the K
    per-centroid cosines. Measured ~2x on a 1M x 64 scan with 16 centroids
    (35 s -> 18 s); the remaining cost is the K interpreted HOF dot
    products themselves (unrolling K*dim literal products would codegen but
    risks the JVM method-size limit; the ivfpq_topk Arrow stage is the fast
    path when K dots dominate)."""
    cos_arr = cos_array(v, centroids, nv)
    return F.array_position(cos_arr, F.array_max(cos_arr))


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest centroid
    (coarse quantizer — a fixed codebook, trained offline like a real IVF
    index), probe the query's `nprobe` closest lists, exact-cosine re-rank
    inside them. One narrow map + a filter — no shuffle until the global
    top-k (which is a tree-reduce of per-partition top-k under the hood).
    The cast vector and its norm are STAGED projections (multi-referenced
    non-cheap aliases survive CollapseProject) so the K+1 cosines share
    them instead of re-aggregating per centroid."""
    qv = np.array(query_vec, dtype=np.float64)
    probe = probe_lists(centroids, qv, nprobe)
    staged = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select("*", _norm(F.col("_v")).alias("_nv"))
    v, nv = F.col("_v"), F.col("_nv")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    q_norm = float(np.linalg.norm(qv))
    return (
        staged.withColumn("ivf_list", ivf_assign(v, centroids, nv=nv))
        .where(F.col("ivf_list").isin(*probe))
        .select(
            F.col(id_col),
            F.round(
                _dot(v, q) / F.greatest(nv * F.lit(q_norm), F.lit(1e-300)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _sql_lit(arr) -> str:
    return "[" + ", ".join(f"{float(x)!r}" for x in arr) + "]::DOUBLE[]"


def _sql_cos(a: str, b: str) -> str:
    # greatest(..., 1e-300): same zero-norm convention as cosine()/
    # _coarse_cos — a zero vector scores exactly 0.0 instead of NULL
    return (
        f"list_dot_product({a}, {b}) / "
        f"greatest(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})), 1e-300)"
    )


def ivf_topk_sql(
    query_vec: list[float], centroids: "np.ndarray", k: int = 10, nprobe: int = 4
) -> str:
    probe = probe_lists(centroids, query_vec, nprobe)
    cos_list = ", ".join(
        f"round({_sql_cos('embedding::DOUBLE[]', _sql_lit(c))}, 6)" for c in centroids
    )
    q = _sql_lit(query_vec)
    return (
        f"WITH a AS (SELECT vec_id, embedding, list_value({cos_list}) AS cl FROM embeddings) "
        f"SELECT vec_id, round({_sql_cos('embedding::DOUBLE[]', q)}, 6) AS cos_sim "
        f"FROM a WHERE list_indexof(cl, list_aggregate(cl, 'max')) IN "
        f"({', '.join(map(str, probe))}) "
        f"ORDER BY cos_sim DESC, vec_id LIMIT {k}"
    )


def derived_n_planes(
    n_vectors: int,
    target_bucket_size: int = 64,
    min_planes: int = 4,
    max_planes: int = 40,
) -> int:
    """Plane count that scales with corpus size: expected bucket occupancy
    N/2^p ≈ target_bucket_size keeps the within-bucket exact-cosine pair work
    ~linear in N (p = ceil(log2(N/target))). A fixed plane count is the
    classic sign-LSH scale trap: 8 planes = 256 buckets = O(N²/256) pairs.
    More planes lower recall for moderately-similar pairs — acceptable for
    NEAR-DUP detection (near-identical vectors agree on almost every
    hyperplane sign); pass fewer planes when recall at lower similarity
    matters."""
    import math

    if n_vectors <= 0:
        return min_planes
    p = math.ceil(math.log2(max(n_vectors / target_bucket_size, 1.0)))
    return int(min(max_planes, max(min_planes, p)))


def parquet_rowcount(df: DataFrame) -> int | None:
    """Row count of a parquet-backed frame from file FOOTERS only (driver-
    side metadata, no Spark job, no data scan). None when the frame isn't a
    plain local parquet scan — note this counts the FILES, so a filtered
    frame gets the pre-filter count (an upper bound, which is exactly right
    for deriving LSH plane counts). The Iceberg analogue is snapshot
    row-count stats."""
    try:
        # a multi-relation plan (join/union of file-backed frames) would sum
        # ALL inputs' files — only a single-leaf plan is a row-count witness
        if df._jdf.queryExecution().analyzed().collectLeaves().size() != 1:
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    import os

    import pyarrow.parquet as pq

    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        if not os.path.exists(path):
            return None  # non-local FS: let the caller fall back
        try:
            total += pq.read_metadata(path).num_rows
        except Exception:
            return None
    return total


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, cos_sim): bucket by
    sign-LSH, then score within buckets with within_bucket_pairs (the
    near-dup variant of lsh_topk; one shuffle).

    n_planes=None derives the plane count from the corpus size
    (derived_n_planes) so bucket occupancy, and with it the quadratic
    within-bucket work, stays bounded as the corpus grows. The size comes
    from `n_vectors` when given, else parquet footer metadata (no extra
    job), else one count() job as the last resort — the previous
    unconditional count() was a full extra scan of the embeddings at
    corpus scale.

    Only rows with a non-null id and a null-free vector of the planes'
    length are staged: exactly the rows whose bucket is not null."""
    if n_planes is None:
        if n_vectors is None:
            n_vectors = parquet_rowcount(emb)
        if n_vectors is None:
            n_vectors = emb.count()
        n_planes = derived_n_planes(n_vectors)
    planes = hyperplanes(n_planes, dim=EMB_DIM)
    staged = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).where(
        F.expr(
            f"id IS NOT NULL AND size(_v) = {EMB_DIM} "
            "AND NOT exists(_v, x -> x IS NULL)"
        )
    )
    return within_bucket_pairs(
        staged.select("id", "_v", lsh_bucket_expr(F.col("_v"), planes).alias("_key")),
        threshold,
    )


# the pair kernel scores _PAIR_BLOCK rows against the rest of their bucket
# per matmul: a task holds _PAIR_BLOCK x bucket-size doubles at a time
_PAIR_BLOCK = 1024


def _fold_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Row-wise A·B summed left to right over the dimension: the order of
    the JVM _dot fold and of DuckDB's list_dot_product, so a cosine built
    from it is bit-identical to theirs before the round."""
    acc = np.zeros(len(A))
    for k in range(A.shape[1]):
        acc += A[:, k] * B[:, k]
    return acc


def within_bucket_pairs(staged: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cos_sim) for every pair of rows sharing `_key` with
    round(cos, 6) >= threshold and id_a < id_b — the one pair kernel of the
    embedding near-dup stages (embedding_near_dups, semantic_prune).

    `staged` holds (_key, id, _v) with non-null keys and ids and null-free
    vectors of one length per key (a null-key filter here would be pushed
    below the caller's key projection and evaluate the key twice). One
    shuffle on `_key`,
    then one grouped Arrow stage: per bucket a blocked BLAS matmul screens
    every pair 1e-6 below the threshold, and only the survivors are scored
    as dot / max(|a|·|b|, 1e-300) with dots and norms from _fold_dot — the
    association and summation order of cosine() and _sql_cos. So the
    pre-round score is bit-identical to the Spark fold and the DuckDB twins,
    and a pair on the threshold falls the same way in all three (BLAS
    differs from the fold by ~1e-14, far inside the screen's margin). The
    round is numpy's, which differs from Spark's HALF_UP only on an exact
    half-way value. Non-matching pairs are never materialized; NaN scores
    never pair.

    Ids sort within the bucket and the pair mask compares id values, so a
    duplicated id never pairs with itself."""
    import pyarrow as pa

    id_type = staged.schema["id"].dataType.simpleString()
    screen = float(threshold) - 1e-6

    def fn(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.sort_by("id")
        id_arr = tbl.column("id").combine_chunks()
        ids = id_arr.to_numpy(zero_copy_only=False)
        n = len(ids)
        i = j = np.empty(0, dtype=np.int64)
        cos = np.empty(0)
        if n >= 2:
            X = _list_to_mat(tbl.column("_v").combine_chunks())
            nrm = np.sqrt(_fold_dot(X, X))
            ii, jj = [], []
            for lo in range(0, n - 1, _PAIR_BLOCK):
                hi = min(lo + _PAIR_BLOCK, n - 1)  # rows lo..hi-1 vs cols > lo
                den = np.maximum(np.outer(nrm[lo:hi], nrm[lo + 1 :]), 1e-300)
                ri, cj = np.nonzero((X[lo:hi] @ X[lo + 1 :].T) / den >= screen)
                upper = cj >= ri  # strict upper triangle: lo+1+cj > lo+ri
                ii.append(lo + ri[upper])
                jj.append(lo + 1 + cj[upper])
            i, j = np.concatenate(ii), np.concatenate(jj)
            distinct = ids[i] < ids[j]
            i, j = i[distinct], j[distinct]
            cos = np.round(
                _fold_dot(X[i], X[j]) / np.maximum(nrm[i] * nrm[j], 1e-300), 6
            )
            hit = cos >= threshold
            i, j, cos = i[hit], j[hit], cos[hit]
        return pa.table(
            {
                "id_a": id_arr.take(pa.array(i, type=pa.int64())),
                "id_b": id_arr.take(pa.array(j, type=pa.int64())),
                "cos_sim": pa.array(cos, type=pa.float64()),
            }
        )

    return (
        staged.select("_key", "id", "_v")
        .groupBy("_key")
        .applyInArrow(fn, schema=f"id_a {id_type}, id_b {id_type}, cos_sim double")
    )


# ---------------------------------------------------------------------------
# text -> embedding bridge: deterministic hashing-trick token projection, so
# the semantic-dedup path runs end-to-end from `documents` alone (no
# pregenerated embeddings table needed)
# ---------------------------------------------------------------------------


def text_embedding(
    docs: DataFrame,
    dim: int = EMB_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(vec_id, embedding): hashing-trick token embedding — each lowercased
    [a-z0-9]+ token t adds sign(t) to coordinate bucket(t), with
    bucket = h32(t) % dim and sign = ±1 from h32(t || ':s') % 2 (the
    cross-engine md5 hash family, so the DuckDB twin is exact). Coordinates
    are INTEGER-valued sums, making the result independent of summation
    order — no float-reduction-order parity risk.

    Scale shape: one explode + two partial-agg shuffles ((id, bucket) then
    id) — the same per-token cost profile as the SimHash signature stage;
    no per-row Python, no O(dim x tokens) interpreted lambda (the map
    lookup assembles the dense vector from the ≤dim populated buckets).
    Docs with zero tokens are dropped (a zero vector has no cosine
    direction; exact dedup owns empty docs)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    from ocr_spark.operators.text_analysis import h32

    e = docs.select(F.col(id_col).alias("vec_id"), F.explode(toks).alias("_t"))
    b = e.select(
        "vec_id",
        F.pmod(h32(F.col("_t")), F.lit(dim)).alias("_b"),
        F.when(
            F.pmod(h32(F.concat(F.col("_t"), F.lit(":s"))), F.lit(2)) == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("_s"),
    )
    g = b.groupBy("vec_id", "_b").agg(F.sum("_s").alias("_v"))
    m = g.groupBy("vec_id").agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        # keys are LONG (pmod of h32); the sequence yields INT — cast so
        # the map lookup type-checks
        lambda d: F.coalesce(
            F.element_at(F.col("_m"), d.cast("long")), F.lit(0.0)
        ),
    )
    return m.select("vec_id", emb.alias("embedding"))


def text_embedding_sql(
    src: str = "SELECT doc_id, text FROM documents", dim: int = EMB_DIM
) -> str:
    """DuckDB twin of text_embedding over `src` (a subquery yielding
    (doc_id, text)) — same hash family, same integer-sum coordinates."""
    from ocr_spark.operators.text_analysis import h32_sql

    return f"""
WITH src AS ({src}),
tok AS (SELECT doc_id AS vec_id,
               unnest(list_filter(regexp_split_to_array(lower(text),
                      '[^a-z0-9]+'), x -> x <> '')) AS t
        FROM src),
bs AS (SELECT vec_id, {h32_sql('t')} % {dim} AS b,
              CASE WHEN {h32_sql("(t || ':s')")} % 2 = 0
                   THEN 1.0 ELSE -1.0 END AS s
       FROM tok),
g AS (SELECT vec_id, b, sum(s) AS v FROM bs GROUP BY vec_id, b),
m AS (SELECT vec_id, map_from_entries(list(struct_pack(k := b, v := v))) AS m
      FROM g GROUP BY vec_id)
SELECT vec_id, list_transform(range(0, {dim}),
       d -> coalesce(map_extract(m, d)[1], 0.0)) AS embedding
FROM m
""".strip()


# ---------------------------------------------------------------------------
# ANN recall harness: recall@k of the approximate paths vs exact cosine
# ---------------------------------------------------------------------------


def ann_recall(
    emb: DataFrame,
    query_vecs: list[list[float]],
    centroids: "np.ndarray | None" = None,
    k: int = 10,
    n_planes: int = 8,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k of each approximate method vs brute-force exact cosine on
    the SAME frame, emitted as a DataFrame so recall regressions surface as
    a correctness row instead of silence: one row per (method, query) with
    (method, query_id, n_hits, recall_at_k).

    Methods: 'lsh' always; 'ivf' when `centroids` is given. Each cell is
    |approx_topk ∩ exact_topk| / k with the engines' shared deterministic
    tie-break (cos desc, id asc).

    Scale shape: BATCHED — ONE scan of the corpus computes every probe's
    cosine, the sign-LSH bucket (once per row, shared by all probes) and the
    IVF list assignment (once per row), then explodes only the surviving
    (method, query) candidates into a narrow (method, query_id, id, cos)
    frame ranked by one window. The wide embedding column never shuffles;
    the shuffle carries ≤ |probes|·N 24-byte rows (approx arms are bucket-
    pruned far below N). The unbatched alternative is 2–3 scans per probe.
    Run it over a sampled frame (`emb.sample(...)`) for routine regression
    checks at corpus scale."""
    from pyspark.sql import Window

    if not query_vecs:
        raise ValueError("query_vecs must be non-empty")
    planes = hyperplanes(n_planes, dim=len(query_vecs[0]))
    v = F.col(vec_col).cast("array<double>")
    qvs_np = [np.array(qv, dtype=np.float64) for qv in query_vecs]
    q_buckets = [
        int(sum((1 << i) for i, p in enumerate(planes) if float(p @ qv) > 0))
        for qv in qvs_np
    ]
    methods = ["lsh"] + (["ivf"] if centroids is not None else [])
    if centroids is not None:
        probes = [probe_lists(centroids, qv, nprobe) for qv in qvs_np]

    # one wide projection: per-probe cosine + shared bucket/list assignment.
    # The cast vector and its norm are STAGED (ivf_topk's trick): HOF
    # aggregates are interpreted, so every probe cosine and all K centroid
    # cosines would otherwise re-aggregate |v| from scratch.
    staged = emb.select(
        F.col(id_col), v.alias("_v")
    ).select("*", _norm(F.col("_v")).alias("_nv"))
    sv, nv = F.col("_v"), F.col("_nv")
    cols = [F.col(id_col)]
    for qi, qv in enumerate(query_vecs):
        q = F.array(*[F.lit(float(x)) for x in qv])
        qn_const = float(np.linalg.norm(np.asarray(qv, dtype=np.float64)))
        cols.append(
            F.round(
                _dot(sv, q) / F.greatest(nv * F.lit(qn_const), F.lit(1e-300)),
                6,
            ).alias(f"_cos{qi}")
        )
    cols.append(lsh_bucket_expr(sv, planes).alias("_bucket"))
    if centroids is not None:
        cols.append(ivf_assign(sv, centroids, nv=nv).alias("_ivf"))
    base = staged.select(*cols)

    # candidate entries: (method, query_id, cos) kept when the row survives
    # that method's pruning for that probe; 'exact' always survives
    entries = []
    for qi in range(len(query_vecs)):
        c = F.col(f"_cos{qi}")
        entries.append(
            F.struct(
                F.lit("exact").alias("method"),
                F.lit(qi).alias("query_id"),
                c.alias("cos_sim"),
                F.lit(True).alias("keep"),
            )
        )
        entries.append(
            F.struct(
                F.lit("lsh").alias("method"),
                F.lit(qi).alias("query_id"),
                c.alias("cos_sim"),
                (F.col("_bucket") == F.lit(q_buckets[qi])).alias("keep"),
            )
        )
        if centroids is not None:
            entries.append(
                F.struct(
                    F.lit("ivf").alias("method"),
                    F.lit(qi).alias("query_id"),
                    c.alias("cos_sim"),
                    F.col("_ivf").isin(*probes[qi]).alias("keep"),
                )
            )
    cand = base.select(
        F.col(id_col),
        F.explode(F.filter(F.array(*entries), lambda s: s["keep"])).alias("e"),
    ).select(id_col, "e.method", "e.query_id", "e.cos_sim")

    w = Window.partitionBy("method", "query_id").orderBy(
        F.desc("cos_sim"), F.col(id_col)
    )
    topk = cand.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    exact = topk.where(F.col("method") == "exact").select("query_id", id_col)
    approx = topk.where(F.col("method") != "exact").select(
        "method", "query_id", id_col
    )
    hits = (
        approx.join(exact, ["query_id", id_col])
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # (method, query) cells with zero overlap must still emit a row
    grid = emb.sparkSession.createDataFrame(
        [(m, qi) for qi in range(len(query_vecs)) for m in sorted(methods)],
        "method string, query_id int",
    )
    return grid.join(hits, ["method", "query_id"], "left").select(
        "method",
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) / F.lit(float(k)), 6
        ).alias("recall_at_k"),
    )


def ann_recall_sql(
    query_vecs: list[list[float]],
    centroids: "np.ndarray | None" = None,
    k: int = 10,
    n_planes: int = 8,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of ann_recall over the pre-registered `embeddings` view,
    composed from the per-method *_topk_sql twins."""
    parts = []
    for qi, qv in enumerate(query_vecs):
        exact = cosine_topk_sql(qv, k=k)
        methods = {"lsh": lsh_topk_sql(qv, k=k, n_planes=n_planes)}
        if centroids is not None:
            methods["ivf"] = ivf_topk_sql(qv, centroids, k=k, nprobe=nprobe)
        for m, sql in sorted(methods.items()):
            parts.append(
                f"SELECT '{m}' AS method, {qi} AS query_id, "
                f"count(*)::BIGINT AS n_hits, "
                f"round(count(*) / {float(k)!r}, 6) AS recall_at_k "
                f"FROM ({sql}) a JOIN ({exact}) e USING (vec_id)"
            )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (the memory-scale path)
# ---------------------------------------------------------------------------
#
# IVF prunes WORK (probe nprobe/n_lists of the corpus) but still reads full
# vectors. Product quantization prunes MEMORY: a 64-dim float32 vector
# (256 B) becomes m_sub uint8 codes (8 B at m_sub=8) against per-subspace
# codebooks, and query scoring is additive table lookups (ADC), never a
# full dot product. At 100 TB of embeddings that is the difference between
# an index that fits executor memory and one that doesn't. Scheme (public
# Jégou/Douze/Schmid IVFADC): coarse-quantize to the nearest centroid,
# PQ-encode the RESIDUAL, approx_ip(q, x) = q·c_list + Σ_m T_m[code_m]
# with T_m = codebook_m @ q_m precomputed once per query. Scores are
# normalized by the exact vector norms (available at encode time) so the
# ranking is comparable with the cosine family. Everything is seeded and
# float64-deterministic, so the query has a numpy-golden VALUES oracle.


def pq_train(
    X: "np.ndarray", m_sub: int = 8, n_codes: int = 16, iters: int = 8,
    seed: int = 13,
) -> "np.ndarray":
    """Train PQ codebooks (m_sub, n_codes, d/m_sub) by per-subspace k-means
    (seeded init, Lloyd iterations, empty clusters keep their previous
    centroid). Driver-side over a bounded training sample — exactly how a
    real IVF-PQ index is trained offline; the result is a small ndarray
    broadcast into the scoring stage's closure."""
    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub {m_sub}")
    dsub = d // m_sub
    rs = np.random.RandomState(seed)
    books = np.empty((m_sub, n_codes, dsub))
    for m in range(m_sub):
        S = X[:, m * dsub : (m + 1) * dsub]
        C = S[rs.choice(n, size=n_codes, replace=n < n_codes)].copy()
        for _ in range(iters):
            a = ((S[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            for c in range(n_codes):
                pts = S[a == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books[m] = C
    return books


def pq_train_residual(
    X: "np.ndarray",
    centroids: "np.ndarray",
    m_sub: int = 8,
    n_codes: int = 16,
    iters: int = 8,
    seed: int = 13,
) -> "np.ndarray":
    """Train PQ codebooks on coarse-assignment RESIDUALS — what IVFADC
    actually quantizes. Training on raw vectors instead puts every codeword
    out in the data cloud while the residuals live near the origin, so the
    ADC term becomes noise that swamps the ranking (measured recall@10
    collapsing 0.7+ -> 0.1 on a clustered corpus)."""
    X = np.asarray(X, dtype=np.float64)
    assign = _coarse_cos(X, centroids).argmax(1)
    return pq_train(X - centroids[assign], m_sub=m_sub, n_codes=n_codes,
                    iters=iters, seed=seed)


def _list_to_mat(arr) -> "np.ndarray":
    """pyarrow List<float> column -> (n, d) float64 matrix without per-row
    Python: flatten the values buffer and reshape via the offsets. Callers
    must drop null/empty rows first (see _valid_vec_mask) — a ragged or
    0-row stack raises here by design rather than silently padding."""
    import numpy as np

    if len(arr) == 0:
        return np.empty((0, 0))
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    widths = np.diff(offs)
    if len(widths) and (widths == widths[0]).all():
        return flat[offs[0] : offs[-1]].reshape(len(widths), widths[0])
    return np.stack([np.asarray(x, dtype=np.float64) for x in arr.to_pylist()])


def _coarse_cos(X: "np.ndarray", centroids: "np.ndarray") -> "np.ndarray":
    """Rounded cosine of every row against every coarse centroid — the same
    6-dp round + first-max-wins assignment as the JVM ivf_assign expr."""
    # BOTH norms floored: an unguarded zero-norm centroid (k-means can
    # collapse a cluster to 0 on corpora with zero vectors) made its whole
    # cosine column NaN, and NaN wins numpy argmax — diverging from the
    # guarded Spark ivf_assign, which scores it 0.0
    cn = np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-300)
    nrm = np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    return np.round((X / nrm) @ (centroids / cn).T, 6)


def pq_codes(X: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """(n, d) -> (n, m_sub) uint8 nearest-codeword indices per subspace."""
    m_sub, n_codes, dsub = books.shape
    codes = np.empty((len(X), m_sub), dtype=np.uint8)
    for m in range(m_sub):
        S = X[:, m * dsub : (m + 1) * dsub]
        codes[:, m] = ((S[:, None, :] - books[m][None]) ** 2).sum(-1).argmin(1)
    return codes


def ivfpq_scores_np(
    ids: "np.ndarray",
    X: "np.ndarray",
    qv: "np.ndarray",
    centroids: "np.ndarray",
    books: "np.ndarray",
    probe: list[int],
) -> tuple["np.ndarray", "np.ndarray"]:
    """The shared scoring core (executor batches AND the driver-side golden
    run the same code): coarse-assign, keep probed lists, PQ-encode the
    residual, ADC-score, normalize by exact norms. Returns (ids, scores)."""
    if len(X) == 0:
        return ids[:0], np.empty(0)
    m_sub, n_codes, dsub = books.shape
    assign = _coarse_cos(X, centroids).argmax(1) + 1  # 1-based, ties -> first
    keep = np.isin(assign, probe)
    if not keep.any():
        return ids[:0], np.empty(0)
    Xk, ak = X[keep], assign[keep] - 1
    R = Xk - centroids[ak]
    codes = pq_codes(R, books)
    T = np.stack(
        [books[m] @ qv[m * dsub : (m + 1) * dsub] for m in range(m_sub)]
    )  # (m_sub, n_codes) ADC lookup tables
    ip = (centroids[ak] @ qv) + T[np.arange(m_sub)[:, None], codes.T].sum(0)
    # zero-norm vectors (zeroed-out failed encodes) score 0, not ±inf: the
    # quantized ip is quantization noise for them, and an unguarded divide
    # poisons the top-k with inf (and the SQL golden with unparseable
    # literals). A directionless vector has cosine 0 by convention.
    den = np.linalg.norm(Xk, axis=1) * np.linalg.norm(qv)
    score = np.divide(ip, den, out=np.zeros_like(ip), where=den > 0)
    return ids[keep], np.round(score, 6)


def ivfpq_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids: "np.ndarray",
    books: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k: one vectorized Arrow stage scores every
    probed-list vector by ADC (codes computed on the fly here; persist them
    with pq_codes for a real index), then a TakeOrdered tree-reduce picks
    the global top-k — no shuffle of the wide embedding column at any
    point. Output: (id_col, pq_score)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    probe = probe_lists(centroids, qv, nprobe)
    id_type = emb.schema[id_col].dataType.simpleString()
    src = emb.select(id_col, vec_col)

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows == 0:
                continue
            # drop null vectors (they can't rank) — a null row would also
            # make the flatten/stack ragged and kill the task
            valid = pc.is_valid(b.column(1))
            if not pc.all(valid).as_py():
                b = b.filter(valid)
                if b.num_rows == 0:
                    continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            X = _list_to_mat(b.column(1))
            kid, ks = ivfpq_scores_np(ids, X, qv, centroids, books, probe)
            if len(kid):
                yield pa.RecordBatch.from_pydict(
                    {id_col: kid, "pq_score": ks}
                )

    scored = src.mapInArrow(gen, schema=f"{id_col} {id_type}, pq_score double")
    return scored.orderBy(F.desc("pq_score"), F.col(id_col)).limit(k)
