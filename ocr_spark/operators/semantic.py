"""Semantic pruning over embedding columns: spherical k-means training +
SemDeDup-style cluster-bucketed near-duplicate pruning.

Public methods only: SemDeDup is Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication" (arXiv 2303.09540);
spherical k-means is Dhillon & Modha 2001. Reference parity anchor: the
reference app dedups per-document results by engine choice
(ocr_workflow_orchestrator.py:186-204 picks ONE engine's output per doc);
this is the corpus-scale generalization the task directive's
"embedding-cosine near-dup" bullet asks for.

Why a SECOND embedding-dedup shape next to similarity.embedding_near_dups
(sign-LSH): the LSH path's candidate count is governed by the plane count
and finds pairs anywhere in the space; SemDeDup's shape buckets the corpus
ONCE with a fixed k-means codebook, so pair generation is bounded per
cluster (sum n_i^2 instead of n^2) and the keep rule is the paper's
semantic one — from each duplicate clique keep the example FARTHEST from
its cluster centroid (low-similarity examples carry the most information;
the near-centroid members are the redundant ones). Both shapes score pairs
with the same kernel (similarity.within_bucket_pairs) and share
dedup_clusters for clique resolution, so pair scoring and cluster-resolution
scale behavior (driver union-find below a pair budget, large/small-star
above it) are identical.

Scale shape at 10^12 docs:
  * `kmeans_train` — per iteration ONE map-side-combined shuffle of
    k x dim integer keys (the corpus never shuffles); centroid updates are
    INT64 micro-unit sums, so trained centroids are bit-identical under any
    partitioning/layout (float partial-sum order cannot perturb them — the
    corpus_clean integer policy applied to training).
  * `semantic_prune` — one narrow map for assignment (the staged-projection
    ivf_assign pattern from similarity.py), ONE shuffle on the cluster key
    into the grouped pair kernel, clique resolution on the (small)
    duplicate subgraph, and a final broadcast keeper join. `max_cluster`
    sub-buckets oversized clusters by a doc-id hash — the same
    cap-vs-recall guard as jaccard's shingle_freq_cap (pairs across
    sub-buckets of one oversized cluster are missed, probability
    (1 - 1/n_sub); real codebooks size k so clusters stay ~n/k).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import dedup_clusters
from ocr_spark.operators.similarity import _norm, cos_array, within_bucket_pairs
from ocr_spark.operators.text_analysis import h32

_MICRO = 1_000_000


def _staged_vec(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, _v, _nv) with the vector cast and its norm STAGED (multi-
    referenced non-cheap aliases survive CollapseProject — the similarity.py
    lesson: interpreted HOF aggregates get no codegen CSE, so an unstaged
    norm re-aggregates once per consumer). Null ids, null/empty vectors AND
    vectors containing a null element are excluded — they can neither train
    nor pair (an element-null row would otherwise null every per-centroid
    cosine: the expr argmax yields a null label that crashes the kmeans
    driver update, while the Arrow matmul turns it into NaN — diverging
    assignments for the same input)."""
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .where(
            F.col("id").isNotNull()
            & F.col("_v").isNotNull()
            & (F.size("_v") > 0)
            & ~F.exists("_v", lambda x: x.isNull())
        )
        .select("id", "_v", _norm(F.col("_v")).alias("_nv"))
    )


# above this many centroid*dim literals the expression-tree assignment is
# the wrong tool (plan bloat, JVM method-size risk — the ivf_assign caveat);
# the Arrow matmul path is flat in k. Real SemDeDup codebooks are 10^4-10^5
# clusters, firmly on the Arrow side; the driver-fixture k=16 stays on the
# codegen side.
_ARROW_ASSIGN_CELLS = 4096


def _assign_arrow(src: DataFrame, centroids: "np.ndarray") -> DataFrame:
    """(id, _v, ivf_list, centroid_sim) via ONE vectorized Arrow stage: the
    broadcast (k, dim) codebook rides the closure, assignment is a numpy
    matmul per batch — flat in k where the literal-expression path grows
    the plan tree by k x dim nodes. Shares _coarse_cos's CONVENTION (6dp
    round, zero-norm guard, first-max tie) with the expr path; the two
    paths associate the floating-point cosine differently before the round
    (JVM dot/|v||c| vs numpy normalized-row matmul), so a 1-ulp pre-round
    difference can in principle flip an argmax between two centroids tied
    at 6dp. Agreement is asserted on the test fixtures, but bit-stability
    across the two paths is NOT a contract; the path is a function of the
    codebook's size alone (_resolve_assign), so one codebook always assigns
    through the same path. Rows must be pre-filtered to non-null ids and
    non-empty, null-free vectors (_staged_vec does)."""
    import pyarrow as pa

    from ocr_spark.operators.similarity import _coarse_cos, _list_to_mat

    id_type = src.schema["id"].dataType.simpleString()
    C = np.ascontiguousarray(centroids, dtype=np.float64)

    def gen(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _list_to_mat(b.column(1))
            cos = _coarse_cos(X, C)
            lab = (cos.argmax(1) + 1).astype(np.int32)
            sim = cos.max(1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    b.column(1),
                    pa.array(lab, type=pa.int32()),
                    pa.array(sim, type=pa.float64()),
                ],
                names=["id", "_v", "ivf_list", "centroid_sim"],
            )

    return src.select("id", "_v").mapInArrow(
        gen,
        schema=(
            f"id {id_type}, _v array<double>, "
            "ivf_list int, centroid_sim double"
        ),
    )


def _resolve_assign(centroids: "np.ndarray") -> str:
    """'arrow' above _ARROW_ASSIGN_CELLS centroid*dim cells, else 'expr'
    (the zero-Python codegen path, whose expression tree grows by k x dim
    nodes and hits JVM method-size limits on large codebooks)."""
    return "arrow" if centroids.size > _ARROW_ASSIGN_CELLS else "expr"


def kmeans_train(
    emb: DataFrame,
    k: int = 16,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: dict | None = None,
) -> "np.ndarray":
    """Spherical k-means (cosine assignment, mean update) over the
    embeddings frame; returns a (k, dim) float64 codebook rounded to 6dp —
    the same offline-trained-literal contract ivf_topk/ivfpq_topk consume.

    Deterministic BY CONSTRUCTION, independent of partitioning:
      * init = the k rows with the smallest (h32(id), id) — a pure function
        of the data, not of row order;
      * assignment = the shared 6dp-rounded cosine argmax (first index wins
        ties, the ivf_assign convention);
      * update = INT64 micro-unit partial sums (floor(x * 1e6)) — integer
        addition is order-independent, so two runs over different layouts
        produce bit-identical centroids (asserted in tests). Per iteration
        the shuffle moves only k x dim aggregation keys (map-side combined);
        the corpus is scanned, never shuffled.

    Empty clusters keep their previous centroid (the standard Lloyd
    convention). Early-stops when an iteration changes nothing; stats (when
    given) receives {'iters_run': i, 'converged': bool}."""
    if k <= 0:
        raise ValueError("k must be positive")
    staged = _staged_vec(emb, id_col, vec_col).persist()
    try:
        init_rows = (
            staged.select(
                "_v", h32(F.col("id").cast("string")).alias("_h"), F.col("id")
            )
            .orderBy("_h", "id")
            .limit(k)
            .collect()
        )
        if len(init_rows) < k:
            raise ValueError(
                f"k={k} but only {len(init_rows)} usable vectors "
                "(null ids / null vectors are excluded)"
            )
        dim = len(init_rows[0]["_v"])
        centroids = np.round(
            np.array([r["_v"] for r in init_rows], dtype=np.float64), 6
        )
        converged = False
        it = 0
        for it in range(1, iters + 1):
            if _resolve_assign(centroids) == "arrow":
                assigned = _assign_arrow(staged, centroids).select(
                    F.col("ivf_list").alias("_l"), F.col("_v")
                )
            else:
                arr = cos_array(F.col("_v"), centroids, nv=F.col("_nv"))
                assigned = staged.select(
                    F.array_position(arr, F.array_max(arr)).cast("int").alias("_l"),
                    F.col("_v"),
                )
            rows = (
                assigned.select(
                    "_l",
                    F.posexplode(
                        F.transform(
                            "_v", lambda x: F.floor(x * _MICRO).cast("long")
                        )
                    ).alias("_d", "_q"),
                )
                .groupBy("_l", "_d")
                .agg(F.sum("_q").alias("s"), F.count(F.lit(1)).alias("c"))
                .collect()
            )
            nxt = centroids.copy()
            for li in {r["_l"] for r in rows}:
                nxt[li - 1] = 0.0
            for r in rows:
                nxt[r["_l"] - 1][r["_d"]] = round(
                    r["s"] / _MICRO / r["c"], 6
                )
            if np.array_equal(nxt, centroids):
                converged = True
                break
            centroids = nxt
        if stats is not None:
            stats["iters_run"] = it
            stats["converged"] = converged
            stats["dim"] = dim
        return centroids
    finally:
        staged.unpersist()


def semantic_prune(
    emb: DataFrame,
    centroids: "np.ndarray",
    eps: float = 0.95,
    keep: str = "far_centroid",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup over a fixed codebook: assign every vector to its nearest
    centroid, generate candidate pairs ONLY within a cluster (cosine >= eps,
    6dp-rounded), resolve pairs to cliques with dedup_clusters, and keep one
    member per clique.

    keep='far_centroid' (the paper's rule): the member with the LOWEST
    similarity to its cluster centroid survives (ties -> smallest id) — the
    redundant near-centroid copies are pruned. keep='min_id' keeps the
    clique representative (the near_dedup convention; skips the ranking
    window entirely).

    Returns ALL input rows (null-id / null-vector rows excluded) as
      (id, ivf_list, centroid_sim, rep, is_kept)
    rep is null for docs in no clique (always kept) — auditable the same
    way rule_filter's reasons are.

    max_cluster: oversized clusters (> max_cluster members) are sub-
    bucketed by h32(id) before pair generation so no single skewed cluster
    produces a quadratic straggler; cross-sub-bucket pairs inside such a
    cluster are missed (documented recall trade, mirrors
    jaccard_pairs(shingle_freq_cap)). Cluster sizes are k driver-side
    counts — the broadcast-analogue pattern.

    The assignment stage is persisted (it feeds pair generation, keeper
    ranking and the audit join); pass stats= and release it with
    corpus.unpersist_stages(stats) after materializing the output — the
    corpus_pipeline cache-discipline contract."""
    staged, cliques, keepers = _prune_parts(
        emb,
        centroids,
        eps=eps,
        keep=keep,
        id_col=id_col,
        vec_col=vec_col,
        max_cluster=max_cluster,
        stats=stats,
    )
    # attaching rep to EVERY row costs one corpus equi-join (the audit
    # contract); AQE broadcasts the clique side when the dup subgraph is
    # small. The keep/drop composition (semantic_dedup) skips this join —
    # its drop set derives from the subgraph alone.
    flagged = staged.select("id", "ivf_list", "centroid_sim").join(
        cliques.select(F.col("id"), F.col("rep")), "id", "left"
    )
    if keep == "min_id":
        # dedup_clusters' rep IS the smallest clique id
        return flagged.select(
            "id",
            "ivf_list",
            "centroid_sim",
            "rep",
            (F.col("rep").isNull() | (F.col("id") == F.col("rep"))).alias(
                "is_kept"
            ),
        )
    return flagged.join(
        F.broadcast(keepers), flagged["rep"] == keepers["_krep"], "left"
    ).select(
        "id",
        "ivf_list",
        "centroid_sim",
        "rep",
        (F.col("rep").isNull() | (F.col("id") == F.col("_kid"))).alias(
            "is_kept"
        ),
    )


def _prune_parts(
    emb: DataFrame,
    centroids: "np.ndarray",
    eps: float,
    keep: str,
    id_col: str,
    vec_col: str,
    max_cluster: int | None,
    stats: dict | None,
):
    """Shared machinery: (staged corpus view, clique labels, keeper-per-
    clique frame — None for keep='min_id', whose keeper IS the rep).

    The codebook's size picks the assignment (_resolve_assign): Arrow for
    large codebooks, else expression. Pairs always come from
    similarity.within_bucket_pairs over the cluster key, whichever
    assignment ran."""
    if keep not in ("far_centroid", "min_id"):
        raise ValueError(f"keep={keep!r}: expected 'far_centroid' or 'min_id'")
    if not (0.0 < eps <= 1.0):
        raise ValueError("eps must be in (0, 1]")
    if _resolve_assign(centroids) == "arrow":
        staged = _assign_arrow(_staged_vec(emb, id_col, vec_col), centroids)
    else:
        arr = cos_array(F.col("_v"), centroids, nv=F.col("_nv"))
        staged = (
            _staged_vec(emb, id_col, vec_col)
            .select("id", "_v", "_nv", arr.alias("_arr"))
            .select(
                "id",
                "_v",
                F.array_position(F.col("_arr"), F.array_max("_arr"))
                .cast("int")
                .alias("ivf_list"),
                F.array_max("_arr").alias("centroid_sim"),
            )
        )
    # the assignment stage (the n*k*dim dominant cost) is consumed by the
    # pair kernel, the keeper-ranking members join, the caller's
    # flagged-audit join, and the max_cluster sizes count — persist it
    # ONCE (the kmeans_train policy). The handle
    # rides stats['persisted'] under the corpus_pipeline contract: call
    # corpus.unpersist_stages(stats) after materializing the output.
    staged = staged.persist()
    if stats is not None:
        stats.setdefault("persisted", []).append(staged)
    if max_cluster is not None:
        if max_cluster < 2:
            raise ValueError("max_cluster must be >= 2")
        # k driver-side counts → a literal list→n_sub map holding ONLY the
        # oversized clusters (an all-k map would re-grow the plan by 2k
        # literal children — the exact bloat _ARROW_ASSIGN_CELLS exists to
        # avoid); element_at misses coalesce to n_sub=1, keeping the key
        # identical for right-sized clusters.
        sizes = {
            r["ivf_list"]: r["n"]
            for r in staged.groupBy("ivf_list").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        oversized = {
            li: -(-n // max_cluster)
            for li, n in sizes.items()
            if n > max_cluster
        }
        if stats is not None:
            stats["oversized_clusters"] = len(oversized)
    else:
        oversized = {}
    if oversized:
        sub_map = F.create_map(
            *[
                x
                for li, ns in sorted(oversized.items())
                for x in (F.lit(li), F.lit(ns))
            ]
        )
        sub = F.pmod(
            h32(F.concat(F.col("id").cast("string"), F.lit(":sp0"))),
            F.coalesce(
                F.element_at(sub_map, F.col("ivf_list")), F.lit(1)
            ),
        )
        staged = staged.withColumn(
            "_key",
            F.concat(F.col("ivf_list").cast("string"), F.lit("/"), sub.cast("string")),
        )
    else:
        staged = staged.withColumn("_key", F.col("ivf_list").cast("string"))
    # a vector whose length differs from the codebook's gets a null label
    # on the expression path: it is in no cluster, so it pairs with nothing
    pairs = within_bucket_pairs(
        staged.where(F.col("_key").isNotNull()), eps
    ).select("id_a", "id_b")
    cliques = dedup_clusters(pairs, stats=stats)
    if keep == "min_id":
        return staged, cliques, None
    # paper rule: one keeper per clique = lowest centroid_sim, tie -> min id.
    # The ranking window runs over the clique SUBGRAPH only (never the
    # corpus); the (rep, keeper) frame is one row per clique — broadcast.
    members = cliques.select("id", "rep").join(
        staged.select("id", "centroid_sim"), "id"
    )
    w = Window.partitionBy("rep").orderBy(
        F.col("centroid_sim").asc(), F.col("id").asc()
    )
    keepers = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("rep").alias("_krep"), F.col("id").alias("_kid"))
    )
    return staged, cliques, keepers


def semantic_dedup(
    docs: DataFrame,
    emb: DataFrame,
    centroids: "np.ndarray",
    eps: float = 0.95,
    keep: str = "far_centroid",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    emb_id_col: str = "vec_id",
    max_cluster: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """The keep/drop composition (near_dedup's contract, SemDeDup flavor):
    docs minus pruned members. The drop set is built from the duplicate
    SUBGRAPH alone (clique members minus the per-clique keeper) — the
    corpus is touched by exactly ONE left_anti equi-join on the id
    (broadcast when the drop set is small; AQE picks), never shuffled or
    re-joined for the audit columns semantic_prune carries. The embeddings
    frame's vector ids must be the doc ids. `max_cluster` and `stats` are
    semantic_prune's."""
    _, cliques, keepers = _prune_parts(
        emb,
        centroids,
        eps=eps,
        keep=keep,
        id_col=emb_id_col,
        vec_col=vec_col,
        max_cluster=max_cluster,
        stats=stats,
    )
    if keepers is None:  # min_id: the rep IS the keeper
        drop = cliques.where(F.col("id") != F.col("rep"))
    else:
        drop = cliques.join(
            F.broadcast(keepers), cliques["rep"] == keepers["_krep"]
        ).where(F.col("id") != F.col("_kid"))
    return docs.join(
        drop.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )

