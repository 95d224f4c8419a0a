"""SemDeDup-style semantic pruning + spherical k-means trainer
(ocr_spark/operators/semantic.py) vs an independent numpy reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.semantic import (
    kmeans_train,
    semantic_dedup,
    semantic_prune,
)

DIM = 8


def _vecs(n=120, seed=11, n_modes=5, dup_pairs=12):
    """Synthetic embeddings: n_modes well-separated direction modes with
    small jitter, plus dup_pairs near-identical pairs (the semantic dups),
    one zero vector and one exact-duplicate triple."""
    rng = np.random.RandomState(seed)
    modes = rng.randn(n_modes, DIM)
    modes /= np.linalg.norm(modes, axis=1, keepdims=True)
    X = np.empty((n, DIM))
    for i in range(n):
        m = modes[i % n_modes]
        X[i] = m + 0.25 * rng.randn(DIM)
    for j in range(dup_pairs):
        a, b = 2 * j, 2 * j + 1
        X[b] = X[a] + 1e-4 * rng.randn(DIM)  # near-identical pair
    X[n - 1] = 0.0  # zero vector
    X[n - 2] = X[n - 3] = X[n - 4]  # exact triple
    return np.round(X, 6)


def _emb_df(spark, X, ids=None, parts=4):
    ids = list(range(len(X))) if ids is None else ids
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(parts)


# ---------------------------------------------------------------------------
# independent numpy reference (same 6dp-round + first-index-tie conventions)
# ---------------------------------------------------------------------------


def _ref_cos(a, b):
    den = max(np.linalg.norm(a) * np.linalg.norm(b), 1e-300)
    return round(float(a @ b / den), 6)


def _ref_assign(X, C):
    out = []
    for v in X:
        sims = [_ref_cos(v, c) for c in C]
        out.append(int(np.argmax(sims)) + 1)  # argmax = first max index
    return np.array(out)


def _ref_kmeans(X, ids, k, iters):
    import hashlib

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    order = sorted(range(len(X)), key=lambda i: (h32(str(ids[i])), ids[i]))
    C = np.round(X[order[:k]].astype(np.float64), 6)
    for _ in range(iters):
        lab = _ref_assign(X, C)
        nxt = C.copy()
        for li in range(1, k + 1):
            members = X[lab == li]
            if len(members):
                q = np.floor(members * 1_000_000).astype(np.int64)
                nxt[li - 1] = np.round(q.sum(axis=0) / 1_000_000 / len(members), 6)
        if np.array_equal(nxt, C):
            break
        C = nxt
    return C


def _ref_prune(X, ids, C, eps, keep):
    lab = _ref_assign(X, C)
    csim = np.array([
        _ref_cos(v, C[lab[i] - 1]) for i, v in enumerate(X)
    ])
    # within-cluster pairs >= eps
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pair_found = set()
    for i in range(len(X)):
        for j in range(i + 1, len(X)):
            if lab[i] != lab[j]:
                continue
            if _ref_cos(X[i], X[j]) >= eps:
                a, b = find(ids[i]), find(ids[j])
                if a != b:
                    parent[max(a, b)] = min(a, b)
                pair_found.add(ids[i])
                pair_found.add(ids[j])
    rep = {
        ids[i]: find(ids[i]) for i in range(len(X)) if ids[i] in pair_found
    }
    by_rep = {}
    for i in range(len(X)):
        if ids[i] in rep:
            by_rep.setdefault(rep[ids[i]], []).append(i)
    kept = {}
    for r, idxs in by_rep.items():
        if keep == "min_id":
            kid = min(ids[i] for i in idxs)
        else:  # far_centroid: lowest centroid_sim, tie -> min id
            kid = min(idxs, key=lambda i: (csim[i], ids[i]))
            kid = ids[kid]
        kept[r] = kid
    out = {}
    for i in range(len(X)):
        r = rep.get(ids[i])
        out[ids[i]] = {
            "ivf_list": int(lab[i]),
            "centroid_sim": float(csim[i]),
            "rep": r,
            "is_kept": r is None or kept[r] == ids[i],
        }
    return out


@pytest.fixture(scope="module")
def data(spark):
    X = _vecs()
    ids = list(range(len(X)))
    emb = _emb_df(spark, X, ids)
    return X, ids, emb


class TestKmeansTrain:
    def test_matches_numpy_reference(self, spark, data):
        X, ids, emb = data
        st = {}
        C = kmeans_train(emb, k=5, iters=6, stats=st)
        C_ref = _ref_kmeans(X, ids, k=5, iters=6)
        assert np.array_equal(C, C_ref)
        assert st["dim"] == DIM and st["iters_run"] >= 1

    def test_layout_independent(self, spark, data):
        X, ids, _ = data
        a = kmeans_train(_emb_df(spark, X, ids, parts=1), k=4, iters=4)
        b = kmeans_train(
            _emb_df(spark, X, ids, parts=13).sort(F.desc("vec_id")), k=4, iters=4
        )
        assert np.array_equal(a, b)  # bit-identical under any layout

    def test_k_exceeds_corpus_raises(self, spark):
        emb = _emb_df(spark, np.eye(DIM)[:3], [1, 2, 3])
        with pytest.raises(ValueError, match="only 3 usable"):
            kmeans_train(emb, k=10)

    def test_null_rows_excluded(self, spark):
        rows = [
            (1, [1.0] * DIM),
            (2, [0.5] * DIM),
            (None, [9.0] * DIM),
            (3, None),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        C = kmeans_train(emb, k=2, iters=2)
        assert C.shape == (2, DIM)


class TestSemanticPrune:
    @pytest.mark.parametrize("keep", ["far_centroid", "min_id"])
    def test_matches_numpy_reference(self, spark, data, keep):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        got = {
            r["id"]: r.asDict()
            for r in semantic_prune(emb, C, eps=0.97, keep=keep).collect()
        }
        want = _ref_prune(X, ids, C, eps=0.97, keep=keep)
        assert set(got) == set(want)
        for i in want:
            assert got[i]["ivf_list"] == want[i]["ivf_list"], i
            assert got[i]["rep"] == want[i]["rep"], i
            assert got[i]["is_kept"] == want[i]["is_kept"], i
            assert abs(got[i]["centroid_sim"] - want[i]["centroid_sim"]) < 1e-9

    def test_exact_triple_keeps_one(self, spark, data):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        out = semantic_prune(emb, C, eps=0.999999).collect()
        n = len(X)
        triple = [r for r in out if r["id"] in (n - 2, n - 3, n - 4)]
        assert sum(r["is_kept"] for r in triple) == 1
        assert len({r["rep"] for r in triple}) == 1

    def test_eps_one_keeps_everything_distinct(self, spark, data):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        out = semantic_prune(emb, C, eps=1.0).collect()
        # only byte-identical directions can reach rounded cosine 1.0
        dropped = [r["id"] for r in out if not r["is_kept"]]
        for d in dropped:
            assert any(
                _ref_cos(X[d], X[o["id"]]) >= 1.0
                for o in out
                if o["is_kept"] and o["rep"] == next(
                    r["rep"] for r in out if r["id"] == d
                )
            )

    def test_max_cluster_subsplit_still_exact_within_buckets(self, spark, data):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=2, iters=4)  # few clusters -> oversized
        st = {}
        out = semantic_prune(emb, C, eps=0.97, max_cluster=20, stats=st).collect()
        assert st["oversized_clusters"] >= 1
        # found pairs are a SUBSET of the unguarded run's pairs (recall
        # trade documented); everything it prunes is a true near-dup
        full = {
            r["id"]: r["rep"]
            for r in semantic_prune(emb, C, eps=0.97).collect()
            if r["rep"] is not None
        }
        for r in out:
            if r["rep"] is not None:
                assert r["id"] in full

    def test_keep_validation(self, spark, data):
        _, _, emb = data
        with pytest.raises(ValueError, match="keep="):
            semantic_prune(emb, np.eye(DIM)[:2], keep="best")
        with pytest.raises(ValueError, match="eps"):
            semantic_prune(emb, np.eye(DIM)[:2], eps=0.0)

    def test_zero_vector_never_pairs(self, spark, data):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        out = {r["id"]: r for r in semantic_prune(emb, C, eps=0.5).collect()}
        z = out[len(X) - 1]  # the zero vector: cosine 0.0 to everything
        assert z["rep"] is None and z["is_kept"]
        assert z["centroid_sim"] == 0.0


class TestSemanticDedup:
    def test_drop_composition(self, spark, data):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        docs = spark.createDataFrame(
            [(int(i), f"doc {i}") for i in ids], "doc_id long, text string"
        )
        n_pruned = {}
        # max_cluster=2 sub-buckets every cluster before pair generation
        for mc in (None, 2):
            kept = semantic_dedup(
                docs, emb, C, eps=0.97, emb_id_col="vec_id", max_cluster=mc
            )
            pruned = semantic_prune(emb, C, eps=0.97, max_cluster=mc)
            n_pruned[mc] = pruned.where(~F.col("is_kept")).count()
            assert kept.count() == len(ids) - n_pruned[mc]
        # sub-bucketing misses cross-bucket pairs: fewer rows pruned
        assert n_pruned[2] < n_pruned[None]
        # plan: the drop side reaches the corpus as ONE left_anti join
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan


@pytest.fixture
def force_arrow(monkeypatch):
    """Call to send every later codebook down the Arrow assignment path (a
    codebook cut of 0 cells); the fixture codebooks are small enough to take
    the expression path by default."""
    from ocr_spark.operators import semantic

    return lambda: monkeypatch.setattr(semantic, "_ARROW_ASSIGN_CELLS", 0)


class TestArrowAssignPath:
    def test_kmeans_arrow_equals_expr(self, spark, data, force_arrow):
        X, ids, emb = data
        a = kmeans_train(emb, k=4, iters=4)
        force_arrow()
        b = kmeans_train(emb, k=4, iters=4)
        assert np.array_equal(a, b)

    def test_prune_arrow_equals_expr(self, spark, data, force_arrow):
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        key = lambda rows: sorted(
            (r["id"], r["ivf_list"], r["rep"], r["is_kept"]) for r in rows
        )
        a = key(semantic_prune(emb, C, eps=0.97).collect())
        force_arrow()
        b = key(semantic_prune(emb, C, eps=0.97).collect())
        assert a == b

    def test_auto_resolution_thresholds(self):
        from ocr_spark.operators.semantic import _resolve_assign

        small = np.zeros((16, 64))  # 1024 cells -> expr
        big = np.zeros((512, 64))  # 32768 cells -> arrow
        assert _resolve_assign(small) == "expr"
        assert _resolve_assign(big) == "arrow"
        # the fixture codebooks (k <= 5) take the expression path by default
        assert _resolve_assign(np.zeros((5, DIM))) == "expr"


class TestGroupedPairPath:
    """Both assignment paths pair through similarity.within_bucket_pairs."""

    @pytest.mark.parametrize("keep", ["far_centroid", "min_id"])
    def test_group_matches_reference(self, spark, data, keep, force_arrow):
        """Dense components (k=3, eps=0.9: ~48 drops onto 14 reps), where
        the keep policy picks among many members; at eps=0.97 nearly every
        component is a twin pair (test_matches_numpy_reference)."""
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=3, iters=6)
        want = _ref_prune(X, ids, C, eps=0.9, keep=keep)
        want = sorted((i, w["rep"], w["is_kept"]) for i, w in want.items())
        key = lambda rows: sorted(
            (r["id"], r["rep"], r["is_kept"]) for r in rows
        )
        assert key(semantic_prune(emb, C, eps=0.9, keep=keep).collect()) == want
        force_arrow()
        assert key(semantic_prune(emb, C, eps=0.9, keep=keep).collect()) == want
        dropped = [r for r in want if not r[2]]
        assert len(dropped) > 2 * len({r[1] for r in dropped})

    def test_duplicated_id_never_pairs_with_itself(self, spark, data):
        """A second row under an existing id, with the same vector, joins
        that id's own clique only through other ids: a lone vector stays
        out of every clique (the kernel masks pairs by id value, not by
        position in the bucket)."""
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        base = {r["id"]: r["rep"] for r in semantic_prune(emb, C, eps=0.97).collect()}
        lone = next(i for i in ids if base[i] is None)
        twin = next(i for i in ids if base[i] is not None and base[i] != i)
        doubled = emb.unionByName(_emb_df(spark, X[[lone, twin]], [lone, twin]))
        got = semantic_prune(doubled, C, eps=0.97).collect()
        assert {r["rep"] for r in got if r["id"] == lone} == {None}
        assert {r["rep"] for r in got if r["id"] == twin} == {base[twin]}
        assert {r["id"]: r["rep"] for r in got} == base

    def test_wrong_length_vectors_never_pair(self, spark, data):
        """Two equal vectors one element short of the codebook's length get
        no cluster on the expression path, so they are no bucket either."""
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        short = _emb_df(spark, np.ones((2, DIM - 1)), [10_000, 10_001])
        got = {
            r["id"]: r
            for r in semantic_prune(emb.unionByName(short), C, eps=0.5).collect()
        }
        assert got[10_000]["ivf_list"] is None
        assert got[10_000]["rep"] is None and got[10_001]["rep"] is None

    def test_group_with_string_ids_and_subsplit(self, spark, data, force_arrow):
        X, ids, _ = data
        rows = [(f"s{i:03d}", [float(x) for x in v]) for i, v in zip(ids, X)]
        emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        C = _ref_kmeans(X, ids, k=2, iters=4)
        key = lambda rows: sorted((r["id"], r["rep"], r["is_kept"]) for r in rows)
        a = key(semantic_prune(emb, C, eps=0.97, max_cluster=20).collect())
        force_arrow()
        b = key(semantic_prune(emb, C, eps=0.97, max_cluster=20).collect())
        assert a == b


class TestRound5ReviewFixes:
    """Regressions for the round-5 review pass over the semantic family."""

    def test_null_element_vector_excluded_everywhere(self, spark, data):
        """An embedding with a null ELEMENT must not crash kmeans_train
        (expr path: null cosine -> null label -> driver TypeError) nor
        silently land in a cluster via the Arrow path's NaN argmax — it is
        excluded at _staged_vec like null/empty vectors."""
        X, ids, emb = data
        bad = spark.createDataFrame(
            [(10_000, [1.0, None] + [0.5] * (DIM - 2))],
            "vec_id long, embedding array<double>",
        )
        poisoned = emb.unionByName(bad)
        C = kmeans_train(poisoned, k=3, iters=2)
        assert C.shape == (3, DIM)
        C2 = kmeans_train(emb, k=3, iters=2)
        assert np.array_equal(C, C2)  # the bad row contributes nothing
        out_ids = {
            r["id"] for r in semantic_prune(poisoned, C, eps=0.97).collect()
        }
        assert 10_000 not in out_ids

    def test_prune_stage_cache_released_via_stats(self, spark, data):
        """semantic_prune persists the assignment stage; the handle rides
        stats['persisted'] and corpus.unpersist_stages releases it (the
        corpus_pipeline cache-discipline contract)."""
        from ocr_spark.operators.corpus import unpersist_stages

        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=4)
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        st = {}
        out = semantic_prune(emb, C, eps=0.97, stats=st)
        assert out.count() > 0
        assert len(st["persisted"]) == 1
        assert unpersist_stages(st) == 1
        assert jsc.getPersistentRDDs().size() <= before
        assert unpersist_stages(st) == 0  # idempotent

    def test_max_cluster_larger_than_every_cluster_is_identity(
        self, spark, data
    ):
        """When no cluster exceeds max_cluster the sub_map literal is empty
        and the plan (and results) are identical to the unguarded run — the
        oversized-only map never scales with k."""
        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=6)
        st = {}
        guarded = sorted(
            (r["id"], r["rep"], r["is_kept"])
            for r in semantic_prune(
                emb, C, eps=0.97, max_cluster=10**6, stats=st
            ).collect()
        )
        assert st["oversized_clusters"] == 0
        plain = sorted(
            (r["id"], r["rep"], r["is_kept"])
            for r in semantic_prune(emb, C, eps=0.97).collect()
        )
        assert guarded == plain

    def test_cos_array_shared_with_ivf_assign(self, spark, data):
        """semantic's expr assignment and similarity.ivf_assign rank
        centroids through ONE shared builder — assert the labels agree on
        the same codebook (the desync the extraction prevents)."""
        from ocr_spark.operators.similarity import ivf_assign

        X, ids, emb = data
        C = _ref_kmeans(X, ids, k=5, iters=4)
        v = F.col("embedding").cast("array<double>")
        via_ivf = {
            r["vec_id"]: r["l"]
            for r in emb.select(
                "vec_id", ivf_assign(v, C).cast("int").alias("l")
            ).collect()
        }
        pruned = {
            r["id"]: r["ivf_list"]
            for r in semantic_prune(emb, C, eps=0.99).collect()
        }
        for i, li in pruned.items():
            assert via_ivf[i] == li
