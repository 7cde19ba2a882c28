"""Spherical k-means: convergence of the iterative loop + shape claims
of the oracle-checked refinement step."""

from __future__ import annotations

import pytest

from columnar_estimator_sample_spark.operators.vq import K, kmeans_fit
from columnar_estimator_sample_spark.registry import queries

from test_plans import SF, plan_of


def test_kmeans_objective_monotone(spark):
    """Lloyd iterations on the sphere must not decrease the mean-cosine
    objective (up to exact-tie noise), and must actually improve it on
    this data starting from raw seed vectors."""
    _, hist = kmeans_fit(spark, SF, n_iter=4)
    assert len(hist) == 4
    for a, b in zip(hist, hist[1:]):
        assert b >= a - 1e-9, hist
    assert hist[-1] > hist[0], hist


def test_vq_refine_covers_all_vectors(spark):
    df = queries()["q_vq_refine"](spark, SF)
    rows = df.collect()
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r["n_assigned"] for r in rows) == n_vecs
    assert all(0 <= r["centroid_id"] < K for r in rows)
    # refinement is not a no-op on this data: some vector changed cells
    assert sum(r["n_moved_in"] for r in rows) > 0


def test_vq_refine_broadcasts_centroids(spark):
    """Both assignment passes must broadcast the K·dim centroid side —
    the exploded embeddings never shuffle for the dot-product joins."""
    plan = plan_of(spark, "q_vq_refine")
    assert plan.count("BroadcastExchange") >= 2, plan


class TestPQ:
    def test_every_vector_coded_once_per_subspace(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.vq import (
            PQ_K, PQ_SUB, q_embed_pq)
        from columnar_estimator_sample_spark.sources.tables import table
        rows = q_embed_pq(spark, sf_dir).collect()
        n_vecs = table(spark, sf_dir, "embeddings").count()
        per_sub = {}
        for r in rows:
            assert 0 <= r.s < PQ_SUB and 0 <= r.code < PQ_K
            assert r.min_d2 <= r.mean_d2 <= r.max_d2
            per_sub[r.s] = per_sub.get(r.s, 0) + r.n_assigned
        # codes partition the vectors: every vector coded in every subspace
        assert per_sub == {s: n_vecs for s in range(PQ_SUB)}

    def test_seed_vectors_code_to_themselves(self, spark, sf_dir):
        """A codebook seed sub-vector is L2 distance 0 from itself, so
        the seed vectors must quantize losslessly (min_d2 == 0 for the
        cell holding each seed)."""
        from columnar_estimator_sample_spark.operators.vq import q_embed_pq
        rows = q_embed_pq(spark, sf_dir).collect()
        zero_cells = {(r.s, r.code) for r in rows if r.min_d2 == 0}
        # each subspace has at least one exact-hit cell (its own seeds)
        assert {s for s, _ in zero_cells} == {r.s for r in rows}


class TestPQADC:
    def test_topk_shape_and_recall(self, spark, sf_dir):
        """ADC results are a total-ordered top-5 per query, and the
        12-bit-code approximation still lands its picks well inside the
        true-L2 nearest half of the corpus (lossy != arbitrary)."""
        import numpy as np

        from columnar_estimator_sample_spark.operators.vq import (
            PQ_NQ, PQ_TOPK, q_pq_adc_topk)
        from columnar_estimator_sample_spark.sources.tables import table

        rows = q_pq_adc_topk(spark, sf_dir).collect()
        assert len(rows) == PQ_NQ * PQ_TOPK
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        emb = (table(spark, sf_dir, "embeddings")
               .orderBy("vec_id").collect())
        ids = np.array([r.vec_id for r in emb])
        X = np.array([np.round(np.array(r.embedding, dtype=np.float64), 6)
                      for r in emb])
        pos = {v: k for k, v in enumerate(ids)}
        n = len(ids)
        for q, rs in by_q.items():
            ds = [r.adc_d2 for r in sorted(rs, key=lambda r: r.rank)]
            assert ds == sorted(ds)
            true_d2 = ((X - X[pos[q]]) ** 2).sum(axis=1)
            true_rank = true_d2.argsort(kind="stable").argsort()
            # mean true rank of the ADC picks sits in the nearest half
            mean_rank = np.mean([true_rank[pos[r.neighbor_id]] for r in rs])
            assert mean_rank < n / 2, (q, mean_rank, n)


def _semdedup_brute(ids, X):
    """Member-level brute-force SemDeDup census (the SPEC the oracle also
    computes): argmax-cosine cell assignment (ties to the lower centroid
    id), exhaustive within-cell pairs at the threshold, prune the pair
    member with the HIGHER centroid cosine (ties prune the higher
    vec_id). No contraction anywhere — this is what the contracted
    engine path must reproduce exactly."""
    import numpy as np

    from columnar_estimator_sample_spark.operators.vq import K, SEM_T

    ids = np.asarray(ids)
    # same integer scaling as similarity._exploded
    Xi = np.round(np.round(np.asarray(X, dtype=np.float64), 6)
                  * 1_000_000).astype(np.int64)
    norms = (Xi * Xi).sum(axis=1)
    cent_rows = {v: k for k, v in enumerate(ids) if v < K}
    C = Xi[[cent_rows[c] for c in range(K)]]
    cn = (C * C).sum(axis=1)
    cos_c = (Xi @ C.T).astype(np.float64) / (
        np.sqrt(norms.astype(np.float64))[:, None]
        * np.sqrt(cn.astype(np.float64))[None, :])
    cell = cos_c.argmax(axis=1)   # ties to the LOWER centroid id
    ccos = cos_c[np.arange(len(ids)), cell]

    n_members = {c: 0 for c in range(K)}
    pairs = {c: 0 for c in range(K)}
    pruned = {c: set() for c in range(K)}
    for c in range(K):
        rows = np.where(cell == c)[0]
        n_members[c] = len(rows)
        for ai in range(len(rows)):
            for bi in range(ai + 1, len(rows)):
                a, b = rows[ai], rows[bi]
                if ids[a] > ids[b]:
                    a, b = b, a
                dot = int(Xi[a] @ Xi[b])
                cos = dot / (np.sqrt(float(norms[a]))
                             * np.sqrt(float(norms[b])))
                if cos >= SEM_T:
                    pairs[c] += 1
                    victim = a if ccos[a] > ccos[b] else b
                    pruned[c].add(ids[victim])
    return {c: (n_members[c], pairs[c], len(pruned[c]),
                n_members[c] - len(pruned[c]))
            for c in range(K) if n_members[c]}


class TestSemDeDup:
    def test_numpy_replay(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.vq import q_semdedup
        from columnar_estimator_sample_spark.sources.tables import table

        got = {r.centroid_id:
               (r.n_members, r.n_dup_pairs, r.n_pruned, r.n_kept)
               for r in q_semdedup(spark, sf_dir).collect()}
        emb = (table(spark, sf_dir, "embeddings")
               .orderBy("vec_id").collect())
        want = _semdedup_brute([r.vec_id for r in emb],
                               [r.embedding for r in emb])
        assert got == want

    def test_duplicated_corpus_contraction_exact(self, spark, sf_dir):
        """The closed-form census expansion must equal the member-level
        spec on a corpus WITH exact duplicates (the driver tables are
        dup-free, so this is the only cover for the m>1 arithmetic):
        3 extra copies of every 4th vector, one of them duplicating a
        SEED vector (vec_id < K) to cover the duplicated-centroid edge,
        with interleaved new ids so group members straddle other
        groups' id ranges."""
        from columnar_estimator_sample_spark.operators.vq import (
            semdedup_census,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        base = (table(spark, sf_dir, "embeddings")
                .select("vec_id", "embedding").orderBy("vec_id").collect())
        rows = [(int(r.vec_id), list(r.embedding)) for r in base]
        nxt = max(i for i, _ in rows) + 1
        dup_rows = []
        for j, (i, v) in enumerate(rows):
            if i % 4 == 0 or i == 3:  # every 4th + seed vec 3
                for _ in range(3 if i % 8 == 0 else 1):
                    dup_rows.append((nxt, v))
                    nxt += 1
        all_rows = rows + dup_rows
        emb = spark.createDataFrame(
            all_rows, "vec_id long, embedding array<float>")

        got = {r.centroid_id:
               (r.n_members, r.n_dup_pairs, r.n_pruned, r.n_kept)
               for r in semdedup_census(emb).collect()}
        want = _semdedup_brute([i for i, _ in all_rows],
                               [v for _, v in all_rows])
        assert got == want

    def test_apply_kept_set_matches_brute_on_duplicated_corpus(
            self, spark, sf_dir):
        """The apply face's kept SET (not just counts) must equal the
        member-level brute force on a corpus WITH exact duplicates —
        the r13 contraction claim 'reps-minus-pruned IS the member-level
        kept set' pinned id-for-id (same fixture construction as the
        census contraction test)."""
        import numpy as np
        from columnar_estimator_sample_spark.operators.vq import (
            K, SEM_T, semdedup_kept,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        base = (table(spark, sf_dir, "embeddings")
                .select("vec_id", "embedding").orderBy("vec_id").collect())
        rows = [(int(r.vec_id), list(r.embedding)) for r in base]
        nxt = max(i for i, _ in rows) + 1
        dup_rows = []
        for i, v in rows:
            if i % 4 == 0 or i == 3:
                for _ in range(3 if i % 8 == 0 else 1):
                    dup_rows.append((nxt, v))
                    nxt += 1
        all_rows = rows + dup_rows
        emb = spark.createDataFrame(
            all_rows, "vec_id long, embedding array<float>")
        got = {(r.centroid_id, r.vec_id)
               for r in semdedup_kept(emb).collect()}

        # member-level brute kept set (mirrors _semdedup_brute but keeps
        # the surviving ids)
        ids = np.asarray([i for i, _ in all_rows])
        Xi = np.round(np.round(np.asarray([v for _, v in all_rows],
                                          dtype=np.float64), 6)
                      * 1_000_000).astype(np.int64)
        norms = (Xi * Xi).sum(axis=1)
        cent_rows = {v: k for k, v in enumerate(ids) if v < K}
        C = Xi[[cent_rows[c] for c in range(K)]]
        cn = (C * C).sum(axis=1)
        cos_c = (Xi @ C.T).astype(np.float64) / (
            np.sqrt(norms.astype(np.float64))[:, None]
            * np.sqrt(cn.astype(np.float64))[None, :])
        cell = cos_c.argmax(axis=1)
        ccos = cos_c[np.arange(len(ids)), cell]
        want = set()
        for c in range(K):
            rws = np.where(cell == c)[0]
            pruned = set()
            for ai in range(len(rws)):
                for bi in range(ai + 1, len(rws)):
                    a, b = rws[ai], rws[bi]
                    if ids[a] > ids[b]:
                        a, b = b, a
                    dot = int(Xi[a] @ Xi[b])
                    cos = dot / (np.sqrt(float(norms[a]))
                                 * np.sqrt(float(norms[b])))
                    if cos >= SEM_T:
                        pruned.add(ids[a] if ccos[a] > ccos[b]
                                   else ids[b])
            want |= {(c, int(ids[r])) for r in rws
                     if int(ids[r]) not in pruned}
        assert got == want and len(got) > 0

    def test_prune_rule_keeps_diverse_member(self, spark, sf_dir):
        """The pruned member of every dup pair must sit CLOSER to its
        centroid than a kept pair-mate (the paper's diversity rule) —
        checked structurally: n_pruned < n_members wherever pairs exist
        (at least one survivor per dup group) and n_kept + n_pruned
        reconciles."""
        from columnar_estimator_sample_spark.operators.vq import q_semdedup

        for r in q_semdedup(spark, sf_dir).collect():
            assert r.n_kept + r.n_pruned == r.n_members
            if r.n_dup_pairs > 0:
                assert 0 < r.n_pruned < r.n_members
            else:
                assert r.n_pruned == 0


class TestEmbedWhiten:
    def test_residual_projection_within_rounding_bound(self, spark,
                                                       sf_dir):
        """After the apply, every vector's projection onto the removed
        direction must sit inside the per-element rounding residual:
        |<w, vq>| = |sum e_i * vq_i| <= 0.5 * sum|vq_i| (each element
        removal rounds to nearest, |e_i| <= 0.5) — the exact-integer
        statement of 'the direction is gone'."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.vq import (
            _pca_eigvec, whitened_exploded,
        )
        _, vq, n2 = _pca_eigvec(spark, sf_dir)
        assert n2 > 0
        vqdf = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(vq)], "i long, vq long")
        after = (whitened_exploded(spark, sf_dir)
                 .join(F.broadcast(vqdf), "i")
                 .groupBy("vec_id")
                 .agg(F.sum(F.col("vm") * F.col("vq")).alias("pn")))
        worst = after.agg(F.max(F.abs("pn"))).collect()[0][0]
        bound = sum(abs(v) for v in vq) / 2.0
        assert worst <= bound, (worst, bound)

    def test_zero_corpus_apply_is_identity(self, spark, tmp_path):
        import duckdb
        from columnar_estimator_sample_spark.operators.vq import (
            PCA_DIM, whitened_exploded,
        )
        duckdb.sql(f"""COPY (
            SELECT CAST(i AS BIGINT) AS vec_id,
                   [CAST(0.0 AS FLOAT) FOR d IN range({PCA_DIM})]
                       AS embedding,
                   CAST(0 AS BIGINT) AS label
            FROM range(4) t(i)) TO '{tmp_path}/embeddings.parquet'
            (FORMAT PARQUET)""")
        rows = whitened_exploded(spark, str(tmp_path)).collect()
        assert len(rows) == 4 * PCA_DIM
        assert all(r["vm"] == 0 for r in rows)

    def test_census_contract(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.vq import (
            q_embed_whiten,
        )
        rows = q_embed_whiten(spark, sf_dir).collect()
        assert [r["variant"] for r in rows] == ["raw", "whitened"]
        for r in rows:
            assert 0 <= r["n_found"] <= r["n_truth"]
            assert r["recall_pm"] == (1000 * r["n_found"]
                                      // max(r["n_truth"], 1))
            assert r["n_candidates"] >= r["n_found"]

    # Hostile shapes for the recall census, each on a hand-built scale
    # factor (a tmp dir of parquet files IS a scale factor) and checked
    # against the DuckDB oracle. Only embeddings are hand-built; the
    # other tables link to the test SF's so the oracle's views resolve.

    @staticmethod
    def _vs_oracle(spark, sf_dir, tmp_path, embeddings_sql):
        import os
        import sys

        import __spark_entry__
        import duckdb
        from columnar_estimator_sample_spark.operators.vq import (
            q_embed_whiten,
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(repo, "tools"))
        from check_oracle import compare, compare_types, run_duckdb

        sf = str(tmp_path)
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet") and f != "embeddings.parquet":
                os.symlink(os.path.join(sf_dir, f), os.path.join(sf, f))
        duckdb.sql(f"COPY ({embeddings_sql}) TO '{sf}/embeddings.parquet'"
                   " (FORMAT PARQUET)")
        res = q_embed_whiten(spark, sf)
        spark_types = {f.name: f.dataType.simpleString()
                       for f in res.schema.fields}
        sdf = res.toPandas()
        odf, duck_types = run_duckdb(
            __spark_entry__.oracle_sql()["q_embed_whiten"], sf)
        problems = (compare_types(duck_types, spark_types)
                    + compare("q_embed_whiten", sdf, odf))
        assert not problems, problems
        return {r["variant"]: r for r in sdf.to_dict("records")}

    # clustered 64-dim vectors (three directions plus a per-vector
    # wobble): near pairs inside a cluster, far pairs across clusters
    _CLUSTERED = ("[CAST(0.6 * sin((i % 3) * 13 + d)"
                  " + 0.3 * sin(i * 7 + d * 3) AS FLOAT)"
                  " FOR d IN range(64)]")

    def test_empty_corpus_reports_zero_rows(self, spark, sf_dir, tmp_path):
        rows = self._vs_oracle(spark, sf_dir, tmp_path, f"""
            SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')
            LIMIT 0""")
        assert sorted(rows) == ["raw", "whitened"]
        for r in rows.values():
            assert r["n_truth"] == r["n_candidates"] == 0
            assert r["recall_pm"] == r["candidate_frac_pm"] == 0

    def test_zero_norm_vectors_are_never_truth(self, spark, sf_dir,
                                               tmp_path):
        # even vec_ids are all-zero: a zero norm has no cosine (SQL
        # division by zero is NULL), so only the 6 nonzero vectors can
        # form truth pairs; all-zero vectors share every band key
        rows = self._vs_oracle(spark, sf_dir, tmp_path, f"""
            SELECT CAST(i AS BIGINT) AS vec_id,
                   CASE WHEN i % 2 = 0
                        THEN [CAST(0.0 AS FLOAT) FOR d IN range(64)]
                        ELSE {self._CLUSTERED} END AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(12) t(i)""")
        raw = rows["raw"]
        assert 0 < raw["n_truth"] <= 15
        assert raw["n_candidates"] >= 15

    def test_all_zero_corpus_has_no_truth(self, spark, sf_dir, tmp_path):
        rows = self._vs_oracle(spark, sf_dir, tmp_path, """
            SELECT CAST(i AS BIGINT) AS vec_id,
                   [CAST(0.0 AS FLOAT) FOR d IN range(64)] AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(5) t(i)""")
        for r in rows.values():
            assert r["n_truth"] == 0
            assert r["n_candidates"] == 10 and r["candidate_frac_pm"] == 1000

    def test_identical_embeddings_every_pair_truth_and_candidate(
            self, spark, sf_dir, tmp_path):
        rows = self._vs_oracle(spark, sf_dir, tmp_path, """
            SELECT CAST(i AS BIGINT) AS vec_id,
                   [CAST(0.5 * sin(d) AS FLOAT) FOR d IN range(64)]
                       AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(10) t(i)""")
        raw = rows["raw"]
        assert raw["n_truth"] == raw["n_found"] == raw["n_candidates"] == 45
        assert raw["recall_pm"] == raw["candidate_frac_pm"] == 1000
        # whitening maps identical vectors to identical residuals (all
        # zero when the removed direction was theirs): still one bucket
        assert rows["whitened"]["n_candidates"] == 45

    def test_single_vector_has_no_pairs(self, spark, sf_dir, tmp_path):
        rows = self._vs_oracle(spark, sf_dir, tmp_path, f"""
            SELECT CAST(i AS BIGINT) AS vec_id,
                   {self._CLUSTERED} AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(7, 8) t(i)""")
        for r in rows.values():
            assert r["n_truth"] == r["n_candidates"] == 0
            assert r["candidate_frac_pm"] == 0

    def test_sparse_shuffled_vec_ids(self, spark, sf_dir, tmp_path):
        # 40 vec_ids scattered over [3, 290) plus 5 past RECALL_N,
        # written in hash order, so neither row order nor id density
        # lines up with the pair order the census counts
        rows = self._vs_oracle(spark, sf_dir, tmp_path, f"""
            SELECT CAST(CASE WHEN i < 40 THEN (i * 7 + 3) % 290
                             ELSE 1000 + i END AS BIGINT) AS vec_id,
                   {self._CLUSTERED} AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(45) t(i)
            ORDER BY md5(CAST(i AS VARCHAR))""")
        for r in rows.values():
            assert 0 < r["n_found"] <= r["n_truth"]
            assert r["n_candidates"] < 780

    def test_duplicate_vec_id_raises(self, spark, tmp_path):
        import duckdb
        from pyspark.errors import PythonException

        from columnar_estimator_sample_spark.operators.vq import (
            q_embed_whiten,
        )
        duckdb.sql(f"""COPY (
            SELECT CAST(i % 4 AS BIGINT) AS vec_id,
                   {self._CLUSTERED} AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM range(6) t(i)) TO '{tmp_path}/embeddings.parquet'
            (FORMAT PARQUET)""")
        with pytest.raises(PythonException,
                           match="ValueError: recall census: duplicate"):
            q_embed_whiten(spark, str(tmp_path)).collect()
