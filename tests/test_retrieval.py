"""Edge-case tests for BM25 / RRF beyond the corpus-level oracle
checks in test_queries_oracle.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from feature_store_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBm25:
    def test_rare_term_outscores_common(self, spark):
        docs = _docs(
            spark,
            [(i, "common filler words here") for i in range(1, 20)]
            + [(100, "common rare"), (101, "common")],
        )
        out = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores(docs, ["common", "rare"]).collect()
        }
        # doc 100 matches the rare term too — must beat every
        # common-only doc
        assert out[100] > max(v for k, v in out.items() if k != 100)

    def test_non_matching_docs_absent(self, spark):
        docs = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
        out = bm25_scores(docs, ["alpha"]).collect()
        assert {r["doc_id"] for r in out} == {1}

    def test_length_normalization(self, spark):
        # same tf, shorter doc scores higher (b > 0)
        docs = _docs(
            spark,
            [(1, "term " + "pad " * 50), (2, "term pad")],
        )
        out = {
            r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["term"]).collect()
        }
        assert out[2] > out[1]

    def test_idf_non_negative_even_for_ubiquitous_term(self, spark):
        docs = _docs(spark, [(i, "everywhere") for i in range(1, 6)])
        out = bm25_scores(docs, ["everywhere"]).collect()
        assert all(r["bm25"] > 0 and math.isfinite(r["bm25"]) for r in out)

    def test_empty_query_raises(self, spark):
        with pytest.raises(ValueError):
            bm25_scores(_docs(spark, [(1, "x")]), [])

    def test_topk_deterministic_tiebreak(self, spark):
        # identical docs → identical scores → id ascending
        docs = _docs(spark, [(i, "tie tie tie") for i in range(1, 8)])
        out = bm25_topk(docs, ["tie"], k=3).collect()
        assert [r["doc_id"] for r in out] == [1, 2, 3]

    def test_query_terms_case_folded(self, spark):
        docs = _docs(spark, [(1, "spark engine")])
        assert bm25_scores(docs, ["SPARK"]).count() == 1


class TestRrf:
    def test_fusion_rewards_presence_in_both_lists(self, spark):
        a = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
        )
        b = spark.createDataFrame(
            [(3, 1), (4, 2)], "doc_id long, rank int"
        )
        out = {
            r["doc_id"]: (r["rrf_score"], r["n_lists"])
            for r in rrf_fuse([a, b]).collect()
        }
        assert out[3][1] == 2
        # doc 3 (rank 3 + rank 1) must beat doc 1 (rank 1 only)
        assert out[3][0] > out[1][0]
        assert out[3][0] == pytest.approx(
            round(1 / 63 + 1 / 61, 6), abs=1e-9
        )

    def test_empty_rankings_raise(self, spark):
        with pytest.raises(ValueError):
            rrf_fuse([])

    def test_single_list_passthrough_order(self, spark):
        a = spark.createDataFrame(
            [(10, 1), (20, 2)], "doc_id long, rank int"
        )
        out = (
            rrf_fuse([a])
            .orderBy(F.col("rrf_score").desc())
            .collect()
        )
        assert [r["doc_id"] for r in out] == [10, 20]


class TestProductQuantization:
    """r9 PQ (Jégou et al. 2011): deterministic codebooks, m-byte
    codes, ADC search, exact re-rank."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        rows = [
            (i, [float(x) for x in rng.normal(size=16)])
            for i in range(80)
        ]
        # a planted near-twin of vec 0
        twin = [x + 0.01 for x in rows[0][1]]
        rows.append((900, twin))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_train_encode_deterministic(self, spark, emb):
        import numpy as np

        from feature_store_spark.operators.similarity import (
            pq_encode,
            pq_train,
        )

        cb1 = pq_train(emb, m=4, ksub=8)
        cb2 = pq_train(emb, m=4, ksub=8)
        assert np.array_equal(cb1, cb2)
        assert cb1.shape == (4, 8, 4)
        c1 = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb1).collect()}
        c2 = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb1).collect()}
        assert c1 == c2
        assert all(len(v) == 4 and all(0 <= x < 8 for x in v)
                   for v in c1.values())

    def test_adc_finds_planted_twin(self, spark, emb):
        from feature_store_spark.operators.similarity import (
            pq_encode,
            pq_search_rerank,
            pq_train,
        )

        cb = pq_train(emb, m=4, ksub=8)
        codes = pq_encode(emb, cb)
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = [
            r["vec_id"]
            for r in pq_search_rerank(
                q, codes, cb, emb, k=2, shortlist=20
            ).orderBy("rank").collect()
        ]
        assert got == [0, 900]  # itself, then the twin

    def test_degenerate_vectors_rank_last(self, spark, emb):
        from feature_store_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        bad = spark.createDataFrame(
            [(901, None), (902, [1.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
        cb = pq_train(emb, m=4, ksub=8)
        codes = pq_encode(emb.unionByName(bad), cb)
        null_codes = {
            r["vec_id"]: r["codes"]
            for r in codes.filter(F.col("vec_id") >= 900).collect()
        }
        assert null_codes[901] is None and null_codes[902] is None
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        top = pq_topk(q, codes, cb, k=83).collect()  # all rows
        ranked_ids = [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])]
        assert set(ranked_ids[-2:]) == {901, 902}  # NULLs last

    def test_ivfpq_composition(self, spark, emb):
        """IVF coarse pruning + ADC + refine returns sane neighbors
        (its candidate set is probed-clusters ∩ ADC shortlist; with
        all clusters probed it must equal pq_search_rerank)."""
        from feature_store_spark.operators.similarity import (
            ivfpq_search,
            kmeans_fit,
            pq_encode,
            pq_search_rerank,
            pq_train,
        )

        cb = pq_train(emb, m=4, ksub=8)
        codes = pq_encode(emb, cb)
        cents, assigned = kmeans_fit(emb, k=4, iters=2)
        cwc = codes.join(assigned.select("vec_id", "cluster"), "vec_id")
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        full = ivfpq_search(
            q, cwc, cents, cb, emb, k=5, n_probe=4, shortlist=30
        )
        ref = pq_search_rerank(q, codes, cb, emb, k=5, shortlist=30)
        assert [
            (r["query_id"], r["vec_id"], r["rank"])
            for r in full.orderBy("rank").collect()
        ] == [
            (r["query_id"], r["vec_id"], r["rank"])
            for r in ref.orderBy("rank").collect()
        ]
        # pruned probe: the twin (same cluster as vec 0) still found
        pruned = ivfpq_search(
            q, cwc, cents, cb, emb, k=2, n_probe=1, shortlist=30
        )
        got = [r["vec_id"] for r in pruned.orderBy("rank").collect()]
        assert got[0] == 0 and 900 in got

    def test_incremental_pq_index(self, spark, emb, tmp_path):
        """refresh_pq_index encodes only appended embeddings; the
        accumulated code table equals a full re-encode, searches over
        it match, redelivery no-ops, and an overwrite falls back to a
        full re-encode."""
        from feature_store_spark.incremental import refresh_pq_index
        from feature_store_spark.operators.similarity import (
            pq_encode,
            pq_train,
        )
        from feature_store_spark.sources.delta import (
            DeltaTable,
            delta_append,
            delta_head,
            delta_overwrite,
        )

        def read(path):
            return DeltaTable(spark, path).scan()

        cb = pq_train(emb, m=4, ksub=8)
        src, codes = str(tmp_path / "src"), str(tmp_path / "codes")
        for i in (0, 1):
            delta_append(emb.filter(F.col("vec_id") % 2 == i), src)
            refresh_pq_index(spark, codes, src, cb)

        def as_map(df):
            return {r["vec_id"]: r["codes"] for r in df.collect()}

        assert as_map(read(codes)) == as_map(pq_encode(read(src), cb))
        v = delta_head(spark, codes)[1]
        refresh_pq_index(spark, codes, src, cb)  # redelivery
        assert delta_head(spark, codes)[1] == v
        # history rewrite -> full re-encode of the new truth
        delta_overwrite(
            emb.filter(F.col("vec_id") < 40), src, delta_head(spark, src)[1]
        )
        refresh_pq_index(spark, codes, src, cb)
        assert as_map(read(codes)) == as_map(pq_encode(read(src), cb))


class TestTwoPhaseTopK:
    """r10 (VERDICT r9 #1): the Arrow ANN scorers keep a per-query
    local top-k inside every batch, so the exchange into the merge
    window carries ≤ nq x k x n_batches rows — never nq x N."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in rng.normal(size=16)])
            for i in range(200)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(4)

    @pytest.fixture(scope="class")
    def queries(self, spark, emb):
        return emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    def test_knn_arrow_candidate_bound(self, spark, emb, queries):
        from feature_store_spark.operators.similarity import (
            _knn_arrow_scored,
            knn_join,
            knn_join_arrow,
        )

        k, nq, parts = 5, 3, 4
        cand = _knn_arrow_scored(
            queries, emb, k, "query_id", "query_vec", "vec_id", "embedding"
        )
        n_cand = cand.count()
        assert n_cand <= nq * k * parts  # two-phase bound
        assert n_cand < nq * 200  # and FAR below the old nq x N
        # merged result still exactly equals the higher-order twin
        a = {
            (r["query_id"], r["vec_id"], r["rank"])
            for r in knn_join(queries, emb, k=k).collect()
        }
        b = {
            (r["query_id"], r["vec_id"], r["rank"])
            for r in knn_join_arrow(queries, emb, k=k).collect()
        }
        assert a == b

    def test_pq_adc_candidate_bound(self, spark, emb, queries):
        from feature_store_spark.operators.similarity import (
            _pq_adc_scored,
            pq_encode,
            pq_train,
        )

        k, nq, parts = 5, 3, 4
        cb = pq_train(emb, m=4, ksub=8)
        codes = pq_encode(emb, cb).repartition(parts)
        cand = _pq_adc_scored(
            queries, codes, cb, k, "query_id", "query_vec", "vec_id"
        )
        n_cand = cand.count()
        assert n_cand <= nq * k * parts
        assert n_cand < nq * 200

    def test_local_topk_boundary_ties_keep_lowest_ids(self):
        """The argpartition narrowing must not drop a row that ties
        the k-th score but wins the id tie-break."""
        import numpy as np

        from feature_store_spark.operators.similarity import _local_topk

        s = np.array([5.0, 3.0, 3.0, 3.0, 1.0, -np.inf])
        ids = np.array([60, 50, 10, 40, 30, 20])
        # top-2 largest: 5.0(id60) then the LOWEST id among the 3.0s
        assert [ids[i] for i in _local_topk(s, ids, 2, largest=True)] == [60, 10]
        # the desc NULL sentinel (-inf) ranks last but still fills slots
        assert [ids[i] for i in _local_topk(s, ids, 6, largest=True)][-1] == 20
        # asc ordering uses +inf as its NULL sentinel — also last
        d = np.array([1.0, 2.0, np.inf])
        dids = np.array([3, 2, 1])
        assert [dids[i] for i in _local_topk(d, dids, 3, largest=False)] == [3, 2, 1]
        # all-ties: pure id ordering
        t = np.zeros(4)
        tids = np.array([9, 2, 7, 1])
        assert [tids[i] for i in _local_topk(t, tids, 2, largest=True)] == [1, 2]

    def test_pq_topk_probed_no_cross_query_dilution(self, spark, emb):
        """ADVICE r9 #3 regression: with DISJOINT probe sets and a
        tiny shortlist, each query's candidates must come from its
        own probed clusters only — the union-then-filter shape
        returned foreign-cluster rows that crowded these out."""
        from feature_store_spark.operators.similarity import (
            kmeans_fit,
            pq_encode,
            pq_topk,
            pq_topk_probed,
            pq_train,
        )

        cb = pq_train(emb, m=4, ksub=8)
        cents, assigned = kmeans_fit(emb, k=4, iters=2)
        codes = pq_encode(emb, cb).join(
            assigned.select("vec_id", "cluster"), "vec_id"
        )
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        # force fully disjoint probes: query 0 -> clusters {0,1},
        # query 1 -> clusters {2,3}
        probes = spark.createDataFrame(
            [(0, 0), (0, 1), (1, 2), (1, 3)], "query_id long, cluster int"
        )
        got = pq_topk_probed(
            queries, codes, probes, cb, k=3
        ).select("query_id", "vec_id", "rank")
        # oracle: per-query pq_topk over ONLY that query's clusters
        expect = set()
        for qid, cls in ((0, (0, 1)), (1, (2, 3))):
            sub = codes.filter(F.col("cluster").isin(list(cls)))
            one = queries.filter(F.col("query_id") == qid)
            for r in pq_topk(one, sub.select("vec_id", "codes"), cb, k=3).collect():
                expect.add((r["query_id"], r["vec_id"], r["rank"]))
        assert {
            (r["query_id"], r["vec_id"], r["rank"]) for r in got.collect()
        } == expect

    def test_ivfpq_multi_query_equals_per_query_runs(self, spark, emb):
        """ivfpq_search over a query batch == the union of single-query
        runs (the 'same answer as per-query probed scans' contract its
        docstring claims — previously false once probe sets diverged)."""
        from feature_store_spark.operators.similarity import (
            ivfpq_search,
            kmeans_fit,
            pq_encode,
            pq_train,
        )

        cb = pq_train(emb, m=4, ksub=8)
        cents, assigned = kmeans_fit(emb, k=6, iters=2)
        cwc = pq_encode(emb, cb).join(
            assigned.select("vec_id", "cluster"), "vec_id"
        )
        queries = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        batch = {
            (r["query_id"], r["vec_id"], r["rank"])
            for r in ivfpq_search(
                queries, cwc, cents, cb, emb, k=3, n_probe=2, shortlist=5
            ).collect()
        }
        singles = set()
        for qid in range(6):
            one = queries.filter(F.col("query_id") == qid)
            for r in ivfpq_search(
                one, cwc, cents, cb, emb, k=3, n_probe=2, shortlist=5
            ).collect():
                singles.add((r["query_id"], r["vec_id"], r["rank"]))
        assert batch == singles


class TestIncrementalIvfpq:
    """r10: refresh_ivfpq_index — faiss IndexIVFPQ.add() as
    exactly-once dataflow over manifested tables."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(23)
        rows = [
            (i, [float(x) for x in rng.normal(size=16)])
            for i in range(120)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_state_equals_full_build_and_search_matches(
        self, spark, emb, tmp_path
    ):
        from feature_store_spark.incremental import refresh_ivfpq_index
        from feature_store_spark.operators.similarity import (
            assign_clusters,
            ivfpq_search,
            kmeans_fit,
            pq_encode,
            pq_train,
        )
        from feature_store_spark.sources.delta import (
            DeltaTable,
            delta_append,
            delta_head,
            delta_overwrite,
        )

        def read(path):
            return DeltaTable(spark, path).scan()

        cb = pq_train(emb, m=4, ksub=8)
        cents, _ = kmeans_fit(emb, k=5, iters=2)
        cents = cents.localCheckpoint(eager=True)  # freeze the quantizer
        src, idx = str(tmp_path / "src"), str(tmp_path / "idx")

        def full_build(df):
            codes = pq_encode(df, cb)
            a = assign_clusters(
                df, cents, centroid_key="cluster", centroid_vec="centroid"
            ).select("vec_id", "cluster")
            return codes.join(a, "vec_id", "left")

        def as_map(df):
            return {
                r["vec_id"]: (tuple(r["codes"] or []), r["cluster"])
                for r in df.collect()
            }

        for i in (0, 1, 2):
            delta_append(emb.filter(F.col("vec_id") % 3 == i), src)
            refresh_ivfpq_index(spark, idx, src, cb, cents)
            # INVARIANT: maintained index == full rebuild at every version
            assert as_map(read(idx)) == as_map(full_build(read(src)))
        # search over the maintained state == search over a full build
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = ivfpq_search(
            queries, read(idx), cents, cb, emb, k=3, n_probe=2,
            shortlist=10,
        )
        want = ivfpq_search(
            queries, full_build(emb), cents, cb, emb, k=3, n_probe=2,
            shortlist=10,
        )
        key = lambda df: {  # noqa: E731
            (r["query_id"], r["vec_id"], r["rank"]) for r in df.collect()
        }
        assert key(got) == key(want)
        # redelivery no-ops
        v = delta_head(spark, idx)[1]
        refresh_ivfpq_index(spark, idx, src, cb, cents)
        assert delta_head(spark, idx)[1] == v
        # history rewrite -> full rebuild of the new truth
        delta_overwrite(
            emb.filter(F.col("vec_id") < 60), src, delta_head(spark, src)[1]
        )
        refresh_ivfpq_index(spark, idx, src, cb, cents)
        assert as_map(read(idx)) == as_map(full_build(read(src)))


class TestTwoPhaseEdgeCases:
    """Review-r10 regressions on the two-phase scorers."""

    def test_nan_query_element_scores_null_not_dropped(self, spark):
        """A NaN element in a query vector poisons its whole ADC LUT:
        every distance for that query must surface as NULL (ranked
        last, id-ordered) — the NaN boundary used to empty the local
        top-k candidate set and silently drop the query's rows; other
        queries in the batch stay exact."""
        import numpy as np

        from feature_store_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        rng = np.random.default_rng(5)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        cb = pq_train(emb, m=4, ksub=8)
        codes = pq_encode(emb, cb)
        good = [float(x) for x in rng.normal(size=8)]
        poisoned = good[:7] + [float("nan")]
        queries = spark.createDataFrame(
            [(0, good), (1, poisoned)],
            "query_id long, query_vec array<double>",
        )
        out = pq_topk(queries, codes, cb, k=3).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        # poisoned query: 3 rows, all NULL distance, lowest ids
        assert len(by_q[1]) == 3
        assert all(r["adc_distance"] is None for r in by_q[1])
        assert sorted(r["vec_id"] for r in by_q[1]) == [0, 1, 2]
        # clean query: 3 rows with real distances
        assert len(by_q[0]) == 3
        assert all(r["adc_distance"] is not None for r in by_q[0])

    def test_local_topk_null_ids_no_typeerror(self):
        """NULL ids (string id columns) must tie-break FIRST among
        equal scores (Spark asc nulls-first), not raise TypeError in
        the executor's python sort."""
        import numpy as np

        from feature_store_spark.operators.similarity import _local_topk

        s = np.array([1.0, 1.0, 1.0, -np.inf, -np.inf])
        ids = np.array(["b", None, "a", None, "c"], dtype=object)
        order = [ids[i] for i in _local_topk(s, ids, 5, largest=True)]
        assert order == [None, "a", "b", None, "c"]
        # NaN scores fold into the sentinel instead of emptying the
        # candidate set
        s2 = np.array([np.nan, 2.0, np.nan, 1.0])
        ids2 = np.array([1, 2, 3, 4])
        top = [ids2[i] for i in _local_topk(s2, ids2, 2, largest=True)]
        assert top == [2, 4]
        bot = [ids2[i] for i in _local_topk(s2, ids2, 2, largest=False)]
        assert bot == [4, 2]

    def test_ragged_query_dimensions_raise_loudly(self, spark):
        from feature_store_spark.operators.similarity import knn_join_arrow

        emb = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        queries = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])],
            "query_id long, query_vec array<double>",
        )
        with pytest.raises(ValueError, match="share one dimension"):
            knn_join_arrow(queries, emb, k=1)
