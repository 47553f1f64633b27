"""Similarity-search tests: exactness of brute force (vs numpy), LSH
recall, near-dup verification."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from g1_etl_spark.operators import similarity as S
from tests.conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _queries(emb, n=3):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))


def test_brute_force_matches_numpy(spark):
    emb = _emb(spark)
    out = S.brute_force_topk(emb, _queries(emb), k=5).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def np_topk(qid, k=5):
        q = vecs[qid]
        scores = {
            vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            for vid, v in vecs.items() if vid != qid}
        return [vid for vid, _ in sorted(scores.items(),
                                         key=lambda kv: (-kv[1], kv[0]))[:k]]

    for qid in (0, 1, 2):
        got = [r["neighbor_id"] for r in sorted(
            (r for r in out if r["q_id"] == qid), key=lambda r: r["rank"])]
        assert got == np_topk(qid), f"q{qid}: {got} != {np_topk(qid)}"


def test_lsh_topk_recall(spark):
    """LSH recall scales with band count and multi-probing: 4 bands of 4
    bits alone give ~0.45 on this corpus; Hamming-1 multi-probe (the
    default) lifts the per-band hit probability p^4 to p^4 + 4p^3(1-p),
    i.e. ~0.95+ overall. Assert the multi-probe default, the high-band
    setting, and the unprobed floor."""
    emb = _emb(spark)
    q = _queries(emb, 5)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb, q, k=10).collect()}
    approx_mp = {(r["q_id"], r["neighbor_id"])
                 for r in S.lsh_topk(emb, q, k=10, bands=4).collect()}
    # 0.86 measured on the 100-vector smoke corpus (top-10 of 100 digs
    # into near-orthogonal neighbors); 0.98 at sf0.01
    recall_mp = len(exact & approx_mp) / len(exact)
    assert recall_mp >= 0.8, f"multi-probe LSH recall too low: {recall_mp}"
    approx8 = {(r["q_id"], r["neighbor_id"])
               for r in S.lsh_topk(emb, q, k=10, bands=8,
                                   probe_flips=0).collect()}
    recall8 = len(exact & approx8) / len(exact)
    assert recall8 >= 0.8, f"8-band LSH recall too low: {recall8}"
    approx4 = {(r["q_id"], r["neighbor_id"])
               for r in S.lsh_topk(emb, q, k=10, bands=4,
                                   probe_flips=0).collect()}
    recall4 = len(exact & approx4) / len(exact)
    assert recall4 >= 0.25, f"4-band LSH recall too low: {recall4}"
    assert recall_mp >= recall4, "multi-probe must not lose candidates"


def test_neardup_pairs_verified(spark):
    emb = _emb(spark)
    pairs = S.cosine_neardup_pairs(emb, threshold=0.4).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    assert pairs, "corpus has >=0.4 pairs; none found"
    for r in pairs:
        a, b = vecs[r["d1"]], vecs[r["d2"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.4 - 1e-9
        assert abs(cos - r["score"]) < 1e-9


def test_lsh_signature_deterministic(spark):
    emb = _emb(spark)
    a = emb.select(S.lsh_signature(F.col("embedding"), 64).alias("s")).collect()
    b = emb.select(S.lsh_signature(F.col("embedding"), 64).alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]


def test_arrow_signature_matches_hof(spark):
    """Same planes, same bit rule — the Arrow kernel and its HOF
    reference agree except at exact dot==0 boundaries (absent in
    real-valued data)."""
    emb = _emb(spark).limit(200)
    hof = emb.select("vec_id",
                     S.lsh_signature(F.col("embedding"), 64).alias("s"))
    arrow = emb.select("vec_id",
                       S.lsh_signature_arrow(64)(F.col("embedding"))
                       .alias("s"))
    assert ({r["vec_id"]: r["s"] for r in hof.collect()}
            == {r["vec_id"]: r["s"] for r in arrow.collect()})


def test_ivf_centroids_deterministic(spark):
    emb = _emb(spark)
    a = S.train_ivf_centroids(emb, n_cells=8, iters=1)
    b = S.train_ivf_centroids(emb, n_cells=8, iters=1)
    assert np.array_equal(a, b)
    assert a.shape == (8, 64)


def test_ivf_topk_recall(spark):
    """Probing all cells must recover the exact result; fewer probes
    trade recall (>= 0.5 at 4/8 on this corpus)."""
    emb = _emb(spark)
    q = _queries(emb, 5)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb, q, k=10).collect()}
    cents = S.train_ivf_centroids(emb, n_cells=8)
    full = {(r["q_id"], r["neighbor_id"])
            for r in S.ivf_topk(emb, q, k=10, n_cells=8, n_probe=8,
                                centroids=cents).collect()}
    assert full == exact, "probing every cell must equal brute force"
    part = {(r["q_id"], r["neighbor_id"])
            for r in S.ivf_topk(emb, q, k=10, n_cells=8, n_probe=4,
                                centroids=cents).collect()}
    recall = len(exact & part) / len(exact)
    assert recall >= 0.5, f"IVF 4/8-probe recall too low: {recall}"


def test_hard_negative_mining_invariants(spark):
    from g1_etl_spark.catalog import load_table
    from g1_etl_spark.operators.similarity import hard_negative_mining

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"))
    out = hard_negative_mining(emb, queries, k=2).collect()
    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    by_role: dict = {}
    for r in out:
        assert r["q_id"] != r["neighbor_id"], "self-match leaked"
        # the is_positive flag must agree with the actual labels
        assert r["is_positive"] == (
            labels[r["neighbor_id"]] == labels[r["q_id"]])
        by_role.setdefault((r["q_id"], r["is_positive"]), []).append(r)
    for (qid, _), rows in by_role.items():
        assert len(rows) <= 2
        rows.sort(key=lambda r: r["rank"])
        # scores weakly decreasing in rank; ranks contiguous from 1
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        for a, b in zip(rows, rows[1:]):
            assert a["score"] >= b["score"]
    # every query with >=1 same-label and >=1 cross-label vector gets
    # both roles
    roles = {(q, p) for q, p in by_role}
    for qid in range(10):
        assert (qid, True) in roles and (qid, False) in roles


def test_semantic_dedup_keep_rule(spark):
    """Exact duplicates always share a cluster (same assignment
    function), so every duplicate group keeps exactly its minimum id;
    the keep rule holds pairwise on the output regardless of how the
    k-means split falls."""
    import numpy as np
    from g1_etl_spark.operators.similarity import semantic_dedup

    rows = []
    for i in range(3):                      # ids 0-2: identical
        rows.append((i, [1.0, 0.0, 0.0, 0.0]))
    for i in range(10, 12):                 # ids 10-11: identical
        rows.append((i, [0.0, 1.0, 0.0, 0.0]))
    rows.append((20, [0.0, 0.0, 1.0, 0.0]))  # singleton
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, n_cells=2, threshold=0.9, iters=3).collect()}
    assert len(out) == 6
    assert out[0]["keep"] and not out[1]["keep"] and not out[2]["keep"]
    assert out[10]["keep"] and not out[11]["keep"]
    assert out[20]["keep"]
    # pairwise invariant on the output itself
    vecs = {r[0]: np.array(r[1]) for r in rows}
    for i, ri in out.items():
        lower = [j for j, rj in out.items()
                 if j < i and rj["cluster"] == ri["cluster"]]
        witness = any(
            float(vecs[i] @ vecs[j])
            / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
            >= 0.9 for j in lower)
        assert ri["keep"] == (not witness)


def test_semantic_dedup_threshold_one_never_drops_distinct(spark):
    from g1_etl_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<float>")
    out = semantic_dedup(emb, n_cells=2, threshold=1.0 - 1e-12, iters=2)
    assert all(r["keep"] for r in out.collect())


def test_neardup_top_m_caps_cluster_output(spark):
    """A j-doc identical cluster emits j*(j-1)/2 raw pairs but only
    j*m capped rows — the linear-output guarantee for 100 TB corpora."""
    from g1_etl_spark.operators.similarity import (
        cosine_neardup_pairs, cosine_neardup_pairs_capped, neardup_top_m)

    j = 8
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(j)]       # clique
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    raw = cosine_neardup_pairs(emb, threshold=0.9, dim=4).collect()
    assert len(raw) == j * (j - 1) // 2 + 1
    capped = cosine_neardup_pairs_capped(emb, threshold=0.9, dim=4,
                                         m=3).collect()
    per_doc = {}
    for r in capped:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc, prs in per_doc.items():
        assert len(prs) <= 3
        assert [p["rank"] for p in
                sorted(prs, key=lambda p: p["rank"])] == list(
                    range(1, len(prs) + 1))
    # clique members keep exactly m partners; the isolated pair keeps 1
    assert all(len(per_doc[i]) == 3 for i in range(j))
    assert len(per_doc[100]) == len(per_doc[101]) == 1
    # determinism: ties broken by partner id ascending
    assert [p["partner_id"] for p in
            sorted(per_doc[0], key=lambda p: p["rank"])] == [1, 2, 3]

    # neardup_top_m standalone agrees with the composed form
    raw_df = cosine_neardup_pairs(emb, threshold=0.9, dim=4)
    alone = {(r["doc_id"], r["partner_id"], r["rank"])
             for r in neardup_top_m(raw_df, m=3).collect()}
    composed = {(r["doc_id"], r["partner_id"], r["rank"]) for r in capped}
    assert alone == composed


def test_neardup_top_m_tolerates_duplicate_pairs(spark):
    """A producer that emits the same pair twice must not burn two of
    a doc's m slots on one partner (max-score keep, deterministic)."""
    from g1_etl_spark.operators.similarity import neardup_top_m

    pairs = spark.createDataFrame(
        [(1, 2, 0.97), (1, 2, 0.95), (1, 3, 0.93), (1, 4, 0.91)],
        "d1 long, d2 long, score double")
    out = [r for r in neardup_top_m(pairs, m=3).collect()
           if r["doc_id"] == 1]
    partners = [r["partner_id"] for r in sorted(out,
                                                key=lambda r: r["rank"])]
    assert partners == [2, 3, 4]
    assert [r["score"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [0.97, 0.93, 0.91]


def test_pq_codebooks_deterministic_and_shaped(spark):
    emb = _emb(spark)
    b1 = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1)
    b2 = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    # codebooks live on the unit sphere's subspaces: every centroid is a
    # mean of normalized subvectors, so its norm is bounded by 1
    assert float(np.linalg.norm(b1, axis=2).max()) <= 1.0 + 1e-9


def test_pq_codes_are_m_wide_and_bounded(spark):
    emb = _emb(spark)
    books = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1)
    codes = (emb.select(S._pq_encode(books)(F.col("embedding"))
                        .alias("code")).collect())
    assert len(codes) == 500
    for r in codes:
        assert len(r["code"]) == 8
        assert all(0 <= c < 16 for c in r["code"])


def test_pq_equals_brute_force_when_shortlist_covers_corpus(spark):
    """With shortlist >= corpus size the ADC stage prunes nothing, so
    the exact re-rank must reproduce brute force bit-for-bit (ids,
    ranks, and scores) — pins the re-rank path's correctness
    independently of quantization quality."""
    emb = _emb(spark)
    q = _queries(emb, 3)
    bf = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["score"])
          for r in S.brute_force_topk(emb, q, k=5).collect()}
    pq = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["score"])
          for r in S.pq_topk(emb, q, k=5, m=8, k_sub=16,
                             shortlist=600).collect()}
    assert bf == pq


def test_pq_recall_contract_holds_on_smoke(spark):
    from g1_etl_spark.plans import REGISTRY

    rows = REGISTRY["sim_pq_recall"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    assert all(r["recall_ok"] for r in rows)
    assert all(r["n_exact"] == 10 for r in rows)


def test_pq_topk_deterministic_across_runs(spark):
    emb = _emb(spark)
    q = _queries(emb, 2)
    a = {(r["q_id"], r["rank"], r["neighbor_id"], r["score"])
         for r in S.pq_topk(emb, q, k=5).collect()}
    b = {(r["q_id"], r["rank"], r["neighbor_id"], r["score"])
         for r in S.pq_topk(emb, q, k=5).collect()}
    assert a == b


def test_ivfpq_unbounded_shortlist_equals_ivf_flat(spark):
    """With a prune-nothing shortlist, IVF-PQ must equal IVF-Flat
    bit-for-bit (ids, ranks, scores): cells restrict identically and
    the exact re-rank rescores every in-cell candidate."""
    emb = _emb(spark)
    q = _queries(emb, 3)
    cents = S.train_ivf_centroids(emb, n_cells=16)
    ivf = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["score"])
           for r in S.ivf_topk(emb, q, k=5, centroids=cents).collect()}
    ivfpq = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["score"])
             for r in S.ivf_pq_topk(emb, q, k=5, centroids=cents,
                                    shortlist=10**9).collect()}
    assert ivf == ivfpq


def test_ivfpq_recall_contract_holds_on_smoke(spark):
    from g1_etl_spark.plans import REGISTRY

    rows = REGISTRY["sim_ivfpq_recall"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    assert all(r["matches_restricted_exact"] for r in rows)
    assert all(r["n_ivfpq"] == 10 for r in rows)


def test_adc_score_matches_naive_per_row(spark):
    """_adc_score's batched LUT gather vs an unbatched python loop:
    same codebooks, same codes, same normalized query — identical
    negative squared-L2 ADC distances."""
    emb = _emb(spark)
    books = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1)
    rows = (emb.filter(F.col("vec_id") < 30)
            .select("vec_id", "embedding",
                    S._pq_encode(books)(F.col("embedding")).alias("code"))
            .collect())
    qrow = rows[0]
    scored = spark.createDataFrame(
        [(qrow["embedding"], r["code"], r["vec_id"]) for r in rows],
        "q_vec array<double>, code array<int>, vec_id long")
    got = {r["vec_id"]: r["s"] for r in scored.select(
        "vec_id", S._adc_score(books)(F.col("q_vec"), F.col("code"))
        .alias("s")).collect()}

    q = np.asarray(qrow["embedding"], dtype=np.float64)
    q = q / np.linalg.norm(q)
    for r in rows:
        want = 0.0
        for sub, cell in enumerate(r["code"]):
            diff = q[sub * 8:(sub + 1) * 8] - books[sub, cell]
            want -= float((diff * diff).sum())
        assert abs(got[r["vec_id"]] - want) < 1e-9, r["vec_id"]


def test_pq_training_hash_sample_is_deterministic_and_usable(spark):
    """sample_mod trains on the 1/mod hash-slice: deterministic across
    runs, correct shape, and codes stay in range when encoding the FULL
    corpus with the sampled-fit codebooks."""
    emb = _emb(spark)
    b1 = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1,
                              sample_mod=4)
    b2 = S.train_pq_codebooks(emb, m=8, k_sub=16, dim=64, iters=1,
                              sample_mod=4)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    codes = (emb.select(S._pq_encode(b1)(F.col("embedding"))
                        .alias("code")).collect())
    assert all(0 <= c < 16 for r in codes for c in r["code"])


def test_mmr_skips_near_duplicate_of_first_pick(spark):
    """Engineered pool: candidates 10 and 11 are near-identical and
    most relevant; 12 is less relevant but orthogonal-ish. Plain top-2
    returns the near-dup pair; MMR's second pick must skip 11 for 12.
    Also: ranks are 1..k and relevance order within the selection is
    preserved for untied scores."""
    from g1_etl_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (10, [0.99, 0.14, 0.0, 0.0]),       # most relevant
        (11, [0.99, 0.141, 0.0, 0.0]),      # near-dup of 10
        (12, [0.7, 0.0, 0.71, 0.0]),        # diverse, less relevant
        (13, [0.6, 0.0, 0.0, 0.8]),         # diverse, least relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    out = sorted(mmr_rerank(emb, q, k=3, pool=4, lam=0.5).collect(),
                 key=lambda r: r.mmr_rank)
    picks = [r.neighbor_id for r in out]
    assert picks[0] in (10, 11)          # pure relevance first
    assert picks[1] == 12                # NOT the near-duplicate
    assert set(picks) == {picks[0], 12, 13}
    assert [r.mmr_rank for r in out] == [1, 2, 3]


def test_jl_projection_preserves_norms_on_average(spark):
    """Johnson-Lindenstrauss quality gate: per-vector squared-norm
    ratios ||Px||^2/||x||^2 must center on 1 (E[ratio] = 1 exactly for
    +/-1 projections) and stay inside the loose k=16 concentration
    band on every sampled vector — the property the operator exists
    to provide, asserted rather than assumed."""
    from pyspark.sql import functions as F

    from g1_etl_spark.catalog import load_table
    from g1_etl_spark.plans.similarity_plans import sim_jl_projection
    from tests.conftest import SF_SMOKE

    pr = sim_jl_projection(spark, SF_SMOKE)
    pn = (pr.groupBy("vec_id")
          .agg(F.sum(F.col("value") * F.col("value")).alias("pn2")))
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.aggregate("embedding", F.lit(0.0),
                    lambda a, x: a + x.cast("double")
                    * x.cast("double")).alias("n2"))
    rows = pn.join(emb, "vec_id").collect()
    ratios = [r.pn2 / r.n2 for r in rows if r.n2 > 0]
    assert len(ratios) >= 100
    mean = sum(ratios) / len(ratios)
    assert 0.9 < mean < 1.1, mean
    assert all(0.15 < x < 3.5 for x in ratios), (min(ratios), max(ratios))
