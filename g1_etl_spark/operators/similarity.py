"""Similarity search over an embedding column (array<float>) — the
superset ANN surface (BASELINE.json north star).

Three paths:
  brute_force_topk   exact cosine top-k: broadcast the (small) query set,
                     scan the corpus once, per-query window top-k. The
                     correct baseline at any scale — one corpus scan, no
                     O(n²).
  lsh_topk / lsh_pairs
                     random-hyperplane LSH: fixed seeded planes -> sign
                     bits -> banded bucket join -> exact cosine only on
                     bucket-colliding candidates. The 100 TB path: corpus
                     is hashed once (narrow), candidates per query are
                     ~bucket-sized, never corpus-sized.
  ivf_topk           IVF-Flat: deterministic mini-kmeans centroids (hash-
                     ordered seed sample + distributed Lloyd steps),
                     narrow cell assignment, queries probe n_probe cells
                     -> exact cosine on in-cell candidates only.
  pq_topk            product quantization (ADC): per-subspace codebooks
                     trained by the same deterministic Lloyd, corpus
                     stored as m small codes (16 bytes/vector at the
                     default m=16/k_sub=32 — a 16x compression of a
                     float 64-dim vector), queries score codes via a
                     per-query lookup table, exact re-rank of the
                     shortlist.

Oracle-checked dot products use F.aggregate/zip_with (strict
left-to-right summation — deterministic and engine-reproducible) in
double; the approximate bucketing stages (LSH signature, IVF
assignment) use Arrow-batched numpy matmuls — narrow, vectorized, and
every candidate is exact-verified downstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Deterministic double dot-product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (l2_norm(a) * l2_norm(b))).cast("double")


def _two_stage_topk(scored: DataFrame, q_id_col: str, k: int) -> DataFrame:
    """Skew-free per-query top-k over a (q_id, neighbor_id, score) frame.

    A single Window.partitionBy(q_id) funnels the whole scored corpus
    into num_queries tasks — a straggler at scale. Instead: stage 1 takes
    a local top-k per (query, input-partition) — the exchange hashes on
    (q_id, partition_id), so it spreads over num_queries × P keys — and
    stage 2's per-query window only sees the ≤ k·P survivors.
    """
    order = [F.desc("score"), "neighbor_id"]
    lw = W.partitionBy(q_id_col, "_pid").orderBy(*order)
    pruned = (scored.withColumn("_pid", F.spark_partition_id())
              .withColumn("rank", F.row_number().over(lw))
              .filter(F.col("rank") <= k)
              .drop("_pid", "rank"))
    w = W.partitionBy(q_id_col).orderBy(*order)
    return (pruned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                     ) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    queries is broadcast (query sets are small); the corpus is scanned
    once. Ties broken by neighbor id for determinism.
    """
    # Precompute norms BELOW the join: the join node is a CollapseProject
    # barrier, so each row's norm is one array pass instead of being
    # re-evaluated per (query, row) pair inside the cosine expression.
    c = corpus.select(F.col(id_col), F.col(vec_col),
                      l2_norm(F.col(vec_col)).alias("_cn"))
    q = queries.select(F.col(q_id_col), F.col(q_vec_col),
                       l2_norm(F.col(q_vec_col)).alias("_qn"))
    joined = c.join(F.broadcast(q))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col).alias("neighbor_id"),
        (dot(F.col(q_vec_col), F.col(vec_col))
         / (F.col("_qn") * F.col("_cn"))).cast("double").alias("score"),
    ).filter(F.col(q_id_col) != F.col("neighbor_id"))
    return _two_stage_topk(scored, q_id_col, k)


def hard_negative_mining(corpus: DataFrame, queries: DataFrame,
                         k: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         q_id_col: str = "q_id",
                         q_vec_col: str = "q_vec",
                         q_label_col: str = "q_label") -> DataFrame:
    """Contrastive-pair mining for embedding training: per query, the
    top-k most-cosine-similar SAME-label vectors (positives) and top-k
    most-similar DIFFERENT-label vectors (hard negatives — the pairs a
    contrastive loss learns the most from). Self-matches excluded; ties
    broken by neighbor id.

    Scale shape: identical to brute_force_topk — queries broadcast,
    ONE corpus scan scores everything, and the per-(query, role) top-k
    is two-staged (local top-k per input partition first) so no single
    window task funnels the whole scored corpus. Returns
    (q_id, neighbor_id, score, is_positive, rank<=k).
    """
    c = corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col),
                      l2_norm(F.col(vec_col)).alias("_cn"))
    q = queries.select(F.col(q_id_col), F.col(q_vec_col),
                       F.col(q_label_col),
                       l2_norm(F.col(q_vec_col)).alias("_qn"))
    scored = (c.join(F.broadcast(q))
              .filter(F.col(q_id_col) != F.col(id_col))
              .select(
                  F.col(q_id_col),
                  F.col(id_col).alias("neighbor_id"),
                  (dot(F.col(q_vec_col), F.col(vec_col))
                   / (F.col("_qn") * F.col("_cn"))).cast("double")
                  .alias("score"),
                  (F.col(label_col) == F.col(q_label_col))
                  .alias("is_positive")))
    order = [F.desc("score"), "neighbor_id"]
    lw = W.partitionBy(q_id_col, "is_positive", "_pid").orderBy(*order)
    pruned = (scored.withColumn("_pid", F.spark_partition_id())
              .withColumn("rank", F.row_number().over(lw))
              .filter(F.col("rank") <= k)
              .drop("_pid", "rank"))
    w = W.partitionBy(q_id_col, "is_positive").orderBy(*order)
    return (pruned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim).astype(float).tolist()


def lsh_signature(vec: Column, dim: int, planes: int = 16,
                  seed: int = 7) -> Column:
    """Random-hyperplane sign signature as a long (bit i = sign of
    dot(vec, plane_i)). Planes are fixed-seed literals — reproducible.

    Expression (HOF) form: `planes` interpreted array passes per row and
    a planes×dim literal tree that Catalyst must analyze — correct but
    heavy. The operators use lsh_signature_arrow (identical bit
    semantics, one numpy matmul per Arrow batch); this form is the
    reference that tests/test_similarity.py checks it against.
    """
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(_hyperplanes(dim, planes, seed)):
        p = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig.bitwiseOR(
            F.when(dot(vec, p) > 0,
                   F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    return sig


def lsh_signature_arrow(dim: int, planes: int = 16, seed: int = 7):
    """Vectorized hyperplane signature: a scalar Pandas UDF computing
    sign bits for a whole Arrow batch with one (batch × dim) @ (dim ×
    planes) matmul. Narrow (no shuffle), SIMD-speed, and the plan
    carries one UDF node instead of a planes×dim literal tree.

    Bit semantics match lsh_signature (bit i set iff dot > 0); only the
    float summation order differs, which can flip a sign exactly at the
    dot==0 boundary — immaterial for bucketing (LSH is approximate and
    every candidate is exact-verified downstream).
    """
    if not 1 <= planes <= 63:
        raise ValueError("planes must be in [1, 63] for a signed long")
    P = np.asarray(_hyperplanes(dim, planes, seed), dtype=np.float64)
    weights = (np.int64(1) << np.arange(planes, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="int64")
        mat = np.stack(v.to_numpy()).astype(np.float64)
        bits = (mat @ P.T) > 0
        return pd.Series(bits @ weights)

    return sig


def cosine_arrow():
    """Vectorized cosine for candidate-verify stages: one batched numpy
    kernel instead of per-pair interpreted HOF passes. Used only on
    approximate (rows-only) paths — oracle-checked queries keep the
    strict left-to-right HOF summation."""

    @F.pandas_udf("double")
    def cos(v1: pd.Series, v2: pd.Series) -> pd.Series:
        if v1.empty:
            return pd.Series([], dtype="float64")
        a = np.stack(v1.to_numpy()).astype(np.float64)
        b = np.stack(v2.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))

    return cos


def _banded(df: DataFrame, sig_col: str, bands: int, band_bits: int,
            out: str, probe_flips: int = 0) -> DataFrame:
    """Explode a signature long into (band, bits) structs. With
    ``probe_flips=1``, additionally emit every Hamming-1 variant of each
    band's bits (multi-probe LSH, Lv et al. VLDB'07): a near-miss where
    ONE hyperplane sign flipped still lands in the probed bucket. Use on
    the small (query) side only — probe rows multiply that side by
    (1 + band_bits), which is free for a broadcast side and leaves the
    corpus-side row count unchanged."""
    mask = (1 << band_bits) - 1
    structs = []
    for i in range(bands):
        bits = (F.shiftrightunsigned(F.col(sig_col), band_bits * i)
                .bitwiseAND(mask))
        structs.append(F.struct(F.lit(i).alias("band"),
                                bits.alias("bits")))
        if probe_flips >= 1:
            structs.extend(
                F.struct(F.lit(i).alias("band"),
                         bits.bitwiseXOR(F.lit(1 << j)).alias("bits"))
                for j in range(band_bits))
    return df.select("*", F.explode(F.array(*structs)).alias(out))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             dim: int = 64, planes: int = 16, bands: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             probe_flips: int = 1) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing >=1 LSH band
    with the query (multi-probed by default — the query side also visits
    every Hamming-1 bucket per band, lifting mid-similarity recall from
    ~0.5 to ~0.95 on this corpus at ~5x the broadcast-side rows and a
    proportional candidate-verify increase); exact cosine + window top-k
    on candidates only."""
    band_bits = planes // bands
    sig_udf = lsh_signature_arrow(dim, planes)
    c = corpus.select(F.col(id_col), sig_udf(F.col(vec_col)).alias("sig"))
    q = queries.select(F.col(q_id_col),
                       sig_udf(F.col(q_vec_col)).alias("qsig"))
    cb = _banded(c, "sig", bands, band_bits, "bk")
    qb = _banded(q, "qsig", bands, band_bits, "qbk",
                 probe_flips=probe_flips)
    # candidate distinct on ids ONLY — shuffling the 64-dim vectors
    # through the dedup exchange would move ~50× the bytes; vectors are
    # joined back per-candidate afterwards (same shape as
    # dedup.minhash_lsh_pairs)
    cand = (cb.join(F.broadcast(qb), cb.bk == qb.qbk)
            .filter(F.col(q_id_col) != F.col(id_col))
            .select(q_id_col, id_col)
            .distinct())
    scored = (cand
              .join(corpus.select(
                  id_col, vec_col,
                  l2_norm(F.col(vec_col)).alias("_cn")), id_col)
              .join(F.broadcast(queries.select(
                  q_id_col, q_vec_col,
                  l2_norm(F.col(q_vec_col)).alias("_qn"))), q_id_col)
              .select(F.col(q_id_col),
                      F.col(id_col).alias("neighbor_id"),
                      (dot(F.col(q_vec_col), F.col(vec_col))
                       / (F.col("_qn") * F.col("_cn"))).cast("double")
                      .alias("score")))
    return _two_stage_topk(scored, q_id_col, k)


def _assign_cells(n_probe: int, centroids: np.ndarray):
    """Arrow UDF: nearest-`n_probe` centroid ids (by cosine) for each
    vector in a batch — one matmul per Arrow batch."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="object")
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ C.T
        # argpartition = O(cells); exact order among the probed cells
        top = np.argpartition(-sims, min(n_probe, sims.shape[1] - 1),
                              axis=1)[:, :n_probe]
        rows = np.arange(sims.shape[0])[:, None]
        order = np.argsort(-sims[rows, top], axis=1)
        return pd.Series([r.astype("int32").tolist()
                          for r in np.take_along_axis(top, order, axis=1)])

    return assign


def train_ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                        dim: int = 64, iters: int = 2,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> np.ndarray:
    """Deterministic mini-kmeans: seed centroids are the corpus vectors
    with the `n_cells` smallest xxhash64(id) (a reproducible pseudo-
    random sample), refined by `iters` distributed Lloyd steps (assign =
    narrow Arrow matmul; update = explode + groupBy mean — one shuffle
    of (cell, dim, component) triples, never of vectors).

    Only the (n_cells × dim) centroid matrix ever reaches the driver.
    """
    seed_rows = (corpus.select(F.col(vec_col).alias("v"),
                               F.xxhash64(F.col(id_col)).alias("h"))
                 .orderBy("h").limit(n_cells).collect())
    cents = np.array([list(r["v"]) for r in seed_rows], dtype=np.float64)
    for _ in range(iters):
        assign = _assign_cells(1, cents)
        assigned = corpus.select(
            assign(F.col(vec_col))[0].alias("cell"),
            F.posexplode(F.col(vec_col)).alias("i", "x"))
        means = (assigned.groupBy("cell", "i")
                 .agg(F.avg(F.col("x").cast("double")).alias("m"))
                 .collect())
        nxt = cents.copy()  # empty cells keep their previous centroid
        for r in means:
            nxt[r["cell"], r["i"]] = r["m"]
        cents = nxt
    return cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors live in their nearest
    centroid's cell (narrow assignment); each query probes its `n_probe`
    nearest cells and exact-scores only those cells' vectors.

    At scale the candidate set per query is ~n_probe/n_cells of the
    corpus; recall/cost trades via n_probe. Pass a pre-trained
    `centroids` matrix to amortize training across query batches.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, dim,
                                        vec_col=vec_col, id_col=id_col)
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
        _assign_cells(1, centroids)(F.col(vec_col))[0].alias("cell"))
    q = queries.select(
        F.col(q_id_col), F.col(q_vec_col),
        l2_norm(F.col(q_vec_col)).alias("_qn"),
        F.explode(_assign_cells(n_probe, centroids)(F.col(q_vec_col)))
        .alias("cell"))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col(q_id_col) != F.col(id_col))
              .select(F.col(q_id_col),
                      F.col(id_col).alias("neighbor_id"),
                      (dot(F.col(q_vec_col), F.col(vec_col))
                       / (F.col("_qn") * F.col("_cn"))).cast("double")
                      .alias("score")))
    return _two_stage_topk(scored, q_id_col, k)


def train_pq_codebooks(corpus: DataFrame, m: int = 16, k_sub: int = 32,
                       dim: int = 64, iters: int = 2,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       sample_mod: int = 1) -> np.ndarray:
    """Deterministic PQ codebooks, shape (m, k_sub, dim//m).

    Vectors are L2-normalized first (so squared-L2 ADC ordering equals
    cosine ordering), split into m contiguous subspaces, and each
    subspace gets a k_sub-centroid codebook: seeds are the subvectors of
    the k_sub corpus rows with smallest xxhash64(id) (reproducible
    pseudo-random sample, same policy as train_ivf_centroids), refined
    by `iters` Lloyd steps run for ALL subspaces in one distributed pass
    each (assign + normalize in ONE Arrow batch UDF — normalizing with
    a SQL higher-order transform re-evaluates the interpreted L2
    aggregate per element, dim^2 work per row, the ngrams_from_words
    trap; update = posexplode + groupBy(sub, cell, lane) mean — a
    shuffle of scalar triples, never of vectors). Only the
    (m × k_sub × dim/m) codebook reaches the driver.

    sample_mod > 1 trains on the deterministic 1/sample_mod hash-slice
    of the corpus (xxhash64(id) % mod == 0) — at 100 TB codebooks are
    always fit on a bounded sample (FAISS practice); encoding still
    covers every vector.
    """
    d_sub = dim // m
    assert m * d_sub == dim, (m, dim)
    seed_rows = (corpus.select(F.col(vec_col).alias("v"),
                               F.xxhash64(F.col(id_col)).alias("h"))
                 .orderBy("h").limit(k_sub).collect())
    seeds = np.array([list(r["v"]) for r in seed_rows], dtype=np.float64)
    seeds /= np.maximum(np.linalg.norm(seeds, axis=1, keepdims=True),
                        1e-30)
    books = np.ascontiguousarray(
        seeds.reshape(k_sub, m, d_sub).transpose(1, 0, 2))
    train = corpus
    if sample_mod > 1:
        train = corpus.filter(
            F.xxhash64(F.col(id_col)) % sample_mod == 0)
    for _ in range(iters):
        encu = _pq_encode_with_unit(books)
        assigned = (train
                    .select(encu(F.col(vec_col)).alias("s"))
                    .select(F.col("s.code").alias("codes"),
                            F.posexplode(F.col("s.unit"))
                            .alias("i", "x"))
                    .select((F.col("i") / d_sub).cast("int").alias("sub"),
                            F.col("i"), F.col("x"), F.col("codes")))
        means = (assigned
                 .select("sub", F.col("codes")[F.col("sub")].alias("cell"),
                         (F.col("i") % d_sub).alias("lane"), "x")
                 .groupBy("sub", "cell", "lane")
                 .agg(F.avg("x").alias("mu"))
                 .collect())
        nxt = books.copy()  # empty cells keep their previous centroid
        for r in means:
            nxt[r["sub"], r["cell"], r["lane"]] = r["mu"]
        books = nxt
    return books


def _pq_encode_with_unit(codebooks: np.ndarray):
    """Arrow UDF: (PQ code, L2-normalized vector) per input vector in
    one batch pass — the Lloyd update needs both, and producing them
    together keeps normalization vectorized in numpy instead of an
    interpreted per-element SQL transform."""
    C = codebooks  # (m, k, d_sub)

    @F.pandas_udf("struct<code: array<int>, unit: array<double>>")
    def encu(v: pd.Series) -> pd.DataFrame:
        if v.empty:
            return pd.DataFrame({"code": [], "unit": []})
        X = np.stack(v.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        n = X.shape[0]
        mm, _, d_sub = C.shape
        Xs = X.reshape(n, mm, d_sub)
        d2 = ((Xs[:, :, None, :] - C[None]) ** 2).sum(-1)
        return pd.DataFrame({
            "code": [r.tolist() for r in d2.argmin(-1).astype("int32")],
            "unit": [r.tolist() for r in X]})

    return encu


def _pq_encode(codebooks: np.ndarray):
    """Arrow UDF: PQ code (array<int> of length m) per vector — nearest
    sub-centroid by squared L2 on the normalized subvector, ties to the
    lowest centroid id (argmin is first-match)."""
    C = codebooks  # (m, k, d_sub)

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="object")
        X = np.stack(v.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        n = X.shape[0]
        mm, _, d_sub = C.shape
        Xs = X.reshape(n, mm, d_sub)
        d2 = ((Xs[:, :, None, :] - C[None]) ** 2).sum(-1)  # (n, m, k)
        return pd.Series([r.tolist()
                          for r in d2.argmin(-1).astype("int32")])

    return enc


def _adc_score(codebooks: np.ndarray):
    """Arrow UDF: negative squared-L2 ADC distance between a (repeated)
    query vector and a PQ code. The per-query (m × k_sub) lookup table is
    built ONCE per distinct query per Arrow batch and reused across the
    batch's rows — the asymmetric-distance trick that makes PQ scoring
    m table-gathers per candidate instead of a dim-length dot product."""
    C = codebooks
    mm, _, d_sub = C.shape

    @F.pandas_udf("double")
    def adc(qv: pd.Series, code: pd.Series) -> pd.Series:
        if qv.empty:
            return pd.Series([], dtype="float64")
        codes = np.stack(code.to_numpy()).astype(np.int64)  # (n, m)
        out = np.empty(len(qv), dtype=np.float64)
        luts: dict[bytes, np.ndarray] = {}
        qarr = qv.to_numpy()
        keys = np.array([np.asarray(q, dtype=np.float64).tobytes()
                         for q in qarr])
        for key in np.unique(keys):
            q = np.frombuffer(key, dtype=np.float64)
            q = q / max(np.linalg.norm(q), 1e-30)
            qs = q.reshape(mm, 1, d_sub)
            luts[key] = ((qs - C) ** 2).sum(-1)  # (m, k)
        lanes = np.arange(mm)
        for key, lut in luts.items():
            rows = np.nonzero(keys == key)[0]
            out[rows] = -lut[lanes[None, :], codes[rows]].sum(1)
        return pd.Series(out)

    return adc


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 16, k_sub: int = 32, dim: int = 64,
            shortlist: int = 150, id_col: str = "vec_id",
            vec_col: str = "embedding", q_id_col: str = "q_id",
            q_vec_col: str = "q_vec",
            codebooks: np.ndarray | None = None) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank.

    The corpus is encoded once into m-byte codes (narrow Arrow pass — at
    100 TB the codes table is the stored index, ~16x smaller than the
    raw vectors, so the scoring scan reads GBs where brute force reads
    TBs). Queries are broadcast; ADC scores every code via per-query
    lookup tables; a skew-free two-stage top-`shortlist` prunes per
    query; only the shortlist's raw vectors are exact-cosine re-ranked
    to the final top-k. Ties broken by neighbor id. Pass a pre-trained
    `codebooks` to amortize training across query batches.

    Defaults tuned on the synthetic near-random 64-dim corpus (the
    hardest case for PQ — tiny cosine spread): m=16/k_sub=32/
    shortlist=150 measures per-query recall@10 >= 0.9 at sf0.1 and 1.0
    at sf0.01 vs exact brute force.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m, k_sub, dim,
                                       vec_col=vec_col, id_col=id_col)
    enc = _pq_encode(codebooks)
    adc = _adc_score(codebooks)
    # Stage 1 carries ONLY (id, code) past the encode: here codes are
    # built inline (one vector read — this sandbox has no stored index),
    # but in deployment the codes table IS the stored index and this
    # stage reads 16x less. Either way no raw vector enters the scoring
    # join or the shortlist shuffle — the exchanges move scores and
    # m-byte codes, not dim-float vectors.
    c = corpus.select(F.col(id_col), enc(F.col(vec_col)).alias("_code"))
    q = queries.select(F.col(q_id_col), F.col(q_vec_col))
    scored = (c.join(F.broadcast(q))
              .filter(F.col(q_id_col) != F.col(id_col))
              .select(F.col(q_id_col),
                      F.col(id_col).alias("neighbor_id"),
                      adc(F.col(q_vec_col), F.col("_code"))
                      .alias("score")))
    short = (_two_stage_topk(scored, q_id_col, shortlist)
             .select(q_id_col, "neighbor_id"))
    return _exact_rerank(corpus, queries, short, k, id_col, vec_col,
                         q_id_col, q_vec_col)


def _exact_rerank(corpus: DataFrame, queries: DataFrame,
                  short: DataFrame, k: int, id_col: str, vec_col: str,
                  q_id_col: str, q_vec_col: str,
                  broadcast_short: bool = True) -> DataFrame:
    """Exact-cosine re-rank of a (q_id, neighbor_id) candidate list:
    fetch raw vectors for the tiny candidate set only — the shortlist
    broadcasts against the corpus, a hash semi-lookup by id (the
    standard IVF-PQ re-rank fetch) — then window down to top-k.

    ``broadcast_short=False`` drops the hint for callers whose
    candidate set is NOT bounded (ivf_pq_topk with an uncapped
    shortlist passes the full probed-cell contents — a constant
    FRACTION of the corpus, which must never be force-broadcast at the
    100 TB north star; AQE still broadcasts it while it fits)."""
    short = F.broadcast(short) if broadcast_short else short
    cand = (corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col),
                          l2_norm(F.col(vec_col)).alias("_cn"))
            .join(short, "neighbor_id"))
    qn = queries.select(F.col(q_id_col), F.col(q_vec_col),
                        l2_norm(F.col(q_vec_col)).alias("_qn"))
    exact = (cand.join(F.broadcast(qn), q_id_col)
             .select(F.col(q_id_col), F.col("neighbor_id"),
                     (dot(F.col(q_vec_col), F.col(vec_col))
                      / (F.col("_qn") * F.col("_cn"))).cast("double")
                     .alias("score")))
    return _two_stage_topk(exact, q_id_col, k)


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                n_cells: int = 16, n_probe: int = 4, m: int = 16,
                k_sub: int = 32, dim: int = 64,
                shortlist: int | None = 150, id_col: str = "vec_id",
                vec_col: str = "embedding", q_id_col: str = "q_id",
                q_vec_col: str = "q_vec",
                centroids: np.ndarray | None = None,
                codebooks: np.ndarray | None = None) -> DataFrame:
    """IVF-PQ: the composition that serves web-scale ANN (FAISS's
    default index family) — IVF cells bound WHICH candidates are
    scored (~n_probe/n_cells of the corpus), PQ codes bound the COST
    and BYTES of scoring each one (16-byte ADC lookups, no raw vector
    read), and the exact re-rank restores ranking fidelity on the
    shortlist. At 100 TB the corpus stores as (cell, code) — both
    narrow — cell-partitioned so a query's probes prune partitions.

    A shortlist that prunes nothing (None skips the ADC stage; a bound
    >= the in-cell candidate count ranks but keeps everything) makes
    the operator equal IVF-Flat by construction — the contract
    sim_ivfpq_recall pins exactly that — while the default 150 caps
    re-rank fetches per query.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, dim,
                                        vec_col=vec_col, id_col=id_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m, k_sub, dim,
                                       vec_col=vec_col, id_col=id_col)
    enc = _pq_encode(codebooks)
    adc = _adc_score(codebooks)
    c = corpus.select(
        F.col(id_col), enc(F.col(vec_col)).alias("_code"),
        _assign_cells(1, centroids)(F.col(vec_col))[0].alias("cell"))
    q = queries.select(
        F.col(q_id_col), F.col(q_vec_col),
        F.explode(_assign_cells(n_probe, centroids)(F.col(q_vec_col)))
        .alias("cell"))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col(q_id_col) != F.col(id_col))
              .select(F.col(q_id_col),
                      F.col(id_col).alias("neighbor_id"),
                      adc(F.col(q_vec_col), F.col("_code"))
                      .alias("score")))
    # a shortlist that caps per-query fetches is broadcast-sized by
    # construction; an uncapped/no-op shortlist is ~n_probe/n_cells of
    # the corpus and must not carry a broadcast hint (the recall
    # contract runs that way at any sf)
    bounded = shortlist is not None and shortlist <= 100_000
    if shortlist is not None:
        cand_ids = (_two_stage_topk(scored, q_id_col, shortlist)
                    .select(q_id_col, "neighbor_id"))
    else:
        cand_ids = scored.select(q_id_col, "neighbor_id")
    return _exact_rerank(corpus, queries, cand_ids, k, id_col, vec_col,
                         q_id_col, q_vec_col, broadcast_short=bounded)


def cosine_neardup_pairs(corpus: DataFrame, threshold: float = 0.95,
                         dim: int = 64, planes: int = 16, bands: int = 4,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         probe_flips: int = 0) -> DataFrame:
    """Embedding near-duplicate pairs via LSH bucketing + exact verify.

    ``probe_flips=1`` multi-probes ONE side of the self-join (a pair is
    a candidate when any band differs by <= 1 bit). Unlike lsh_topk's
    query side this multiplies corpus-side rows by (1 + band_bits), so
    it is an explicit recall-vs-cost knob, off by default; turn it on
    when the similarity regime of interest sits near the band-match
    probability cliff (e.g. mid-0.4s cosine with 16 planes).

    Threshold-vs-dimension caveat (measured, scripts/scale_probe.py):
    random-pair cosine at dim d has sigma ~ 1/sqrt(d) — 0.125 at d=64 —
    so a 0.4 threshold is only ~3.2 sigma and the O(N^2) random-pair
    tail overtakes true near-dups as the corpus grows (10x corpus ->
    ~100x pairs; runtime stayed sub-linear PER OUTPUT PAIR). At
    production embedding dims (768+) the same threshold is 11+ sigma
    and the tail vanishes; for low-dim corpora raise the threshold with
    corpus size."""
    band_bits = planes // bands
    sig_expr = lsh_signature_arrow(dim, planes)(F.col(vec_col))
    c = corpus.select(F.col(id_col).alias("d"), sig_expr.alias("sig"))
    b = _banded(c, "sig", bands, band_bits, "bk")
    bp = (_banded(c, "sig", bands, band_bits, "bk",
                  probe_flips=probe_flips)
          if probe_flips else b)
    # id-only candidate distinct (see lsh_topk) — vectors join back after
    cand = (bp.alias("x").join(
        b.alias("y"),
        (F.col("x.bk") == F.col("y.bk")) & (F.col("x.d") < F.col("y.d")))
        .select(F.col("x.d").alias("d1"), F.col("y.d").alias("d2"))
        .distinct())
    v1 = corpus.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
    v2 = corpus.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
    withv = cand.join(v1, "d1").join(v2, "d2")
    score = cosine_arrow()(F.col("v1"), F.col("v2"))
    return (withv.select("d1", "d2", score.cast("double").alias("score"))
            .filter(F.col("score") >= threshold))


def neardup_top_m(pairs: DataFrame, m: int = 3,
                  d1_col: str = "d1", d2_col: str = "d2",
                  score_col: str = "score") -> DataFrame:
    """Cap an unordered near-dup pair stream at the m strongest
    partners PER DOCUMENT: symmetrize (each pair counts for both
    endpoints), then a skew-free two-stage top-m per doc. Returns
    (doc_id, partner_id, score, rank) with deterministic ties
    (score desc, partner asc).

    This is what makes an exact or near-exact pair operator safe to
    point at an unbounded corpus: a boilerplate cluster of j docs emits
    O(j^2) raw pairs, but at most j*m survive the cap — output is
    linear in corpus size regardless of cluster structure. The raw
    (uncapped) form stays available as the oracle twin for recall
    contracts."""
    # symmetrize with ONE explode, not a self-union: union branches get
    # no common-subexpression elimination, so a union would re-run the
    # whole upstream pair producer (LSH candidate stage + verify) twice
    sym = (pairs.select(
        F.explode(F.array(
            F.struct(F.col(d1_col).alias("doc_id"),
                     F.col(d2_col).alias("neighbor_id")),
            F.struct(F.col(d2_col).alias("doc_id"),
                     F.col(d1_col).alias("neighbor_id")))).alias("e"),
        F.col(score_col).alias("score"))
        .select("e.doc_id", "e.neighbor_id", "score"))
    # collapse duplicate (doc, partner) rows BEFORE ranking: a producer
    # that emits a pair twice (e.g. a candidate stage without cross-band
    # dedup) must not burn two of the doc's m slots on the same partner.
    # Max-score keep is deterministic; for exact producers (unique
    # pairs) this aggregate is an identity pass-through.
    sym = (sym.groupBy("doc_id", "neighbor_id")
           .agg(F.max("score").alias("score")))
    return (_two_stage_topk(sym, "doc_id", m)
            .select("doc_id", F.col("neighbor_id").alias("partner_id"),
                    "score", "rank"))


def cosine_neardup_pairs_capped(corpus: DataFrame, threshold: float = 0.95,
                                m: int = 3, dim: int = 64,
                                planes: int = 16, bands: int = 4,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                probe_flips: int = 0) -> DataFrame:
    """cosine_neardup_pairs with the per-doc top-m cap applied — the
    form safe to run over a full 100 TB corpus (output linear in N;
    see neardup_top_m). Parameters pass through to the banded LSH
    candidate stage."""
    raw = cosine_neardup_pairs(corpus, threshold=threshold, dim=dim,
                               planes=planes, bands=bands, id_col=id_col,
                               vec_col=vec_col, probe_flips=probe_flips)
    return neardup_top_m(raw, m=m)


def semantic_dedup(corpus: DataFrame, n_cells: int = 8,
                   threshold: float = 0.5, iters: int = 4,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   train_df: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-partition
    the embedding space, then inside each cluster drop every vector
    whose cosine to ANY lower-id cluster-mate reaches the threshold —
    the minimum-id member of each semantic near-dup group survives.
    Returns (id, cluster, keep).

    The keep rule is deliberately "lower id exists", not "lower KEPT id
    exists": the greedy chain variant needs a sequential pass per
    cluster, while this one is a single pairwise predicate —
    deterministic, engine-portable, and it only over-drops on chains
    a<b<c where cos(a,b) and cos(b,c) pass but cos(a,c) does not
    (documented divergence from the paper's per-group argmax keep).

    Scale shape: the pairwise stage is confined to clusters, so cost
    is sum over clusters of |c|^2, not N^2 — the SemDeDup design
    point. Choose n_cells proportional to N to bound |c| (the paper
    runs 50k clusters on LAION); the join shuffles on the cluster key
    only. Centroid training is the bounded-driver-state mini-Lloyd
    from the IVF index (n_cells x dim floats on the driver); pass a
    deterministic hash-sample as `train_df` so the Lloyd passes scan a
    subset while assignment still covers every vector (the paper's own
    recipe — full-corpus training with cells ∝ N makes each Lloyd pass
    N·cells·dim, the one super-linear term; assignment keeps that cost
    but runs ONCE and is embarrassingly parallel).
    """
    cents = train_ivf_centroids(train_df if train_df is not None
                                else corpus,
                                n_cells=n_cells, iters=iters,
                                vec_col=vec_col, id_col=id_col)
    assigned = (corpus.select(
        F.col(id_col), F.col(vec_col),
        _assign_cells(1, cents)(F.col(vec_col))[0].alias("cluster"))
        .localCheckpoint(eager=True))
    a = assigned.select("cluster", F.col(id_col).alias("d1"),
                        F.col(vec_col).alias("v1"))
    b = assigned.select("cluster", F.col(id_col).alias("d2"),
                        F.col(vec_col).alias("v2"))
    dups = (a.join(b, "cluster")
            .filter(F.col("d1") < F.col("d2"))
            .filter(cosine(F.col("v1"), F.col("v2")) >= threshold)
            .select(F.col("d2").alias("_dup"))
            .distinct())
    return (assigned
            .join(dups, F.col(id_col) == F.col("_dup"), "left")
            .select(id_col, "cluster", F.col("_dup").isNull().alias("keep")))


# centroid-mean quantization for kmeans_exact — the oracle interpolates
# THIS constant into its m{k} CTEs, so the twin halves of the idiom
# cannot drift (1e9: component values are O(1), cluster sums stay far
# inside int64 at any realistic cell size)
KMEANS_MEAN_SCALE = 1_000_000_000


def kmeans_exact(corpus: DataFrame, k: int = 4, iters: int = 3,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Engine-exact Lloyd k-means: (id, cluster) after `iters`
    assignment rounds with quantized centroid updates — the
    hash-checkable sibling of train_ivf_centroids (which optimizes for
    speed with Arrow matmuls and xxhash seeds; this one makes every
    step bit-portable so the DuckDB twin can unroll it as chained
    CTEs, like PageRank / BPE / PCA):

      - seeds: the k vectors with smallest (md5(id), id) — a
        reproducible pseudo-random draw both engines compute;
      - assignment: argmax cosine via the strict left-to-right list
        fold (bit-identical across engines), ties to the lower cell;
      - update: per-component scaled-long mean; empty cells keep their
        previous centroid.

    Scale shape: centroids stay a k-row DataFrame broadcast into an
    N x k scored cross join (k is small by construction); assignment
    is a per-vector window, update one explode + (cell, idx) reduce.
    Per-iteration localCheckpoint keeps plan depth O(1). The seed draw
    collects k rows (bounded driver state, the kmeans-centroid class).
    """
    if iters < 1:
        raise ValueError("kmeans_exact needs iters >= 1")
    spark = corpus.sparkSession
    seeds = (corpus
             .select(F.md5(F.col(id_col).cast("string")).alias("_h"),
                     F.col(id_col).alias("_id"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("cv"))
             .orderBy("_h", "_id").limit(k).collect())
    cells = spark.createDataFrame(
        [(i, list(r["cv"])) for i, r in enumerate(seeds)],
        "cell int, cvec array<double>").localCheckpoint(eager=True)

    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    wa = W.partitionBy(id_col).orderBy(F.desc("_s"), "cell")
    for it in range(iters):
        scored = (vecs.crossJoin(F.broadcast(cells))
                  .select(id_col, "cell", F.col(vec_col),
                          (dot(F.col(vec_col), F.col("cvec"))
                           / (l2_norm(F.col(vec_col))
                              * l2_norm(F.col("cvec")))).alias("_s")))
        assign = (scored.withColumn("_r", F.row_number().over(wa))
                  .filter(F.col("_r") == 1)
                  .select(id_col, "cell", vec_col))
        if it == iters - 1:
            return assign.select(F.col(id_col),
                                 F.col("cell").alias("cluster"))
        comp = (assign
                .select("cell", F.posexplode(
                    F.transform(F.col(vec_col),
                                lambda x: x.cast("double")))
                    .alias("i", "x"))
                .groupBy("cell", "i")
                .agg(((F.sum(F.round(F.col("x") * KMEANS_MEAN_SCALE)
                             .cast("long")).cast("double")
                       / KMEANS_MEAN_SCALE)
                      / F.count(F.lit(1))).alias("m")))
        upd = (comp.groupBy("cell")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("i", "m"))),
                   lambda s: s["m"]).alias("ucvec")))
        cells = (cells.join(upd, "cell", "left")
                 .select("cell",
                         F.coalesce("ucvec", "cvec").alias("cvec"))
                 .localCheckpoint(eager=True))
    raise AssertionError("unreachable")


def mmr_candidate_pool(corpus: DataFrame, queries: DataFrame, pool: int,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                       ) -> DataFrame:
    """The (queries x pool) MMR candidate frame, UN-checkpointed: the
    exact top-`pool` cosine candidates per query with their vectors and
    norms re-attached. This is the ONLY corpus-sized stage of
    mmr_rerank; it is split out so the plan lint can inspect it before
    mmr_rerank's localCheckpoint truncates the lineage to an RDD stub
    (tests/test_plan_quality.py::test_mmr_candidate_plan_pre_checkpoint).
    """
    cand = brute_force_topk(corpus, queries, k=pool, id_col=id_col,
                            vec_col=vec_col, q_id_col=q_id_col,
                            q_vec_col=q_vec_col)
    return (cand.join(corpus.select(F.col(id_col).alias("neighbor_id"),
                                    F.col(vec_col).alias("_v")),
                      "neighbor_id")
            .select(q_id_col, "neighbor_id",
                    F.col("score").alias("rel"), "_v",
                    l2_norm(F.col("_v")).alias("_n")))


def mmr_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
               pool: int = 20, lam: float = 0.5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id_col: str = "q_id", q_vec_col: str = "q_vec",
               ) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein):
    per query, greedily pick k results from the exact top-`pool`
    cosine candidates, each step maximizing

        lam * relevance - (1 - lam) * max_sim_to_already_selected

    (step 1 uses max_sim = 0, i.e. pure relevance) — the serving-side
    diversification that keeps a result page from being k near-copies
    of the same document.

    Scale shape: the only corpus-sized stage is brute_force_topk's
    scan (swap in any ANN top-k at 100 TB — MMR only consumes the
    candidate pool); everything after is bounded by queries x pool
    (candidate vectors, the pool^2 pairwise-sim frame, and k bounded
    per-step argmax aggregates — partial+final struct MAX, no ranked
    window). Greedy selection is inherently sequential in k, so the
    loop is k tiny bounded-frame jobs, the census pattern of the
    graph family.

    Determinism: relevance and pair sims are the strict left-to-right
    fold cosines (bit-identical to the SQL oracle), lam = 0.5 scales
    are exact halvings, and every argmax tie-breaks by ascending
    candidate id — so the selection sequence is bit-reproducible and
    fully oracle-checkable (unrolled greedy CTEs, PageRank-style).
    """
    assert lam == 0.5, "oracle pins lam = 0.5 (exact halving)"
    cand = mmr_candidate_pool(corpus, queries, pool, id_col=id_col,
                              vec_col=vec_col, q_id_col=q_id_col,
                              q_vec_col=q_vec_col).localCheckpoint()
    # ^ bounded: queries x pool rows. The checkpoint truncates the
    # corpus-sized candidate lineage, which also hides it from the
    # fleet-wide plan lint — tests/test_plan_quality.py lints the
    # un-checkpointed mmr_candidate_pool assembly separately.
    return mmr_select(cand, k=k, lam=lam, q_id_col=q_id_col)


def mmr_rerank_over_pool(corpus: DataFrame, pool_df: DataFrame,
                         k: int = 5, lam: float = 0.5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         q_id_col: str = "q_id") -> DataFrame:
    """MMR greedy selection over an ARBITRARY candidate pool — the
    "any ANN slots in" path (VERDICT r8 ask #5): `pool_df` is any
    (q_id, neighbor_id, score) frame (ivf_topk, lsh_topk, ivfpq_topk
    output), so the serving stack can swap the exact brute-force pool
    for an ANN pool without touching the diversification layer. Only
    the vector re-attach join touches the corpus; everything after is
    bounded by queries x pool like mmr_rerank. The selection over a
    given pool is EXACT greedy MMR — certified by the
    sim_mmr_ivf_recall restricted-exactness contract."""
    cand = (pool_df.join(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_v")), "neighbor_id")
        .select(q_id_col, "neighbor_id",
                F.col("score").alias("rel"), "_v",
                l2_norm(F.col("_v")).alias("_n"))
        .localCheckpoint())  # bounded: queries x pool rows
    return mmr_select(cand, k=k, lam=lam, q_id_col=q_id_col)


def mmr_select(cand: DataFrame, k: int = 5, lam: float = 0.5,
               q_id_col: str = "q_id") -> DataFrame:
    """The pool-agnostic greedy MMR loop over a BOUNDED candidate
    frame (q_id, neighbor_id, rel, _v, _n) — shared by the exact-pool
    mmr_rerank and the ANN-pool mmr_rerank_over_pool.

    r11 (guide §1.2 — the bounded-alphabet fold, operators/folded):
    the k greedy steps previously ran as k tiny Spark jobs, each with
    an eager localCheckpoint, two joins and a struct-MAX aggregate over
    the (queries x pool)-bounded frame — pure scheduling overhead. The
    loop now folds to ONE JVM expression per query row: candidates and
    the pool^2 pairwise-sim map group to per-query arrays, and
    F.aggregate(sequence(1, k), ...) carries the selected list as the
    accumulator. Per-step arithmetic is the exact tree of the old loop
    (0.5*rel for step 1; 0.5*rel - 0.5*max(sim to selected) after;
    argmax tie-break score desc then id asc on the same doubles), so
    the selection SEQUENCE — ids, ranks, and bit-exact mmr_scores — is
    unchanged, which the sim_mmr_ivf_recall contract (an independent
    sequential Python greedy) re-certifies. The selection stays a
    distributed JVM computation; only the k-job scheduling is gone."""
    assert lam == 0.5, "oracle pins lam = 0.5 (exact halving)"
    from g1_etl_spark.operators.folded import bind, iterate

    a = cand.select(F.col(q_id_col), F.col("neighbor_id").alias("c1"),
                    F.col("_v").alias("_v1"), F.col("_n").alias("_n1"))
    b = cand.select(F.col(q_id_col), F.col("neighbor_id").alias("c2"),
                    F.col("_v").alias("_v2"), F.col("_n").alias("_n2"))
    pair = (a.join(b, q_id_col)
            .filter(F.col("c1") != F.col("c2"))
            .select(q_id_col, "c1", "c2",
                    (dot(F.col("_v1"), F.col("_v2"))
                     / (F.col("_n1") * F.col("_n2"))).cast("double")
                    .alias("sim")))  # bounded: queries x pool^2 rows
    carr = (cand.groupBy(q_id_col)
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col("neighbor_id"), F.col("rel")))).alias("cs")))
    pm = (pair.groupBy(q_id_col)
          .agg(F.map_from_arrays(
              F.collect_list(F.named_struct(
                  F.lit("c1"), F.col("c1"), F.lit("c2"), F.col("c2"))),
              F.collect_list("sim")).alias("pm")))
    # left join: a one-candidate pool has no pairs (step 1 never needs
    # the map, and there is no step 2 without a second candidate)
    row = carr.join(pm, q_id_col, "left")

    idt = cand.schema["neighbor_id"].dataType.simpleString()
    out_t = (f"array<struct<neighbor_id:{idt},rel:double,"
             "mmr_rank:bigint,mmr_score:double>>")
    cs, pmc = F.col("cs"), F.col("pm")

    def step(acc, stepno):
        def cand_score(c):
            msim = F.aggregate(
                acc, F.lit(None).cast("double"),
                lambda m, s: F.greatest(m, F.element_at(
                    pmc, F.named_struct(
                        F.lit("c1"), c["neighbor_id"],
                        F.lit("c2"), s["neighbor_id"]))))
            return (F.when(F.size(acc) == 0, F.lit(lam) * c["rel"])
                    .otherwise(F.lit(lam) * c["rel"]
                               - F.lit(1.0 - lam) * msim))

        def upd(bst, c):
            sel = F.exists(
                acc, lambda s: s["neighbor_id"] == c["neighbor_id"])
            return bind(cand_score(c), lambda sc: F.when(sel, bst)
                        .otherwise(F.when(
                            bst["neighbor_id"].isNull()
                            | (sc > bst["mmr_score"])
                            | ((sc == bst["mmr_score"])
                               & (c["neighbor_id"]
                                  < bst["neighbor_id"])),
                            F.named_struct(
                                F.lit("neighbor_id"), c["neighbor_id"],
                                F.lit("rel"), c["rel"],
                                F.lit("mmr_rank"), stepno.cast("long"),
                                F.lit("mmr_score"), sc))
                            .otherwise(bst)))

        zero = F.named_struct(
            F.lit("neighbor_id"), F.lit(None).cast(idt),
            F.lit("rel"), F.lit(None).cast("double"),
            F.lit("mmr_rank"), F.lit(None).cast("bigint"),
            F.lit("mmr_score"), F.lit(None).cast("double"))
        return bind(F.aggregate(cs, zero, upd),
                    lambda best: F.when(best["neighbor_id"].isNull(),
                                        acc)
                    .otherwise(F.concat(acc, F.array(best))))

    selected = iterate(k, F.expr(f"cast(array() as {out_t})"), step)
    return (row.select(F.col(q_id_col),
                       F.explode(selected).alias("_s"))
            .select(q_id_col,
                    F.col("_s.mmr_rank").alias("mmr_rank"),
                    F.col("_s.neighbor_id").alias("neighbor_id"),
                    F.col("_s.rel").alias("relevance"),
                    F.col("_s.mmr_score").alias("mmr_score")))
