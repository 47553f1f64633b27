"""Dedup operator tests: exactness where checkable, recall/consistency
for the hash-based approximate families."""

from __future__ import annotations

from pyspark.sql import functions as F

from g1_etl_spark.operators import dedup as D
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_exact_dedup_flags_planted_dupes(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "unique")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.exact_dedup(df).collect()}
    assert out[1]["canonical_id"] == 1 and out[1]["group_size"] == 2
    assert out[2]["canonical_id"] == 1
    assert out[3]["group_size"] == 1


def test_normalized_dedup_catches_case_ws(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world "), (3, "different")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["canonical_id"]
           for r in D.exact_dedup(df, normalized=True).collect()}
    assert out[1] == out[2] == 1


def test_minhash_lsh_recall_vs_exact(spark):
    """Every exact-jaccard>=0.6 pair must be found by LSH (r=4,b=8 gives
    ~97% per-pair probability at j=0.6; the planted corpus pairs are
    j>=0.8 where P(miss) < 1e-4)."""
    docs = _docs(spark)
    exact = {(r["d1"], r["d2"])
             for r in D.ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    lsh = {(r["d1"], r["d2"])
           for r in D.minhash_lsh_pairs(docs, threshold=0.6).collect()}
    assert exact, "corpus should contain planted near-dup pairs"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)}/{len(exact)} exact pairs"
    # and LSH must not invent pairs below threshold (it verifies exactly)
    assert lsh <= exact


def test_minhash_signature_similarity_correlates(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog end"),
         (2, "the quick brown fox jumps over the lazy cat end"),
         (3, "completely different words appear here nothing shared at all")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in df.select(
        "doc_id",
        D.minhash_signature(D.word_ngrams(F.col("text")), 64).alias("sig"))
        .collect()}
    sim12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 64
    sim13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 64
    assert sim12 > sim13
    assert sim13 < 0.2


def test_simhash_hamming_behavior(spark):
    df = spark.createDataFrame(
        [(1, "spark query engine with hash join and window functions ok"),
         (2, "spark query engine with hash join and window functions yes"),
         (3, "zebra giraffe elephant rhino hippo lion tiger bear wolf fox")],
        "doc_id long, text string")
    out = {r["d"]: r["sh"] for r in df.select(
        F.col("doc_id").alias("d"),
        D.simhash64(F.split(F.col("text"), " ")).alias("sh")).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out[1], out[2]) < ham(out[1], out[3])
    assert ham(out[1], out[2]) <= 12


def test_simhash_signatures_match_expression_form(spark):
    """The codegen'd groupBy path and the HOF expression form must emit
    bit-identical signatures (same hash, same vote, same tie rule)."""
    docs = _docs(spark).limit(50)
    fast = {r["d"]: r["sh"]
            for r in D.simhash_signatures(docs).collect()}
    slow = {r["d"]: r["sh"] for r in docs.select(
        F.col("doc_id").alias("d"),
        D.simhash64(F.split(D.normalize_text(F.col("text")), " "))
        .alias("sh")).collect()}
    assert fast == slow


def test_simhash_pairs_finds_corpus_neardups(spark):
    docs = _docs(spark)
    exact = {(r["d1"], r["d2"])
             for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    sim = {(r["d1"], r["d2"])
           for r in D.simhash_pairs(docs, max_hamming=10).collect()}
    assert exact
    # simhash is a different similarity notion; require substantial overlap
    assert len(exact & sim) >= len(exact) * 0.6, (len(exact & sim), len(exact))


def test_connected_components_matches_union_find(spark):
    """Long chains (diameter > 1 iteration-hop), triangles, singletons —
    verified against a local union-find on the same edges."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
             (10, 11), (11, 12), (10, 12),        # triangle
             (20, 21)]                            # pair
    node_ids = list(range(1, 6)) + [10, 11, 12, 20, 21, 30, 31]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
    got = {r["doc_id"]: r["component"]
           for r in D.connected_components(pairs, nodes).collect()}

    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # canonical label = min node id per component
    comp_min = {}
    for n in node_ids:
        root = find(n)
        comp_min[root] = min(comp_min.get(root, n), n)
    want = {n: comp_min[find(n)] for n in node_ids}
    assert got == want
    assert got[5] == 1 and got[12] == 10 and got[30] == 30


def test_connected_components_long_chain_and_mega_star(spark):
    """Pathological topologies for the star-contraction rewrite
    (VERDICT_r9 ask #6): a 200-node chain (diameter >> the old
    max_iters=20 — min-label propagation would have returned silently
    WRONG labels) and a 2000-leaf star (the mega-clique hub shape; must
    stay an aggregate + join, converging in O(1) rounds)."""
    chain = [(i, i + 1) for i in range(1, 200)]          # 1..200 chain
    star = [(1000, 1000 + i) for i in range(1, 2001)]    # hub 1000
    edges = chain + star
    node_ids = list(range(1, 201)) + [1000 + i for i in range(2001)]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    nodes = spark.createDataFrame([(n,) for n in node_ids],
                                  "doc_id long")
    got = {r["doc_id"]: r["component"]
           for r in D.connected_components(pairs, nodes).collect()}
    assert all(got[n] == 1 for n in range(1, 201)), "chain mislabeled"
    assert all(got[1000 + i] == 1000 for i in range(2001)), \
        "star mislabeled"


def test_connected_components_raises_on_no_convergence(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 40)],
                                  "d1 long, d2 long")
    nodes = spark.createDataFrame([(n,) for n in range(1, 41)],
                                  "doc_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, nodes, max_iters=1)


def test_dedup_canonical_planted(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (7, "zz yy xx ww")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    out = {r["doc_id"]: r["canonical_id"]
           for r in D.dedup_canonical(df, pairs).collect()}
    assert out == {1: 1, 2: 1, 7: 7}


def test_ngram_skew_cap_drops_hot_shingles(spark):
    rows = [(i, "common phrase here " + f"unique{i} tail{i}")
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # with the hot shingle capped at df<=10, no pairs survive
    out = D.ngram_jaccard_pairs(df, threshold=0.1, max_df=10).collect()
    assert out == []


def test_fuzzy_blocked_pairs(spark):
    from g1_etl_spark.operators.dedup import fuzzy_blocked_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red widgett",), ("red gadget",),
         ("blue widget",), ("red widget",)],  # dup name collapses
        ["p_name"])
    out = {(r["name_a"], r["name_b"]): r["dist"]
           for r in fuzzy_blocked_pairs(df, "p_name", max_dist=2)
           .collect()}
    # within-block pair at distance 1
    assert out[("red widget", "red widgett")] == 1
    # "blue widget" blocks apart from the red ones despite distance 2
    assert not any("blue" in a or "blue" in b for a, b in out)
    # distance > max_dist filtered ("widget" vs "gadget" = 2 is kept)
    assert ("red gadget", "red widget") in out


def test_repeated_spans_census_and_flags(spark):
    from g1_etl_spark.operators.dedup import (repeated_spans,
                                              span_boilerplate_flags)

    boiler = "all rights reserved by the site"          # 6 tokens
    rows = [
        (1, "unique one text here today " + boiler),
        (2, "different words entirely now okay " + boiler),
        (3, "totally fresh content nothing shared at all"),
        (4, "short doc"),                               # < n tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    census = {r["span"]: (r["n_docs"], r["first_doc"])
              for r in repeated_spans(df, n=5, min_docs=2).collect()}
    # the 6-token boilerplate yields two overlapping repeated 5-spans
    assert census["all rights reserved by the"] == (2, 1)
    assert census["rights reserved by the site"] == (2, 1)
    # no span from the unique prefixes or doc 3 is repeated
    assert all(s.startswith(("all rights", "rights reserved"))
               for s in census)

    flags = {r["doc_id"]: r for r in
             span_boilerplate_flags(df, n=5, min_docs=2).collect()}
    assert 4 not in flags                  # too short to shingle
    assert flags[3]["n_repeated"] == 0
    # doc 1: 11 tokens -> 7 spans, 2 repeated
    assert flags[1]["n_spans"] == 7
    assert flags[1]["n_repeated"] == 2
    assert abs(flags[1]["boilerplate_ratio"] - 2 / 7) < 1e-12


def test_minhash_arrow_bit_identical_to_hof(spark):
    """The Arrow signature kernel must produce byte-for-byte the HOF
    reference signatures (np.abs/np.fmod == Java abs/%), so candidates
    — and the driver's recall contract — cannot drift from the
    expression definition."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 7} epsilon zeta") for i in
         range(40)] + [(100, "xy")],        # short-doc fallback gram
        "doc_id long, text string")
    hashed = D._gram_hashes_projected(docs, "text", "doc_id", 3)
    hof = {r["d"]: list(r["sig"]) for r in hashed.withColumn(
        "hs", D.base_hashes_from_longs(F.col("grams"))).withColumn(
        "sig", D.minhash_from_hashes(F.col("hs"), 32, 42)).select(
        "d", "sig").collect()}
    arr = {r["d"]: list(r["sig"]) for r in hashed.withColumn(
        "sig", D.minhash_signature_arrow(32, 42)(F.col("grams"))).select(
        "d", "sig").collect()}
    assert hof == arr


def test_span_clip_canonical_keeps_later_loses(spark):
    from g1_etl_spark.operators.dedup import span_clip

    docs = spark.createDataFrame(
        [(1, "a b c d e x"), (2, "z a b c d e"), (3, "short doc")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_clip(docs, n=5).collect()}
    # doc 1 carries the canonical copy of "a b c d e": untouched
    assert out[1]["clipped_text"] == "a b c d e x"
    assert out[1]["n_removed"] == 0
    # doc 2 loses exactly the repeated span's 5 words, keeps the rest
    assert out[2]["clipped_text"] == "z"
    assert out[2]["n_removed"] == 5
    # shorter than n tokens: no spans, never clipped
    assert out[3]["clipped_text"] == "short doc"
    assert out[3]["n_removed"] == 0


def test_span_clip_fully_clipped_doc_survives_as_empty(spark):
    from g1_etl_spark.operators.dedup import span_clip

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_clip(docs, n=5).collect()}
    assert out[1]["clipped_text"] == "a b c d e"
    assert out[2]["clipped_text"] == ""
    assert out[2]["n_words"] == 5 and out[2]["n_removed"] == 5


def test_span_clip_overlapping_spans_union(spark):
    """'a b c d e f' repeated: doc 2's two overlapping 5-spans cover
    all six positions once each — removal is the position-set union,
    not double-counted."""
    from g1_etl_spark.operators.dedup import span_clip

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_clip(docs, n=5).collect()}
    assert out[2]["clipped_text"] == "g"
    assert out[2]["n_removed"] == 6


def test_adversarial_fixture_separates_banding_regimes(spark):
    """The engineered jaccard~0.5 corpus must be genuinely adversarial:
    the default 8x4 banding (tuned for j>=0.8) catches well under half
    of its pairs, while the re-tuned 16x2 banding clears the 0.9
    contract bound with margin. Pins both sides so neither the fixture
    nor the banding silently drifts out of the regime."""
    from pyspark.sql import functions as F

    from g1_etl_spark.operators import dedup as D
    from g1_etl_spark.plans.dedup_plans import _adversarial_corpus
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    adv = _adversarial_corpus(docs)
    exact = D.ngram_jaccard_pairs(adv, threshold=0.4)
    # the fixture really sits in the 0.4-0.55 band: median under 0.55
    med = exact.agg(F.expr("percentile(jaccard, 0.5)")).collect()[0][0]
    assert 0.4 <= med <= 0.55, med
    ids = exact.select("d1", "d2")

    def recall(bands):
        lsh = (D.minhash_lsh_pairs(adv, threshold=0.4, num_hashes=32,
                                   bands=bands)
               .select("d1", "d2").withColumn("_h", F.lit(True)))
        r = ids.join(lsh, ["d1", "d2"], "left").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_h"), 1).otherwise(0)).alias("f")
        ).collect()[0]
        return r["f"] / r["n"]

    assert recall(8) < 0.6      # default banding misses this regime
    assert recall(16) >= 0.9    # the contract's re-tuned banding


def test_sorted_neighborhood_finds_adjacent_near_dups(spark):
    from g1_etl_spark.operators.dedup import sorted_neighborhood_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),          # same 24-char prefix, jac ~0.8
        (3, "zz completely different text about other things entirely"),
        (4, "short doc"),              # < 3 words after split? 2 words
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {(r.d1, r.d2): r.jaccard
           for r in sorted_neighborhood_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.5
    # the short doc and the unrelated doc pair with nothing
    assert all(3 not in p and 4 not in p for p in got)


def test_sorted_neighborhood_window_is_a_hard_contract(spark):
    from g1_etl_spark.operators.dedup import sorted_neighborhood_pairs

    # two identical docs whose blocking keys sort 5 ranks apart: outside
    # window=3 they are NOT candidates (that is the blocking trade-off,
    # not a bug — the oracle twin misses them identically)
    same = "one two three four five six seven eight nine ten"
    rows = [(1, "aaa " + same), (2, "bbb x y z w v u t s r q"),
            (3, "ccc x y z w v u t s r q"), (4, "ddd x y z w v u t s r q"),
            (5, "eee x y z w v u t s r q"), (6, "fff " + same)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    pairs = {(r.d1, r.d2) for r in
             sorted_neighborhood_pairs(df, window=3, threshold=0.7)
             .collect()}
    assert (1, 6) not in pairs
    # widen the window and the pair appears
    pairs5 = {(r.d1, r.d2) for r in
              sorted_neighborhood_pairs(df, window=5, threshold=0.7)
              .collect()}
    assert (1, 6) in pairs5


def test_sorted_neighborhood_gap_is_rank_distance(spark):
    from g1_etl_spark.operators.dedup import sorted_neighborhood_pairs

    t = "red orange yellow green blue indigo violet ultraviolet"
    df = spark.createDataFrame(
        [(10, t), (20, t), (30, t)], "doc_id INT, text STRING")
    got = {(r.d1, r.d2): r.gap
           for r in sorted_neighborhood_pairs(df).collect()}
    # identical texts rank adjacently by (key, id): gaps 1, 1, 2
    assert got == {(10, 20): 1, (20, 30): 1, (10, 30): 2}


def test_prefix_filter_equals_full_inverted_index(spark):
    import random

    from g1_etl_spark.operators.dedup import (ngram_jaccard_pairs,
                                              ngram_jaccard_prefix_pairs)

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
        rows.append((d, " ".join(words)))
    # engineered near-dups: tail-perturbed copies across the jaccard
    # boundary so the equality check covers hits AND near-misses
    for d, base in list(rows[:8]):
        w = base.split()
        w[-1] = "zzz"
        rows.append((100 + d, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    full = {(r.d1, r.d2): round(r.jaccard, 12) for r in
            ngram_jaccard_pairs(df, threshold=0.5, max_df=None).collect()}
    pref = {(r.d1, r.d2): round(r.jaccard, 12) for r in
            ngram_jaccard_prefix_pairs(df, threshold=0.5).collect()}
    assert pref == full and len(full) > 0


def test_prefix_filter_indexes_fewer_gram_rows(spark):
    from pyspark.sql import functions as F
    from g1_etl_spark.operators.dedup import _gram_hashes_projected

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    grams = _gram_hashes_projected(docs, "text", "doc_id", 3)
    full_rows = grams.select(F.explode("grams")).count()
    # the t=0.5 prefix keeps |g| - ceil(|g|/2) + 1 rows per doc:
    # strictly about half (+1) — assert the index actually shrinks
    prefix_rows = (grams.select((F.size("grams")
                                 - F.ceil(F.size("grams") * 0.5) + 1)
                                .alias("p"))
                   .agg(F.sum("p")).collect()[0][0])
    assert prefix_rows < 0.6 * full_rows


def test_containment_asymmetric_subset_doc(spark):
    """A short doc fully contained in a long one scores containment
    1.0 in the contained direction, far less in the reverse — the
    relation Jaccard misses (here union-dominated to ~0.2)."""
    from g1_etl_spark.operators.dedup import (ngram_containment_pairs,
                                              ngram_jaccard_pairs)

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, short), (2, long)],
                               "doc_id long, text string")
    pairs = {(r.d1, r.d2): r.containment
             for r in ngram_containment_pairs(df, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(2, 1)] < 0.2
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []   # jaccard blind to the subset relation at 0.5


def test_oracle_restates_cap_and_short_doc_fallback(spark):
    """Round-6 advice: the jaccard/containment oracles omitted the
    max_df=1000 hot-shingle cap and the short-doc whole-text fallback
    gram — latent because the stock corpus has neither case. This
    test ENGINEERS both on a synthetic corpus and asserts the Spark
    operator and the registered DuckDB oracle agree row-for-row:
    - two identical 2-word docs must pair at 1.0 (fallback gram);
    - an exact-dup pair whose ONLY shared gram is hot (df > 1000)
      must be dropped by both sides (cap), not just by Spark."""
    import duckdb
    import pandas as pd

    from g1_etl_spark.operators.dedup import (ngram_containment_pairs,
                                              ngram_jaccard_pairs)
    from g1_etl_spark.plans.registry import REGISTRY

    rows = [(1, "hi there"), (2, "hi there"), (3, "lone short")]
    # 1001 docs carrying the hot gram pushes its df over the cap;
    # docs 5001/5002 share ONLY that gram (exact dups of it)
    rows += [(100 + i, f"hot hot hot u{i} v{i} w{i}") for i in range(1001)]
    rows += [(5001, "hot hot hot"), (5002, "hot hot hot")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)

    con = duckdb.connect()
    con.register("documents", pdf)

    for name, fn, val in (
            ("dedup_ngram_jaccard",
             lambda: ngram_jaccard_pairs(df, threshold=0.5), "jaccard"),
            ("dedup_ngram_containment",
             lambda: ngram_containment_pairs(df, threshold=0.8),
             "containment")):
        got = {(r["d1"], r["d2"], round(r[val], 9))
               for r in fn().collect()}
        want = {(r[0], r[1], round(r[2], 9))
                for r in con.execute(REGISTRY[name].oracle).fetchall()}
        assert got == want, f"{name}: spark {got ^ want} differs"
        # fallback: the identical 2-word docs pair at exactly 1.0
        assert (1, 2, 1.0) in got, name
        # cap: the hot-gram-only exact dups must NOT pair
        assert not any(d1 == 5001 or d1 == 5002 for d1, _, _ in got), name


def test_damerau_matches_duckdb():
    """damerau_levenshtein_py implements the UNRESTRICTED variant —
    the one DuckDB ships — verified on the canonical discriminating
    cases plus 500 random short strings (where OSA and unrestricted
    DL disagree often enough to catch a variant mix-up)."""
    import random

    import duckdb

    from g1_etl_spark.operators.dedup import damerau_levenshtein_py

    con = duckdb.connect()

    def duck_dl(a, b):
        return con.execute(
            "select damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]

    # canonical cases: ('CA','ABC') separates unrestricted (2) from OSA (3)
    fixed = [("CA", "ABC"), ("ab", "ba"), ("", "abc"), ("abc", ""),
             ("abc", "abc"), ("abcd", "acbd"), ("12", "21"),
             ("Customer#000000012", "Customer#000000021")]
    for a, b in fixed:
        assert damerau_levenshtein_py(a, b) == duck_dl(a, b), (a, b)
    assert damerau_levenshtein_py("CA", "ABC") == 2

    rng = random.Random(42)
    alpha = "abc12"  # tiny alphabet maximizes transposition collisions
    for _ in range(500):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 7)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 7)))
        assert damerau_levenshtein_py(a, b) == duck_dl(a, b), (a, b)


def test_trimmed_damerau_equals_duckdb_exhaustive():
    """_trimmed_damerau (the common-prefix/suffix-stripped fast path
    the blocked-pairs scorer runs, r11) must equal DuckDB's
    damerau_levenshtein EXHAUSTIVELY — including strings embedded in
    shared prefixes/suffixes, where an unsound trim would miss a
    cross-boundary transposition."""
    import itertools

    import duckdb

    from g1_etl_spark.operators.dedup import _trimmed_damerau

    con = duckdb.connect()

    def duck_dl(a, b):
        return con.execute(
            "select damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]

    strs = [""] + ["".join(t) for n in (1, 2, 3)
                   for t in itertools.product("abc", repeat=n)]
    for a in strs:
        for b in strs:
            for pre in ("", "xy"):
                for suf in ("", "z"):
                    pa, pb = pre + a + suf, pre + b + suf
                    assert _trimmed_damerau(pa, pb) == duck_dl(pa, pb), \
                        (pa, pb)


def test_damerau_blocked_pairs_flags_trailing_swaps(spark):
    from g1_etl_spark.operators.dedup import damerau_blocked_pairs

    df = spark.createDataFrame(
        [("ID-0012",), ("ID-0021",), ("ID-0013",), ("ID-0099",),
         ("XX-0012",)], "name string")
    out = damerau_blocked_pairs(
        df, "name", max_dist=1,
        block_col=F.expr("substring(name, 1, length(name) - 2)"))
    rows = {(r.name_a, r.name_b): r.dist for r in out.collect()}
    assert rows[("ID-0012", "ID-0021")] == 1   # adjacent swap = 1, not 2
    assert rows[("ID-0012", "ID-0013")] == 1   # substitution
    assert ("ID-0012", "XX-0012") not in rows  # different block
    assert ("ID-0012", "ID-0099") not in rows  # distance 2 > threshold


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs (mixed density, self-loops, duplicate and
    reversed edges) through the star-contraction implementation vs a
    local union-find — the property net under the hand-picked
    topologies above."""
    import random

    rng = random.Random(42)
    for trial, (n, m) in enumerate([(120, 60), (150, 150), (80, 300)]):
        node_ids = rng.sample(range(1, 10_000), n)
        edges = [(rng.choice(node_ids), rng.choice(node_ids))
                 for _ in range(m)]
        edges += [(b, a) for a, b in edges[:10]]  # reversed dups
        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        nodes = spark.createDataFrame([(x,) for x in node_ids],
                                      "doc_id long")
        got = {r["doc_id"]: r["component"]
               for r in D.connected_components(pairs, nodes).collect()}
        parent = {x: x for x in node_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp_min = {}
        for x in node_ids:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: comp_min[find(x)] for x in node_ids}
        assert got == want, f"trial {trial}"
