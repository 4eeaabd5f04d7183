"""Dedup-family tests (SURVEY.md §2.13 X1/X2): exact, Jaccard, MinHash,
SimHash — including the estimator-vs-exact consistency checks the
approximate declared queries rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import dedup as dd

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "the quick brown fox jumps over the lazy cat today"),  # near-dup of 0
    (2, "completely different content about spark query engines here"),
    (3, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
    (4, "a b"),  # too short for 3-gram shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dd.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    assert by_id[0] == 2  # doc 3 collapsed into doc 0 (min id kept)
    assert 3 not in by_id
    assert by_id[2] == 1


def test_exact_dedup_rows_matches_dedup_plus_joinback(spark):
    """r15 optimization: the keep-rows form (min_by through the one
    digest shuffle) returns the SAME survivors and copy counts as the
    old exact_dedup + join-back composition, with the full payload and
    no Join in the plan."""
    d = _docs(spark)
    out = dd.exact_dedup_rows(d, "text", "doc_id").collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {0, 1, 2, 4}  # doc 3 collapsed into doc 0
    assert by_id[0].n_copies == 2
    assert by_id[2].n_copies == 1
    # payload survives the shuffle
    assert by_id[0].text == DOCS[0][1]
    # single digest exchange, no join-back
    plan = dd.exact_dedup_rows(d, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Join" not in plan, plan


def test_jaccard_pairs_finds_near_dup(spark):
    pairs = dd.jaccard_pairs(
        _docs(spark), "doc_id", "text", n=3, threshold=0.5
    ).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert got[(0, 3)] == 1.0  # exact dup
    assert 0.5 <= got[(0, 1)] < 1.0  # near dup
    assert (0, 2) not in got


def test_jaccard_short_docs_excluded(spark):
    post = dd.shingle_postings(_docs(spark), "doc_id", "text", 3)
    assert post.filter(F.col("doc") == 4).count() == 0


def test_minhash_estimates_match_exact(spark):
    """MinHash estimate within ±0.25 of exact jaccard for flagged pairs."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.jaccard_pairs(
            _docs(spark), "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    est = dd.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", n=3, k=64, bands=16, est_threshold=0.3
    ).collect()
    assert est, "LSH found no candidate pairs"
    for r in est:
        if (r.doc_a, r.doc_b) in exact:
            assert abs(r.est_jaccard - exact[(r.doc_a, r.doc_b)]) < 0.25


def test_minhash_exact_dup_is_certain(spark):
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dd.minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", est_threshold=0.9
        ).collect()
    }
    assert est[(0, 3)] == 1.0


def test_simhash_identical_docs_zero_hamming(spark):
    pairs = dd.simhash_pairs(
        _docs(spark), "doc_id", "text", max_hamming=10
    ).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got[(0, 3)] == 0
    # near-dup should be closer than the unrelated doc
    if (0, 1) in got:
        assert got[(0, 1)] > 0


def test_simhash_signature_deterministic(spark):
    a = dd.simhash_signatures(_docs(spark), "doc_id", "text").collect()
    b = dd.simhash_signatures(_docs(spark), "doc_id", "text").collect()
    assert {r.doc_id: r.simhash for r in a} == {r.doc_id: r.simhash for r in b}


def test_simhash_blocking_is_pigeonhole_complete(spark, sf_dir):
    """With n_blocks = max_hamming + 1 (the default), EVERY pair within
    max_hamming must surface as a candidate — pigeonhole, not luck.
    Checked against a brute-force all-pairs Hamming computation on real
    documents."""
    from core_telecoms_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sig = dd.simhash_signatures(docs, "doc_id", "text")
    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb")
    )
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 8)
        .collect()
    }
    blocked = {
        (r.doc_a, r.doc_b)
        for r in dd.simhash_pairs(
            docs, "doc_id", "text", max_hamming=8
        ).collect()
    }
    assert blocked == brute, (
        f"missed {brute - blocked}, extra {blocked - brute}"
    )


def test_simhash_single_full_width_block(spark):
    """n_blocks=1 (reachable via max_hamming=0 + the documented default
    n_blocks = max_hamming + 1) builds ONE 64-bit-wide block; its
    all-ones mask must be the -1 long, not (1 << 64) - 1, which
    overflows LongType and crashed at plan-build time (ADVICE r5).
    Exact duplicates share the full signature, so they — and only
    pairs with hamming <= max_hamming — must surface."""
    pairs = dd.simhash_pairs(
        _docs(spark), "doc_id", "text", max_hamming=0
    ).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got == {(0, 3): 0}


def test_refine_pairs_exact_matches_jaccard_pairs(spark, sf_dir):
    """Sketch-candidates + exact refine must equal the full exact
    inverted-index result whenever the candidate set covers the true
    pairs — here fed with an all-pairs candidate set so coverage is
    total by construction."""
    from core_telecoms_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(150)
    ids = docs.select(F.col("doc_id").alias("doc_a"))
    cand = ids.join(
        docs.select(F.col("doc_id").alias("doc_b")),
        F.col("doc_a") < F.col("doc_b"),
    )
    refined = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
        for r in dd.refine_pairs_exact(
            docs, cand, "doc_id", "text", n=3, threshold=0.6
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
        for r in dd.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, hash_shingles=False
        ).collect()
    }
    assert refined == full


def test_minhash_candidates_cover_exact_pairs(spark, sf_dir):
    """Recall floor for the LSH-then-verify pipeline the
    minhash_near_dup query runs: at 16 bands × 4 rows, every exact pair
    at jaccard ≥ 0.8 in the testdata must be an LSH candidate at
    est ≥ 0.5 (P[miss] ≈ 2e-4 per pair at j = 0.8, and the hash family
    is fixed — this is deterministic, not flaky)."""
    from core_telecoms_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = dd.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, hash_shingles=False
    ).select("doc_a", "doc_b")
    cands = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=64, bands=16, est_threshold=0.5
    ).select("doc_a", "doc_b")
    missed = exact.join(cands, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0


def test_jaccard_max_shingle_freq_prunes(spark):
    # with a cap of 1, every shared shingle is pruned → no pairs survive
    pairs = dd.jaccard_pairs(
        _docs(spark), "doc_id", "text", n=3, threshold=0.1, max_shingle_freq=1
    )
    assert pairs.count() == 0


def test_connected_components_chain_and_islands(spark):
    from core_telecoms_etl_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3), pair 10-11, and nothing for 99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    out = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_shape(spark):
    from core_telecoms_etl_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3)], "src long, dst long"
    )
    out = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert set(out.values()) == {1}


def test_large_small_star_matches_min_label_on_random_graphs(spark):
    """Property check: the O(log n) large-star/small-star variant computes
    byte-identical components to min-label propagation on seeded random
    graphs ≥1k nodes, including the shapes that stress each algorithm
    (sparse forest of many components; a long chain, worst case for
    min-label; plus a dense-ish blob)."""
    import random

    from core_telecoms_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    cases = []
    # sparse: 1200 nodes, 700 random edges -> many small components
    cases.append(
        [(rng.randrange(1200), rng.randrange(1200)) for _ in range(700)]
    )
    # chain of 150 nodes (diameter 149) + 1000 extra random nodes/edges
    chain = [(i, i + 1) for i in range(5000, 5150)]
    cases.append(
        chain + [(rng.randrange(2000), rng.randrange(2000)) for _ in range(500)]
    )
    # denser blob: 1000 nodes, 2500 edges
    cases.append(
        [(rng.randrange(1000), rng.randrange(1000)) for _ in range(2500)]
    )

    for i, raw in enumerate(cases):
        edges = spark.createDataFrame(
            [(a, b) for a, b in raw if a != b], "src long, dst long"
        )
        ml = {
            r.node: r.component
            for r in connected_components(edges, max_iter=200).collect()
        }
        ls = {
            r.node: r.component
            for r in connected_components_star(edges).collect()
        }
        assert ml == ls, f"case {i}: mismatch"


def test_decontaminate_drops_overlapping_train_docs(spark):
    from core_telecoms_etl_spark.operators.dedup import (
        contamination_pairs,
        decontaminate,
    )

    test = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over a fence"),
            (2, "completely unrelated content about telecom billing records"),
            (3, "the quick brown fox jumps over the lazy dog verbatim copy"),
        ],
        "doc_id long, text string",
    )
    pairs = contamination_pairs(train, test, "doc_id", "text", n=5)
    flagged = {r.train_id for r in pairs.collect()}
    assert flagged == {1, 3}  # doc 2 shares no 5-gram
    clean = decontaminate(train, test, "doc_id", "text", n=5)
    assert [r.doc_id for r in clean.collect()] == [2]


def test_stratified_sample_deterministic_and_bounded(spark):
    from core_telecoms_etl_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(3000)],
        "id long, lang string",
    )
    s1 = stratified_sample(df, "id", "lang", {"en": 0.5, "de": 0.1})
    s2 = stratified_sample(df, "id", "lang", {"en": 0.5, "de": 0.1})
    ids1 = sorted(r.id for r in s1.collect())
    assert ids1 == sorted(r.id for r in s2.collect())  # stable membership
    by_lang = {r.lang: r.n for r in s1.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert 0.4 < by_lang["en"] / 2000 < 0.6
    assert 0.03 < by_lang["de"] / 1000 < 0.2
    # growing a fraction only ADDS members (monotone buckets)
    s3 = stratified_sample(df, "id", "lang", {"en": 0.7, "de": 0.1})
    assert set(ids1) <= {r.id for r in s3.collect()}


def test_incremental_dedup_drops_exact_and_near(spark):
    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1
            (10, "alpha beta gamma delta epsilon zeta"),
            # near-dup of corpus doc 2 (one trailing token changed)
            (11, "one two three four five six EIGHT"),
            # genuinely new
            (12, "completely different content right here"),
        ],
        "id long, text string",
    )
    out = incremental_dedup(corpus, batch, "id", "text", n=3, threshold=0.5)
    assert {r.id for r in out.collect()} == {12}


def test_incremental_dedup_keeps_batch_internal_dups(spark):
    # the op dedups new-vs-corpus ONLY: two identical new docs both
    # survive (intra-batch dedup is exact_dedup's job, run separately)
    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "a b c d e f")], "id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "x y z w v u"), (11, "x y z w v u")],
        "id long, text string",
    )
    out = incremental_dedup(corpus, batch, "id", "text", n=3, threshold=0.8)
    assert {r.id for r in out.collect()} == {10, 11}


def test_incremental_dedup_minhash_blocking_matches_exact(spark):
    # blocking="minhash" (banded candidates + exact re-score) must keep
    # the SAME batch docs as the exact posting join on real corpus data
    # — banding miss probability at j>=0.8 is ~2e-4 per pair, far below
    # what this corpus can express, so any disagreement is a bug, not
    # recall
    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    from pyspark.sql import functions as F

    batch = d.filter(F.col("doc_id") % 10 < 2)
    corpus = d.filter(F.col("doc_id") % 10 >= 2)
    exact = incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.8
    )
    banded = incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.8,
        blocking="minhash",
    )
    assert {r.doc_id for r in exact.select("doc_id").collect()} == {
        r.doc_id for r in banded.select("doc_id").collect()
    }


def test_incremental_dedup_mass_tripwire_raises(spark):
    # max_candidates below the true posting-join mass must raise LOUDLY
    # naming the minhash escalation path — the r12 sf10 decade's
    # 3.7e9-candidate spill loop, made a diagnosis instead of a hang
    import pytest

    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(20)], "id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, "a b c d e f") for i in range(5)],
        "id long, text string",
    )
    with pytest.raises(RuntimeError, match="blocking='minhash'"):
        incremental_dedup(
            corpus, batch, "id", "text", n=3, threshold=0.8,
            max_candidates=10,
        ).collect()
    # and a budget ABOVE the mass passes through untouched
    out = incremental_dedup(
        corpus, batch, "id", "text", n=3, threshold=0.8,
        max_candidates=10_000,
    )
    assert out.count() == 0  # every batch doc duplicates the corpus


def test_incremental_dedup_minhash_mass_tripwire_raises(spark):
    # ADVICE r12: max_candidates must guard the MINHASH path too — a
    # constant-content corpus collapses every band signature into one
    # bucket, so the banding join's collision mass is |batch|x|corpus|
    # (the banding analog of the posting-join wall). Previously the
    # parameter was silently ignored under blocking='minhash'.
    import pytest

    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(20)], "id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, "a b c d e f") for i in range(5)],
        "id long, text string",
    )
    with pytest.raises(RuntimeError, match="banding join"):
        incremental_dedup(
            corpus, batch, "id", "text", n=3, threshold=0.8,
            blocking="minhash", max_candidates=10,
        ).collect()
    # a budget above the collision mass (16 bands x 20x5) passes
    out = incremental_dedup(
        corpus, batch, "id", "text", n=3, threshold=0.8,
        blocking="minhash", max_candidates=10_000,
    )
    assert out.count() == 0  # every batch doc duplicates the corpus


def test_incremental_dedup_minhash_tripwire_pins_band_relations(spark):
    # ADVICE r13: the minhash mass estimate's .first() materializes both
    # banded relations, which the candidate join then consumes again —
    # without a scoped pin the k=64 signature build (the dominant
    # pre-join cost) runs TWICE at exactly the decade scale the guard
    # targets. The tripwire path must leave both band slots pinned
    # (memory or disk) so the join reads the cache, not a recompute.
    from core_telecoms_etl_spark import caching
    from core_telecoms_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo {i}") for i in range(20)],
        "id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "foxtrot golf hotel india juliet kilo")],
        "id long, text string",
    )
    caching.release_caches()
    out = incremental_dedup(
        corpus, batch, "id", "text", n=3, threshold=0.8,
        blocking="minhash", max_candidates=10_000,
    )
    for slot in ("dedup.incremental.band_c", "dedup.incremental.band_b"):
        pinned = caching._SCOPED_CACHES.get(slot)
        assert pinned is not None, slot
        lvl = pinned.storageLevel
        assert lvl.useMemory or lvl.useDisk, (slot, lvl)
    assert out.count() == 1  # the novel batch doc survives
    caching.release_caches()


def test_segment_dedup_drops_boilerplate_preserves_order(spark):
    """Segments shared by > max_df docs vanish corpus-wide; surviving
    segments reassemble in original order; a doc that is ALL boilerplate
    drops out entirely."""
    boiler = "all rights reserved by the site"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
            (2, f"one two three {boiler} four five six"),
            (3, f"seven eight nine {boiler} ten eleven twelve"),
            (4, boiler),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dd.segment_dedup(
            docs, "doc_id", "text", seg_tokens=3, max_df=2
        ).collect()
    }
    # the 3-token boilerplate segments appear in 4 > 2 docs → dropped;
    # doc 4 (pure boilerplate) disappears
    assert set(out) == {1, 2, 3}
    assert out[1].clean_text.startswith("alpha beta gamma")
    assert boiler.split()[0] not in out[1].clean_text.split()
    # order: head segment precedes tail segment after reassembly
    assert out[2].clean_text == "one two three four five six"
    assert all(out[i].n_kept < out[i].n_segs for i in (1, 2, 3))


def test_prefix_filter_matches_uncapped_jaccard_pairs(spark):
    """Losslessness of the prefix filter: on docs engineered with
    shared rare AND shared stop shingles, the prefix-filtered pair set
    must EQUAL the uncapped inverted-index result (same threshold)."""
    from core_telecoms_etl_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one two"),
        (2, base + " one three"),          # near-dup of 1
        (3, base + " four five"),          # shares only the stop-prefix
        (4, "totally different words entirely here now " + base),
        (5, base + " one two"),            # exact dup of 1
        (6, "unrelated content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8):
        exact = {
            (r.doc_a, r.doc_b, r.n_common)
            for r in jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        pf = {
            (r.doc_a, r.doc_b, r.n_common)
            for r in prefix_filter_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert pf == exact, f"threshold {t}: {pf ^ exact}"


def test_containment_pairs_match_uncapped_pair_pass(spark):
    """Losslessness of the ASYMMETRIC prefix filter: on docs engineered
    with subset inclusion, shared stop shingles, and rare-only overlap,
    the directed containment set must EQUAL the r7-era uncapped
    threshold-0 pair pass expanded to both directions."""
    from core_telecoms_etl_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),                                  # subset of 2 and 4
        (2, base + " one two three"),               # superset of 1
        (3, base + " four five six"),               # sibling of 2
        (4, "prefix words here " + base + " suffix words there"),
        (5, base),                                  # exact dup of 1
        (6, "unrelated content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.9):
        raw = jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0
        ).collect()
        brute = set()
        for r in raw:
            if r.n_common / r.n_a >= t:
                brute.add((r.doc_a, r.doc_b, r.n_common, r.n_a))
            if r.n_common / r.n_b >= t:
                brute.add((r.doc_b, r.doc_a, r.n_common, r.n_b))
        got = {
            (r.doc_src, r.doc_dst, r.n_common, r.n_src)
            for r in containment_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert got == brute, f"threshold {t}: {got ^ brute}"


def test_min_overlap_expr_is_exact_rational_ceil(spark):
    """⌈t·n⌉ must be the EXACT rational ceiling for every (t, n): the
    double-product form (F.ceil(lit(t) * n)) rounds above the exact
    value for ~290 combos with n < 2000, t in 1% steps (e.g. t=0.28,
    n=25 → double 7.000000000000001 → ceil 8, exact 7), silently
    shortening the prefix and dropping qualifying pairs."""
    import math
    from fractions import Fraction

    from core_telecoms_etl_spark.operators.dedup import _min_overlap_expr

    # thresholds where the double product provably rounds wrong for
    # some n < 2000 — recomputed here, not hand-listed
    bad = []
    for pct in range(1, 100):
        t = pct / 100
        fr = Fraction(str(t))
        if any(
            math.ceil(t * n) != math.ceil(fr * n) for n in range(1, 2000)
        ):
            bad.append(t)
    assert 0.28 in bad and len(bad) >= 10
    check = bad[:4] + [0.28, 0.5, 0.9]

    df = spark.range(1, 2000).selectExpr("id AS n_sh")
    cols = [_min_overlap_expr(t).alias(f"m_{i}") for i, t in enumerate(check)]
    for r in df.select("n_sh", *cols).collect():
        for i, t in enumerate(check):
            exact = math.ceil(Fraction(str(t)) * r.n_sh)
            assert r[f"m_{i}"] == exact, (t, r.n_sh, r[f"m_{i}"], exact)


def test_containment_prefix_bound_rounding_regression(spark):
    """The ADVICE r8 geometry: src has 25 shingles, 7 shared with dst,
    threshold 0.28 → containment exactly 7/25 = 0.28, qualifying. The
    shared shingles have df=2 so the ascending-df canonical order sorts
    them LAST in src; the exact prefix (25−7+1 = 19) reaches the first
    shared shingle, but the old double-rounded bound (ceil → 8, prefix
    18) covered only the 18 unique shingles and dropped the pair."""
    import math

    from core_telecoms_etl_spark.operators.dedup import containment_pairs

    assert math.ceil(0.28 * 25) == 8  # the double rounding being guarded

    src = " ".join(f"u{i}" for i in range(18)) + " " + " ".join(
        f"s{i}" for i in range(7)
    )
    dst = " ".join(f"s{i}" for i in range(7)) + " " + " ".join(
        f"v{i}" for i in range(30)
    )
    df = spark.createDataFrame(
        [(1, src), (2, dst)], "doc_id long, text string"
    )
    got = {
        (r.doc_src, r.doc_dst, r.n_common, r.n_src)
        for r in containment_pairs(
            df, "doc_id", "text", n=1, threshold=0.28
        ).collect()
    }
    assert got == {(1, 2, 7, 25)}


def test_pagerank_star_hub_and_mass(spark):
    """Star graph: the hub must out-rank every leaf; the isolated node
    sits at the teleport floor; total mass settles at the documented
    dangling-leak fixpoint (the isolated node receives teleport mass
    but re-emits nothing): T = (1-d) + d·(T - r_iso) → 0.915 here."""
    from core_telecoms_etl_spark.operators.graph import pagerank

    hub, leaves, isolated = 0, list(range(1, 9)), 99
    directed = [(hub, v) for v in leaves] + [(v, hub) for v in leaves]
    edges = spark.createDataFrame(directed, "src long, dst long")
    nodes = spark.createDataFrame(
        [(hub,)] + [(v,) for v in leaves] + [(isolated,)], "node long"
    )
    r = {
        row.node: row.rank
        for row in pagerank(edges, nodes, iterations=10).collect()
    }
    n = len(r)
    assert r[hub] > max(r[v] for v in leaves)
    assert abs(r[isolated] - 0.15 / n) < 1e-9  # teleport floor
    # dangling leak fixpoint: T = 0.15 + 0.85*(T - 0.15/n) -> 0.915
    assert abs(sum(r.values()) - 0.915) < 1e-6


def test_pagerank_matches_numpy_power_iteration(spark):
    """5 snapped iterations vs the same recurrence in numpy on a small
    asymmetric graph (chain + shortcut), including a dangling node."""
    import numpy as np

    from core_telecoms_etl_spark.operators.graph import pagerank

    edges_py = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # 5 dangling-free? 4->1 only; add dangling 5
    nodes_py = [1, 2, 3, 4, 5]  # 5 has no out-edges (dangling) and no in-edges
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in nodes_py], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(edges, nodes, iterations=5).collect()
    }
    n = len(nodes_py)
    outdeg = {u: sum(1 for a, _ in edges_py if a == u) for u in nodes_py}
    rank = {v: 1.0 / n for v in nodes_py}
    for _ in range(5):
        contrib = {v: 0.0 for v in nodes_py}
        for u, v in edges_py:
            contrib[v] += rank[u] / outdeg[u]
        rank = {
            v: round((1.0 - 0.85) / n + 0.85 * contrib[v], 9)
            for v in nodes_py
        }
    for v in nodes_py:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])


def test_min_overlap_expr_rejects_long_decimal_thresholds(spark):
    """A threshold that is not a short decimal (e.g. float 1/3 →
    denominator 10^16) would overflow the exact-BIGINT product for
    shingle counts in the low thousands, and non-ANSI Spark wraps
    silently — the guard must fail LOUDLY instead (ADVICE r9).

    Requests the spark fixture (ADVICE r10): the accepted-threshold arm
    builds an F.expr Column, which needs an active SparkContext — without
    the fixture the test passed only when an earlier test had already
    created one (order-dependent)."""
    import pytest as _pytest

    from core_telecoms_etl_spark.operators.dedup import _min_overlap_expr

    with _pytest.raises(ValueError, match="short decimal"):
        _min_overlap_expr(1 / 3)
    # 4-decimal thresholds stay accepted
    _min_overlap_expr(0.1234)
    _min_overlap_expr(0.5)


def test_simhash_combination_blocking_is_pigeonhole_complete(
    spark, sf_dir
):
    """The generalized scheme (m ≥ 2: B = max_hamming + m blocks keyed
    on m-block combinations) must find EXACTLY the same pairs as brute
    force — completeness is pigeonhole (≥ m undamaged blocks → one
    shared combination key), not luck. Forced to m = 4/5 via the
    n_rows override (the real corpus is small; the sizing is what a
    500k-doc sf10 corpus picks — the shape that ENOSPC'd the
    single-block scheme in the r12 decade sweep)."""
    from core_telecoms_etl_spark.operators import dedup as dd
    from core_telecoms_etl_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sig = dd.simhash_signatures(docs, "doc_id", "text")
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 8)
        .collect()
    }
    for forced_n in (500_000, 5_000_000):  # m = 4, then m = 5
        blocked = {
            (r.doc_a, r.doc_b)
            for r in dd.simhash_pairs(
                docs,
                "doc_id",
                "text",
                max_hamming=8,
                n_rows=forced_n,
                # n_rows here is a lie to force m — the real corpus is
                # 200 docs, so the mass tripwire (which extrapolates
                # sample density to n_rows) must be opted out
                max_candidates=None,
            ).collect()
        }
        assert blocked == brute, (
            f"n_rows={forced_n}: missed {brute - blocked}, "
            f"extra {blocked - brute}"
        )


def test_simhash_combo_order_scales_with_corpus():
    """m is monotone in corpus size, 1 for small corpora (classic k+1
    single blocks — cheapest correct plan), ≥ 4 at the sf10 shape that
    overwhelmed single-block keys, and never past the m = 5 ceiling."""
    from core_telecoms_etl_spark.operators.dedup import _pick_combo_order

    ms = [
        _pick_combo_order(n, 8)
        for n in (100, 1000, 10_000, 100_000, 500_000, 10_000_000)
    ]
    assert ms == sorted(ms), f"not monotone: {ms}"
    assert ms[0] == 1 and ms[-1] <= 5
    assert _pick_combo_order(500_000, 8) >= 4
    # k = 0 keeps the single full-width block at ANY size (64-bit keys
    # already have maximal entropy; more blocks only narrow them)
    assert _pick_combo_order(10_000_000, 0) == 1


def test_simhash_quadratic_mass_tripwire(spark):
    """When the corpus intrinsically holds more hamming<=k pairs than
    the budget (a corpus-SHAPE property — measured live at sf10 where
    concentrated signatures put 1.5% of all pairs inside hamming 8),
    the operator must refuse LOUDLY with the measurement instead of
    launching a shuffle that cannot fit; max_candidates=None opts out;
    the explicit-n_blocks legacy path never probes."""
    import pytest

    docs = _docs(spark)  # holds an exact-dup pair -> sample density > 0
    with pytest.raises(RuntimeError, match="intrinsic quadratic mass"):
        dd.simhash_pairs(
            docs,
            "doc_id",
            "text",
            max_hamming=8,
            n_rows=10_000_000,  # the scale the density extrapolates to
            max_candidates=1_000_000,
        )
    # opt-out and the manual path both still run
    assert (
        dd.simhash_pairs(
            docs, "doc_id", "text", n_rows=10_000_000,
            max_candidates=None,
        ).count()
        >= 1
    )
    assert (
        dd.simhash_pairs(docs, "doc_id", "text", n_blocks=9).count() >= 1
    )


def test_exact_dedup_rows_rejects_copies_col_collision(spark):
    """copies_col colliding with an existing column would emit
    duplicate/ambiguous names — rejected loudly (ADVICE r15)."""
    import pytest

    d = _docs(spark).withColumn("n_copies", F.lit(1))
    with pytest.raises(ValueError, match="copies_col"):
        dd.exact_dedup_rows(d, "text", "doc_id")
