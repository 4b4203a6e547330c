"""Dedup operators: exact, MinHash-LSH, SimHash, Jaccard."""

from __future__ import annotations

import pytest

from meteor_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE QUICK  BROWN fox jumps over the lazy dog"),  # exact dup after normalize
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different content about spark engines and shuffles"),
        (5, "completely different content about spark engines and shuffles"),  # exact dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    sets = sorted(tuple(g["doc_ids"]) for g in groups)
    assert sets == [(1, 2), (4, 5)]


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(docs).collect())
    assert kept == [1, 3, 4]


def test_shingles(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c d",)], "text string")
    row = df.select(dedup.shingles(F.col("text"), 3).alias("sh")).first()
    assert sorted(row["sh"]) == ["a b c", "b c d"]
    # shorter than k -> single partial shingle
    df2 = spark.createDataFrame([("a b",)], "text string")
    assert df2.select(dedup.shingles(F.col("text"), 3).alias("sh")).first()["sh"] == ["a b"]


def test_minhash_near_duplicates(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in dedup.minhash_near_duplicates(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (4, 5) in pairs and pairs[(4, 5)] == 1.0
    assert (1, 3) in pairs  # near dup caught by LSH
    assert 0.3 <= pairs[(1, 3)] < 1.0


def test_minhash_identical_signatures(docs, spark):
    from pyspark.sql import functions as F

    from meteor_spark.operators.dedup import minhash_signature, shingles

    sigs = docs.select(
        "doc_id", minhash_signature(shingles(F.col("text"), 3), 12).alias("sig")
    ).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    assert by_id[1] == by_id[2]  # normalization makes 1 and 2 identical
    assert by_id[1] != by_id[4]
    assert len(by_id[1]) == 12


def test_simhash_properties(docs):
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert rows[1] == rows[2]  # same normalized word set
    assert rows[4] == rows[5]
    assert all(0 <= v < 2**32 for v in rows.values())
    # hamming distance between near-dups smaller than between unrelated docs
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(rows[1], rows[3]) < ham(rows[1], rows[4])


def test_minhash_signature_matches_python_reference(spark):
    """Each KM family i must be min(h1 + i*h2) with i the FAMILY index.

    Regression pin: PySpark derives transform()'s arity from the Python
    lambda signature, so a captured-default parameter silently switches
    to the (element, index) variant and every family collapses to the
    same degenerate value — which costs LSH recall without failing any
    threshold-filtered oracle.
    """
    import hashlib

    from meteor_spark.operators.dedup import minhash_signature, shingles
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "aa bb cc dd ee")], ["doc_id", "text"])
    got = df.select(minhash_signature(shingles(F.col("text"), 3), 5).alias("s")).first().s

    sh = df.select(shingles(F.col("text"), 3).alias("sh")).first().sh
    pairs = []
    for s in sh:
        h = hashlib.md5(s.encode()).hexdigest()
        pairs.append((int(h[:8], 16), int(h[8:16], 16)))
    expect = [min(h1 + i * h2 for h1, h2 in pairs) for i in range(5)]
    assert got == expect
    assert len(set(got)) > 1  # families must differ (the degenerate bug made them all equal)


def test_lsh_recall_on_planted_near_dups(spark):
    """Planted near-duplicates MUST surface as LSH candidates.

    This is the guarantee the lambda-arity bug silently broke: documents
    sharing most shingles should agree on at least one full band. Note
    k=3 shingling AMPLIFIES edits — one changed word kills up to 3
    shingles, so "1 edit in 100 words" is jaccard ~0.94, not 0.99. At
    j=0.94 with 12 hashes / 4 bands the per-pair miss probability is
    (1 - j^3)^4 ~ 1e-3; plant 30 such pairs (seeded => deterministic)
    and require full recall.
    """
    import random

    from meteor_spark.io import cache_scope, cached
    from meteor_spark.operators.dedup import band_pair_join, minhash_bands, shingle_frame

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    rows = []
    planted = []
    for d in range(30):
        base = [rng.choice(vocab) for _ in range(100)]
        rows.append((2 * d, " ".join(base)))
        # near-dup: change 1 of 100 words (~94% shingle overlap)
        mut = list(base)
        mut[rng.randrange(100)] = rng.choice(vocab)
        rows.append((2 * d + 1, " ".join(mut)))
        planted.append((2 * d, 2 * d + 1))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with cache_scope():
        bands = cached(minhash_bands(shingle_frame(df)))
        cand = {(r.a, r.b) for r in band_pair_join(bands).collect()}
    missed = [p for p in planted if p not in cand]
    assert not missed, f"LSH missed planted near-dups: {missed}"


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_prefix_filter_jaccard_equals_naive(spark, sf_dir, t):
    """Prefix filtering is EXACT: the rare-first prefix equi-join may
    never lose a pair vs the O(n^2) Jaccard definition, at any threshold
    (the prefix length sz - ceil(t*sz) + 1 depends on t)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
    }
    sh = dedup.shingle_frame(docs).withColumn("sz", F.size("sh")).persist()
    a, b = sh.alias("a"), sh.alias("b")
    si = F.size(F.array_intersect("a.sh", "b.sh"))
    jac = si.cast("double") / (F.col("a.sz") + F.col("b.sz") - si)
    naive = {
        (r["a"], r["b"], r["jaccard"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    sh.unpersist()
    assert got == naive
    assert naive, "fixture should contain at least one qualifying pair"


def test_blocked_hamming_pairs_equal_naive(spark, sf_dir):
    """pigeonhole blocking is exact: candidate pruning may never lose a
    pair vs the O(n^2) definition."""
    from pyspark.sql import functions as F

    from meteor_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.simhash(docs).persist()
    blocked = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(
            sh, threshold=2, drop_degenerate=False
        ).collect()
    }
    a, b = sh.alias("a"), sh.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    naive = {
        (r["a"], r["b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    sh.unpersist()
    assert blocked == naive


def test_simhash_pairs_degenerate_and_hot_sketches_stay_bounded(spark):
    """deliberate worst case: 100k no-signal docs (all-zero sketches —
    what a crawl's empty/boilerplate pages produce) plus two hot
    identical-sketch groups one bit apart. Pre-mitigation this put 100k
    rows into one (chunk, value) bucket and the candidate join exploded
    to ~5e9 rows (the pipeline never finished); now degenerate sketches
    are dropped by default and the pigeonhole join runs on DISTINCT
    sketches, so the only quadratic term left is the true answer."""
    from pyspark.sql import functions as F

    from meteor_spark.operators import dedup

    n_dead, n1, n2 = 100_000, 3_000, 2_000
    s1, s2 = 0b1010_1100_0011, 0b1010_1100_0010  # hamming(s1, s2) = 1
    sh = spark.range(n_dead + n1 + n2).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_dead, F.lit(0))
        .when(F.col("id") < n_dead + n1, F.lit(s1))
        .otherwise(F.lit(s2))
        .cast("long")
        .alias("simhash"),
    )
    out = dedup.simhash_hamming_pairs(sh, threshold=1).persist()
    want = n1 * (n1 - 1) // 2 + n2 * (n2 - 1) // 2 + n1 * n2
    assert out.count() == want
    # no pair touches a degenerate doc
    assert out.filter((F.col("a") < n_dead) | (F.col("b") < n_dead)).count() == 0
    # spot-check the hamming labels: intra-group 0, cross-group 1
    assert out.filter(F.col("hamming") == 0).count() == want - n1 * n2
    assert out.filter(F.col("hamming") == 1).count() == n1 * n2
    out.unpersist()
    # saturated-ones sketches are degenerate too
    allones = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit((1 << 32) - 1).cast("long").alias("simhash")
    )
    assert dedup.simhash_hamming_pairs(allones, threshold=1).count() == 0
    # opt-out keeps the old every-pair semantics
    assert (
        dedup.simhash_hamming_pairs(allones, threshold=1, drop_degenerate=False).count()
        == 45
    )


def test_duplicated_spans_planted_boilerplate(spark):
    """A license block shared by two docs must surface as one maximal
    span in each, with exact token boundaries; unique text never does."""
    boiler = "this content is licensed under the creative commons attribution license"  # 10 tokens
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon"),
        (2, f"{boiler} zeta eta theta iota kappa"),
        (3, "totally unrelated words about spark shuffles and parquet files here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
             for r in dedup.duplicated_spans(df, k=5).collect()}
    # doc1: boiler occupies tokens 3..12; doc2: tokens 0..9
    assert spans[1] == (3, 12, 10)
    assert spans[2] == (0, 9, 10)
    assert 3 not in spans


@pytest.mark.parametrize("t", [0.5, 0.7, 0.9])
def test_containment_pairs_equals_naive_and_is_asymmetric(spark, t):
    from meteor_spark.operators.dedup import containment_pairs, shingle_frame
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (1, base),  # short doc fully contained in 2
        (2, base + " and then some entirely new trailing content follows here afterwards"),
        (3, "completely different text about spark shuffle partitions and broadcast joins"),
        (4, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["containment"]
        for r in containment_pairs(df, threshold=t).collect()
    }

    # naive reference over the same shingle sets
    sh = {r["doc_id"]: set(r["sh"]) for r in shingle_frame(df).collect()}
    want = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a != b and sa and len(sa & sb) / len(sa) >= t:
                want[(a, b)] = round(len(sa & sb) / len(sa), 4)
    assert got == want
    if t == 0.7:
        # asymmetry: 1 is contained in 2, but 2 is not contained in 1
        assert (1, 2) in got and (2, 1) not in got
        # exact dups contain each other both ways at 1.0
        assert got[(1, 4)] == 1.0 and got[(4, 1)] == 1.0


def test_sorted_neighborhood_finds_prefix_sharing_neardups(spark):
    from meteor_spark.operators.dedup import sorted_neighborhood_pairs

    # docs 1/2 share a long prefix and most trigrams; doc 3 unrelated;
    # doc 4 shares content with 1 but leads differently (SNM's known
    # blind spot — must NOT pair unless the sort brings them adjacent)
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "alpha beta gamma delta epsilon zeta eta theta kappa"),
            (3, "completely different words about other things here"),
            (4, "zz alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    out = {(r["a"], r["b"]): r["jaccard"] for r in sorted_neighborhood_pairs(df).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.5
    assert all(3 not in pair for pair in out)


def test_sorted_neighborhood_partitioning_invariant(spark):
    from meteor_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"prefix shared words block {i % 7} tail {'x' * (i % 3)}") for i in range(40)]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    outs = []
    for parts in (1, 5):
        got = sorted_neighborhood_pairs(base.repartition(parts), threshold=0.3).collect()
        outs.append(sorted((r["a"], r["b"], r["jaccard"]) for r in got))
    assert outs[0] == outs[1]


def test_blocked_exact_pairs_equal_prefix_filter(spark, sf_dir):
    """The blocked posting-multiplication join must reproduce the
    PPJoin prefix-filter pair set (itself oracle-proven equal to brute
    force) bit-for-bit — it shares the eval gate's ground-truth role
    at the scales where prefix candidates explode."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = {
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    new = {
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.exact_jaccard_pairs_blocked(docs, threshold=0.5).collect()
    }
    assert new == old


def test_simhash_packed_equals_unpacked_reference(spark, sf_dir):
    """The packed 16-bit-lane simhash aggregate (r12 optimization) must
    be bit-identical to the original one-sum-per-bit formulation: same
    explode, same md5 bit decode, s_b = 2*cnt_b - n > 0  <=>
    2*cnt_b > n. Pinned on the real fixture plus adversarial docs
    (empty-ish, single word, heavy repetition)."""
    from pyspark.sql import functions as F

    from meteor_spark.operators.dedup import normalize_text, words

    bits = 32

    def simhash_unpacked(df, text_col="text", id_col="doc_id"):
        w = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(words(normalize_text(F.col(text_col))))).alias("w"),
        )
        w = w.withColumn(
            "__v32", F.conv(F.substring(F.md5(F.col("w")), 1, bits // 4), 16, 10).cast("long")
        )
        contribs = []
        for b in range(bits):
            shift = 4 * (bits // 4 - 1 - b // 4) + (b % 4)
            contribs.append(
                ((F.shiftright(F.col("__v32"), shift).bitwiseAND(F.lit(1))) * 2 - 1).alias(f"c{b}")
            )
        return (
            w.select(id_col, *contribs)
            .groupBy(id_col)
            .agg(*[F.sum(f"c{b}").alias(f"s{b}") for b in range(bits)])
            .select(
                F.col(id_col),
                sum(
                    [
                        F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
                        for b in range(bits)
                    ],
                    F.lit(0).cast("long"),
                ).alias("simhash"),
            )
        )

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    adversarial = spark.createDataFrame(
        [
            (1_000_001, "word"),
            (1_000_002, "  "),
            (1_000_003, "a a a a a a a a b"),
            (1_000_004, "x " * 500 + "unique tail tokens here"),
        ],
        "doc_id long, text string",
    )
    df = fixture.unionByName(adversarial)
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    want = {r["doc_id"]: r["simhash"] for r in simhash_unpacked(df).collect()}
    assert got == want


def test_simhash_lane_overflow_raises_instead_of_corrupting(spark):
    """A document past the packed-lane bound (32,767 distinct words:
    the top 16-bit lane rides bits 48..63 of a SIGNED long, so its
    summed contribution overflows the long itself at 32,768 dense-bit
    words, and the lower lanes carry into their neighbor at 65,536)
    must raise loudly instead of silently publishing a corrupted
    sketch. A doc at exactly the bound must still produce a valid
    sketch (no false trips)."""
    import pytest

    over = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(32_768)))], "doc_id long, text string"
    )
    with pytest.raises(Exception) as exc:
        dedup.simhash(over).collect()
    # either the named r13 guard or ANSI's sum overflow — both are loud;
    # the named guard fires whenever the aggregate itself survives
    msg = str(exc.value)
    assert "distinct words" in msg or "ARITHMETIC_OVERFLOW" in msg

    at_bound = spark.createDataFrame(
        [(2, " ".join(f"w{i}" for i in range(32_767)))], "doc_id long, text string"
    )
    row = dedup.simhash(at_bound).first()
    assert 0 <= row["simhash"] < 2**32
