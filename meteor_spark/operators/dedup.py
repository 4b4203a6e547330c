"""Deduplication operators: exact fingerprints, SimHash, passage scrubs,
and the shingle-set near-duplicate pair pipeline.

- exact_duplicates / dedup_exact: hash-groupBy on a content fingerprint.
  One shuffle on a short hash key; survivor = min(doc_id) per group so
  output is deterministic.

- Shingle-set pairs: every near-dup pair operator here (and the
  streaming near-dup store in streaming.pipeline) runs one skeleton,
  shingle frame -> candidate generator -> verify:
    - shingle_frame: (id, sh), the distinct word k-grams of each doc,
      tokenized once;
    - candidate generators: minhash_bands + band_pair_join (LSH,
      probabilistic), rare_first_prefix (lossless prefix filtering;
      prefix_filter_jaccard_pairs self-joins the prefixes,
      containment_pairs probes full postings with them) and the
      sorted-neighborhood window;
    - verify: set_jaccard, |A ∩ B| / (|A| + |B| - |A ∩ B|) over two
      shingle arrays with a single array intersection, joined onto the
      candidates by jaccard_pairs. Each operator keeps its own decision
      rule, the one its oracle uses: batch operators round, then
      compare; the streaming store compares the unrounded value.
  exact_jaccard_pairs_blocked reaches the prefix filter's pair set
  outside the skeleton, through a broadcast numpy posting join.

- MinHash+LSH: the minhash of a permutation is approximated as the
  lexicographic MIN of md5(seed || shingle) — md5 is stable across
  engines (the DuckDB oracle runs the identical construction), and
  per-seed mins are computed with built-in array functions only: no
  UDF, no ML-pipeline dependency, whole-stage codegen end to end.
  Candidate pairs only form within an LSH band bucket (the classic
  S-curve), so the join is a bucket-equi-join, not a cross product: at
  1000 executors the shuffle key is (band_index, band_hash) which
  distributes uniformly.

- SimHash: 32-bit sign-sum sketch over word md5 bits, expressed
  relationally (explode words x bit positions -> groupBy doc) so both
  Spark and the SQL oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from meteor_spark.io import cached
from meteor_spark.operators.text import normalize_text, words


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by exact (normalized) content hash.

    Returns (fingerprint, n_docs, doc_ids sorted) for groups with >1 doc.
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one survivor (min id) per exact-content group.

    Window-free formulation: groupBy(hash) -> min(id) -> semi-join back.
    The semi join is on (hash, id), broadcast when the survivor set is
    small; at scale AQE picks the strategy.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("__fp")
    with_fp = df.select("*", fp)
    survivors = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(survivors, ["__fp", id_col], "left_semi").drop("__fp")


# ------------------------------------------------------------- shingles

def shingles_of_words(ws: Column, k: int = 3) -> Column:
    """Distinct k-gram shingles of an ALREADY-MATERIALIZED words array.

    `ws` must be a bare column reference produced by its own projection
    (see shingle_frame): an inline words(...) expression here would be
    inlined by Catalyst into the transform() lambda and re-split the
    text once per gram element.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
    )
    return F.array_distinct(grams)


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of normalized text (array<string>).

    Convenience single-expression form — fine for oracles/tests, but in
    a pipeline prefer shingle_frame: with the split inlined into the
    gram lambda the text is re-tokenized per element.
    """
    return shingles_of_words(words(normalize_text(text)), k)


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra...], sh) with the words array materialized in its own
    projection so the gram lambda references a cheap column, not the
    tokenizer expression. The double reference (size + slice) keeps
    CollapseProject from merging the projections back together.
    """
    worded = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], words(normalize_text(F.col(text_col))).alias("__ws")
    )
    return worded.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        shingles_of_words(F.col("__ws"), k).alias("sh"),
    )


def minhash_signature(sh: Column, num_hashes: int = 12) -> Column:
    """Array of num_hashes minhash values (longs).

    ONE md5 per shingle, split into two 32-bit words (h1, h2); hash
    family i is Kirsch-Mitzenmacher double hashing h1 + i*h2 — the
    standard way to derive k independent-enough hash functions from one
    digest. All arithmetic is exact in int64, so the DuckDB oracle
    reproduces it bit-for-bit via ('0x' || substr(md5(s), ...))::BIGINT.

    "One md5 per shingle" has to be enforced STRUCTURALLY, not assumed:
    Spark's subexpression elimination skips any tree containing a
    lambda variable (NamedLambdaVariable is unsupported in
    EquivalentExpressions), so nothing deduplicates repeated
    HOF subtrees. Two moves keep the hashing single-pass:
      - the md5 hex is materialized by an INNER transform, so the
        (h1, h2) split reads one digest per shingle (md5 inlined twice
        in the struct would hash every shingle twice);
      - all num_hashes mins ride ONE aggregate() fold over that array
        (12 array_min(transform(...)) copies would re-evaluate the
        whole hash array — md5 included — once per family; measured
        ~12x the per-row hash work at 12 hashes).
    least() is an exact drop-in for array_min here: the KM values are
    never NULL (md5 of a non-null string), and the empty/NULL-shingle
    rows take the when() branch to the same all-NULL signature the
    array_min form produced.

    ELEMENT-level NULLs are unsupported: a non-empty array whose
    elements are all NULL publishes Long.MaxValue lanes (the fold's
    seed) where the array_min form published NULLs. Unreachable via
    shingles()/shingle_frame (concat_ws never yields NULL elements);
    callers passing arbitrary arrays must null-filter them first.
    """
    hashes = F.transform(
        F.transform(sh, lambda s: F.md5(s)),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    folded = F.aggregate(
        hashes,
        F.array_repeat(F.lit((1 << 63) - 1), num_hashes),
        lambda acc, p: F.array(
            *[
                F.least(acc[i], p.getField("h1") + F.lit(i) * p.getField("h2"))
                for i in range(num_hashes)
            ]
        ),
    )
    return F.when(F.size(sh) > 0, folded).otherwise(
        F.array_repeat(F.lit(None).cast("long"), num_hashes)
    )


# --------------------------------------------------------- minhash lsh

def minhash_bands(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(id, band, band_key): LSH banding of the minhash signatures of a
    shingle frame (id, sh), e.g. shingle_frame's output.

    rows_per_band = num_hashes // bands; band_key = md5 of the
    concatenated minhashes in that band.
    """
    rows = num_hashes // bands
    base = sh.select(F.col(id_col), minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.element_at(F.col("sig"), b * rows + r + 1).cast("string") for r in range(rows)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return base.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def band_pair_join(band_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    Self-join on (band, band_key) — an equi-join whose key count grows
    with corpus size, so it parallelizes; within-bucket pair blowup is
    bounded by bucket size (hot buckets = near-identical content).

    Persist the band frame first (io.cached): without it each join side
    re-derives shingles -> signatures -> band keys, and the doubled
    expression tree degrades far worse than 2x (measured 140s vs 9s on
    a 50k-doc corpus). The persisted state is (id, band, band_key) — a
    few dozen bytes per doc.
    """
    l, r = band_df.alias("l"), band_df.alias("r")
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def set_jaccard(a: Column | str, b: Column | str) -> Column:
    """Unrounded Jaccard of two distinct-element array columns (names or
    Columns): |A ∩ B| / (|A| + |B| - |A ∩ B|). The union size comes
    from the set sizes, so there is one array_intersect per pair and no
    array_union (halves the dominant array work)."""
    si = F.size(F.array_intersect(a, b))
    return si.cast("double") / (F.size(a) + F.size(b) - si)


def jaccard_pairs(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Verify candidate pairs (a, b) against the shingle frame sh (id,
    sh): (a, b, jaccard) with jaccard rounded to round_to places, kept
    when the rounded value is >= threshold (the oracles' rule)."""
    da, db = sh.alias("da"), sh.alias("db")
    return (
        pairs.join(da, pairs.a == F.col(f"da.{id_col}"))
        .join(db, pairs.b == F.col(f"db.{id_col}"))
        .select("a", "b", F.round(set_jaccard("da.sh", "db.sh"), round_to).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Full pipeline: LSH candidates -> exact Jaccard verification.

    The shingle sets and band keys are persisted before the self-joins —
    without that, each side of the band join AND each side of the
    verification join re-derives shingles + signatures from raw text
    (4x the md5 work; measured 122s -> ~8s on 5k docs). At cluster scale
    the persist is a few hundred bytes per doc of hash state, far
    smaller than the text itself.
    """
    sh = cached(shingle_frame(df, text_col, id_col, k))
    pairs = band_pair_join(cached(minhash_bands(sh, id_col, num_hashes, bands)), id_col)
    return jaccard_pairs(pairs, sh, id_col, threshold, round_to)


# -------------------------------------------------------------- simhash

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """32-bit SimHash per document, relational formulation.

    explode(distinct words) -> per-word ±1 contribution for each of the
    `bits` positions as separate columns -> ONE groupBy(doc) with `bits`
    map-side-combined sums -> hash = Σ (sum_b>0) << b. Bit b of word w is
    taken from hex digit b//4 of md5(w): (digit_value >> (b%4)) & 1 —
    pure integer arithmetic on md5 hex, portable to the SQL oracle.

    One shuffle carrying |doc words| rows of `bits` small ints (vs the
    naive words x bits explode, which shuffles 32x the rows and needs a
    second aggregation): at 100 TB the bit-position explode would be the
    bottleneck, not the text scan.
    """
    w = df.select(F.col(id_col), F.explode(F.array_distinct(words(normalize_text(F.col(text_col))))).alias("w"))
    # ONE conv() of the first 8 hex chars materializes all 32 bit
    # positions; bit b (hex digit b//4, bit b%4 within it) is
    # (v32 >> (4*(7 - b//4) + b%4)) & 1 — value-identical to the
    # per-nibble instr() decode (digit d at hex position n contributes
    # d * 16^(7-n) to v32), but the expression tree is ~5x smaller,
    # which cuts whole-stage-codegen size and the cold-start compile.
    w = w.withColumn("__v32", F.conv(F.substring(F.md5(F.col("w")), 1, bits // 4), 16, 10).cast("long"))
    # SIMD-in-a-register bit counting: instead of one ±1 sum PER BIT
    # (32 agg columns whose wide codegen measured ~6s of cold compile
    # and ~1.6s steady at sf0.1), pack 4 bit-counters into 16-bit lanes
    # of one long — 8 packed sums + a row count. With cnt_b = lane b of
    # the sums, the original s_b = 2·cnt_b − n_words > 0 test becomes
    # 2·cnt_b > n: bit-identical sketches (pinned against the unpacked
    # form in tests and the SQL oracle), measured ~0.85s steady.
    # GUARDED BOUND (the pc1/exact-Jaccard discipline): the TOP 16-bit
    # lane rides bits 48..63 of a SIGNED long, so its summed
    # contribution cnt·2^48 overflows the long itself at cnt = 32,768
    # (ANSI mode then raises a bare ARITHMETIC_OVERFLOW mid-aggregate —
    # r13 discovered this writing the lane-overflow test; the r12 note
    # claiming a 65,535 bound was wrong for that lane), and the lower
    # lanes silently carry into their neighbor at 65,536. The provably
    # safe bound is therefore 32,767 DISTINCT words per document
    # (every lane counter is <= n <= 32,767: no long overflow, no lane
    # carry). Such a doc is ~0.3 MB of unique vocabulary, but at web
    # scale adversarial docs exist, so the bound is ENFORCED, not
    # assumed: the final projection raises a NAMED error (per doc, one
    # integer comparison on the already-aggregated n — agg Functions
    # count unchanged) instead of silently publishing a corrupted
    # sketch. A corpus that legitimately has such docs splits them
    # upstream or widens lanes (e.g. 3 lanes/long at shifts 0/16/32:
    # 11 sums, 65,535-word bound; or 2x31-bit lanes: 16 sums).
    lanes, lane_bits = 4, 16
    nlongs = bits // lanes
    packs = []
    for j in range(nlongs):
        terms = []
        for i in range(lanes):
            b = lanes * j + i
            shift = 4 * (bits // 4 - 1 - b // 4) + (b % 4)
            terms.append(f"(((__v32 >> {shift}) & 1) << {lane_bits * i})")
        packs.append(F.expr(" + ".join(terms)).alias(f"p{j}"))
    agg = (
        w.select(id_col, *packs)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n"),
            *[F.sum(f"p{j}").alias(f"S{j}") for j in range(nlongs)],
        )
    )
    mask = (1 << lane_bits) - 1
    parts = []
    for j in range(nlongs):
        for i in range(lanes):
            b = lanes * j + i
            parts.append(
                f"(CASE WHEN 2 * ((S{j} >> {lane_bits * i}) & {mask}) > n"
                f" THEN {1 << b} ELSE 0 END)"
            )
    # n = the doc's distinct word count (every lane counter is <= n), so
    # n <= 32,767 proves neither the signed-long sum nor any 16-bit lane
    # overflowed; past it, fail loudly with a named error. (A dense-bit
    # doc past ~32k words already trips ANSI ARITHMETIC_OVERFLOW inside
    # the sum — this guard makes the failure deterministic and named
    # for the sparse-bit docs that would otherwise corrupt silently.)
    bound = (1 << (lane_bits - 1)) - 1
    guarded = (
        f"IF(n <= {bound}, {' + '.join(parts)}, CAST(raise_error(CONCAT("
        f"'simhash: document has more than {bound} distinct words; its "
        f"packed 16-bit lane counters would overflow — split the "
        f"document or widen lanes')) AS BIGINT))"
    )
    return agg.select(F.col(id_col), F.expr(guarded).cast("long").alias("simhash"))


def simhash_hamming_pairs(
    sh: DataFrame,
    threshold: int = 1,
    bits: int = 32,
    id_col: str = "doc_id",
    drop_degenerate: bool = True,
) -> DataFrame:
    """All pairs within hamming distance `threshold` of each other's
    simhash — EXACT, via pigeonhole blocking (Charikar-style): split the
    sketch into threshold+1 disjoint chunks; a pair differing in <=
    threshold bits must match EXACTLY on at least one chunk, so the
    O(n^2) self-join becomes threshold+1 equi-joins on (chunk_id,
    chunk_value) + a verification of the candidates. No recall loss.

    Skew hardening (the 100-TB shape). Real corpora concentrate mass on
    a few sketches — boilerplate pages hash identically, and empty /
    single-token docs produce saturated sketches (popcount 0 or `bits`).
    Two defenses, both on by default:

    1. The pigeonhole join runs on DISTINCT sketches, never on docs: a
       million boilerplate-identical docs contribute ONE row per chunk
       to the bucket join, so a hot (chunk_id, value) bucket is bounded
       by sketch DIVERSITY, not corpus size. Doc ids are joined back
       only onto verified near-dup sketch pairs; identical-sketch doc
       groups pair up in a separate same-key equi-join whose output IS
       the answer (every such pair has hamming 0).
    2. drop_degenerate=True removes saturated sketches (popcount 0 or
       `bits` — every bit-sum tied one way: empty or ~single-token docs)
       BEFORE pairing. Their "near-dup" pairs are noise — a no-signal
       sketch sits within hamming `threshold` of nothing meaningful and
       its group alone can re-quadratify the output (100k empty docs =
       5e9 true hamming-0 pairs that say nothing about content).
       Exact-fingerprint dedup is the right tool for those docs.
    """
    chunks = threshold + 1
    width = bits // chunks

    base = sh.select(F.col(id_col), "simhash")
    if drop_degenerate:
        pc = F.bit_count(F.col("simhash").bitwiseAND(F.lit((1 << bits) - 1)))
        base = base.filter((pc > 0) & (pc < bits))
    base = cached(base)  # distinct sketches + id expansion both read it

    def chunk_expr(i: int):
        lo = i * width
        w = bits - lo if i == chunks - 1 else width
        return F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit((1 << w) - 1))

    # persisted: both sides of the chunk self-join read the distinct
    # set, and without the cache the distinct shuffle would run twice
    ds = cached(base.select("simhash").distinct())
    ex = ds.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), chunk_expr(i).alias("cv"))
                    for i in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select("simhash", "ch.ci", "ch.cv")
    sa = ex.select(F.col("simhash").alias("ha"), "ci", "cv")
    sb = ex.select(F.col("simhash").alias("hb"), "ci", "cv")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    # ha <= hb keeps the diagonal: the ha == hb rows carry the
    # identical-sketch groups (hamming 0) through the SAME expansion
    # joins, so no separate intra-group pass is needed
    near_sketches = (
        sa.join(sb, ["ci", "cv"])
        .filter(F.col("ha") <= F.col("hb"))
        .select("ha", "hb")
        .dropDuplicates(["ha", "hb"])  # a pair can match on several chunks
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= threshold)
    )
    # expand verified sketch pairs back to doc pairs. For ha < hb each
    # unordered doc pair appears exactly once (under its one unordered
    # sketch pair); on the diagonal the join yields both orientations,
    # so keep a < b there — together: no duplicates, no dedup needed.
    ga = base.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
    gb = base.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
    return (
        near_sketches.join(ga, "ha")
        .join(gb, "hb")
        .filter((F.col("ha") < F.col("hb")) | (F.col("a") < F.col("b")))
        .select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "hamming",
        )
    )


# -------------------------------------------------- incremental dedup

def dedup_incremental(
    new_df: DataFrame, corpus_df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep only new rows whose content is NOT already in the corpus —
    the incremental-ingest form of exact dedup (a fresh crawl batch vs
    the existing 100 TB corpus).

    Anti-join on the content fingerprint: the corpus side reduces to its
    distinct fingerprint SET (one short hash per unique doc), so at scale
    this is a shuffle on 32-char keys — or a broadcast when the daily
    batch is small — never a text-to-text comparison. New-batch-internal
    duplicates are collapsed to the min-id survivor first, so output is
    deterministic and self-consistent.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("__fp")
    new_fp = new_df.select("*", fp)
    corpus_fps = corpus_df.select(fp).distinct()
    fresh = new_fp.join(corpus_fps, "__fp", "left_anti")
    survivors = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fresh.join(survivors, ["__fp", id_col], "left_semi").drop("__fp")


# Broadcast ceiling for the prefix filter's index side: below Spark's
# 8 GB broadcast limit, and above the 100x fixture's ~4 GB index, which
# MUST broadcast (see prefix_filter_jaccard_pairs).
_PREFIX_BROADCAST_BUDGET_BYTES = 6 << 30


def rare_first_prefix(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id, sz, gram, rn): the rare-first prefix of every shingle set
    in sh (id, sh, sz = size(sh)) — its first sz - ceil(t*sz) + 1 grams
    under the global (document frequency, gram) order, rn being the
    1-based rank.

    The prefix theorem behind both prefix joins: under any common total
    order, a set of size n whose overlap with another set reaches
    ceil(t*n) must share one of its first n - ceil(t*n) + 1 grams with
    it, so an equi-join on prefix grams is a lossless candidate
    generator. Rare-first ordering keeps those join keys near-unique —
    the hot-token skew an LSH band join can suffer never forms. One
    shuffle for gram frequencies, one window for the ranks.
    """
    from pyspark.sql import Window

    toks = sh.select(F.col(id_col), "sz", F.explode("sh").alias("gram"))
    freq = toks.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "gram")
    prefix_len = F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1
    return (
        toks.join(freq, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(F.col(id_col), "sz", "gram", "rn")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (the PPJoin
    family, Xiao et al. WWW'08) — every pair with shingle Jaccard >=
    threshold, with NO approximation and no quadratic candidate set.

    Candidates are pairs sharing a rare_first_prefix gram; a size ratio
    filter (t*|a| <= |b|, symmetric) and a positional filter prune them
    before the exact verify (jaccard_pairs).

    vs minhash LSH: LSH is probabilistic (misses pairs); this is exact
    at higher verify cost — the right tool when the dedup policy must
    be auditable. One shuffle for token frequencies, one window for
    prefix ranks, one equi-join, one broadcast-sized verify join.
    """
    sh = cached(shingle_frame(df, text_col, id_col, k).withColumn("sz", F.size("sh")))
    # PERSIST the prefix frame: it is read by BOTH sides of the
    # candidate self-join, and Spark plans each side as its own full
    # explode -> freq-join -> window-sort subtree (AQE does not reuse
    # the two canonically-identical exchanges across the broadcast and
    # probe sides — verified in the formatted plan: two Exchange +
    # Sort + Window stages per action). Materializing it once halves
    # the gate's dominant shuffle+sort work at any scale; the cached
    # frame is (id, sz, gram, rn) — a fraction of the exploded input.
    # (An r12 note claimed this persist measured as a loss; that
    # measurement predates the positional-filter rewrite — the r13
    # plan dump shows the window genuinely running twice without it.)
    prefixes = cached(rare_first_prefix(sh, id_col, threshold))
    pa, pb = prefixes.alias("pa"), prefixes.alias("pb")
    # POSITIONAL filter (the "PP" in PPJoin): both prefixes are sorted by
    # the same global (df, gram) order, so matched tokens appear in the
    # same relative order on both sides — the last prefix match (max rn,
    # consistently the same token for both) splits each set into
    # "prefix matches counted exactly" (m) and "strictly later on BOTH
    # sides", bounded by the smaller remaining suffix. Overlap can never
    # exceed m + min(sza - max_rna, szb - max_rnb); pairs below the
    # threshold-equivalent overlap a = ceil(t/(1+t)*(sza+szb)) are pruned
    # BEFORE the exact verify join ever shuffles their shingle arrays.
    # The groupBy replaces the former .distinct() — same shuffle, and the
    # candidate set it emits is a fraction of the raw prefix matches.
    # The index side is BROADCAST when it fits: prefix matches expand
    # clone-quadratically (4.84B raw pair rows on the 100x fixture),
    # and a shuffle join must WRITE that expansion to disk (~190 GB —
    # measured fatal) before the pair aggregation can collapse it. With
    # a broadcast index the join and the partial aggregation pipeline
    # inside one stage, and because the probe side arrives partitioned
    # by document, every gram match of a pair (a, b) hits the same
    # task's hash table — the expansion collapses to ~|distinct pairs|
    # rows BEFORE anything shuffles. Past the broadcast budget (the
    # 1000x regime) fall back to the shuffle join; at real cluster
    # scale the same collapse comes from bucketing both sides by gram.
    # Budget in estimated BYTES, not rows (r10 advice): gram strings are
    # k-word shingles of unbounded length, so a row-count threshold can
    # blow the 8 GB broadcast/driver ceiling on long-token corpora. ONE
    # action over the persisted prefix frame does double duty: it
    # materializes the cache both join sides read AND yields the exact
    # prefix row count and mean gram bytes; estimated broadcast size =
    # rows x (mean gram bytes + ~64B UnsafeRow/id/sz/rn overhead), held
    # under _PREFIX_BROADCAST_BUDGET_BYTES (the 100x fixture's
    # 48M-row/~4GB index MUST broadcast — the shuffle fallback writes
    # the 4.84B-row prefix expansion to disk, ~190 GB, measured fatal
    # twice).
    est = prefixes.agg(
        F.count("*").alias("npfx"),
        F.avg(F.octet_length("gram")).alias("gbytes"),
    ).first()
    est_bytes = (est["npfx"] or 0) * ((est["gbytes"] or 0.0) + 64.0)
    pb_side = F.broadcast(pb) if est_bytes <= _PREFIX_BROADCAST_BUDGET_BYTES else pb
    cands = (
        pa.join(
            pb_side,
            (F.col("pa.gram") == F.col("pb.gram"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
            & (F.col("pb.sz") * F.lit(threshold) <= F.col("pa.sz"))
            & (F.col("pa.sz") * F.lit(threshold) <= F.col("pb.sz")),
        )
        .groupBy(
            F.col(f"pa.{id_col}").alias("a"),
            F.col(f"pb.{id_col}").alias("b"),
            F.col("pa.sz").alias("csza"),
            F.col("pb.sz").alias("cszb"),
        )
        .agg(F.count("*").alias("m"), F.max("pa.rn").alias("ra"), F.max("pb.rn").alias("rb"))
        .filter(
            F.col("m") + F.least(F.col("csza") - F.col("ra"), F.col("cszb") - F.col("rb"))
            >= F.ceil(F.lit(threshold) / (1 + threshold) * (F.col("csza") + F.col("cszb")))
        )
        .select("a", "b")
    )
    return jaccard_pairs(cands, sh, id_col, threshold, round_to)


def _posting_pair_counts_block(doc_idxs, gid_lists, post_indptr, post_docs):
    """Enumeration core shared by the Jaccard decision below and the
    containment scale oracle (tools/scale_oracles.py): for each doc
    index `a` in the block, bincount its gram posting lists restricted
    to partners strictly AFTER a, yielding (a, bs, cnt) — partner doc
    indices and shared-gram counts as numpy arrays. Each unordered pair
    surfaces exactly once (at its smaller index), with the exact
    |A INTERSECT B|; the caller applies its own symmetric or directed
    decision. Never materializes candidate pairs beyond one doc's
    partner row."""
    import numpy as np

    for a, gids in zip(doc_idxs, gid_lists):
        if len(gids) == 0:
            continue
        parts = []
        for g in gids:
            lo, hi = post_indptr[g], post_indptr[g + 1]
            seg = post_docs[lo:hi]
            # postings are sorted by doc index: partners strictly after a
            cut = np.searchsorted(seg, a, side="right")
            if cut < hi - lo:
                parts.append(seg[cut:])
        if not parts:
            continue
        partners = np.concatenate(parts)
        counts = np.bincount(partners)
        bs = np.nonzero(counts)[0]
        if len(bs) == 0:
            continue
        yield a, bs, counts[bs]


def _posting_true_pairs_block(
    doc_idxs,
    gid_lists,
    post_indptr,
    post_docs,
    sizes,
    threshold: float,
    round_to: int,
):
    """Numpy core of the blocked exact-Jaccard join: for each doc index
    `a` in the block, bincount its gram posting lists restricted to
    partners > a, then decide round(si/(la+lb-si), round_to) >= threshold.

    Yields (a_idx, b_idx, rounded_jaccard) tuples. The rounding is
    half-up on the double (floor(c*10^r + 0.5)), with a 1e-9 band
    re-checked through Decimal(repr(c)) — the Spark Round /
    BigDecimal.valueOf semantics — so a value landing exactly on a
    representational boundary cannot flip between engines.

    This core is shared by the Spark operator below AND the 100x
    scale-tier oracle (tools/scale_oracles.py) — acceptable because the
    core itself is pinned against two INDEPENDENT formulations at
    committed SFs (the brute-force oracle and the PPJoin prefix join,
    tests/test_dedup.py), so the cross-engine check at scale verifies
    the distributed machinery, not the arithmetic it already trusts."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    scale = 10.0**round_to
    q = Decimal(1).scaleb(-round_to)
    tau = Decimal(str(threshold))
    for a, bs, cnt in _posting_pair_counts_block(
        doc_idxs, gid_lists, post_indptr, post_docs
    ):
        si = cnt.astype(np.float64)
        la = float(sizes[a])
        lb = sizes[bs].astype(np.float64)
        c = si / (la + lb - si)
        v = c * scale + 0.5
        r4 = np.floor(v) / scale
        frac = v - np.floor(v)
        band = (frac < 1e-9) | (frac > 1 - 1e-9)
        keep = r4 >= threshold
        for i in np.nonzero(band)[0]:
            keep[i] = Decimal(repr(float(c[i]))).quantize(
                q, rounding=ROUND_HALF_UP
            ) >= tau
        for i in np.nonzero(keep)[0]:
            yield int(a), int(bs[i]), float(
                np.floor(float(c[i]) * scale + 0.5) / scale
            ) if not band[i] else float(
                Decimal(repr(float(c[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )


def exact_jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    round_to: int = 4,
    max_postings: int = 500_000_000,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold via BLOCKED POSTING
    MULTIPLICATION — the form that survives clone-heavy corpora where
    even the PPJoin prefix join explodes (measured on the 100x fixture:
    4.84B raw prefix matches and 2B+ DISTINCT candidates, because every
    pair sharing one coincidental prefix gram must materialize a
    candidate row; this operator never materializes candidates at all).

    Structure = distributed sparse S·S^T on the doc-gram incidence
    matrix: the gram posting lists (vocabulary-keyed arrays, ~4 bytes
    per posting entry) are BROADCAST; each task streams its block of
    documents and, per doc, bincounts the concatenation of its grams'
    posting tails (partners > self, so every unordered pair is scored
    exactly once, in the lower-id doc's block). Intersection counts are
    exact integers; only pairs clearing the rounded-Jaccard threshold
    are ever emitted (output-linear, 26.4M rows at 100x). Work =
    sum(df(gram)) posting expansions = one pass over the full posting
    join's row count at numpy bincount speed, with NO shuffle, NO
    candidate state, and memory bounded by one doc's posting expansion.

    Scale: the broadcast is ~8 bytes/posting (110 MB at 100x, ~1 GB at
    1000x — the ANN gates' query-side-broadcast budget); past that,
    partition the VOCABULARY and run one broadcast round per vocab
    shard (counts add across shards only for pairs, which don't cross
    shards here since each gram lives in one shard — the same
    disjoint-union the band joins use). The first wall in-container is
    the DRIVER materialization of the incidence, not the executor
    broadcast: the pull is Arrow-packed int64 columns (no Python
    objects — index lookups are searchsorted over the sorted doc-id
    array, never a dict), ~16 bytes/posting transient, and
    max_postings guards it with an actionable error instead of an
    opaque driver OOM. Gram ids come from a distributed sort +
    zipWithIndex — no single-partition window anywhere in the plan."""
    spark = df.sparkSession
    sh = shingle_frame(df, text_col, id_col, k).withColumn("sz", F.size("sh"))
    ex = sh.select(F.col(id_col), F.explode("sh").alias("gram"))
    n_postings = ex.count()
    if n_postings > max_postings:
        raise ValueError(
            f"exact_jaccard_pairs_blocked: {n_postings} postings exceeds "
            f"max_postings={max_postings} (~{16 * max_postings >> 30} GB "
            f"driver transient). Shard the VOCABULARY and run one "
            f"broadcast round per shard (pairs never cross gram shards), "
            f"or raise max_postings if the driver has headroom."
        )
    if n_postings > max_postings // 2:
        import warnings

        warnings.warn(
            f"exact_jaccard_pairs_blocked: {n_postings} postings is past "
            f"half of max_postings={max_postings}; plan vocabulary "
            f"sharding before the next magnitude",
            ResourceWarning,
            stacklevel=2,
        )
    # gram-id dictionary without a single-partition window: distributed
    # range-sort, then zipWithIndex (ids are an arbitrary bijection; the
    # sort only makes them deterministic)
    gram_ids = spark.createDataFrame(
        ex.select("gram").distinct().sort("gram").rdd
        .zipWithIndex().map(lambda t: (t[0][0], t[1])),
        "gram string, gid long",
    )
    entries = (
        ex.join(F.broadcast(gram_ids), "gram").select(F.col(id_col), "gid")
    )
    # dense doc index by ascending id — one vocabulary-free sorted pull
    docs_pd = (
        sh.select(F.col(id_col).alias("_id"), "sz").orderBy("_id").toPandas()
    )
    import numpy as np

    doc_ids = docs_pd["_id"].to_numpy()
    sizes = docs_pd["sz"].to_numpy().astype(np.int32)
    ent_pd = entries.toPandas()
    # searchsorted over the sorted id array: packed numpy end-to-end
    # (the former dict .map() built one Python int per posting)
    ent_doc = np.searchsorted(doc_ids, ent_pd[id_col].to_numpy())
    ent_gid = ent_pd["gid"].to_numpy(dtype=np.int64)
    order = np.lexsort((ent_doc, ent_gid))
    ent_doc, ent_gid = ent_doc[order], ent_gid[order]
    n_grams = int(ent_gid.max()) + 1 if len(ent_gid) else 0
    post_indptr = np.zeros(n_grams + 1, dtype=np.int64)
    np.add.at(post_indptr, ent_gid + 1, 1)
    post_indptr = np.cumsum(post_indptr)
    post_docs = ent_doc.astype(np.int32)
    b_post = spark.sparkContext.broadcast(
        (post_indptr, post_docs, sizes, doc_ids)
    )

    # per-doc gram-id lists, distributed over the default parallelism
    doc_grams = (
        entries.groupBy(id_col).agg(F.collect_list("gid").alias("gids"))
    )

    def emit(batches):
        import pandas as pd

        indptr, pdocs, szs, dids = b_post.value
        for pdf in batches:
            rows_a, rows_b, rows_j = [], [], []
            a_idxs = np.searchsorted(dids, pdf[id_col].to_numpy())
            gls = [np.asarray(g, dtype=np.int64) for g in pdf["gids"]]
            for a, b, j in _posting_true_pairs_block(
                a_idxs, gls, indptr, pdocs, szs, threshold, round_to
            ):
                rows_a.append(int(dids[a]))
                rows_b.append(int(dids[b]))
                rows_j.append(j)
            yield pd.DataFrame({"a": rows_a, "b": rows_b, "jaccard": rows_j})

    return doc_grams.repartition(
        max(spark.sparkContext.defaultParallelism, 8)
    ).mapInPandas(emit, "a long, b long, jaccard double")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Cross-document duplicated SPANS — the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL'22): find every maximal token range that also appears
    verbatim in some OTHER document, so a curation pipeline can excise
    boilerplate (headers, license blocks, templated paragraphs) without
    dropping whole near-unique documents.

    Relational formulation (vs the paper's suffix array): every k-token
    window is fingerprinted at its position; a window whose gram text
    occurs in >= 2 distinct documents is "shared"; per document,
    overlapping/adjacent shared windows (start gap <= k) merge into
    maximal spans via the gap-and-islands window. Returns one row per
    span: (id, span_start, span_end, span_tokens) in 0-based token
    indices, end inclusive.

    Scale: shuffle 1 groups gram fingerprints (md5 keys — uniform, no
    hot keys) with map-side combine; shuffle 2 is a semi join of
    positions against the shared-gram set; shuffle 3 re-groups ONLY the
    surviving positions per doc for the island merge. Text is tokenized
    once (materialized words projection — Catalyst would otherwise
    inline the tokenizer into the per-window lambda).
    """
    from pyspark.sql import Window

    worded = df.select(
        F.col(id_col), words(normalize_text(F.col(text_col))).alias("__ws")
    )
    # feeds BOTH the shared-gram agg and the position semi join — tokenize once
    grams = cached(worded.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("__ws") - (k - 1), F.lit(1))),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__ws", i, k))),
            )
        ).alias("pos", "gram"),
    ))
    shared = (
        grams.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = grams.join(shared, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn(
        "brk", F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    ).withColumn("isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return isl.groupBy(id_col, "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
    ).select(id_col, "span_start", "span_end", "span_tokens")


# ------------------------------------------------------- passage dedup

def passage_dedup(
    df: DataFrame,
    chunk_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit: str = "hash",
) -> DataFrame:
    """Passage-level exact dedup with document reassembly: split every
    document into fixed-width word windows ("passages"), keep the FIRST
    occurrence of each distinct passage corpus-wide, and stitch each
    document back together from its surviving passages — the
    whole-passage granularity between document-level dedup_exact and
    duplicated_spans' arbitrary ranges (C4 dropped repeated 3-sentence
    spans the same way; this corpus has no sentence punctuation, so the
    window is word-count-based).

    "First occurrence" is ownership by min (doc_id, chunk_id) per
    passage fingerprint — deterministic across partitionings and
    engines, no arrival-order dependence.

    Returns (id, n_chunks, kept_chunks, new_text_hash) where
    new_text_hash is md5 of the surviving passages joined in document
    order (NULL when every passage of the doc occurred earlier
    elsewhere). Hashing the reassembled text keeps the result frame
    bounded while still value-checking the reassembly byte-for-byte.
    With emit="text" the reassembled text itself is returned as
    `new_text` instead (the recipe-processor form).

    Scale: passages are built with sequence+slice INSIDE the row (no
    doc×token explode — the exploded frame is one row per passage, ~1/8
    the token count); ownership is one row_number window partitioned by
    the md5 fingerprint (uniform hash key, no skew); reassembly is one
    groupBy(id) with an in-group sort of ≤ n_chunks structs. Nothing
    joins back against the full corpus.
    """
    from pyspark.sql import Window

    passages = _passage_frame(df, chunk_words, text_col, id_col)
    own = Window.partitionBy(F.md5("passage")).orderBy(id_col, "chunk_id")
    ranked = passages.withColumn("__rn", F.row_number().over(own))
    return _reassemble(passages, ranked.filter(F.col("__rn") == 1), id_col, emit)


def _passage_frame(
    df: DataFrame, chunk_words: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, chunk_id, passage): fixed-width word windows per document,
    built with sequence+slice INSIDE the row (no doc x token explode —
    the exploded frame is one row per passage, ~1/chunk_words the token
    count)."""
    ws = words(normalize_text(F.col(text_col)))
    base = df.select(F.col(id_col), ws.alias("__ws"))
    n_chunks = F.ceil(F.size("__ws") / F.lit(chunk_words)).cast("int")
    return base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda j: F.concat_ws(" ", F.slice(F.col("__ws"), j * chunk_words + 1, chunk_words)),
            )
        ).alias("chunk_id", "passage"),
    )


def _reassemble(
    passages: DataFrame, surviving: DataFrame, id_col: str, emit: str
) -> DataFrame:
    """(id, n_chunks, kept_chunks, new_text_hash|new_text): stitch each
    document back together from its surviving passages in document
    order. One groupBy(id) with an in-group sort of <= n_chunks structs;
    nothing joins back against the full corpus."""
    reassembled = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_id", "passage"))),
            lambda s: s["passage"],
        ),
    )
    out_col = (
        F.md5(reassembled).alias("new_text_hash")
        if emit == "hash"
        else reassembled.alias("new_text")
    )
    tot = passages.groupBy(id_col).agg(F.count("*").cast("long").alias("n_chunks"))
    kept = surviving.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_chunks"), out_col
    )
    return tot.join(kept, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce(F.col("kept_chunks"), F.lit(0).cast("long")).alias("kept_chunks"),
        "new_text_hash" if emit == "hash" else "new_text",
    )


def hot_passage_scrub(
    df: DataFrame,
    chunk_words: int = 8,
    min_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit: str = "hash",
) -> DataFrame:
    """Boilerplate removal: drop EVERY occurrence of any passage that
    appears >= min_count times corpus-wide, and stitch each document
    back together from the surviving passages — the RefinedWeb/Gopher
    "repeated line" scrub (nav menus, cookie banners, license headers)
    at the same fixed-width word-window granularity as passage_dedup.
    Where passage_dedup keeps the FIRST occurrence (dedup), this keeps
    NONE of a hot passage (boilerplate carries no training signal even
    once, and the survivor would otherwise be arbitrary).

    Returns (id, n_chunks, kept_chunks, new_text_hash) — new_text_hash
    is md5 of the reassembled text (NULL when every passage of the doc
    is hot); emit="text" returns the rebuilt text instead.

    Scale: corpus-wide passage frequency is count(*) over a window
    partitioned by the md5 fingerprint — a uniform hash key, the same
    single shuffle passage_dedup's ownership window uses, and no
    join back against the full corpus. Reassembly is one groupBy(id).
    """
    from pyspark.sql import Window

    passages = _passage_frame(df, chunk_words, text_col, id_col)
    freq = Window.partitionBy(F.md5("passage"))
    counted = passages.withColumn("__n", F.count("*").over(freq))
    return _reassemble(
        passages, counted.filter(F.col("__n") < min_count), id_col, emit
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
    round_to: int = 4,
) -> DataFrame:
    """EXACT directed containment join: every ordered pair (a, b) with
    |A ∩ B| / |A| >= threshold over k-shingle sets — the asymmetric
    overlap measure that catches a short document swallowed whole by a
    long one (quote farms, wrapper boilerplate, excerpt pages), which
    symmetric Jaccard misses because the union is dominated by the long
    side.

    Candidate generation is the asymmetric half of prefix filtering
    (cf. prefix_filter_jaccard_pairs): only the CONTAINED side A needs a
    prefix — if C(A→B) >= t then fewer than |A| - ceil(t|A|) + 1 of A's
    rarest shingles can miss B, so A's rare_first_prefix against B's
    full postings list is a lossless candidate generator. Rare-first
    ordering keeps the join keys near-unique (A probes with its RAREST
    grams, so B's postings for those grams are short — the inverted
    index is only ever probed at its sparse end). A size prune
    (|B| >= t|A|, since the intersection fits in B) cuts candidates
    before the exact array-intersect verify.

    One shuffle for gram frequencies, one window for prefix ranks, one
    equi-join, one verify join — same stage budget as the symmetric
    PPJoin, no quadratic step.

    Shingles are hashed to int64 (xxhash64) immediately after shingling
    and every downstream stage — frequency shuffle, prefix window,
    candidate join, array-intersect verify — runs on longs, not ~25-byte
    gram strings (measured 3x on the verify, which dominates: candidate
    fan-out here is much larger than the symmetric join's because the
    postings side is unfiltered). Exact up to xxhash64 collisions
    (birthday bound ~1e-9 at 1e5 distinct grams, and a collision only
    perturbs one intersection count by 1). The prefix theorem needs only
    SOME consistent total order, so (df, hashed-gram) ordering keeps the
    candidate generator lossless.
    """
    sh = cached(
        shingle_frame(df, text_col, id_col, k)
        .select(F.col(id_col), F.transform("sh", lambda g: F.xxhash64(g)).alias("sh"))
        .withColumn("sz", F.size("sh"))
    )
    prefixes = rare_first_prefix(sh, id_col, threshold).select(
        F.col(id_col).alias("a"), F.col("sz").alias("sza"), "gram"
    )
    postings = sh.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"), F.explode("sh").alias("gram"))
    cands = (
        prefixes.join(
            postings,
            (prefixes.gram == postings.gram)
            & (F.col("a") != F.col("b"))
            & (F.col("szb") >= F.col("sza") * F.lit(threshold)),
        )
        .select("a", "b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"), F.col("sz").alias("sza"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("shb"))
    cont = F.size(F.array_intersect("sha", "shb")) / F.col("sza")
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .withColumn("containment", F.round(cont, round_to))
        .filter(F.size(F.array_intersect("sha", "shb")) >= F.col("sza") * F.lit(threshold))
        .select("a", "b", "containment")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_len: int = 12,
    k: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: (a, b, jaccard) for document
    pairs within `window` positions of each other in the corpus sorted
    by a blocking key (first `key_len` chars of normalized text), with
    shingle Jaccard >= threshold.

    The classic entity-resolution blocking family member next to LSH
    (probabilistic), prefix filtering (lossless), and pigeonhole
    blocking (Hamming): SNM catches near-dups that SHARE A PREFIX —
    boilerplate-led copies, versioned documents — with a candidate set
    linear in N·window instead of quadratic.

    Scale shape: the global sort rank is COMPUTED, not assigned by one
    reducer — rank within a key-prefix bucket (per-bucket window) plus
    the broadcast prefix-sum of bucket sizes (the tiny dim is the one
    legitimate global window, same construction as
    sampling.training_order_interleave). The neighborhood self-join is
    a banded equi-join on floor(rank/window) with a 2-wide literal
    explode — never rank×rank.
    """
    from pyspark.sql import Window

    keyed = (
        df.select(
            F.col(id_col),
            normalize_text(F.col(text_col)).alias("__t"),
        )
        # __ws must be ITS OWN projection before shingles_of_words sees
        # it: an inline words(__t) argument gets inlined into the
        # transform() lambda by Catalyst and re-splits the text once per
        # gram element — the exact pathology measured at 140s-vs-9s in
        # this module's persist note
        .select(
            id_col,
            F.substring("__t", 1, key_len).alias("__k"),
            # bucket = 4-char key prefix: the per-bucket rank window is
            # bounded by the largest bucket, so the bucket key must be fine
            # enough that no single prefix dominates (4 chars of normalized
            # text; widen for pathologically boilerplate-led corpora)
            F.substring("__t", 1, 4).alias("__b"),
            words(F.col("__t")).alias("__ws"),
        )
        .select(id_col, "__k", "__b", shingles_of_words(F.col("__ws"), k).alias("__s"))
    )
    in_bucket = Window.partitionBy("__b").orderBy("__k", id_col)
    ranked = keyed.withColumn("__rb", F.row_number().over(in_bucket))
    sizes = keyed.groupBy("__b").agg(F.count("*").alias("__n"))
    offsets = sizes.select(
        "__b",
        (
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("__off"),
    )
    ranked = ranked.join(F.broadcast(offsets), "__b").select(
        id_col, "__s", (F.col("__off") + F.col("__rb")).cast("long").alias("__r")
    )
    lo = ranked.select(
        F.col(id_col).alias("a"), F.col("__s").alias("sa"), F.col("__r").alias("ra"),
        F.explode(
            F.array(
                F.floor(F.col("__r") / window), F.floor(F.col("__r") / window) + 1
            )
        ).alias("__blk"),
    )
    hi = ranked.select(
        F.col(id_col).alias("b"), F.col("__s").alias("sb"), F.col("__r").alias("rb"),
        F.floor(F.col("__r") / window).alias("__blk"),
    )
    cand = lo.join(hi, "__blk").filter(
        (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + window)
    )
    jac = F.round(set_jaccard("sa", "sb"), round_to)
    return (
        cand.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), jac.alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )
