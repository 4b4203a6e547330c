"""Text analysis operators for training-data pipelines.

Beyond-reference operators (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting. All pure
`pyspark.sql.functions` expressions — JVM-side, whole-stage-codegen,
zero Python in the hot path — so a 100 TB documents table is one scan
with column pruning to (doc_id, text).

Determinism contract: every function here has an exact ANSI-SQL
equivalent (used by the DuckDB oracle); hash functions are md5 (stable
across engines), floats are rounded at the call site.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import cached

# Tiny per-language stopword lists for the n-gram/stopword language ID
# heuristic. Order = tie-break priority (first wins on equal scores).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "para", "en", "que"),
}

# BPE-ish tokenizer regex: runs of letters, runs of digits, or single
# non-space symbols — a portable approximation of byte-pair pretokenization.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), "\\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def regex_token_count(text: Column) -> Column:
    """BPE-ish regex token count (letters / digits / symbol singletons)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def stopword_hits(text: Column, stopwords: tuple[str, ...]) -> Column:
    """How many whitespace tokens are in the stopword list."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words(F.lower(text)), lambda w: F.array_contains(sw, w)))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, sws) for lang, sws in LANG_STOPWORDS.items()}


def _let(bindings: dict[str, Column], body) -> Column:
    """Single-evaluation let-binding: materialize `bindings` once per row
    and hand them to `body` as cheap struct-field references.

    Spark has no let expression, and its subexpression elimination skips
    any tree containing a lambda variable — so an expression that
    references a filter()/aggregate() score N times re-runs the whole
    HOF pass N times per row. transform() over a ONE-ELEMENT struct
    array is the portable let: the argument (the struct of bindings) is
    evaluated exactly once, and the lambda body sees only GetStructField
    references. Values are bit-identical to the inlined form — the
    bound expressions are unchanged, only their evaluation count drops.
    """
    row = F.struct(*[v.alias(k) for k, v in bindings.items()])
    return F.element_at(
        F.transform(F.array(row), lambda r: body(r)), 1
    )


def lang_id(text: Column) -> Column:
    """Argmax language by stopword hits; 'und' when no stopword matches.

    Ties break by LANG_STOPWORDS declaration order (deterministic).
    The scores are _let-bound: inlined, the greatest() + tie-break
    when-chain references each lambda-bearing score tree L+2 times
    (L^2 + 2L interpreted stopword passes per row at L languages —
    nothing CSEs them, see _let).
    """
    scores = lang_scores(text)
    langs = list(scores)

    def pick(r: Column) -> Column:
        best = F.greatest(*[r.getField(lang) for lang in langs])
        expr = F.lit("und")
        # build reversed so earlier languages win ties
        for lang in reversed(langs):
            expr = F.when(r.getField(lang) == best, F.lit(lang)).otherwise(expr)
        return F.when(best <= 0, F.lit("und")).otherwise(expr)

    return _let(scores, pick)


def quality_features(text: Column, round_to: int = 4) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features.

    n_chars, n_tokens, mean_token_len, punct_ratio (symbol tokens over all
    regex tokens), stopword_ratio (english stopwords over tokens),
    uppercase_ratio.
    """
    n_chars = F.length(text)
    toks = words(text)
    n_tokens = F.size(toks)
    n_regex = regex_token_count(text)
    n_symbol = F.size(F.regexp_extract_all(text, F.lit("[^A-Za-z0-9\\s]"), 0))
    mean_tok = F.round(
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w)) / F.greatest(n_tokens, F.lit(1)),
        round_to,
    )
    sw_ratio = F.round(
        stopword_hits(text, LANG_STOPWORDS["en"]).cast("double") / F.greatest(n_tokens, F.lit(1)),
        round_to,
    )
    punct_ratio = F.round(n_symbol.cast("double") / F.greatest(n_regex, F.lit(1)), round_to)
    upper_ratio = F.round(
        (F.length(text) - F.length(F.regexp_replace(text, "[A-Z]", ""))).cast("double")
        / F.greatest(n_chars, F.lit(1)),
        round_to,
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": mean_tok,
        "punct_ratio": punct_ratio,
        "stopword_ratio": sw_ratio,
        "uppercase_ratio": upper_ratio,
    }


def quality_score_from_features(
    mean_token_len: Column,
    stopword_ratio: Column,
    punct_ratio: Column,
    round_to: int = 4,
) -> Column:
    """The quality formula over ALREADY-COMPUTED (rounded) feature
    columns — use this when the features are materialized in their own
    projection (analyze) so the aggregate/filter passes behind them are
    not re-evaluated per reference."""
    score = (
        F.least(stopword_ratio * 2, F.lit(1.0)) * 0.4
        + F.when((mean_token_len >= 3) & (mean_token_len <= 10), 0.4).otherwise(0.1)
        + F.greatest(F.lit(0.0), F.lit(0.2) - punct_ratio)
    )
    return F.round(score, round_to)


def quality_score(text: Column, round_to: int = 4) -> Column:
    """Scalar quality score in [0,1]: rewards stopword presence and sane
    token lengths, penalizes punctuation density. Deterministic, portable.

    Computed from the round_to-rounded features so the SQL oracle can
    reproduce it digit-for-digit from the same feature expressions.
    The three features are _let-bound: mean_token_len's aggregate fold
    is referenced twice by the formula and the stopword filter pass
    once more than its published twin — inlined, each reference re-runs
    the HOF pass (see _let)."""
    f = quality_features(text, round_to=round_to)
    return _let(
        {
            "m": f["mean_token_len"],
            "s": f["stopword_ratio"],
            "p": f["punct_ratio"],
        },
        lambda r: quality_score_from_features(
            r.getField("m"), r.getField("s"), r.getField("p"), round_to
        ),
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    round_to: int = 4,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, appendix A1.1) as per-doc
    flags: word-count bounds, mean word length in [3,10], symbol-to-word
    ratio (# / ellipsis) < 0.1, >80% words containing an alphabetic
    character, >=2 distinct English stopwords, <90% bullet-led lines,
    <=30% ellipsis-ended lines, and the conjunction as `passes`.

    Pure pyspark.sql.functions over one scan (column-pruned to id+text,
    zero Python, whole-stage codegen) — the rule-based corpus filter that
    typically runs FIRST in a training-data pipeline, before any
    dedup/LM machinery touches the surviving docs. Ratios are rounded
    before comparison so the SQL oracle reproduces every flag exactly.
    """
    t = F.col(text_col)
    toks = words(t)
    n_words = F.size(toks)
    mean_len = F.round(
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1)),
        round_to,
    )
    n_symbols = F.size(F.regexp_extract_all(t, F.lit("[#…]|\\.\\.\\."), 0))
    symbol_ratio = F.round(n_symbols.cast("double") / F.greatest(n_words, F.lit(1)), round_to)
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.round(n_alpha.cast("double") / F.greatest(n_words, F.lit(1)), round_to)
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(words(F.lower(t))), sw))
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_ratio = F.round(
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))).cast("double") / n_lines, round_to
    )
    ellipsis_ratio = F.round(
        F.size(F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / n_lines, round_to
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
    )
    return out.withColumn(
        "passes",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("alpha_ratio") > 0.8)
        & (F.col("n_stopwords") >= 2)
        & (F.col("bullet_ratio") < 0.9)
        & (F.col("ellipsis_ratio") <= 0.3),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def fingerprint(text: Column, bits: int = 64) -> Column:
    """Content fingerprint: md5 of normalized text, truncated to bits/4 hex
    chars. md5 is stable across Spark/DuckDB/Python — the oracle contract."""
    return F.substring(F.md5(normalize_text(text)), 1, bits // 4)


def char_entropy_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", round_to: int = 4
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution over
    normalized text: (id, n_chars_norm, distinct_chars, char_entropy).

    Low entropy flags gibberish/templated/repeated-character documents
    that length and stopword ratios miss — the information-theoretic leg
    of the quality-scoring family (quality_features, gopher_rules,
    compression_ratio). Entropy = -Σ p_c·log2(p_c), exact rational p_c,
    rounded so summation-order noise can't flip the oracle hash.

    Characters are enumerated relationally (explode over a 1..len
    sequence + substring — identical semantics on any engine; no
    Python): one explode to n_chars rows, two map-side-combined
    groupBys. At 100 TB the per-(doc, char) partial aggregation keeps
    the shuffle at ≤ |alphabet| rows per document, not one per
    character.

    Empty/whitespace-only documents (normalized length 0) emit NO row
    — the caller decides their fate explicitly. This must be filtered
    BEFORE the explode: Spark's sequence(1, 0) defaults to step -1 and
    yields [1, 0] (two phantom "characters"), where DuckDB's
    range(1, 1) yields nothing; a CurateProcessor min_char_entropy
    gate therefore treats absent-row docs as failing the gate rather
    than scoring phantom entropy 0.0.
    """
    chars = (
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("__t"))
        .filter(F.length("__t") > 0)
        .select(id_col, "__t", F.explode(F.sequence(F.lit(1), F.length("__t"))).alias("__i"))
        .select(id_col, F.substring(F.col("__t"), F.col("__i"), 1).alias("ch"))
    )
    per_char = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    # H = -Σ (c/n)·log2(c/n) = log2(n) - Σ c·log2(c) / n — one groupBy,
    # no window: n never has to join back under the sum
    n = F.sum("c").cast("double")
    return per_char.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_chars_norm"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, round_to
        ).alias("char_entropy"),
    )


def compression_ratio(text_col: str = "text") -> Column:
    """zlib-compressed size / raw size — a classic data-quality signal
    (repetitive/templated text compresses far better than natural prose).

    zlib has no SQL equivalent, so this is the scalar Pandas-UDF path:
    Arrow-batched, one Python call per batch of strings — the sanctioned
    shape for Python-only logic (never a row-at-a-time UDF).
    """
    import zlib

    @F.pandas_udf("double")
    def _cr(s: "pd.Series") -> "pd.Series":
        def ratio(t: str) -> float:
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(ratio)

    return _cr(F.col(text_col))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash local
    fingerprinting scheme of Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every word k-gram, slide a window of `window` consecutive
    k-gram hashes, keep the minimum of each window, output the distinct
    selected hashes per document.

    Guarantees: any shared run of window+k-1 words between two documents
    shares at least one fingerprint — the basis for plagiarism/near-dup
    detection that is robust to local edits.

    Entirely array-side within each row (hash array -> sliding-window
    mins via slice/array_min -> array_distinct -> explode): winnowing is
    per-document local, so there is NO shuffle at all — the earlier
    formulation exploded every k-gram and paid a partition-sort window
    plus a distinct shuffle, which was the single slowest query in the
    catalog at sf0.1 (41s -> ~1s). Hashes via md5 prefix so the SQL
    oracle reproduces them exactly. Trailing windows are truncated (the
    frame shrinks near the end), matching ROWS BETWEEN 0 AND window-1
    semantics. Returns (doc_id, fp) rows.
    """
    # each array is materialized in its own projection before a lambda
    # references it: an alias used inside transform() gets INLINED by
    # Catalyst, re-evaluating the whole upstream expression per array
    # element (re-splitting the text per gram, re-hashing per window)
    worded = df.select(F.col(id_col), words(normalize_text(F.col(text_col))).alias("__ws"))
    ws = F.col("__ws")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
    )
    hashes = F.transform(grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
    hashed = worded.select(F.col(id_col), hashes.alias("__h"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("__h"))),
            lambda j: F.array_min(F.slice(F.col("__h"), j, window)),
        )
    )
    return hashed.select(F.col(id_col), F.explode(fps).alias("fp"))


def analyze(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full text-analysis pass: one row per doc with id, language guess,
    token counts, quality features + score, fingerprint. Single scan;
    two stacked projections so the quality score reads the feature
    COLUMNS the first projection already computed instead of re-running
    their aggregate/filter passes (multiply-referenced non-cheap aliases
    also keep CollapseProject from merging the two back together)."""
    t = F.col(text_col)
    feats = quality_features(t)
    base = df.select(
        F.col(id_col),
        lang_id(t).alias("lang_guess"),
        token_count(t).alias("n_tokens"),
        regex_token_count(t).alias("n_regex_tokens"),
        *[v.alias(k) for k, v in feats.items() if k != "n_tokens"],
        fingerprint(t).alias("fingerprint"),
    )
    feat_names = [k for k in feats if k != "n_tokens"]
    return base.select(
        F.col(id_col),
        "lang_guess",
        "n_tokens",
        "n_regex_tokens",
        *feat_names,
        quality_score_from_features(
            F.col("mean_token_len"), F.col("stopword_ratio"), F.col("punct_ratio")
        ).alias("quality"),
        "fingerprint",
    )


# ------------------------------------------------------------- pii scrub

# Patterns are deliberately RE2-compatible (no lookaround) so the DuckDB
# oracle runs the IDENTICAL expressions; order matters (URLs may contain
# '@', so scrub them before emails).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Mask emails / URLs / IPv4s / phone-ish numbers with typed
    placeholder tokens — the standard pre-training text hygiene pass.
    Chained JVM-side regexp_replace: no UDF, fuses into the scan stage."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def ngrams_of_words(ws: Column, n: int = 2) -> Column:
    """ALL n-grams (with multiplicity) of an ALREADY-MATERIALIZED words
    array — `ws` must be a bare column reference from its own projection
    or Catalyst inlines the tokenizer into the lambda (re-split per
    gram element)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
    )


def ngrams(text: Column, n: int = 2) -> Column:
    """ALL word n-grams of normalized text (with multiplicity — corpus
    statistics want counts, unlike dedup's distinct shingles).
    Single-expression convenience form; pipelines should materialize the
    words array first (ngrams_of_words)."""
    return ngrams_of_words(words(normalize_text(text)), n)


def corpus_top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2, k: int = 50) -> DataFrame:
    """Corpus-wide top-k n-grams by frequency (deterministic tie-break on
    the gram). explode -> map-side-combined count -> TakeOrderedAndProject:
    the shuffle carries one row per distinct gram per partition, and the
    top-k never materializes a global sort at scale."""
    worded = df.select(words(normalize_text(F.col(text_col))).alias("__ws"))
    return (
        worded.select(F.explode(ngrams_of_words(F.col("__ws"), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(k)
    )


def distinct_gram_frame(df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, grams) with each doc's DISTINCT n-gram set as an array column.
    Words materialized in their own projection (the shingle_frame rule:
    the size+slice double reference keeps CollapseProject from inlining
    the tokenizer into the gram lambda)."""
    worded = df.select(F.col(id_col), words(normalize_text(F.col(text_col))).alias("__ws"))
    return worded.select(F.col(id_col), F.array_distinct(ngrams_of_words(F.col("__ws"), n)).alias("grams"))


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Benchmark-contamination detection: which corpus documents share
    n-grams with an evaluation/benchmark set (the standard decontamination
    pass before training — production setups use 8-13-gram overlap).

    Returns one row per CONTAMINATED corpus doc:
    (doc_id, n_grams, n_hits, contamination) where n_grams is the doc's
    distinct-gram count, n_hits how many of those appear anywhere in the
    benchmark set, contamination = n_hits/n_grams.

    Scale shape: eval sets are small (MBs against a 100 TB corpus), so
    the benchmark gram set is broadcast — the corpus side explodes its
    distinct grams map-side, the broadcast hash join drops every clean
    gram before any exchange, and the only shuffle is the per-doc count
    of surviving (hit) rows. The corpus text is tokenized exactly once.

    Beyond-reference operator (BASELINE.json north star); no reference
    analogue — odpf/meteor has no document corpus operators.
    """
    bench_grams = (
        distinct_gram_frame(benchmark, n, text_col, id_col)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corp = distinct_gram_frame(corpus, n, text_col, id_col).select(
        F.col(id_col), F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
    )
    return (
        corp.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col, "n_grams")
        .agg(F.count("*").alias("n_hits"))
        .select(
            id_col,
            "n_grams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), round_to).alias("contamination"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pre-tokenization chunking for context-window-bounded training.

    Chunks start every (chunk_size - overlap) tokens while a start
    position <= max(n - overlap, 1) exists, so the tail is always
    covered and a short doc yields exactly one chunk. Array-side per row
    (no shuffle); returns (doc_id, chunk_start, n_tokens, chunk) rows.
    """
    stride = chunk_size - overlap
    worded = df.select(F.col(id_col), words(normalize_text(F.col(text_col))).alias("__ws"))
    ws = F.col("__ws")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - overlap, F.lit(1)), F.lit(stride)),
        lambda s: F.struct(
            s.alias("chunk_start"),
            F.size(F.slice(ws, s, chunk_size)).alias("n_tokens"),
            F.concat_ws(" ", F.slice(ws, s, chunk_size)).alias("chunk"),
        ),
    )
    return worded.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_start", "c.n_tokens", "c.chunk"
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", round_to: int = 4) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family of
    filters): fraction of duplicate word bigrams, fraction of tokens in
    the single most-repeated bigram, and the distinct-token ratio.
    Documents that loop or template score high on dup_bigram_frac and
    are dropped before training.

    All array-side per row + one explode-free aggregate expression — the
    bigram frequency map is built with aggregate() over the gram array,
    so the whole row stays in one projection, no shuffle.
    """
    worded = df.select(F.col(id_col), F.col(text_col), words(normalize_text(F.col(text_col))).alias("__ws"))
    ws = F.col("__ws")
    grams_expr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
    )
    base = worded.select(F.col(id_col), ws.alias("__ws"), grams_expr.alias("__g"))
    n_tok = F.size(F.col("__ws"))
    n_g = F.size(F.col("__g"))
    n_g_distinct = F.size(F.array_distinct(F.col("__g")))
    # most-repeated bigram count: longest equal-run over the SORTED gram
    # array — one sort + one linear fold per row. (The transform-over-
    # distinct/filter form it replaces rescanned the full array once per
    # distinct gram: O(n_grams^2) comparisons inside a single projection,
    # ~2.5e9 for a 50k-token doc — one long document stalled its task.)
    run_fold = F.aggregate(
        F.array_sort(F.col("__g")),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_g = run_fold["best"]
    return base.select(
        id_col,
        F.round((n_g - n_g_distinct).cast("double") / F.greatest(n_g, F.lit(1)), round_to).alias("dup_bigram_frac"),
        F.round(top_g.cast("double") / F.greatest(n_g, F.lit(1)), round_to).alias("top_bigram_frac"),
        F.round(F.size(F.array_distinct(F.col("__ws"))).cast("double") / F.greatest(n_tok, F.lit(1)), round_to).alias(
            "distinct_token_ratio"
        ),
    )


def tfidf_corpus_terms(
    df: "DataFrame", k: int = 50, text_col: str = "text", id_col: str = "doc_id", round_to: int = 4
):
    """Corpus-level TF-IDF term scores: score(t) = tf_total(t) * ln(N/df(t)).

    Plan: one explode into (doc, term) -> per-(doc, term) tf (first
    shuffle, map-side combined) -> per-term (doc_freq, tf_total) (second,
    tiny) -> idf via a broadcast single-row N -> top-k. The per-doc sum
    folds analytically (sum_d tf*idf = idf * sum_d tf), so no per-doc
    frame is ever materialized — at 100 TB the second aggregate is
    vocabulary-sized, not corpus-sized.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    tok = df.select(
        F.col(id_col), F.explode(words(normalize_text(F.col(text_col)))).alias("w")
    )
    tf = tok.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    per_term = tf.groupBy("w").agg(
        F.count("*").alias("doc_freq"), F.sum("tf").alias("tf_total")
    )
    n = df.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        per_term.crossJoin(F.broadcast(n))
        .select(
            F.col("w").alias("term"),
            "tf_total",
            "doc_freq",
            F.round(F.col("tf_total") * F.log(F.col("n_docs") / F.col("doc_freq")), round_to).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), "term")
        .limit(k)
    )


def bigram_lm_perplexity(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    round_to: int = 4,
) -> "DataFrame":
    """Per-document perplexity under an add-k-smoothed bigram LM trained
    on the corpus itself — the CCNet-style quality filter (Wenzek et al.
    2020 score against a KenLM model; here the LM is the corpus's own
    bigram statistics, so the whole filter is one relational plan and
    needs no external model artifact).

        P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)
        avg_logp(d) = mean over d's bigrams (with multiplicity) of ln P
        perplexity(d) = exp(-avg_logp)

    where c(w1 ·) is the number of corpus bigrams starting with w1 and
    V the corpus vocabulary size. High perplexity = text the corpus LM
    finds surprising (boilerplate soup, lorem-ipsum, wrong-language) —
    the standard cut for pretraining-data curation.

    Plan: per-doc bigram tf (one map-side-combined shuffle on
    (doc, w1, w2)), corpus bigram counts + context totals derived from
    the SAME aggregate (vocabulary-sized, not corpus-sized), V as a
    broadcast one-row scalar. The probability lookup joins the per-doc
    tf frame (distinct bigrams per doc, not every token) to the
    vocabulary-sized count frames — each row matches exactly one LM row,
    so Zipf-skewed hot bigrams stress no single reducer. Docs with <2
    words have no bigrams and are absent from the output (no LM
    evidence either way).
    """
    from pyspark.sql import DataFrame  # noqa: F401

    worded = df.select(F.col(id_col), words(normalize_text(F.col(text_col))).alias("__ws"))
    bg = (
        worded.filter(F.size("__ws") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1),"
                    " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))"
                )
            ).alias("b"),
        )
        .select(F.col(id_col), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # the per-doc tf frame feeds BOTH the LM count derivation and the
    # probability lookup join; persist it once (it is the compact
    # distinct-bigrams-per-doc form, far smaller than the token stream)
    # so the corpus is tokenized a single time
    tf = cached(bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("m")))
    bgc = tf.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    ctx = bgc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = worded.select(F.explode("__ws").alias("w")).agg(
        F.count_distinct("w").cast("double").alias("vsz")
    )
    lp = (
        tf.join(bgc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            "m",
            F.log((F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("vsz"))).alias("lp"),
        )
    )
    avg = F.sum(F.col("m") * F.col("lp")) / F.sum("m")
    return lp.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.round(avg, round_to).alias("avg_logp"),
        F.round(F.exp(-avg), round_to).alias("perplexity"),
    )


def source_overlap_matrix(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    round_to: int = 4,
) -> DataFrame:
    """Cross-source content-overlap matrix over winnowing fingerprints:
    for every source pair that shares at least one fingerprint, the
    shared count plus Jaccard and overlap coefficients of their
    fingerprint sets — the corpus-forensics readout that flags mirrored/
    scraped-from-each-other sources before dedup budgets are set.

    Scale: the (source, fp) frame is distinct-reduced BEFORE the
    self-join (bounded by distinct fingerprints x the few sources that
    contain each, not by corpus rows) and persisted — the join, both
    per-source counts, and the metric join all read it once. Fingerprint
    keys are md5-uniform, so the equi-join has no intrinsic hot keys; a
    fingerprint shared by MANY sources fans out as sources², which is
    the signal being measured (at web scale, drop fps present in > T
    sources first — boilerplate that carries no provenance signal).
    """
    fps = winnow_fingerprints(df, k=k, window=window, text_col=text_col, id_col=id_col)
    sfp = cached(
        fps.join(df.select(id_col, group_col), id_col)
        .select(group_col, "fp")
        .distinct()
    )
    cnt = sfp.groupBy(group_col).agg(F.count("*").alias("n"))
    a = sfp.select(F.col(group_col).alias("source_a"), "fp")
    b = sfp.select(F.col(group_col).alias("source_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_fps"))
    )
    ca = cnt.select(F.col(group_col).alias("source_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col(group_col).alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_fps",
            F.round(
                F.col("shared_fps") / (F.col("na") + F.col("nb") - F.col("shared_fps")),
                round_to,
            ).alias("jaccard"),
            F.round(
                F.col("shared_fps") / F.least(F.col("na"), F.col("nb")), round_to
            ).alias("overlap"),
        )
    )


def lexical_kl_by_group(
    df: DataFrame, group_col: str = "source", text_col: str = "text", round_to: int = 4
) -> DataFrame:
    """Per-group lexical drift: KL divergence (bits) of each group's word
    distribution from the whole-corpus distribution —
    (group, n_tokens, distinct_words, kl_bits).

    The lexical sibling of the numeric PSI drift operator: a crawl
    source whose vocabulary usage diverges from the corpus mix surfaces
    with a high kl_bits long before numeric metadata shifts. KL is
    computed over the words the group actually uses (q(w) > 0 there,
    and p_corpus(w) > 0 by containment — no smoothing needed, the
    estimate is exact).

    Shape: one explode scan -> (group, word) counts (map-side combined),
    localCheckpoint'd so the three derived aggregates (corpus word
    counts, per-group totals, grand total) read the materialized
    vocabulary-sized frame instead of re-exploding the corpus once each
    (Catalyst does not reuse exchanges across differently-keyed
    aggregates of the same subplan). Then a word-keyed join against the
    corpus counts and a broadcast of the tiny per-group totals — every
    post-checkpoint shuffle is vocabulary-sized, never corpus-sized.
    """
    w = df.select(
        F.col(group_col), F.explode(words(normalize_text(F.col(text_col)))).alias("w")
    )
    gw = w.groupBy(group_col, "w").agg(F.count("*").alias("c")).localCheckpoint()
    cw = gw.groupBy("w").agg(F.sum("c").alias("cc"))
    tg = gw.groupBy(group_col).agg(F.sum("c").alias("tg"))
    total = gw.groupBy().agg(F.sum("c").cast("double").alias("t"))
    q = F.col("c") / F.col("tg")
    p = F.col("cc") / F.col("t")
    return (
        gw.join(cw, "w")
        .join(F.broadcast(tg), group_col)
        .crossJoin(F.broadcast(total))
        .groupBy(group_col)
        .agg(
            F.max("tg").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("distinct_words"),
            F.round(F.sum(q * F.log2(q / p)), round_to).alias("kl_bits"),
        )
    )


def pmi_ngrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """Top-k adjacent word pairs by pointwise mutual information:
    (gram, n, pmi) — the phrase-mining statistic (collocations like
    "new york" score high even at modest raw frequency, where top-k by
    count only ever finds stopword pairs).

    PMI(a,b) = log2( p(ab) / (p(a)·p(b)) ) with p(ab) over the bigram
    stream and p(a), p(b) over the unigram stream. A min_count floor
    keeps the estimator out of its high-variance tail. One scan feeds
    both streams; the bigram->unigram joins are keyed on single words
    (vocabulary-sized shuffles), and top-k is TakeOrdered, never a
    global sort.
    """
    worded = df.select(words(normalize_text(F.col(text_col))).alias("__ws"))
    uni = (
        worded.select(F.explode("__ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    tot_u = uni.groupBy().agg(F.sum("cu").cast("double").alias("tu"))
    bi = (
        worded.select(F.explode(ngrams_of_words(F.col("__ws"), 2)).alias("gram"))
        .filter(F.col("gram").contains(" "))  # drop the single-word degenerate grams
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    tot_b = (
        worded.select(F.greatest(F.size("__ws") - 1, F.lit(0)).alias("nb"))
        .groupBy()
        .agg(F.sum("nb").cast("double").alias("tb"))
    )
    a, b = F.split_part(F.col("gram"), F.lit(" "), F.lit(1)), F.split_part(
        F.col("gram"), F.lit(" "), F.lit(2)
    )
    scored = (
        bi.withColumn("wa", a)
        .withColumn("wb", b)
        .join(uni.select(F.col("w").alias("wa"), F.col("cu").alias("ca")), "wa")
        .join(uni.select(F.col("w").alias("wb"), F.col("cu").alias("cb")), "wb")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "gram",
            "n",
            (
                F.round(
                    F.log2(
                        (F.col("n") / F.col("tb"))
                        / ((F.col("ca") / F.col("tu")) * (F.col("cb") / F.col("tu")))
                    ),
                    round_to,
                )
                + F.lit(0.0)  # fold -0.0 for near-independent pairs
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "gram").limit(k)


def doc_novelty_scores(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id", round_to: int = 4
) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT n-grams that
    occur in no other document — (id, n_grams, n_unique, novelty).

    The inverse of contamination/overlap scoring: high-novelty docs add
    new content to the corpus, low-novelty docs are recombinations of
    text already present (upweighting signal for diversity-aware
    sampling). Gram doc-frequency is one map-side-combined count over
    the exploded distinct-gram stream (gram-keyed shuffle, never
    pairwise); the per-doc aggregate folds df==1 indicators back.
    """
    grams = distinct_gram_frame(df, n, text_col, id_col).select(
        F.col(id_col), F.explode("grams").alias("gram")
    )
    gdf = grams.groupBy("gram").agg(F.count("*").alias("df_count"))
    return (
        grams.join(gdf, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("df_count") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.sum((F.col("df_count") == 1).cast("long"))
                / F.count("*").cast("double"),
                round_to,
            ).alias("novelty"),
        )
    )


def source_diversity_metrics(
    df: DataFrame, group_col: str = "source", text_col: str = "text", round_to: int = 4
) -> DataFrame:
    """Lexical diversity per group: (group, n_docs, n_tokens,
    type_token_ratio, distinct_bigram_ratio) — the distinct-n corpus
    report (low TTR/bigram ratios flag templated or repetitive
    sources). One scan builds the words array; unigram and bigram
    streams explode from it; everything aggregates by group with
    map-side combine (shuffles carry (group, gram) partials).
    """
    worded = df.select(
        F.col(group_col), words(normalize_text(F.col(text_col))).alias("__ws")
    )
    uni = worded.select(group_col, F.explode("__ws").alias("g"))
    bi = worded.select(
        group_col, F.explode(ngrams_of_words(F.col("__ws"), 2)).alias("g")
    ).filter(F.col("g").contains(" "))
    docs = worded.groupBy(group_col).agg(F.count("*").alias("n_docs"))

    def ratio(stream: DataFrame, out: str) -> DataFrame:
        return stream.groupBy(group_col).agg(
            F.count("*").cast("long").alias(f"__n_{out}"),
            F.round(
                F.count_distinct("g") / F.count("*").cast("double"), round_to
            ).alias(out),
        )

    u = ratio(uni, "type_token_ratio").withColumnRenamed("__n_type_token_ratio", "n_tokens")
    b = ratio(bi, "distinct_bigram_ratio").drop("__n_distinct_bigram_ratio")
    return docs.join(u, group_col).join(b, group_col)


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_n: int = 100, round_to: int = 4
) -> DataFrame:
    """Zipf rank-frequency fit over the top_n corpus words: one row
    (n_terms, zipf_slope, zipf_intercept) from the closed-form OLS of
    log2(freq) on log2(rank).

    A healthy natural-language corpus fits slope ≈ -1; a flat slope
    flags templated/synthetic text, a cliff flags boilerplate
    domination — the corpus-level health check next to the per-doc
    quality gates. Word counts are one map-side-combined groupBy; the
    top-n selection is TakeOrdered (freq desc, word — deterministic),
    and the rank window + OLS aggregate run over top_n rows only.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(words(normalize_text(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), "w").limit(top_n)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("c").desc(), "w"))
    ).select(
        F.log2("r").alias("x"), F.log2("c").alias("y")
    )
    n = F.count("*").cast("double")
    sxy = F.sum(F.col("x") * F.col("y"))
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.groupBy().agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(slope, round_to).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, round_to).alias("zipf_intercept"),
    )


def token_gini_by_group(
    df: DataFrame, group_col: str = "source", text_col: str = "text", round_to: int = 4
) -> DataFrame:
    """Gini coefficient of per-document token counts within each group:
    (group, n_docs, n_tokens, gini). 0 = every doc the same length,
    →1 = a few giant docs hold all the tokens — the inequality summary
    a corpus-balance report pairs with the diversity ratios (a source
    can have healthy TTR yet carry 95% of its mass in three documents).

    Rank formula over ascending counts: G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n.
    Ties take distinct consecutive ranks (id tiebreak); the assignment
    among equal x values can't change Σ i·x_i, so the result is
    engine-deterministic. The rank window is per-group (bounded by the
    largest group), never global.
    """
    from pyspark.sql import Window

    tk = df.select(
        F.col(group_col),
        token_count(normalize_text(F.col(text_col))).cast("double").alias("x"),
        F.col("doc_id") if "doc_id" in df.columns else F.monotonically_increasing_id().alias("doc_id"),
    )
    w = Window.partitionBy(group_col).orderBy("x", "doc_id")
    ranked = tk.withColumn("i", F.row_number().over(w))
    return ranked.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("n_tokens"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count("*") * F.sum("x"))
            - (F.count("*") + 1) / F.count("*").cast("double"),
            round_to,
        ).alias("gini"),
    )
