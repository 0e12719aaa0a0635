"""Text-analysis operators for training-data pipelines.

All pure built-in Column expressions (JVM, whole-stage codegen -- zero
Python in the hot path): language ID (stopword n-gram heuristic), quality
scoring, token counting (whitespace + BPE-ish regex), and document
fingerprinting. Each has a DuckDB-expressible oracle (see __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small + deterministic; real pipelines swap in fastText et al.
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "was", "for", "with"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "für", "von"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "en", "para"],
    "it": ["il", "la", "di", "e", "un", "una", "che", "per", "con", "del"],
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols --
# the shape GPT-style byte-pair pretokenizers use.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))), " ")


def lang_score_col(text: Column, lang: str) -> Column:
    """Fraction of tokens that are stopwords of `lang`."""
    toks = _tokens(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_PROFILES[lang]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def language_id_col(text: Column) -> Column:
    """argmax language over the stopword profiles; 'und' when all zero."""
    pairs = [
        F.struct(lang_score_col(text, lg).alias("score"), F.lit(lg).alias("lang"))
        for lg in sorted(LANG_PROFILES)
    ]
    best = F.array_max(F.array(*pairs))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def whitespace_token_count_col(text: Column) -> Column:
    return F.size(_tokens(text))


def bpe_token_count_col(text: Column) -> Column:
    """Count of BPE-ish pretokens via regexp_count (JVM)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def quality_score_col(text: Column) -> Column:
    """Composite quality heuristic in [0,1].

    length band + alpha ratio + stopword ratio + mean word length band --
    the standard cheap pre-filter for web-scale corpus cleaning.
    """
    n_chars = F.length(text)
    toks = _tokens(text)
    n_toks = F.size(toks)
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")) / n_chars,
    ).otherwise(F.lit(0.0))
    stop_ratio = lang_score_col(text, "en")
    mean_word = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    len_band = F.when((n_chars >= 20) & (n_chars <= 5000), F.lit(1.0)).otherwise(
        F.lit(0.3)
    )
    word_band = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.round(
        0.3 * len_band + 0.3 * alpha_ratio + 0.2 * F.least(stop_ratio * 4, F.lit(1.0)) + 0.2 * word_band,
        6,
    )


# Gopher rules (Rae et al. 2021, §A1.1): repetition/format heuristics used
# as the standard pre-filter for web-scale LLM corpora. Word-count band
# re-scaled to transcript-turn lengths (the published 50..100k band targets
# whole web documents).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_columns(
    text: Column,
    min_words: int = 10,
    max_words: int = 100_000,
) -> dict[str, Column]:
    """Gopher-style quality signals as pure JVM Column expressions.

    Returns named columns: n_words, mean_word_len, symbol_word_ratio
    (#/ellipsis per word), alpha_word_frac (words containing a letter),
    stop_hits (distinct Gopher stopwords present), and the composite
    `flagged` boolean (any rule outside its band). Every expression has an
    exact DuckDB equivalent (list_filter/list_intersect/regexp_extract_all),
    so the published query is value-hash-checked, not rows-only.
    """
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    n_word_chars = F.length(F.regexp_replace(text, r"\s+", ""))
    mean_word_len = F.round(
        F.when(n_words > 0, n_word_chars / n_words).otherwise(F.lit(0.0)), 4
    )
    symbol_ratio = F.round(
        F.when(
            n_words > 0,
            F.regexp_count(text, F.lit(r"#|\.\.\.")) / n_words,
        ).otherwise(F.lit(0.0)),
        4,
    )
    alpha_frac = F.round(
        F.when(
            n_words > 0,
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words,
        ).otherwise(F.lit(0.0)),
        4,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flagged = (
        (n_words < min_words)
        | (n_words > max_words)
        | (mean_word_len < 3)
        | (mean_word_len > 10)
        | (symbol_ratio > 0.1)
        | (alpha_frac < 0.8)
        | (stop_hits < 2)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_word_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits,
        "flagged": flagged,
    }


def repetition_signals(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Gopher repetition rules (Rae et al. 2021 §A1.1, the duplicate-n-gram
    family): per doc the duplicate-token fraction (1 - distinct/total) and
    the top-bigram fraction (count of the most frequent word bigram over
    total bigrams). Boilerplate and looping generations light both up.

    Returns (doc_id, n_tokens, dup_token_frac, n_bigrams, top_bigram_count,
    top_bigram_frac). The token-level signal is a pure projection; the
    bigram mode needs one explode + one map-side-combinable groupBy + one
    max-agg on the (doc, bigram) counts -- linear, no self-joins, partial
    aggregation applies at every step.
    """
    # stage the token array: the bigram transform lambda slices it per
    # index, and an inline _tokens expression would re-split per iteration
    # (no CSE inside interpreted lambda bodies -- see shingles_from_tokens)
    staged = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    base = staged.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.when(
                F.size(toks) > 0,
                1.0 - F.size(F.array_distinct(toks)) / F.size(toks),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_frac"),
        # NON-distinct bigrams: dedup.shingles_from_tokens dedups, so build raw here
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ).alias("bigrams"),
    )
    counts = (
        # explode_outer + attribute null-filter: a plain explode's inferred
        # size()>0 filter gets pushed below the staged-tokens projection and
        # re-inlines the split per lambda iteration (see shingle_explode)
        base.select("doc_id", F.explode_outer("bigrams").alias("bg"))
        .where(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    return base.drop("bigrams").join(counts, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "n_bigrams",
        "top_bigram_count",
        F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    )


def unigram_logprob(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-doc mean unigram log-probability under the corpus's own unigram
    LM -- the deterministic stand-in for the KenLM-perplexity quality filter
    (CCNet / RefinedWeb): documents whose tokens are improbable under the
    corpus distribution (garbled text, rare-symbol soup) score low and are
    filter candidates. p(w) = count(w) / total_tokens over the whole corpus
    (no smoothing needed -- every scored token was counted).

    Returns (doc_id, n_tokens, mean_logprob) with mean_logprob = avg over
    the doc's tokens of ln p(token), rounded to 6.

    SCALE: the conditional-sum shape -- one explode + groupBy(token)
    (vocabulary-sized result, partial-agg collapses repeats map-side), join
    the per-token count back on token, one groupBy(doc_id) for the mean.
    Two corpus scans, zero self-joins; the total-token denominator rides
    the vocab agg (sum over it) instead of a third scan.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 6).alias(
                "mean_logprob"
            ),
        )
    )


def tfidf_topk(
    docs,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Top-k TF-IDF terms per document (keyword extraction / corpus
    characterization). tfidf = tf * ln(N / df); ties broken by term asc so
    the ranking is deterministic.

    Scale shape: one explode + a (doc, term) count (map-side combinable),
    a term-level df aggregation (small: vocabulary-sized, broadcast back),
    and a per-doc window over candidate terms only. N comes from a count
    of `docs`. Equal-(tf, df) terms get byte-identical scores in any
    engine, so the term-asc tie-break makes the top-k engine-reproducible.
    """
    from pyspark.sql import Window

    n_docs = docs.count()
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", F.round("tfidf", 4).alias("tfidf"), "rank")
    )


def benchmark_contamination(
    docs,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
):
    """Benchmark decontamination: corpus docs sharing >= 1 word n-gram with a
    benchmark/eval set (the GPT-3-style n-gram-overlap contamination scan;
    the reference's analog is J8's containment dedupe of common names,
    ALANameSearcher.java — here generalized to eval-set leakage).

    Returns (doc_id, doc_ngrams, n_hits, contamination_frac) for contaminated
    docs only: n_hits = distinct doc n-grams present in the benchmark set,
    doc_ngrams = the doc's distinct n-gram count.

    Scale shape at 100 TB: the benchmark side (eval suites, ~10^5 docs) is
    aggregated to a DISTINCT n-gram set and broadcast — the corpus side is
    one scan + one map-side-combinable groupBy on doc_id; no corpus shuffle
    carries text. If the benchmark set outgrows broadcast, the same plan
    works as a shuffle hash join on the n-gram key (still linear).
    """
    from ala_name_matching_spark.operators.dedup import (
        shingle_explode,
        shingles_from_tokens,
        tokens_col,
    )

    doc_grams = shingle_explode(docs, id_col, text_col, n)
    bench_grams = (
        benchmark.select(tokens_col(F.col(text_col)).alias("__toks"))
        .select(F.explode_outer(shingles_from_tokens(F.col("__toks"), n)).alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # one broadcast left-join + ONE map-side-combinable aggregation: total
    # n-grams and benchmark hits come out of the same groupBy, so the corpus
    # pays a single shuffle (a separate totals/hits join would re-shuffle
    # the doc_id key at 100 TB for nothing)
    return (
        doc_grams.join(F.broadcast(bench_grams), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("doc_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "doc_ngrams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("doc_ngrams"), 6).alias("contamination_frac"),
        )
    )


# PII patterns, shared by the Spark expressions and the DuckDB oracle.
# Deliberately restricted to the regex subset Java and RE2 agree on
# (no backreferences / lookaround): count + redaction are engine-portable.
PII_PATTERNS = [
    # (name, pattern, replacement) -- applied in this order
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    # the '+' branch carries no \b: a word boundary never sits between
    # whitespace/start and '+', so '\b\+?' would make '+1-...' unmatchable
    ("phone", r"(?:\+[0-9]{1,3}|\b[0-9]{1,3})(-[0-9]{3,4}){2,3}\b", "[PHONE]"),
]


def pii_scrub_cols(text: Column) -> dict[str, Column]:
    """PII detection + redaction as pure JVM expressions (no Python).

    Returns per-category hit counts (n_email, n_ipv4, n_ssn, n_phone,
    counted on the ORIGINAL text so categories are independent) and
    `redacted` -- the text with matches replaced by typed tokens, patterns
    applied in PII_PATTERNS order so earlier categories win overlaps.

    The standard pre-training scrub pass: one projection, whole-stage
    codegen, scales linearly with zero shuffle. Real pipelines extend
    PII_PATTERNS (names via NER etc. would be a Pandas-UDF stage); the
    operator contract -- count columns + redacted text in one map -- stays.
    """
    out: dict[str, Column] = {}
    red = text
    for name, pat, rep in PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(text, F.lit(pat))
        red = F.regexp_replace(red, pat, rep)
    out["redacted"] = red
    return out


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the sorted distinct tokens.

    Token-order-insensitive (catches shuffled boilerplate) -- the classic
    "fingerprint" key of record-linkage literature; md5 keeps it oracle-
    reproducible in DuckDB.
    """
    toks = F.array_sort(F.array_distinct(_tokens(text)))
    return F.md5(F.concat_ws(" ", toks))


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, char_entropy) -- Shannon entropy (nats) of the character
    distribution per doc. Low entropy flags degenerate/repetitive text
    (keyboard mashing, padding runs) that token-level quality rules miss;
    the standard cheap stand-in for compression-ratio filtering when no
    codec is in the loop.

    Pure built-ins: chars via sequence+substr (explodes len(text) narrow
    rows -- the same cost class as the token/shingle explodes; the count
    aggregation is partial, so the exchange carries (doc, char) partial
    counts, not raw chars). Entropy is assembled from exact integer counts,
    rounded to 6 dp for cross-engine determinism.
    """
    t = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_n"),
    ).filter(F.col("_n") > 0)
    chars = t.select(
        "_id",
        "_n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n")),
                lambda i: F.col("_t").substr(i, F.lit(1)),
            )
        ).alias("_ch"),
    )
    counts = chars.groupBy("_id", "_n", "_ch").agg(F.count("*").alias("_c"))
    p = F.col("_c") / F.col("_n")
    return counts.groupBy("_id", "_n").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy")
    ).select(F.col("_id").alias(id_col), "char_entropy")


def blocklist_hits(
    docs,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """(id, n_hits, flagged): C4-style word-boundary blocklist filtering
    (Raffel et al. 2020 drop pages containing any "bad words" list entry;
    word-boundary matching, multi-word phrases included).

    Substring LIKE scans false-positive across word boundaries and cannot
    anchor multi-word phrases cheaply; instead each document is exploded
    into word n-grams ONLY for the n values present in the phrase list,
    and the (tiny, fixed) phrase table broadcast-joins against them. One
    partial-agg groupBy counts hits per doc; docs with zero hits ride a
    left join so the output covers every input row. Phrases are matched
    on the lowercase/whitespace-fold token form -- the corpus-side
    normalization every other token lane uses.
    """
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    norm = [" ".join(p.lower().split()) for p in phrases if p.strip()]
    if not norm:
        # empty blocklist: contract says every input row is covered
        return docs.select(
            F.col(id_col).alias("id"),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(False).alias("flagged"),
        )
    lens = sorted({len(p.split()) for p in norm})
    ptab = F.broadcast(
        spark.createDataFrame([(p,) for p in norm], "gram string")
    )
    toks = docs.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__w")
    )
    grams = None
    for n in lens:
        # guard: sequence(1, stop) DESCENDS when stop < 1 (Spark semantics),
        # so docs shorter than the phrase are filtered, not exploded
        g = toks.where(F.size("__w") >= n).select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("__w", i, n)),
                )
            ).alias("gram"),
        )
        grams = g if grams is None else grams.unionByName(g)
    hits = (
        grams.join(ptab, "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("flagged"),
        )
    )


def bigram_logprob(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
):
    """Per-doc mean INTERPOLATED bigram log-probability -- the next rung
    of the perplexity-filter ladder above unigram_logprob (CCNet-style
    KenLM filters are interpolated n-gram LMs; this is the n=2 member
    with Jelinek-Mercer mixing, fitted on the corpus itself):

        p(w2 | w1) = lam * c(w1 w2)/c(w1 .) + (1 - lam) * c(w2)/N

    Scored over each doc's n-1 adjacent pairs (docs with < 2 tokens get
    n_pairs = 0 and a null mean, kept -- the caller decides their fate).
    The unigram back-off term makes every pair scorable (no zero-prob
    pairs: both factors are corpus-fitted, and the unigram term is never
    zero for a counted token).

    SCALE: one explode builds the positional token stream; the bigram
    table, the w1-context totals and the unigram table are three
    partial-agg groupBys over it (bigram-vocabulary-sized results); the
    per-doc score is one join of the doc's pairs against the (broadcast-
    eligible at fixture scale, bucketed at corpus scale) bigram stats +
    one groupBy(doc). ln is absorbed by the 6-dp round (the
    unigram_logprob contract).
    """
    staged = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("__w")
    )
    pairs = staged.where(F.size("__w") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - 1),
                lambda i: F.struct(
                    F.element_at("__w", i).alias("w1"),
                    F.element_at("__w", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    toks = staged.select(F.explode("__w").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c_uni"))
    total = uni.agg(F.sum("c_uni").alias("n_total"))
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))
    ctx = bi.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx"))

    p_bi = F.col("c_bi") / F.col("c_ctx")
    p_uni = F.col("c_uni") / F.col("n_total")
    lp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(lp), 6).alias("mean_bigram_logprob"),
        )
    )
    return (
        staged.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            "mean_bigram_logprob",
        )
    )


def perplexity_buckets(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
):
    """CCNet head/middle/tail quality bucketing (Wenzek et al. 2019).

    CCNet splits each language's corpus into perplexity tertiles under a
    reference LM and trains preferentially on the low-perplexity "head".
    Here the LM is the corpus's own unigram model (unigram_logprob --
    higher mean log-prob = more probable = better), and buckets are
    per-language rank tertiles: bucket 1 = head, n_buckets = tail.

    Determinism contract: ranking uses the 6-dp ROUNDED score (the value
    the oracle already matches bit-for-bit) with doc_id as tie-break, and
    the bucket index is pure integer arithmetic
    ((rank-1)*n_buckets // n + 1), so both engines draw identical
    boundaries -- no reliance on engine ntile() conventions.

    SCALE: rides unigram_logprob's two-scan shape plus one per-language
    window (rank + count) -- the window partitions by language, so the
    sort is per-language, not global.
    """
    from pyspark.sql import Window

    scored = unigram_logprob(docs, id_col, text_col).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col)),
        "doc_id",
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("mean_logprob").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy(lang_col)
    ranked = scored.select(
        "doc_id",
        lang_col,
        "mean_logprob",
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(wn).alias("_n"),
    )
    bucket = (
        F.expr(f"((_rk - 1) * CAST({n_buckets} AS BIGINT)) div _n") + 1
    )
    label = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return ranked.select(
        "doc_id",
        lang_col,
        "mean_logprob",
        bucket.cast("long").alias("bucket"),
        label.alias("bucket_label"),
    )
