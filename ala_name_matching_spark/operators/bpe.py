"""Distributed BPE tokenizer training (Sennrich/Haddow/Birch, ACL 2016).

The training-data extension set covers token COUNTING (text_analysis) but
not the step every LLM data pipeline runs before it: learning the
tokenizer itself. Byte-pair encoding training is two primitives repeated:

  count   over the word vocabulary (word, n) -- NOT the corpus; BPE's
          sufficient statistic is the weighted adjacent-symbol-pair
          histogram sum_w n_w * pairs(w), invariant to where words occur
          -- count every adjacent symbol pair.
  merge   take the argmax pair (ties: lexicographic), fuse it into one
          symbol in every word's symbol sequence, LEFT-TO-RIGHT
          NON-OVERLAPPING ('a a a' + merge(a,a) -> ['aa','a']), repeat.

Scale shape: the corpus is touched ONCE (token explode -> word-count
groupBy); every BPE iteration then runs on the vocabulary table, which is
corpus-size-independent (and `min_count` prunes the hapax tail that
dominates raw web vocabularies). Per iteration: one explode + partial-agg
groupBy for the pair histogram and one bounded argmax (top-1 of the
histogram -- the Misra-Gries/IVF bounded-driver-reduce discipline), then
a map-only literal replace applies the merge. n_merges is small by
construction (each merge is one driver round; production trainers batch
thousands of merges -- noted as the follow-up lane, same statistic).

Determinism / oracle contract: symbol sequences are encoded as
double-delimited strings  ~a~~b~~c~  (one '~' at each end, '~~' between
symbols). A merge (a, b) is then EXACTLY the literal replace
  replace(enc, '~a~~b~', '~ab~')
because every inter-symbol boundary keeps its own delimiter on each side:
the pattern cannot match across a symbol that merely ends with 'a'
(no '~' before it), and consuming a match leaves the neighbouring
delimiters intact, so consecutive occurrences all rewrite in one pass --
bit-identical left-to-right non-overlapping semantics in Spark
(F.replace), DuckDB (replace) and Python (str.replace), which is what
makes the WHOLE merge trajectory replayable as an unrolled SQL oracle
(the unrolled-Lloyd / unrolled-EM construction applied to BPE).
Words are restricted to a delimiter-free alphabet by `word_pattern`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier

_D = "~"  # delimiter; word_pattern must exclude it


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    word_pattern: str = "^[a-z0-9]+$",
) -> DataFrame:
    """(word, n): the BPE vocabulary -- the corpus's only full scan.

    Lower/whitespace-fold tokenization (dedup.tokens_col), filtered to
    `word_pattern` (keeps the encoding delimiter out of the alphabet),
    hapax-pruned at `min_count`.
    """
    from ala_name_matching_spark.operators.dedup import tokens_col

    toks = docs.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
    return (
        toks.where(F.col("w").rlike(word_pattern))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )


def encode_symbols(vocab: DataFrame) -> DataFrame:
    """(w, n, enc): initial per-character symbol encoding ~c~~c~...~c~."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring("w", i, 1),
    )
    return vocab.select(
        "w",
        "n",
        F.concat(
            F.lit(_D), F.array_join(chars, _D * 2), F.lit(_D)
        ).alias("enc"),
    )


def _symbols(enc_col: str):
    # strip the single end delimiters, split on the double inner one
    inner = F.expr(f"substring({enc_col}, 2, length({enc_col}) - 2)")
    return F.split(inner, _D * 2)


def pair_counts(encoded: DataFrame) -> DataFrame:
    """(left, right, cnt): weighted adjacent-symbol-pair histogram.

    One staged projection (the split array bound once -- the
    shingles_from_tokens CSE discipline), one explode, one partial-agg
    groupBy. Every adjacent OCCURRENCE counts, weighted by word count.
    """
    # filter BEFORE the explode: sequence(1, stop) DESCENDS when stop < 1
    # (Spark semantics), so a 1-symbol row would generate [1, 0] and
    # element_at(_, 0) throws; relying on the optimizer to push a
    # post-explode filter below the Generate is not a contract
    staged = encoded.select("n", _symbols("enc").alias("__s")).where(
        F.size("__s") >= 2
    )
    pairs = staged.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__s") - 1),
                lambda i: F.struct(
                    F.element_at("__s", i).alias("left"),
                    F.element_at("__s", i + 1).alias("right"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.left").alias("left"), F.col("p.right").alias("right")
    ).agg(F.sum("n").alias("cnt"))


def apply_merge(encoded: DataFrame, left: str, right: str) -> DataFrame:
    """Fuse (left, right) -> left||right in every symbol sequence: one
    map-only literal replace (see module docstring for why this is exact).
    """
    pat = f"{_D}{left}{_D}{_D}{right}{_D}"
    rep = f"{_D}{left}{right}{_D}"
    return encoded.withColumn(
        "enc", F.replace("enc", F.lit(pat), F.lit(rep))
    )


def tokenize_with_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    word_pattern: str = "^[a-z0-9]+$",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): segment every document under a learned
    merge list -- the APPLY side of the tokenizer (train on a sample,
    tokenize the corpus; merges come from learn_merges' merge_table).

    Map-only over the corpus: each word is encoded and rewritten by the
    merge chain (one literal replace per merge -- identical left-to-right
    semantics as training, module docstring), then counted. There is no
    OOV: unmerged symbols remain characters, exactly BPE's fallback.
    Words outside `word_pattern` (would collide with the encoding
    delimiter) count as 1 token each, stated rather than silently
    dropped.
    """
    from ala_name_matching_spark.operators.dedup import tokens_col

    words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("w"),
    ).where(F.col("w") != "")
    ok = F.col("w").rlike(word_pattern)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.substring("w", i, 1)
    )
    enc = F.concat(F.lit(_D), F.array_join(chars, _D * 2), F.lit(_D))
    for left, right in merges:
        enc = F.replace(
            enc,
            F.lit(f"{_D}{left}{_D}{_D}{right}{_D}"),
            F.lit(f"{_D}{left}{right}{_D}"),
        )
    # tokens per word = inner-delimiter count + 1 = (len(enc)-len(strip))/2 + 1
    n_tok = F.when(~ok, F.lit(1)).otherwise(
        (F.length(enc) - F.length(F.replace(enc, F.lit(_D * 2), F.lit("")))) / 2
        + 1
    )
    return (
        words.select("id", n_tok.cast("long").alias("nt"))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("nt").alias("n_bpe_tokens"),
        )
    )


def learn_merges(
    vocab: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Run `n_merges` BPE iterations; returns (merge_table, encoded).

    merge_table = (step, left, right, cnt) -- the learned merge rules in
    order; encoded = the vocabulary in its final symbol segmentation.
    Each iteration collects exactly ONE row (the argmax pair -- a bounded
    reduce); the vocabulary itself never reaches the driver. The lineage
    chain grows one literal replace per merge, so for large n_merges a
    production run would checkpoint every ~50 steps (the clean_pipeline
    checkpoint cadence); at the tested n this is unnecessary.
    """
    spark = vocab.sparkSession
    # the vocabulary is re-consumed by every iteration's histogram AND by
    # each merge rewrite; without a barrier the corpus scan + word-count
    # groupBy behind it re-execute O(n_merges) times (measured: 13.2 s ->
    # 3.4 s at sf0.1 for 3 merges). The vocab is the BOUNDED table here,
    # not a corpus materialization.
    encoded = barrier(encode_symbols(vocab))
    merges = []
    for step in range(1, n_merges + 1):
        top = (
            pair_counts(encoded)
            .orderBy(F.col("cnt").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merges.append((step, t.left, t.right, t.cnt))
        encoded = apply_merge(encoded, t.left, t.right)
    merge_table = spark.createDataFrame(
        merges, "step int, left string, right string, cnt long"
    )
    return merge_table, encoded
