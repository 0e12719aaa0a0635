"""Prefix-filtered set-similarity self-join (AllPairs / PPJoin family).

The 100 TB problem: "every pair of records whose token-set Jaccard is
>= t" -- the exact form of fuzzy matching the reference approximates with
its soundex blocks (ALANameSearcher.java fuzzy searches) and the dedup
lanes approximate with MinHash-LSH. A naive threshold join is all-pairs
(10^24 comparisons at 10^12 rows); LSH prunes it but is probabilistic.
The prefix filter (Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006; Bayardo/
Ma/Srikant AllPairs, WWW 2007; Xiao et al. PPJoin, WWW 2008) is the
EXACT-answer scale path:

  order    rank the token vocabulary by ascending document frequency
           (rarest first, token string as tie-break) -- one groupBy.
  prefix   a record x sorted under that order only needs its first
           p(x) = |x| - ceil(t*|x|) + 1 tokens indexed: if J(x,y) >= t
           then overlap o >= t*(|x|+|y|)/(1+t) >= ceil(t*max(|x|,|y|))
           (with the length filter t*|x| <= |y| <= |x|/t), so x's last
           ceil(t*|x|)-1 tokens cannot hold ALL shared tokens. Candidate
           generation is an equi-join on prefix tokens -- and because
           prefixes hold the RAREST tokens, posting lists are short by
           construction; the frequent-token quadratic blowup that kills
           naive token blocking never materializes.
  verify   exact overlap on the candidate pairs only; emit o and
           J = o/(|x|+|y|-o), filter >= t.

The filter is LOSSLESS, so the operator's output equals the exact
all-pairs truth set -- which is what makes it fully oracle-checkable
against a brute-force DuckDB join at fixture scale (rare for a
sub-quadratic similarity join; the same planted-truth trick the LSH lanes
need is unnecessary here).

Scale notes: the vocabulary groupBy and the prefix equi-join are both
partial-aggregated shuffles on token; candidate verification carries the
two ranked-token arrays through id joins (array payloads ride exactly two
shuffles). A still-hot prefix token (a token both rare enough to enter
prefixes and shared by millions of records) is not capped: the join stays
exact, and that token's posting list self-joins in full.

The ranked table is consumed by four plan branches and deliberately NOT
persisted: measured at sf0.1, recompute is 3.6 s warm vs 7.4 s behind a
barrier -- the same heavy-token-array result as the ER
pipeline's reverted features persist (PLANS.md). A production run over a
static corpus would write ranked_token_sets to parquet once (the
persisted-index pattern of retrieval.build_index) and join against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.dedup import shingles_from_tokens, tokens_col


def ranked_token_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 1,
) -> DataFrame:
    """(id, toks, n): distinct set elements per record, ascending-df order.

    Elements are word tokens (shingle_n=1) or word n-gram shingles
    (shingle_n>1 -- far more discriminative on small vocabularies, the
    near-dup shape). The global order is (document frequency, element)
    -- fully deterministic. Two shuffles: the vocabulary df groupBy and
    the per-record regroup.
    """
    # stage tokens in their own projection: shingles_from_tokens references
    # the array once per window index and lambda bodies skip CSE (see its
    # PERF note) -- the staged attribute keeps the split single-executed
    staged = docs.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("__w")
    )
    elems = (
        shingles_from_tokens(F.col("__w"), shingle_n)
        if shingle_n > 1
        else F.array_distinct("__w")
    )
    tok = (
        staged.select("id", elems.alias("__t"))
        .select("id", F.explode_outer("__t").alias("token"))
        .where(F.col("token") != "")
    )
    df_tab = tok.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tok.join(df_tab, "token")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("toks")
        )
        .select("id", "toks", F.size("toks").alias("n"))
    )


def similarity_join(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 1,
) -> DataFrame:
    """Exact token-set Jaccard >= threshold self-join via prefix filtering.

    Returns (doc_id_l, doc_id_r, overlap, jaccard) with doc_id_l < doc_id_r,
    jaccard rounded to 4 dp for cross-engine hashing (the filter runs on the
    unrounded value). The output is EXACT (equal to the brute-force
    all-pairs join).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    ranked = ranked_token_sets(docs, id_col, text_col, shingle_n)

    # p(x) = n - ceil(t*n) + 1 rarest tokens index x losslessly
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + F.lit(1)
    pref = ranked.select(
        "id",
        "n",
        F.explode(F.slice("toks", 1, prefix_len.cast("int"))).alias("token"),
    )

    # distinct aliases per side: same-lineage `token == token` would hit
    # Spark's ambiguous-self-join detection (it resolves it, with a WARN,
    # but explicit aliases are robust to resolver changes)
    l = pref.select(
        F.col("token").alias("tok_l"),
        F.col("id").alias("doc_id_l"),
        F.col("n").alias("n_l"),
    )
    r = pref.select(
        F.col("token").alias("tok_r"),
        F.col("id").alias("doc_id_r"),
        F.col("n").alias("n_r"),
    )
    cands = (
        l.join(
            r,
            (F.col("tok_l") == F.col("tok_r"))
            & (F.col("doc_id_l") < F.col("doc_id_r"))
            # symmetric length filter: J >= t forces t*|x| <= |y| <= |x|/t
            & (F.col("n_r") * F.lit(t) <= F.col("n_l"))
            & (F.col("n_l") * F.lit(t) <= F.col("n_r")),
        )
        .select("doc_id_l", "doc_id_r")
        .distinct()
    )

    lt = ranked.select(F.col("id").alias("doc_id_l"), F.col("toks").alias("toks_l"), F.col("n").alias("n_l"))
    rt = ranked.select(F.col("id").alias("doc_id_r"), F.col("toks").alias("toks_r"), F.col("n").alias("n_r"))
    o = F.size(F.array_intersect("toks_l", "toks_r"))
    jac = o.cast("double") / (F.col("n_l") + F.col("n_r") - o).cast("double")
    return (
        cands.join(lt, "doc_id_l")
        .join(rt, "doc_id_r")
        .select(
            "doc_id_l",
            "doc_id_r",
            o.alias("overlap"),
            jac.alias("__j"),
        )
        .where(F.col("__j") >= F.lit(t))
        .select(
            "doc_id_l",
            "doc_id_r",
            F.col("overlap").cast("long").alias("overlap"),
            F.round("__j", 4).alias("jaccard"),
        )
    )
