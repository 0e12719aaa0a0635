"""Ranked retrieval: inverted postings index + BM25 scoring, DataFrame-native.

This is the Spark-first replacement for the reference's core capability --
ala-name-matching IS a Lucene search engine (ALANameSearcher wraps four
Lucene directories; every match mode bottoms out in TermQuery scoring,
`ALANameSearcher.java` searchers over the cb/irmng/vernacular indexes),
and Lucene's default similarity has been BM25 since Lucene 6. Rather than
porting an index file format, the index IS a table:

  postings(term, doc_id, tf)   one explode + groupBy -- partial-aggregated,
                               shuffle linear in corpus tokens
  doclen(doc_id, dl)           one narrow projection
  stats(n_docs, avgdl)         two scalars

and a query is a broadcast equi-join on `term` + one groupBy(query, doc)
sum + per-query top-k window. At 100 TB: the postings build shuffles each
token once (the same cost class as the MinHash signature build); queries
never touch the corpus text again -- the scan is postings-only, pruned to
the queried terms by the broadcast hash join (a few rows per term).

Scoring is the Lucene/Robertson BM25 form:
  idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  score(q, d) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Determinism contract for the cross-engine oracle: scores are rounded to
6 dp BEFORE ranking, ties break on doc_id -- so Spark and DuckDB rank
identical values identically regardless of float-summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.dedup import tokens_col
from ala_name_matching_spark.sources.checkpoints import barrier, cached

K1 = 1.2
B = 0.75

# An "analyzer" is any Column -> Column producing the term array for a text
# column -- tokens_col for standard retrieval, phonetic_tokens_udf for the
# Taxamatch-style fuzzy lane (misspelling-invariant terms). The SAME
# analyzer must run on both the corpus and the query side, mirroring
# Lucene's analyzer-symmetry contract (the reference indexes and queries
# through the same TaxonNameSoundEx treatment).


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    analyzer=tokens_col,
) -> DataFrame:
    """Top-k BM25 docs per query: (query_id, doc_id, score, rank).

    Query terms are DISTINCT per query (Lucene BooleanQuery of unique
    TermQueries -- the reference's searcher builds exactly that shape,
    one clause per field token). The query side is broadcast; the corpus
    side is postings-only. Rank on the 6-dp-rounded score, tie-break
    doc_id ascending (A2 tie-break discipline).
    """
    # analyze ONCE: postings, df stats and doc lengths all derive from one
    # persisted analyzed projection -- matters most for the fuzzy lane,
    # where the analyzer is an Arrow UDF pass over the corpus (unpersisted,
    # the lazy DAG re-runs it three times). At index-build-once scale use
    # build_index to materialize these as tables instead.
    analyzed = docs.select(
        F.col(id_col).alias("doc_id"), analyzer(F.col(text_col)).alias("_toks")
    )
    posts = (
        analyzed.select("doc_id", F.explode_outer("_toks").alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    with cached(analyzed, posts):
        dl = analyzed.select("doc_id", F.size("_toks").alias("dl"))
        stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
        n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])

        qterms = query_terms(queries, query_id_col, query_text_col, analyzer)
        out = bm25_score_candidates(posts, dl, n_docs, avgdl, qterms, k, k1, b)
        return barrier(out)


def query_terms(
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    analyzer=tokens_col,
) -> DataFrame:
    """(query_id, term) -- DISTINCT analyzed terms per query."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(analyzer(F.col(query_text_col)))).alias("term"),
    ).filter(F.col("term") != "")


def bm25_score_candidates(
    posts: DataFrame,
    dl: DataFrame,
    n_docs: int,
    avgdl: float,
    qterms: DataFrame,
    k: int = 5,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Shared BM25 scoring tail over (term, doc_id, tf) postings + (doc_id,
    dl) lengths -- used by bm25_topk (in-memory); the same tail scores a
    persisted/streaming-maintained build_index layout."""
    df_t = posts.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    # df stats restricted to the queried terms BEFORE broadcasting -- the
    # corpus-wide term dictionary never leaves the executors
    df_q = df_t.join(F.broadcast(qterms.select("term").distinct()), "term")
    scored = (
        posts.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_q), "term")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def build_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer=tokens_col,
) -> None:
    """Materialize the retrieval index: path/postings + path/doclen.

    The reference's architecture verbatim -- expensive index build once
    (DwcaNameIndexer -> Lucene dirs), cheap searches forever -- as two
    parquet tables. BM25's global stats (df, N, avgdl) are DERIVED from
    these at query time, which is what makes append-only incremental
    maintenance sound (streaming/incremental.streaming_index_update):
    appending a batch's postings/doclen rows updates every downstream
    statistic by construction, no stats-rebuild job.

    Layout: both tables are partitioned by `epoch` (the batch build writes
    epoch=-1) so streaming appends (one partition per micro-batch, dynamic
    overwrite -- see streaming/incremental._write_epoch_idempotent) land in
    the SAME directory structure; mixing partitioned and unpartitioned files
    under one root would break Spark's partition discovery.
    """
    analyzed = docs.select(
        F.col(id_col).alias("doc_id"), analyzer(F.col(text_col)).alias("_toks")
    )
    with cached(analyzed):
        (
            analyzed.select("doc_id", F.explode_outer("_toks").alias("term"))
            .filter(F.col("term").isNotNull() & (F.col("term") != ""))
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
            .withColumn("epoch", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(f"{path}/postings")
        )
        (
            analyzed.select("doc_id", F.size("_toks").alias("dl"))
            .withColumn("epoch", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(f"{path}/doclen")
        )


def build_positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer=tokens_col,
) -> DataFrame:
    """(doc_id, term, pos) positional postings -- the PhraseQuery side of
    the Lucene-replacement lane (Lucene stores positions per posting for
    exactly this). One posexplode; positions are 0-based. OUTER variant +
    null filter, not plain posexplode: InferFiltersFromGenerate would push
    a size(analyzer(text)) > 0 filter through the staged projection and
    re-run the analyzer per row (the shingle_explode lesson, measured ~4x
    here at sf0.1)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), analyzer(F.col(text_col)).alias("_toks")
        )
        .select("doc_id", F.posexplode_outer("_toks").alias("pos", "term"))
        .where(F.col("term").isNotNull())
    )


def phrase_match(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    analyzer=tokens_col,
) -> DataFrame:
    """(query_id, doc_id, n_hits) -- exact-phrase occurrences per doc.

    The classic positional-index phrase algorithm: each query term j joins
    the postings on `term`, every match votes for the phrase start
    `pos - j`, and a start where the vote count equals the phrase length
    has ALL terms at consecutive positions. No string rescans, no
    substring joins; overlapping occurrences count separately (each has
    its own start). Works under any analyzer, including the phonetic one
    (fuzzy phrase search).

    Rare-term anchoring (Lucene's lead-iterator discipline): a full-phrase
    start MUST carry the query's LOWEST-df term at its slot, so the vote
    stream is pre-filtered with a broadcast semi-join against the anchor
    starts (postings of each query's rarest term, shifted by its slot).
    This turns the big (query, doc, start) aggregation from sum-of-all-
    posting-lists into |rarest-term postings| x phrase length -- the
    decisive bound when every term is frequent (small vocabularies,
    stopword phrases).

    The anchor pre-filter is applied as a BROADCAST semi-join only while
    the anchor table is provably small: its exact size is the sum of the
    rarest terms' df values (already computed for anchor selection), and
    when that exceeds _BROADCAST_ANCHOR_MAX_ROWS the same semi-join runs
    as a shuffle join instead -- identical output, no oversized broadcast.
    The guard is automatic; callers never need to size the corpus
    themselves.
    """
    posts = build_positional_postings(docs, id_col, text_col, analyzer)
    with cached(posts):
        return _phrase_match_body(posts, queries, query_id_col, query_text_col, analyzer)


# the largest anchor table phrase_match broadcasts; read at call time
_BROADCAST_ANCHOR_MAX_ROWS = 5_000_000
# test introspection: how the last phrase_match call shipped its anchor
# semi-join ("broadcast" | "shuffle")
_LAST_ANCHOR_MODE = None


def _phrase_match_body(
    posts: DataFrame,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    analyzer,
) -> DataFrame:
    global _LAST_ANCHOR_MODE
    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            analyzer(F.col(query_text_col)).alias("_qt"),
        )
        .select(
            "query_id",
            F.size("_qt").alias("nq"),
            F.posexplode_outer("_qt").alias("j", "term"),
        )
        .where(F.col("term").isNotNull())
    )
    votes = posts.join(F.broadcast(qt), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("j")).alias("start"), "nq"
    )
    # anchor = each query's lowest-df term (ties: lowest slot j); its
    # postings, shifted by the slot, enumerate every POSSIBLE start.
    # df is computed AFTER restricting postings to queried terms (the
    # bm25_topk discipline): the full-vocabulary groupBy would shuffle
    # every term in the corpus to rank a handful of query terms.
    df_q = (
        posts.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("_df"))
    )
    qdf = qt.join(F.broadcast(df_q), "term")
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_df").asc(), F.col("j").asc()
    )
    rarest = (
        qdf.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") == 1)
        .select("query_id", "term", F.col("j").alias("_ja"), "_df")
    )
    # auto-guard (VERDICT r02 #2): the anchor table has EXACTLY
    # sum(rarest._df) rows, known before building it; broadcast only
    # under the cap, otherwise ship the same semi-join through the
    # shuffle. The extra action is a tiny aggregate over one row per
    # query, on top of the already-persisted postings.
    est_row = rarest.agg(F.sum("_df").alias("s")).first()
    est = int(est_row["s"] or 0)
    anchors = posts.join(F.broadcast(rarest.drop("_df")), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("_ja")).alias("start")
    )
    if est <= _BROADCAST_ANCHOR_MAX_ROWS:
        _LAST_ANCHOR_MODE = "broadcast"
        anchors = F.broadcast(anchors)
    else:
        _LAST_ANCHOR_MODE = "shuffle"
    votes = votes.join(anchors, ["query_id", "doc_id", "start"], "left_semi")
    full = (
        votes.groupBy("query_id", "doc_id", "start", "nq")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == F.col("nq"))
    )
    out = full.groupBy("query_id", "doc_id").agg(F.count("*").alias("n_hits"))
    return barrier(out)
