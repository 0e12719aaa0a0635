"""BM25 ranked retrieval: operators/retrieval.py.

Golden-value check on a tiny corpus (scores hand-derived from the
Lucene/Robertson formula), the persisted index's postings shape and
deterministic tie-break. The cross-engine replay runs under
tools/check_oracles.py as `bm25_topk`.
"""

import math

from pyspark.sql import functions as F

from ala_name_matching_spark.operators.retrieval import bm25_topk, build_index

CORPUS = [
    (0, "apple banana apple"),
    (1, "banana cherry"),
    (2, "cherry cherry cherry date"),
    (3, "date elderberry"),
]


def _df(spark, rows, schema="doc_id bigint, text string"):
    return spark.createDataFrame(rows, schema)


def _bm25(tf, df, dl, n=4, avgdl=2.75, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_postings_and_doclen(spark, tmp_path):
    docs = _df(spark, CORPUS)
    build_index(docs, str(tmp_path))
    posts = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in spark.read.parquet(str(tmp_path / "postings")).collect()
    }
    assert posts[("apple", 0)] == 2
    assert posts[("cherry", 2)] == 3
    assert ("apple", 1) not in posts
    dl = {
        r["doc_id"]: r["dl"]
        for r in spark.read.parquet(str(tmp_path / "doclen")).collect()
    }
    assert dl == {0: 3, 1: 2, 2: 4, 3: 2}


def test_bm25_golden_scores_and_ranking(spark):
    docs = _df(spark, CORPUS)
    q = _df(spark, [(100, "apple banana")], "query_id bigint, qtext string")
    got = {r["doc_id"]: r for r in bm25_topk(docs, q, k=4).collect()}
    # doc 0 matches both terms; doc 1 matches banana only
    exp0 = _bm25(2, 1, 3) + _bm25(1, 2, 3)
    exp1 = _bm25(1, 2, 2)
    assert abs(got[0]["score"] - round(exp0, 6)) < 1e-9
    assert abs(got[1]["score"] - round(exp1, 6)) < 1e-9
    assert got[0]["rank"] == 1 and got[1]["rank"] == 2
    assert set(got) == {0, 1}  # non-matching docs never surface


def test_repeated_query_terms_count_once(spark):
    docs = _df(spark, CORPUS)
    q1 = _df(spark, [(1, "apple apple apple")], "query_id bigint, qtext string")
    q2 = _df(spark, [(1, "apple")], "query_id bigint, qtext string")
    s1 = bm25_topk(docs, q1, k=1).first()["score"]
    s2 = bm25_topk(docs, q2, k=1).first()["score"]
    assert s1 == s2


def test_tie_break_on_doc_id(spark):
    # two identical docs -> identical scores; rank must order by doc_id
    docs = _df(spark, [(7, "same text"), (3, "same text")])
    q = _df(spark, [(1, "same")], "query_id bigint, qtext string")
    got = bm25_topk(docs, q, k=2).orderBy("rank").collect()
    assert [r["doc_id"] for r in got] == [3, 7]
    assert got[0]["score"] == got[1]["score"]


def test_fuzzy_analyzer_survives_phonetic_misspelling(spark):
    # the vowel folds treatWord collapses: "delta" vs "dilta" -> same term.
    # Fuzzy lane ranks the source doc; the exact lane finds nothing.
    from ala_name_matching_spark.functions.phonetic import phonetic_tokens_udf

    docs = _df(
        spark,
        [
            (0, "delta epsilon request"),
            (1, "totally unrelated words"),
        ],
    )
    q = _df(spark, [(9, "dilta ipsilon")], "query_id bigint, qtext string")
    fuzzy = bm25_topk(docs, q, k=2, analyzer=phonetic_tokens_udf).collect()
    assert fuzzy and fuzzy[0]["doc_id"] == 0 and fuzzy[0]["rank"] == 1
    exact = bm25_topk(docs, q, k=2).collect()
    assert exact == []


def test_phrase_match_counts_overlapping_occurrences(spark):
    from ala_name_matching_spark.operators.retrieval import phrase_match

    docs = _df(
        spark,
        [
            (0, "a b a b a b"),       # "a b a b" occurs at starts 0 and 2
            (1, "a b c a b"),         # phrase absent (no "a b a b")
            (2, "b a b a"),           # absent
        ],
    )
    q = _df(spark, [(9, "a b a b")], "query_id bigint, qtext string")
    got = {r["doc_id"]: r["n_hits"] for r in phrase_match(docs, q).collect()}
    assert got == {0: 2}


def test_phrase_match_requires_order_and_adjacency(spark):
    from ala_name_matching_spark.operators.retrieval import phrase_match

    docs = _df(
        spark,
        [
            (0, "alpha beta gamma"),
            (1, "beta alpha gamma"),    # right terms, wrong order
            (2, "alpha gamma beta"),    # non-adjacent
        ],
    )
    q = _df(spark, [(1, "alpha beta")], "query_id bigint, qtext string")
    got = {r["doc_id"]: r["n_hits"] for r in phrase_match(docs, q).collect()}
    assert got == {0: 1}


def test_fuzzy_phrase_match_under_phonetic_analyzer(spark):
    # analyzer-pluggable phrase search: the misspelled phrase still matches
    # because both sides pass through treatWord
    from ala_name_matching_spark.functions.phonetic import phonetic_tokens_udf
    from ala_name_matching_spark.operators.retrieval import phrase_match

    docs = _df(spark, [(0, "delta epsilon request"), (1, "epsilon delta request")])
    # corruptions on NON-INITIAL chars only (treatWord quarantines the
    # first letter from the vowel folds): delta->dilta, epsilon->epsilan
    q = _df(spark, [(1, "dilta epsilan")], "query_id bigint, qtext string")
    got = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_match(docs, q, analyzer=phonetic_tokens_udf).collect()
    }
    assert got == {0: 1}  # order still enforced: doc 1 has the terms reversed


def test_phrase_match_anchor_broadcast_autoguard(spark, monkeypatch):
    """VERDICT r02 #2: an all-frequent-terms phrase (every term in every
    doc -> anchor table = corpus-sized) must NOT be broadcast once the
    anchor size estimate exceeds the cap; the shuffle fallback is taken
    automatically and the output is identical in both modes."""
    from ala_name_matching_spark.operators import retrieval as R

    # every doc contains both query terms -> rarest-term df = n_docs, so
    # the anchor table has n_docs * avg-tf rows: "oversized" under a cap
    # of 1 row
    docs = _df(
        spark,
        [(i, "the quick the quick fox") for i in range(20)],
    )
    q = _df(spark, [(1, "the quick")], "query_id bigint, qtext string")

    key = lambda rows: sorted((r["query_id"], r["doc_id"], r["n_hits"]) for r in rows)
    base = key(R.phrase_match(docs, q).collect())
    assert R._LAST_ANCHOR_MODE == "broadcast"  # default cap: small corpus fits

    monkeypatch.setattr(R, "_BROADCAST_ANCHOR_MAX_ROWS", 1)
    guarded = key(R.phrase_match(docs, q).collect())
    assert R._LAST_ANCHOR_MODE == "shuffle"  # cap exceeded -> fallback taken

    assert guarded == base
    # sanity: 2 overlapping starts of "the quick" per doc
    assert base == [(1, i, 2) for i in range(20)]
