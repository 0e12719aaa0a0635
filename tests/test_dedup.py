"""Tests for the dedup operator family (exact, MinHash-LSH, SimHash, n-gram)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "The  Quick Brown fox jumps over the lazy dog near the river bank today"),  # case/space
        (3, base.replace("river", "stream")),  # near dup (1 token)
        (4, "completely different text about spark shuffle partitions and joins here"),
        (5, "another unrelated document mentioning customers invoices and payments due"),
        (6, base.replace("quick", "quik").replace("lazy", "lasy")),  # near dup (2 tokens)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    # 0, 1 and 2 collapse after lower+space normalization
    assert g["n_dups"] == 3 and g["keep_id"] == 0 and g["doc_ids"] == [0, 1, 2]


def test_minhash_lsh_finds_near_dups(docs):
    cands = {
        (r["doc_id_l"], r["doc_id_r"])
        for r in minhash_lsh_candidates(docs, num_hashes=16, bands=8).collect()
    }
    # near-dups of the base doc must surface as candidates
    assert (0, 3) in cands
    assert (0, 1) in cands
    # unrelated docs never pair with the base family
    assert not any({a, b} & {4, 5} and {a, b} & {0, 1, 2, 3, 6} for a, b in cands)


def test_ngram_jaccard_verification(spark, docs):
    cands = spark.createDataFrame(
        pd.DataFrame([(0, 3), (0, 4)], columns=["doc_id_l", "doc_id_r"])
    )
    out = {
        (r["doc_id_l"], r["doc_id_r"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()
    }
    assert out[(0, 3)] > 0.5  # one-token swap keeps most 3-gram shingles
    assert out[(0, 4)] == 0.0


def test_simhash_near_duplicates(docs):
    # n_bands=8 guarantees recall of all pairs with hamming <= 7
    pairs = {
        (r["doc_id_l"], r["doc_id_r"]): r["hamming"]
        for r in simhash_near_duplicates(docs, max_hamming=12, n_bands=8).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical text -> same fp
    assert (0, 3) in pairs  # near dup within hamming radius
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_lsh_bucket_cap_bounds_megabucket(spark, monkeypatch):
    """Round-2 verdict item 9: a boilerplate mega-bucket is split by the
    bucket cap; pair volume is bounded and the recall cost is REPORTED
    (lost_pairs stats row), never silent."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators import blocking
    from ala_name_matching_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates,
    )

    # 120 byte-identical boilerplate docs -> every band bucket holds all 120
    rows = [(i, "this exact boilerplate sentence repeats everywhere") for i in range(120)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    # under the default cap the 120-doc buckets stay whole
    assert minhash_lsh_candidates(docs).count() == 120 * 119 // 2

    monkeypatch.setattr(blocking, "LSH_BUCKET_CAP", 30)
    capped, stats = minhash_lsh_candidates(docs, return_stats=True)
    n_capped = capped.count()
    # each of the 4 sub-buckets holds ~30 docs -> <= 4 * C(30.. ,2) pairs
    assert n_capped < 120 * 119 // 2 / 2
    srows = stats.filter(F.col("n_salts") > 1).collect()
    assert srows, "split buckets must surface a stats row"
    assert all(r["lost_pairs"] > 0 for r in srows)
    for r in srows:
        n = r["bucket_size"]
        assert r["lost_pairs"] < n * (n - 1) // 2
    # parity with a salted self-join over the same band table, written out
    # here: ceil(120/30) = 4 salts by pmod(xxhash64(doc_id), 4)
    salted = minhash_band_table(docs).withColumn(
        "salt", F.expr("pmod(xxhash64(doc_id), 4)")
    )
    ref_pairs = (
        salted.alias("a")
        .join(salted.alias("b"), ["band_key", "salt"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id_l"), F.col("b.doc_id").alias("doc_id_r"))
    )
    assert {tuple(r) for r in capped.collect()} == {tuple(r) for r in ref_pairs.collect()}
    ref_stats = {(r["band_key"], 120, 4, 5400) for r in salted.select("band_key").distinct().collect()}
    assert set(map(tuple, stats.collect())) == ref_stats
    # the mega-bucket is salted before any id list is built: no row holds
    # the whole bucket's 120 ids, only one ~30-id sub-bucket
    sub = blocking.capped_buckets(
        minhash_band_table(docs), ["band_key"], "doc_id", "doc_id", 30
    ).selectExpr("band_key", "bucket_size", "size(items) AS n_ids").collect()
    assert {r["bucket_size"] for r in sub} == {120}
    assert max(r["n_ids"] for r in sub) < 60
    assert sum(r["n_ids"] for r in sub) == 120 * len({r["band_key"] for r in sub})


def test_capped_bucket_lost_pairs_every_lane(spark, monkeypatch):
    """One planted 120-id bucket under a cap of 30, in every lane that caps
    buckets. ceil(120/30) = 4 salts; the balanced split keeps 4 * C(30,2)
    of C(120,2) pairs, so each ledger reports 7140 - 1740 = 5400 lost
    pairs. That figure is an upper bound: a lane never emits fewer than
    C(120,2) - 5400 pairs from the bucket. ICWS reports no ledger; its
    pairs must each fall inside one salt."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators import blocking, dedup
    from ala_name_matching_spark.operators.sketches import icws_lsh_candidates

    full, lost = 120 * 119 // 2, 5400
    monkeypatch.setattr(blocking, "LSH_BUCKET_CAP", 30)
    rows = [(i, "this exact boilerplate sentence repeats everywhere") for i in range(120)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    # MinHash and SimHash: identical docs share every band bucket, and each
    # bucket salts the same ids alike, so the distinct pairs are one
    # bucket's pairs
    for pairs, stats in (
        dedup.minhash_lsh_candidates(docs, return_stats=True),
        dedup.simhash_near_duplicates(docs, return_stats=True),
    ):
        assert {r["lost_pairs"] for r in stats.collect()} == {lost}
        assert full - pairs.count() <= lost

    # ER blocks: the 120 records of one block, capped at 30
    blocks = spark.createDataFrame(
        [(3, "hot", f"r{i}") for i in range(120)], "tier int, block_key string, record_id string"
    )
    salted, stats = blocking.salt_and_cap_blocks(blocks, block_cap=30)
    (st,) = stats.collect()
    assert st["n_salts"] == 4 and st["lost_pairs"] == lost
    assert st["pairs_full"] == full and st["pairs_full"] - st["pairs_retained_est"] == lost
    emitted = (
        salted.alias("a")
        .join(salted.alias("b"), "block_id")
        .where(F.col("a.record_id") < F.col("b.record_id"))
        .count()
    )
    assert full - emitted <= lost

    # ICWS: 120 identical weighted sets share every band bucket
    tf = spark.createDataFrame(
        [(i, f"t{j}", float(j + 1)) for i in range(120) for j in range(5)],
        "doc_id long, term string, w double",
    )
    pairs = icws_lsh_candidates(tf, k=32, n_bands=8)
    salts = pairs.selectExpr(
        "pmod(xxhash64(id_a), 4) AS salt_a", "pmod(xxhash64(id_b), 4) AS salt_b"
    ).collect()
    assert salts and all(r["salt_a"] == r["salt_b"] for r in salts)
    assert full - len(salts) <= lost


def test_band_keys_match_hashlib_replay(spark):
    """The band-key bytes are a contract: the streaming matcher joins a
    micro-batch's keys against a precomputed corpus band table, and any
    engine with md5 can replay them. Replay minhash_band_table in plain
    Python: token 3-gram shingles, md5 prefix -> int mod p, the
    Kirsch-Mitzenmacher combinations h_i = (hA + i*hB) mod p, keys
    "b|mh|mh"."""
    import hashlib
    import re

    from ala_name_matching_spark.operators.dedup import minhash_band_table

    p, n, num_hashes, bands = 2147483647, 3, 8, 4
    texts = {
        0: "The quick  brown fox jumps over the lazy dog",
        1: "short doc",
        2: "a b c d e f g a b c",
    }

    def base(tag, s):
        return int(hashlib.md5((tag + s).encode()).hexdigest()[:15], 16) % p

    want = set()
    for doc_id, text in texts.items():
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        sh = {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}
        h = [(base("mhA|", s), base("mhB|", s)) for s in sh]
        mh = [min((a + i * b) % p for a, b in h) for i in range(num_hashes)]
        r = num_hashes // bands
        for b in range(bands):
            want.add((doc_id, "|".join([str(b)] + [str(v) for v in mh[b * r:(b + 1) * r]])))

    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = minhash_band_table(docs, num_hashes=num_hashes, bands=bands, shingle_n=n)
    assert {tuple(r) for r in got.collect()} == want


def _simhash_docs(spark):
    """60 light random word substitutions of one sentence: a spread of
    small hamming distances."""
    import random

    import pandas as pd

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    base = ["the quick brown fox jumps over the lazy dog again and again"]
    rows = []
    for i in range(60):
        words = base[0].split()
        for _ in range(rng.randrange(0, 3)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_simhash_pigeonhole_exact_recall(spark):
    """Pigeonhole property, exhaustively: with n_bands=4 and max_hamming<=3,
    the banded candidate generation finds EVERY pair an exact all-pairs
    hamming scan finds (no bucket reaches the cap) -- banding only prunes,
    never misses inside the guarantee radius."""
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.dedup import (
        simhash_near_duplicates,
        simhash_udf,
    )

    docs = _simhash_docs(spark)
    banded = {
        (r["doc_id_l"], r["doc_id_r"])
        for r in simhash_near_duplicates(docs, max_hamming=3, n_bands=4).collect()
    }
    fp = docs.select("doc_id", simhash_udf(F.col("text")).alias("fp"))
    l = fp.select(F.col("doc_id").alias("l"), F.col("fp").alias("fl"))
    r = fp.select(F.col("doc_id").alias("r"), F.col("fp").alias("fr"))
    exact = {
        (row["l"], row["r"])
        for row in l.crossJoin(r)
        .filter(F.col("l") < F.col("r"))
        .filter(F.bit_count(F.col("fl").bitwiseXOR(F.col("fr"))) <= 3)
        .collect()
    }
    assert banded == exact
    assert len(exact) > 0  # the fixture actually produced near-dups


def test_simhash_return_stats_lost_pair_ledger(spark, monkeypatch):
    """return_stats=True reports each bucket's split: under a cap above the
    largest bucket nothing is lost; under a tiny cap buckets split, the
    ledger counts lost pairs, and the surviving pairs are a subset."""
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators import blocking, dedup

    docs = _simhash_docs(spark)

    def run():
        pairs, stats = dedup.simhash_near_duplicates(
            docs, max_hamming=3, n_bands=4, return_stats=True
        )
        got = {(r["doc_id_l"], r["doc_id_r"]) for r in pairs.collect()}
        return got, stats.agg(F.max("bucket_size"), F.sum("lost_pairs")).first()

    whole, (largest, lost) = run()
    assert largest < blocking.LSH_BUCKET_CAP and lost == 0
    monkeypatch.setattr(blocking, "LSH_BUCKET_CAP", 4)
    split, (_, lost) = run()
    assert lost > 0
    assert split < whole


# --- exact-Jaccard CC lane ----------------------------------------------------

def test_jaccard_edges_match_crossjoin(spark, docs):
    """Shared-shingle candidate join == all-pairs baseline (completeness)."""
    from ala_name_matching_spark.operators.dedup import (
        jaccard_edges,
        shingles_from_tokens,
        tokens_col,
    )

    got = {
        (r["doc_id_l"], r["doc_id_r"]): round(r["jaccard"], 6)
        for r in jaccard_edges(docs, threshold=0.3).collect()
    }
    sh = docs.select("doc_id", shingles_from_tokens(tokens_col(F.col("text")), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("l"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("r"), F.col("sh").alias("sb"))
    brute = {
        (r["l"], r["r"]): round(r["j"], 6)
        for r in a.crossJoin(b)
        .filter(F.col("l") < F.col("r"))
        .withColumn("j", F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb")))
        .filter(F.col("j") >= 0.3)
        .select("l", "r", "j")
        .collect()
    }
    assert got == brute and len(got) > 0


def test_neardup_clusters_reps(spark, docs):
    """At 0.5: 0/1/2/3 cluster, 6 misses the bar (J(0,6)=0.41). At 0.4 doc 6
    joins ONLY via doc 0 (J(3,6)=0.2) -- transitive closure, not pairwise."""
    from ala_name_matching_spark.operators.dedup import neardup_clusters

    out = {r["doc_id"]: r["cluster_rep"] for r in neardup_clusters(docs, threshold=0.5).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 6}
    out4 = {r["doc_id"]: r["cluster_rep"] for r in neardup_clusters(docs, threshold=0.4).collect()}
    assert out4 == {0: 0, 1: 0, 2: 0, 3: 0, 6: 0, 4: 4, 5: 5}


def test_neardup_clusters_numeric_min_rep(spark):
    """Ids where numeric and string order disagree (9 vs 10): rep must be the
    NUMERIC min (zero-pad encoding round-trips through the lexicographic CC)."""
    from ala_name_matching_spark.operators.dedup import neardup_clusters

    txt = "alpha beta gamma delta epsilon zeta eta theta"
    d = spark.createDataFrame(pd.DataFrame({"doc_id": [9, 10], "text": [txt, txt]}))
    out = {r["doc_id"]: r["cluster_rep"] for r in neardup_clusters(d).collect()}
    assert out == {9: 9, 10: 9}


def test_cross_doc_dup_ngrams_counts(spark):
    """Planted: docs 0/1 share one 4-gram window; doc 2 is disjoint."""
    from ala_name_matching_spark.operators.dedup import cross_doc_dup_ngrams

    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "shared four gram window plus tail one",   # 4-grams: 4
                    "prefix two shared four gram window here", # 4-grams: 4, one shared
                    "totally different words in this document yes",
                ],
            }
        )
    )
    out = {r["doc_id"]: (r["n_ngrams"], r["n_dup_ngrams"], r["dup_frac"]) for r in cross_doc_dup_ngrams(d).collect()}
    assert out[0] == (4, 1, 0.25)
    assert out[1] == (4, 1, 0.25)
    assert out[2] == (4, 0, 0.0)


def test_dedup_keep_best_policy(spark, docs):
    """Exactly one keeper per cluster = the max-quality member (ties -> min
    doc_id); singletons keep themselves."""
    from collections import defaultdict

    from ala_name_matching_spark.operators.dedup import dedup_keep_best

    rows = dedup_keep_best(docs, threshold=0.4).collect()
    assert len(rows) == 7  # one row per document
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r["cluster_rep"]].append(r)
    assert set(by_cluster) == {0, 4, 5}  # {0,1,2,3,6} cluster + 2 singletons
    for rep, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        qmax = max(r["quality"] for r in members)
        assert keepers[0]["quality"] == qmax
        assert keepers[0]["doc_id"] == min(
            r["doc_id"] for r in members if r["quality"] == qmax
        )


def test_dedup_keep_best_lanes_agree(spark, docs, monkeypatch):
    """The driver election (numpy over the collected edges) and the
    distributed lane (CC + min(struct(-quality, doc_id))) give the same
    table; n_edges skips the sizing count."""
    from ala_name_matching_spark.operators import clustering
    from ala_name_matching_spark.operators.dedup import (
        dedup_keep_best,
        jaccard_edges,
        quality_edges,
    )

    edges = quality_edges(docs, jaccard_edges(docs, threshold=0.4))
    n = edges.count()
    driver = sorted(map(tuple, dedup_keep_best(docs, edges=edges, n_edges=n).collect()))
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
    distributed = sorted(map(tuple, dedup_keep_best(docs, edges=edges).collect()))
    assert driver == distributed
    assert driver == sorted(map(tuple, dedup_keep_best(docs, threshold=0.4).collect()))


def test_neardup_clusters_no_edges(spark):
    """All-distinct corpus: zero edges through the CC engine -> every doc a
    singleton keeping itself (regression for the empty-partition lanes)."""
    from ala_name_matching_spark.operators.dedup import dedup_keep_best, neardup_clusters

    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "totally unique alpha beta gamma delta",
                    "different words here entirely now ok",
                    "third doc nothing shared with others at",
                ],
            }
        )
    )
    assert {r["doc_id"]: r["cluster_rep"] for r in neardup_clusters(d).collect()} == {0: 0, 1: 1, 2: 2}
    assert all(r["keep"] for r in dedup_keep_best(d).collect())


# --- property tests (hypothesis): shingle kernel vs a python reference --------

from hypothesis import given, settings
from hypothesis import strategies as st

_words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=12
)


@settings(max_examples=30, deadline=None)
@given(toks=_words, n=st.integers(min_value=1, max_value=5))
def test_shingles_match_python_reference(spark, toks, n):
    """shingles_from_tokens == the obvious python sliding window (distinct,
    whole-text fallback for short docs) for arbitrary token lists."""
    from ala_name_matching_spark.operators.dedup import shingle_explode

    text = " ".join(toks)
    d = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    got = sorted(r["g"] for r in shingle_explode(d, "doc_id", "text", n).collect())
    # python reference on the SAME normalization: lower + ws-fold + split
    ref_toks = " ".join(text.lower().split()).split(" ") if text.strip() else [""]
    if text == "":
        ref_toks = [""]
    k = max(len(ref_toks) - (n - 1), 1)
    expect = sorted({" ".join(ref_toks[i : i + n]) for i in range(k)})
    assert got == expect


def test_ngram_containment_detects_quote(spark):
    from ala_name_matching_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_doc = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(10, 30))  # 20-token slice
    other = " ".join(f"x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, quote), (3, other)], "doc_id bigint, text string"
    )
    got = ngram_containment_pairs(docs, shingle_n=4, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_id_l"], r["doc_id_r"]) == (1, 2)
    assert r["containment_r"] == 1.0  # quote fully contained in source
    assert r["containment_l"] < 0.5  # but the source is NOT a dup of the quote
    # the same pair under symmetric Jaccard scores far below any dedup bar
    cands = spark.createDataFrame([(1, 2)], "doc_id_l bigint, doc_id_r bigint")
    j = ngram_jaccard_pairs(docs, cands, shingle_n=4, threshold=0.0).collect()
    assert j[0]["jaccard"] < 0.5


def test_ngram_containment_max_df_drops_boilerplate(spark):
    from ala_name_matching_spark.operators.dedup import ngram_containment_pairs

    # every doc is mostly the same boilerplate header; bodies are disjoint.
    # 4 of each doc's 5 grams are header-only (df=5) -> containment 0.8
    # uncapped; with the header grams dropped (df > 2) no pair survives.
    header = "standard header boilerplate line one two three"
    rows = [(i, f"{header} body{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    with_cap = ngram_containment_pairs(docs, shingle_n=4, threshold=0.5, max_df=2)
    assert with_cap.count() == 0
    no_cap = ngram_containment_pairs(docs, shingle_n=4, threshold=0.5)
    assert no_cap.count() > 0  # boilerplate grams alone push pairs over


def test_strip_dup_spans_removes_shared_span_only(spark):
    from ala_name_matching_spark.operators.dedup import strip_dup_spans

    shared = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (0, f"aaa bbb {shared} ccc ddd"),
            (1, f"{shared} xxx yyy zzz www"),
            (2, "totally disjoint text with nothing repeated here"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in strip_dup_spans(docs, span_n=4).collect()}
    # the shared 6-token run is excised from both docs, unique tokens stay
    assert got[0]["clean_text"] == "aaa bbb ccc ddd"
    assert got[1]["clean_text"] == "xxx yyy zzz www"
    assert got[0]["n_removed"] == 6 and got[1]["n_removed"] == 6
    assert got[2]["clean_text"] == docs.collect()[2]["text"]
    assert got[2]["n_removed"] == 0


def test_strip_dup_spans_fully_covered_doc_empties(spark):
    from ala_name_matching_spark.operators.dedup import strip_dup_spans

    same = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [(0, same), (1, same)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in strip_dup_spans(docs, span_n=4).collect()}
    assert got[0]["clean_text"] == "" and got[1]["clean_text"] == ""
    assert got[0]["n_removed"] == 4


def test_line_dedup_newline_keep_first(spark):
    from ala_name_matching_spark.operators.dedup import line_dedup

    banner = "subscribe to our newsletter"
    rows = [
        (1, f"{banner}\nunique one\n{banner}"),   # banner twice in doc 1
        (2, f"{banner}\nunique two"),
        (3, "unique three\nonly here\nonly here"),  # within-doc repeat only
        (4, banner),
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: r
        for r in line_dedup(d, unit="newline", min_docs=2).collect()
    }
    # keeper = (doc 1, line 0); every other banner occurrence dropped
    assert out[1]["text_kept"] == f"{banner}\nunique one"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[2]["text_kept"] == "unique two"
    # a line repeated only WITHIN one doc is not a cross-doc duplicate
    assert out[3]["text_kept"] == "unique three\nonly here\nonly here"
    assert out[4]["text_kept"] == "" and out[4]["n_kept"] == 0


def test_line_dedup_drop_all_and_blank(spark):
    from ala_name_matching_spark.operators.dedup import line_dedup

    rows = [
        (1, "dup line\n\nkeep a"),
        (2, "dup line\n\nkeep b"),
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: r
        for r in line_dedup(d, unit="newline", policy="drop_all").collect()
    }
    # drop_all removes BOTH occurrences; blank lines are never duplicates
    assert out[1]["text_kept"] == "\nkeep a"
    assert out[2]["text_kept"] == "\nkeep b"


def test_line_dedup_token_unit_counts(spark):
    from ala_name_matching_spark.operators.dedup import line_dedup

    # 5 tokens/line: doc 20's first chunk == doc 21's first chunk
    chunk = "a b c d e"
    rows = [(20, f"{chunk} tail one"), (21, f"{chunk} tail two"), (22, "x")]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: r
        for r in line_dedup(
            d, unit="tokens", tokens_per_line=5, min_docs=2
        ).collect()
    }
    assert out[20]["n_lines"] == 2 and out[20]["n_kept"] == 2
    assert out[21]["n_lines"] == 2 and out[21]["n_kept"] == 1
    assert out[21]["text_kept"] == "tail two"
    assert out[22]["text_kept"] == "x"
