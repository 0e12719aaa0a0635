"""Deterministic split / stratified sampling (training-data extension)."""

import pandas as pd
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.sampling import (
    deterministic_split,
    stratified_sample,
)


def _frame(spark, n=2000):
    pdf = pd.DataFrame(
        {"id": range(n), "lang": ["en" if i % 2 else "zh" for i in range(n)]}
    )
    return spark.createDataFrame(pdf)


def test_split_fraction_and_determinism(spark):
    df = _frame(spark)
    out = deterministic_split(df, "id", holdout_frac=0.2)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # md5 buckets are uniform: 2000 rows, expect ~400 holdout (binomial 3 sigma ~ +-54)
    assert 340 <= counts["holdout"] <= 460
    # pure function of the id: re-running yields the identical assignment
    again = deterministic_split(df, "id", holdout_frac=0.2)
    assert out.exceptAll(again).count() == 0
    # a different salt draws an independent split, not the same rows
    other = deterministic_split(df, "id", holdout_frac=0.2, salt="split-v2")
    both = out.alias("a").join(other.alias("b"), "id").filter(
        (F.col("a.split") == "holdout") & (F.col("b.split") == "holdout")
    )
    overlap = both.count()
    assert 0 < overlap < counts["holdout"]  # ~0.04 * n expected, not 0, not all


def test_stratified_sample_quotas(spark):
    df = _frame(spark)
    out = stratified_sample(df, "id", "lang", fractions={"en": 0.1, "zh": 0.5})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 60 <= counts["en"] <= 140  # 1000 * 0.1
    assert 420 <= counts["zh"] <= 580  # 1000 * 0.5
    # default fraction 0.0 drops unlisted strata entirely
    extra = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "lang": ["fr", "fr"]}))
    assert stratified_sample(extra, "id", "lang", fractions={"en": 0.5}).count() == 0


def test_pack_sequences(spark):
    """Per-shard packing invariants: offsets are the contiguous cumsum of
    token counts in doc_id order, chunk indices follow from the budget, and
    spans_boundary marks exactly the boundary-crossing docs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.sampling import pack_sequences

    rows = [(i, " ".join(["tok"] * (3 + i % 7))) for i in range(40)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = pack_sequences(docs, token_budget=8).collect()
    assert len(out) == 40
    by_shard: dict = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        expect = by_shard.get(r["shard"], 0)
        assert r["start_offset"] == expect  # contiguous stream per shard
        assert r["seq_start"] == r["start_offset"] // 8
        assert r["seq_end"] == (r["start_offset"] + r["n_tokens"] - 1) // 8
        assert r["spans_boundary"] == (r["seq_start"] != r["seq_end"])
        by_shard[r["shard"]] = expect + r["n_tokens"]
    assert sum(by_shard.values()) == sum(3 + i % 7 for i in range(40))
    # hand case: 10 tokens at budget 4 -> chunks 0..2, spans
    one = spark.createDataFrame(
        pd.DataFrame([(0, " ".join(["w"] * 10))], columns=["doc_id", "text"])
    )
    r = pack_sequences(one, token_budget=4).collect()[0]
    assert (r["seq_start"], r["seq_end"], r["spans_boundary"]) == (0, 2, True)


def test_mixture_weights_math(spark):
    from ala_name_matching_spark.operators.sampling import mixture_weights

    rows = [
        (0, " ".join(["w"] * 20), "A"),
        (1, " ".join(["w"] * 10), "A"),
        (2, " ".join(["w"] * 10), "B"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
    out = {r["source"]: r for r in mixture_weights(docs, alpha=0.5).collect()}
    assert out["A"]["n_docs"] == 2 and out["A"]["n_tokens"] == 30
    assert out["B"]["n_docs"] == 1 and out["B"]["n_tokens"] == 10
    assert out["A"]["raw_share"] == 0.75 and out["B"]["raw_share"] == 0.25
    # alpha=0.5: sqrt(.75)/(sqrt(.75)+sqrt(.25)) = 0.633975
    assert abs(out["A"]["weight"] - 0.633975) < 1e-6
    assert abs(out["A"]["weight"] + out["B"]["weight"] - 1.0) < 1e-6
    # alpha=1 preserves natural proportions
    nat = {r["source"]: r["weight"] for r in mixture_weights(docs, alpha=1.0).collect()}
    assert nat == {"A": 0.75, "B": 0.25}


def test_chunk_documents_coverage_and_overlap(spark):
    from ala_name_matching_spark.operators.sampling import chunk_documents

    text = " ".join(f"t{i}" for i in range(57))
    docs = spark.createDataFrame([(0, text), (1, "short doc only")],
                                 "doc_id bigint, text string")
    got = sorted(
        (r["chunk_idx"], r["chunk_text"].split()[0], r["n_tokens"])
        for r in chunk_documents(docs, chunk_tokens=32, stride=24)
        .filter("doc_id = 0").collect()
    )
    # starts at 1, 25, 49 (grid extended past n-chunk+1 to cover the tail)
    assert got == [(0, "t0", 32), (1, "t24", 32), (2, "t48", 9)]
    # coverage: every token appears in at least one chunk
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24).filter("doc_id = 0")
    seen = set()
    for r in chunks.collect():
        seen.update(r["chunk_text"].split())
    assert seen == {f"t{i}" for i in range(57)}
    # sub-chunk doc -> exactly one whole-text chunk
    short = (
        chunk_documents(docs, chunk_tokens=32, stride=24)
        .filter("doc_id = 1")
        .collect()
    )
    assert len(short) == 1 and short[0]["n_tokens"] == 3


def test_weighted_sample_exact_k_and_determinism(spark):
    """A-ES draws exactly k rows, reproducibly, ranks 0..k-1."""
    import pandas as pd

    from ala_name_matching_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        pd.DataFrame({"id": range(500), "w": [1.0 + (i % 7) for i in range(500)]})
    )
    a = weighted_sample(df, "id", "w", k=50)
    got = sorted((r["id"], r["es_rank"]) for r in a.collect())
    again = sorted(
        (r["id"], r["es_rank"])
        for r in weighted_sample(df, "id", "w", k=50).collect()
    )
    assert got == again
    assert len(got) == 50
    assert sorted(r for _, r in got) == list(range(50))


def test_weighted_sample_weight_dominance_and_zero_exclusion(spark):
    """A huge weight pins its key near 0 (the max) -> always drawn; rows
    with weight <= 0 are never drawn; changing salt redraws."""
    import pandas as pd

    from ala_name_matching_spark.operators.sampling import weighted_sample

    pdf = pd.DataFrame({"id": range(200), "w": [1.0] * 200})
    pdf.loc[7, "w"] = 1e12     # ln(u)/1e12 ~ 0 -> top rank
    pdf.loc[13, "w"] = 0.0     # excluded
    pdf.loc[14, "w"] = -3.0    # excluded
    df = spark.createDataFrame(pdf)
    ids = {r["id"] for r in weighted_sample(df, "id", "w", k=20).collect()}
    assert 7 in ids
    assert 13 not in ids and 14 not in ids
    other = {
        r["id"]
        for r in weighted_sample(df, "id", "w", k=20, salt="aes-v2").collect()
    }
    assert 7 in other  # dominance survives any salt
    assert ids != other  # but the uniform draw changes


def test_weighted_sample_per_group_quota_and_determinism(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(60),
            "lang": ["en"] * 40 + ["de"] * 15 + ["fr"] * 5,
            "w": [1 + (i % 7) for i in range(60)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = weighted_sample_per_group(df, "w", k=10, group_col="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # quota: min(k, group size) per group; ranks 0..n-1 within group
    assert len(by_lang["en"]) == 10
    assert len(by_lang["de"]) == 10
    assert len(by_lang["fr"]) == 5
    for rs in by_lang.values():
        assert sorted(r["es_rank"] for r in rs) == list(range(len(rs)))
    # deterministic across runs
    again = weighted_sample_per_group(df, "w", k=10, group_col="lang").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_weighted_sample_per_group_matches_naive_window(spark):
    """The salted two-stage top-k must be OUTPUT-IDENTICAL to the naive
    group-window rank (A-ES keys + id tie-break are a total order, and
    every group-top-k row is in its own salt partition's top-k, so stage 1
    never drops a winner) -- the de-skew is a plan change only."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.sampling import (
        _es_key,
        weighted_sample_per_group,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(500),
            "lang": ["en"] * 400 + ["de"] * 80 + ["fr"] * 20,
            "w": [1 + (i % 11) for i in range(500)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = sorted(
        (r["lang"], r["doc_id"], r["es_rank"])
        for r in weighted_sample_per_group(
            df, "w", k=15, group_col="lang", n_salts=7
        ).collect()
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    naive = sorted(
        (r["lang"], r["doc_id"], r["es_rank"])
        for r in df.where(F.col("w") > 0)
        .withColumn("es_key", _es_key("doc_id", "w", "aes-v1"))
        .withColumn("es_rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("es_rank") < 15)
        .collect()
    )
    assert got == naive


def test_weighted_sample_per_group_no_unbounded_group_window(spark):
    """Plan-shape guard (VERDICT r04 #2): the window that runs over the
    UNBOUNDED input (the bottom-most Window in the physical plan) must
    partition by (group, _salt), never by the group alone -- the
    group-only window is allowed only over the stage-1-pruned
    <= n_salts*k rows per group."""
    import re

    import pandas as pd

    from ala_name_matching_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "lang": ["en"] * 190 + ["de"] * 10,
            "w": [1.0 + i for i in range(200)],
        }
    )
    out = weighted_sample_per_group(
        spark.createDataFrame(pdf), "w", k=5, group_col="lang"
    )
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2, plan
    # plan text is top-down: the LAST spec is the bottom-most window --
    # the one fed by the raw (unbounded) input -- and must be salted
    assert "_salt" in specs[-1], plan
    assert "_salt" not in specs[0], plan


def test_weighted_sample_drops_nonpositive_weights(spark):
    """A-ES gives a weight <= 0 (or NULL) zero mass: both sampler lanes
    drop such rows silently."""
    import pandas as pd

    from ala_name_matching_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_per_group,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(20), "lang": ["en"] * 20, "w": [1.0] * 18 + [0.0, -1.0]}
    )
    df = spark.createDataFrame(pdf)
    assert len(weighted_sample(df, "doc_id", "w", k=25).collect()) == 18
    assert (
        len(
            weighted_sample_per_group(df, "w", k=25, group_col="lang").collect()
        )
        == 18
    )
    nulls = spark.createDataFrame(
        [(i, "en", None if i == 3 else 1.0) for i in range(20)],
        "doc_id long, lang string, w double",
    )
    assert len(weighted_sample(nulls, "doc_id", "w", k=25).collect()) == 19
