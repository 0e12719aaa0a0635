"""Conversation-grain dedup: near-dup reposts, re-scrape prefixes, the
boilerplate ledger. Planted fixtures with analytically-known answers."""

import pandas as pd
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.conversations import (
    conv_dup_turn_profile,
    conv_neardup_pairs,
    conv_prefix_pairs,
)


def _conv(conv_id, texts):
    return [
        {"conv_id": conv_id, "turn_idx": i, "text": t}
        for i, t in enumerate(texts)
    ]


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_neardup_exact_jaccard_and_threshold(spark):
    """a/b share 3 of 4 turns (J=3/5=0.6); a/c share 1 (J=1/7) -- only the
    first pair survives threshold 0.5, with the exact score."""
    rows = (
        _conv("a", ["one", "two", "three", "four"])
        + _conv("b", ["one", "two", "three", "FIVE"])
        + _conv("c", ["one", "x1", "x2", "x3"])
    )
    got = {
        (r["conv_l"], r["conv_r"], r["overlap"], r["jaccard"])
        for r in conv_neardup_pairs(_df(spark, rows), threshold=0.5).collect()
    }
    assert got == {("a", "b", 3, 0.6)}


def test_neardup_normalization_and_distinct_turns(spark):
    """Case/whitespace variants are the SAME turn; repeated turns within a
    conversation count once (set semantics): a == b exactly (J=1.0)."""
    rows = _conv("a", ["Hello World", "bye"]) + _conv(
        "b", ["  hello   world ", "BYE", "bye"]
    )
    got = conv_neardup_pairs(_df(spark, rows), threshold=0.99).collect()
    assert len(got) == 1
    assert got[0]["jaccard"] == 1.0 and got[0]["overlap"] == 2


def test_prefix_pairs_strict_and_order_sensitive(spark):
    """p is the first 2 turns of f (match); s has the SAME TURN SET as p in
    reversed order (no match -- prefixes are ordered); u is unrelated."""
    rows = (
        _conv("f", ["one", "two", "three", "four"])
        + _conv("p", ["one", "two"])
        + _conv("s", ["two", "one"])
        + _conv("u", ["five", "six"])
    )
    got = {
        (r["conv_prefix"], r["conv_full"], r["prefix_len"], r["full_len"])
        for r in conv_prefix_pairs(_df(spark, rows)).collect()
    }
    assert got == {("p", "f", 2, 4)}


def test_prefix_pairs_whole_duplicate_emitted_once(spark):
    """Two identical conversations: one row, canonical direction only."""
    rows = _conv("x2", ["a", "b"]) + _conv("x1", ["a", "b"])
    got = conv_prefix_pairs(_df(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["conv_prefix"], r["conv_full"]) == ("x1", "x2")
    assert r["prefix_len"] == r["full_len"] == 2


def test_prefix_chain(spark):
    """A 1-turn scrape, a 3-turn scrape, and the 5-turn capture form the
    full re-scrape chain: every shorter capture prefixes every longer one."""
    full = ["t0", "t1", "t2", "t3", "t4"]
    rows = _conv("c5", full) + _conv("c3", full[:3]) + _conv("c1", full[:1])
    got = {
        (r["conv_prefix"], r["conv_full"])
        for r in conv_prefix_pairs(_df(spark, rows)).collect()
    }
    assert got == {
        ("c1", "c3"),
        ("c1", "c5"),
        ("c3", "c5"),
    }


def test_dup_turn_profile_counts(spark):
    """b reuses 2 of a's 3 turns plus one unique turn: a has 2/3 shared,
    b 2/3, c (all unique) 0.0."""
    rows = (
        _conv("a", ["one", "two", "three"])
        + _conv("b", ["one", "two", "bonly"])
        + _conv("c", ["c0", "c1"])
    )
    got = {
        r["conv_id"]: (r["n_turns"], r["n_shared_turns"], r["dup_frac"])
        for r in conv_dup_turn_profile(_df(spark, rows)).collect()
    }
    assert got == {
        "a": (3, 2, 0.6667),
        "b": (3, 2, 0.6667),
        "c": (2, 0, 0.0),
    }


def test_planted_driver_inventory(spark):
    """The _conv_turns plant at sf0.001: pair counts follow analytically
    from the k % 5 / k % 7 schedule (documents are unique, so plants are
    the only signal)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    n_docs = entry._docs(spark, sf).count()
    n_convs = -(-n_docs // 10)
    vs = len([k for k in range(n_convs) if k % 5 == 0])
    rs = len([k for k in range(n_convs) if k % 7 == 0])
    both = len([k for k in range(n_convs) if k % 35 == 0])
    pairs = entry._q_conv_neardup_pairs(spark, sf).count()
    assert pairs == vs + rs + both
    prefixes = entry._q_conv_prefix_rescrape(spark, sf).count()
    assert prefixes == rs + both


def test_render_conversations_order_and_text_equality(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.conversations import (
        render_conversations,
    )

    rows = pd.DataFrame(
        {
            "conv_id": ["a", "a", "a", "b"],
            "turn_idx": [2, 0, 1, 0],
            "role": ["user", "assistant", "user", "user"],
            "text": ["third", "first", "second", "only"],
        }
    )
    out = {
        r["conv_id"]: r
        for r in render_conversations(spark.createDataFrame(rows)).collect()
    }
    # stable (conv_id, turn_idx) ordering regardless of input row order
    assert out["a"]["text"] == "assistant: first\nuser: second\nuser: third"
    assert out["a"]["n_turns"] == 3
    assert out["a"]["n_chars"] == len(out["a"]["text"])
    assert out["b"]["text"] == "user: only"
    # per-turn text equality: every turn's text appears verbatim
    for t in rows["text"]:
        assert t in out[rows[rows["text"] == t]["conv_id"].iloc[0]]["text"]


def test_extract_sft_pairs_adjacency(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.conversations import (
        extract_sft_pairs,
    )

    rows = pd.DataFrame(
        {
            "conv_id": ["a"] * 4 + ["b"] * 2,
            "turn_idx": [0, 1, 2, 3, 0, 1],
            "role": ["user", "assistant", "assistant", "user", "system", "assistant"],
            "text": ["q1", "a1", "a2", "q2", "sys", "a"],
        }
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (r["prompt"], r["response"])
        for r in extract_sft_pairs(spark.createDataFrame(rows)).collect()
    }
    # only assistant turns IMMEDIATELY preceded by a user turn qualify:
    # a/1 (q1->a1) yes; a/2 (prev assistant) no; b/1 (prev system) no
    assert got == {("a", 1): ("q1", "a1")}


def test_render_conversations_null_role_keeps_turn_text(spark):
    """A NULL role must not erase the turn: concat propagates NULL and
    array_join SKIPS null array elements, so an un-coalesced role would
    silently drop the turn's text while n_turns still counts it --
    breaking the per-turn text-equality invariant. The null-role line
    renders as ': text'."""
    import pandas as pd

    from ala_name_matching_spark.operators.conversations import (
        render_conversations,
    )

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user", None, "assistant"],
            "text": ["hello", "middle turn", "bye"],
        }
    )
    out = render_conversations(spark.createDataFrame(pdf)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_turns"] == 3
    assert r["text"] == "user: hello\n: middle turn\nassistant: bye"
    assert r["n_chars"] == len(r["text"])
