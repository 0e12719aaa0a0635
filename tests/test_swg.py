"""Smith-Waterman-Gotoh kernel: hand goldens, brute-force DP cross-check,
properties, and the opt-in author-gate wiring."""

import random

import numpy as np
import pandas as pd
import pytest

from ala_name_matching_spark.functions.swg import swg_batch


def _swg_ref(a, b, match=5.0, mis=-3.0, op=5.0, ext=1.0):
    """Unvectorized textbook Gotoh local alignment (the spec)."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    H = [[0.0] * (lb + 1) for _ in range(la + 1)]
    E = [[float("-inf")] * (lb + 1) for _ in range(la + 1)]
    Fv = [[float("-inf")] * (lb + 1) for _ in range(la + 1)]
    best = 0.0
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            E[i][j] = max(H[i][j - 1] - op, E[i][j - 1] - ext)
            Fv[i][j] = max(H[i - 1][j] - op, Fv[i - 1][j] - ext)
            s = match if a[i - 1] == b[j - 1] else mis
            H[i][j] = max(0.0, H[i - 1][j - 1] + s, E[i][j], Fv[i][j])
            best = max(best, H[i][j])
    return min(1.0, best / (min(la, lb) * match))


def _swg(pairs):
    return swg_batch(pd.Series([a for a, _ in pairs]), pd.Series([b for _, b in pairs]))


def test_hand_goldens():
    got = _swg(
        [
            ("ABC", "ABC"),
            ("ABC", "ABD"),
            ("AXC", "ABC"),
            # one gap: open cost 5 eats one match
            ("AC", "ABC"),
            # local alignment: perfect substring scores 1 regardless of context
            ("ABCDEF", "CDE"),
            ("SMITH", "SMYTH"),
        ]
    )
    assert got == pytest.approx([1.0, 10 / 15, 7 / 15, 0.5, 1.0, 0.68])


def test_empty_and_null_conventions():
    got = _swg([("", ""), ("", "A"), ("A", ""), (None, "A")])
    assert got[:3].tolist() == [1.0, 0.0, 0.0]
    assert np.isnan(got[3])
    out = swg_batch(pd.Series([None, "X"]), pd.Series(["Y", None]))
    assert np.isnan(out).all()


def test_matches_reference_dp_on_random_inputs():
    random.seed(11)
    alph = "ABCD "
    a_list, b_list = [], []
    for _ in range(400):
        a_list.append("".join(random.choice(alph) for _ in range(random.randint(0, 14))))
        b_list.append("".join(random.choice(alph) for _ in range(random.randint(0, 14))))
    got = swg_batch(pd.Series(a_list), pd.Series(b_list))
    for a, b, g in zip(a_list, b_list, got):
        assert g == pytest.approx(_swg_ref(a, b), abs=1e-12), (a, b)


def test_symmetry_and_bounds():
    random.seed(13)
    pairs = [
        (
            "".join(random.choice("XYZW") for _ in range(random.randint(1, 10))),
            "".join(random.choice("XYZW") for _ in range(random.randint(1, 10))),
        )
        for _ in range(200)
    ]
    f = swg_batch(pd.Series([p[0] for p in pairs]), pd.Series([p[1] for p in pairs]))
    r = swg_batch(pd.Series([p[1] for p in pairs]), pd.Series([p[0] for p in pairs]))
    assert np.allclose(f, r)
    assert ((f >= 0.0) & (f <= 1.0)).all()


def test_cap_truncates_consistently():
    long = "A" * 100
    # cap means only the first 32 chars are compared
    assert _swg([(long, long), (long, "A" * 32 + "B" * 68)]).tolist() == [1.0, 1.0]


def test_author_gate_swg_waives_near_equal_tools(spark):
    from ala_name_matching_spark.operators.pairs import apply_pair_scores

    rows = [
        # same text, tools near-equal under SWG -> waived (no conflict)
        ("a", "b", "hello world", "hello world", "u", "u", "SQLRUNNER", "SQLRUNNERX"),
        # same text, tools disjoint -> conflict stands
        ("c", "d", "hello world", "hello world", "u", "u", "SQL", "BROWSER"),
    ]
    df = spark.createDataFrame(
        rows,
        "record_id_l string, record_id_r string, canon_text_l string, "
        "canon_text_r string, role_l string, role_r string, "
        "tool_l string, tool_r string",
    )
    out = {
        r["record_id_l"]: r["homonym_conflict"]
        for r in apply_pair_scores(df, has_tokens=False, author_metric="swg").collect()
    }
    assert out == {"a": False, "c": True}


def test_author_metric_validation():
    from ala_name_matching_spark.operators.pairs import apply_pair_scores

    with pytest.raises(ValueError):
        apply_pair_scores(None, author_metric="nope")
