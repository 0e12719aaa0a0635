"""asof_join semantics: backward-inclusive, per-key, tie-break, tolerance."""

import pandas as pd

from ala_name_matching_spark.operators.temporal import asof_join


def _mk(spark, rows, cols):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_asof_basic_and_unmatched(spark):
    left = _mk(
        spark,
        [(1, pd.Timestamp("2024-01-01 00:10"), "l0"),
         (1, pd.Timestamp("2024-01-01 00:30"), "l1"),
         (2, pd.Timestamp("2024-01-01 00:05"), "l2")],
        ["k", "ts", "lv"],
    )
    right = _mk(
        spark,
        [(1, pd.Timestamp("2024-01-01 00:00"), 10),
         (1, pd.Timestamp("2024-01-01 00:20"), 11),
         (2, pd.Timestamp("2024-01-01 00:06"), 12)],  # AFTER l2 -> no match
        ["k", "ts", "rv"],
    )
    out = {r["lv"]: r["r_rv"] for r in asof_join(left, right, on="k").collect()}
    assert out == {"l0": 10, "l1": 11, "l2": None}


def test_asof_equal_ts_inclusive_and_tiebreak(spark):
    ts = pd.Timestamp("2024-01-01 00:10")
    left = _mk(spark, [(1, ts, "l0")], ["k", "ts", "lv"])
    right = _mk(
        spark,
        [(1, ts, 7), (1, ts, 9)],  # equal timestamps: max tiebreak wins
        ["k", "ts", "rv"],
    )
    out = asof_join(left, right, on="k", tiebreak="rv").collect()
    assert out[0]["r_rv"] == 9  # inclusive at equal ts, last under tiebreak


def test_rollup_cascade_matches_direct(spark):
    """Cascade (hour from minute, day from hour) == direct per-resolution
    GROUP BYs over raw -- the re-aggregability contract."""
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.temporal import rollup_cascade

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    spark.catalog.clearCache()  # other tests' caches share this session
    cascade = rollup_cascade(e)
    # the persisted levels are released before the call returns
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got = {
        (r["resolution"], r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in cascade.collect()
    }
    for res in ["minute", "hour", "day"]:
        direct = {
            (res, r["b"], r["event_type"]): (r["n"], r["sv"])
            for r in e.groupBy(F.date_trunc(res, "ts").alias("b"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
            .collect()
        }
        sub = {k: v for k, v in got.items() if k[0] == res}
        assert sub == direct


def test_scd2_intervals_contiguous(spark):
    """Versions tile the timeline per key: from < to, next.from == prev.to,
    exactly one current row per key."""
    from collections import defaultdict

    from ala_name_matching_spark.operators.temporal import scd2_intervals

    rows = [
        (1, pd.Timestamp("2024-01-01"), "a"),
        (1, pd.Timestamp("2024-02-01"), "b"),
        (1, pd.Timestamp("2024-03-01"), "c"),
        (2, pd.Timestamp("2024-01-15"), "x"),
    ]
    df = _mk(spark, rows, ["k", "ts", "attr"])
    out = scd2_intervals(df, key_cols="k").collect()
    by_key = defaultdict(list)
    for r in sorted(out, key=lambda r: (r["k"], r["effective_from"])):
        by_key[r["k"]].append(r)
    assert [r["attr"] for r in by_key[1]] == ["a", "b", "c"]
    for versions in by_key.values():
        assert sum(r["is_current"] for r in versions) == 1
        assert versions[-1]["effective_to"] is None
        for prev, nxt in zip(versions, versions[1:]):
            assert prev["effective_to"] == nxt["effective_from"]


def test_gap_fill_forward_fills_missing_buckets(spark):
    import datetime as dt

    from ala_name_matching_spark.operators.temporal import gap_fill

    t0 = dt.datetime(2026, 1, 1, 10, 0, 30)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(minutes=3), 40.0),  # minutes 1,2 missing
        (2, t0, 7.0),                             # single-bucket key
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    got = {
        (r["user_id"], r["bucket_ts"].minute): (r["value"], r["filled"])
        for r in gap_fill(ev).collect()
    }
    assert got[(1, 0)] == (10.0, False)
    assert got[(1, 1)] == (10.0, True)   # carried forward
    assert got[(1, 2)] == (10.0, True)
    assert got[(1, 3)] == (40.0, False)
    assert got[(2, 0)] == (7.0, False)
    assert len(got) == 5  # grid never extends past a key's own bounds


def test_funnel_ordering_and_ties(spark):
    import datetime as dt

    import pandas as pd
    import pytest

    from ala_name_matching_spark.operators.temporal import funnel_stages

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # user 2: click BEFORE view -> stalls at view
        (2, t(5), "click"), (2, t(6), "view"),
        # user 3: same-instant click does not advance (strict >)
        (3, t(0), "view"), (3, t(0), "click"),
        # user 4: never views -> not in funnel at all
        (4, t(0), "purchase"),
    ]
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
    )
    out = {r["stage"]: r for r in
           funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 1
    assert out["purchase"]["n_users"] == 1
    assert out["click"]["conversion"] == pytest.approx(1 / 3, abs=1e-6)


def test_cohort_retention_triangle(spark):
    import datetime as dt

    import pandas as pd

    from ala_name_matching_spark.operators.temporal import cohort_retention

    mon = dt.datetime(2024, 1, 1)  # a Monday
    wk = dt.timedelta(days=7)
    rows = [
        (1, mon), (1, mon + wk), (1, mon + 2 * wk),
        (2, mon), (2, mon + 2 * wk),
        (3, mon + wk),
    ]
    ev = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts"]))
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert out[(mon, 0)] == 2
    assert out[(mon, 1)] == 1
    assert out[(mon, 2)] == 2
    assert out[(mon + wk, 0)] == 1
    assert len(out) == 4


def test_event_transitions_counts_and_probs(spark):
    import datetime as dt

    import pandas as pd
    import pytest

    from ala_name_matching_spark.operators.temporal import event_transitions

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, 1, t(0), "a"), (2, 1, t(1), "b"), (3, 1, t(2), "a"),
        (4, 2, t(0), "a"), (5, 2, t(1), "a"),
        # same timestamp: event_id order decides (6 then 7)
        (6, 3, t(0), "a"), (7, 3, t(0), "c"),
    ]
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type"])
    )
    out = {
        (r["from_type"], r["to_type"]): r
        for r in event_transitions(ev).collect()
    }
    assert out[("a", "b")]["n"] == 1
    assert out[("b", "a")]["n"] == 1
    assert out[("a", "a")]["n"] == 1
    assert out[("a", "c")]["n"] == 1
    # from 'a': 3 outgoing transitions
    assert out[("a", "b")]["prob"] == pytest.approx(1 / 3, abs=1e-6)


def test_rfm_segments_quintiles(spark):
    import datetime as dt

    import pandas as pd

    from ala_name_matching_spark.operators.temporal import rfm_segments

    rows = []
    # 10 users: user i purchases i times, last purchase i days before max,
    # each purchase worth 10*i
    for u in range(1, 11):
        for j in range(u):
            rows.append(
                (
                    u * 100 + j,
                    u,
                    dt.datetime(2024, 1, 31) - dt.timedelta(days=u - 1),
                    "purchase",
                    float(10 * u),
                )
            )
    ev = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
        )
    )
    out = {r["user_id"]: r for r in rfm_segments(ev).collect()}
    # user 10: most frequent + highest monetary but most stale
    assert out[10]["f_q"] == 1 and out[10]["m_q"] == 1 and out[10]["r_q"] == 5
    # user 1: freshest, least frequent, lowest spend
    assert out[1]["r_q"] == 1 and out[1]["f_q"] == 5 and out[1]["m_q"] == 5
    assert out[1]["rfm_code"] == 155
    # 10 users over 5 quintiles -> 2 per quintile on each axis
    from collections import Counter

    assert Counter(r["r_q"] for r in out.values()) == {q: 2 for q in range(1, 6)}
