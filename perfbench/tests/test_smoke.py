"""Tiny-size runs of every workload through the real command line, plus the
generator and output-check helpers they rely on."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import gen
from perfbench.workloads import WORKLOADS, pairwise_f1, planted_recall

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _session_procs(sid: int) -> list[int]:
    procs = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:  # ended meanwhile
            continue
        if int(st[st.rindex(")") + 2:].split()[3]) == sid:
            procs.append(int(d))
    return procs


def _run(workload: str, trace: int) -> dict:
    # its own session, so whatever the run starts can be found afterwards
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True,
    )
    out, _ = p.communicate(timeout=600)
    assert p.returncode == 0
    assert _session_procs(p.pid) == []  # the run stopped every process it started
    return json.loads(out.strip().splitlines()[-1])


def test_spec_names_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_smoke(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_smoke():
    res = _run("stream_match", 1)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert res["metrics"]["ladder.search_ladder.jobs"]["value"] > 0


def test_generator_is_seeded(tmp_path):
    for seed in (1, 1, 2):
        gen.generate("clean_docs", seed, str(tmp_path / str(seed)), scale=0.1)
    read = lambda s: pd.read_parquet(tmp_path / str(s) / "docs").sort_values("doc_id")  # noqa: E731
    assert read(1).equals(read(1))
    a, b = gen.stream_inputs(5, 100, 4, 1), gen.stream_inputs(5, 100, 4, 1)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not gen.er_turns(1, 200).equals(gen.er_turns(2, 200))


def test_pairwise_f1_matches_brute_force():
    cluster = pd.Series([1, 1, 1, 2, 2, 3], index=list("abcdef"))
    entity = pd.Series([9, 9, 8, 8, 8, 7], index=list("abcdef"))
    ids = list(cluster.index)
    pairs = [(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]]
    tp = sum(cluster[x] == cluster[y] and entity[x] == entity[y] for x, y in pairs)
    pred = sum(cluster[x] == cluster[y] for x, y in pairs)
    gold = sum(entity[x] == entity[y] for x, y in pairs)
    p, r = tp / pred, tp / gold
    assert pairwise_f1(cluster, entity) == pytest.approx(2 * p * r / (p + r))


def test_planted_recall():
    plan = {"n_base": 3, "boiler": [0], "twins": [1], "nears": [2], "junk": [gen.JUNK_OFFSET]}
    good = {0: "a b", 1: "c d", gen.NEAR_OFFSET + 2: "e f"}
    assert planted_recall(plan, good) == 1.0
    assert planted_recall(plan, {**good, 1 + gen.TWIN_OFFSET: "c d"}) == 0.75
    assert planted_recall(plan, {**good, 0: "a " + gen.CLEAN_BOILERPLATE}) == 0.75
    assert planted_recall(plan, {k: v for k, v in good.items() if k != 1}) == 0.0
