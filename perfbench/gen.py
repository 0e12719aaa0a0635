"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, scale): the same seed
gives byte-identical parquet files. The program under test only ever sees
the files written here; the gold columns and truth tables are read back by
the benchmark's own output checks.

  er_small      transcript turns with planted duplicate groups and a gold
                `entity_id` (the error classes of the repo's transcript
                fixture: (a) case, (b) unicode punctuation, (c) phonetic
                misspelling, (d) marker tokens, (e) author suffix, (f)
                species-suffix class swap), one hot entity, placeholder
                turns and adversarial homonym groups.
  stream_match  a static index of canon-unique turns plus query files, one
                micro-batch per FILES_PER_BATCH files, with the expected
                ladder outcome of each query (EXACT / CANONICAL+QUESTION /
                NO_MATCH).
  clean_docs    documents drawn from the model of the test data's
                `documents` table (DOC_VOCAB below), with planted exact
                twins, near twins, a shared boilerplate span and junk rows.

Run as a script: python3 -m perfbench.gen --workload W --seed N --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the streaming file source reads this many files per trigger
# (streaming/incremental.read_transcript_stream)
FILES_PER_BATCH = 4

ER_TURNS = 120_000
STREAM_INDEX = 5_000
STREAM_BATCH = 200  # index / batch = 25
STREAM_BATCHES = 2
CLEAN_DOCS = 1_000

HOT_ENTITY_SHARE = 0.05
PLACEHOLDER_EVERY = 97
HOMONYM_ENTITIES = 5

_SUBJECTS = [
    "customer", "agent", "deploy", "invoice", "cluster", "pipeline", "ticket",
    "release", "database", "metric", "schema", "payment", "vendor", "account",
    "session", "token", "backup", "replica", "shard", "status",
]
_VERBS = [
    "restarted", "escalated", "reconciled", "migrated", "flagged", "resolved",
    "archived", "validated", "rejected", "throttled", "reindexed", "merged",
]
_OBJECTS = [
    "the billing report", "the kubernetes pod", "the quarterly summary",
    "the customer record", "the audit trail", "the search index",
    "the export job", "the retry queue", "the staging table",
    "the access policy", "the usage dashboard", "the shipment manifest",
]
_ROLES = ["user", "assistant", "tool"]
_TOOLS = [None, "search", "sql", "browser", "calc"]
# key-preserving phonetic perturbations (same fold classes as the fixture)
_PHONETIC_SWAPS = [
    ("e", "ae"), ("ae", "e"), ("oe", "e"), ("y", "i"), ("i", "y"),
    ("k", "c"), ("c", "k"), ("ll", "l"), ("t", "tt"), ("n", "nn"),
]

_TS0 = np.datetime64("2026-01-01T00:00:00", "us")


def _h(seed: int, *parts) -> int:
    """Deterministic 64-bit int from (seed, parts), stable across processes."""
    b = "|".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "big")


def _turn_table(conv, turn, role, text, tool, extra: dict | None = None) -> pa.Table:
    n = len(text)
    cols = {
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(_TS0 + np.arange(n).astype("timedelta64[s]"), pa.timestamp("us")),
    }
    for k, v in (extra or {}).items():
        cols[k] = pa.array(v)
    return pa.table(cols)


def _write(tbl: pa.Table, path: str, n_files: int) -> None:
    """Write `tbl` as `n_files` parquet parts under directory `path`."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(tbl) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- er_small


def _base_text(seed: int, entity: int) -> str:
    r = _h(seed, "base", entity)
    s = _SUBJECTS[r % len(_SUBJECTS)]
    v = _VERBS[(r >> 8) % len(_VERBS)]
    o = _OBJECTS[(r >> 16) % len(_OBJECTS)]
    return f"The {s} {v} {o} after request {1000 + entity % 9000} was reviewed"


def _perturb(seed: int, text: str, variant: int, entity: int) -> str:
    r = _h(seed, "perturb", entity, variant)
    kind = variant % 7
    if kind == 0:
        return text
    if kind == 1:  # (a) case change
        return [text.upper(), text.lower(), text.title()][r % 3]
    if kind == 2:  # (b) unicode punctuation
        out = text.replace(" ", " ", 1).replace("after", "after –", 1)
        return out.replace("request", "‘request’", 1)
    if kind == 3:  # (c) phonetic misspelling in one word
        a, b = _PHONETIC_SWAPS[r % len(_PHONETIC_SWAPS)]
        words = text.split()
        i = 1 + (r >> 8) % (len(words) - 1)
        if a in words[i].lower():
            words[i] = words[i].lower().replace(a, b, 1)
        return " ".join(words)
    if kind == 4:  # (d) marker token
        return ("Re: " if r % 2 else "Fwd: ") + text
    if kind == 5:  # (e) author-style suffix
        return f"{text} [sic] {chr(ord('A') + r % 26)}. Smith"
    # (f) species-suffix class swap on a key slot 2..6 token
    words = text.split()
    for i in range(1, min(6, len(words))):
        if words[i].lower().endswith(("us", "is")):
            words[i] = words[i][:-2] + "as"
            return " ".join(words)
    return text.upper()


def er_turns(seed: int, n_turns: int) -> pa.Table:
    """Transcript turns with gold `entity_id` (unique base text per entity)."""
    n_entities = max(20, n_turns // 20)
    if n_entities > 9000:
        raise ValueError("base texts are unique only up to 9000 entities")
    hot_rows = max(2, int(n_turns * HOT_ENTITY_SHARE))
    conv, turn, role, text, tool, gold = [], [], [], [], [], []
    for i in range(n_turns):
        r = _h(seed, "row", i)
        if i % PLACEHOLDER_EVERY == 0:
            # placeholder: never merges, so it is its own gold entity
            e, t, ro, to = -i - 1, ["", "   ", "?", "...", "-"][r % 5], _ROLES[r % 3], None
        elif i < hot_rows:
            e, ro, to = 0, "assistant", "sql"
            t = _perturb(seed, _base_text(seed, 0), i % 7, 0)
        else:
            e = 1 + r % (n_entities - 1)
            if e <= HOMONYM_ENTITIES:
                # identical text, conflicting role: two gold entities
                sub = (r >> 32) % 2
                t, ro, to = _base_text(seed, e), ("user", "tool")[sub], None
                e = e * 10_000 + sub
            else:
                t = _perturb(seed, _base_text(seed, e), (r >> 16) % 7, e)
                ro = _ROLES[_h(seed, "role", e) % 3]
                to = _TOOLS[_h(seed, "tool", e) % len(_TOOLS)]
        conv.append(f"c{i // 20:08d}")
        turn.append(i % 20)
        role.append(ro)
        text.append(t)
        tool.append(to)
        gold.append(e)
    return _turn_table(conv, turn, role, text, tool, {"entity_id": pa.array(gold, pa.int64())})


# ------------------------------------------------------------ stream_match

_SYLLABLES = [
    "ba", "ko", "ri", "mel", "dun", "sa", "tor", "vi", "len", "gar", "pu", "zen",
    "fo", "ral", "mi", "den", "cas", "tu", "ber", "no", "lim", "ska", "won", "hep",
]


def _vocab(n: int) -> list[str]:
    """A fixed vocabulary of n distinct pronounceable words."""
    out: list[str] = []
    k = len(_SYLLABLES)
    for j in range(k * k * k):
        i = j * 7919 % (k * k * k)  # stride through the space: varied endings
        w = _SYLLABLES[i % k] + _SYLLABLES[(i // k) % k] + _SYLLABLES[(i // k // k) % k]
        if w not in out:
            out.append(w)
        if len(out) == n:
            return out
    raise ValueError("vocabulary too small")


def stream_inputs(seed: int, n_index: int, batch: int, n_batches: int):
    """(index, queries, truth). Index texts are canon-unique; each query is a
    verbatim copy of an index row (EXACT), a copy + ' ?' (CANONICAL, code
    QUESTION) or nonsense tokens (NO_MATCH)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(400))
    texts: list[str] = []
    seen: set[str] = set()
    lengths = rng.permutation(np.linspace(8, 14, n_index).round().astype(int))
    while len(texts) < n_index:
        t = " ".join(rng.choice(vocab, int(lengths[len(texts)])))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    roles = [_ROLES[x] for x in rng.integers(0, 3, n_index)]
    index = _turn_table(
        [f"i{k // 20:06d}" for k in range(n_index)],
        [k % 20 for k in range(n_index)],
        roles, texts, [None] * n_index,
    )
    n_q = batch * n_batches
    src = rng.choice(n_index, n_q, replace=False)
    kind = rng.permutation(np.repeat([0, 1, 2], [n_q - n_q // 5 - n_q // 10, n_q // 5, n_q // 10]))
    q_text, q_role, expect_type, expect_id, expect_q = [], [], [], [], []
    for k in range(n_q):
        s = int(src[k])
        if kind[k] == 2:
            junk = ["".join(rng.choice(list("qxzjvkw"), 5)) for _ in range(4)]
            q_text.append(" ".join(junk) + f" zq{k}")
            expect_type.append("NO_MATCH")
            expect_id.append(None)
        else:
            q_text.append(texts[s] + (" ?" if kind[k] == 1 else ""))
            expect_type.append("CANONICAL" if kind[k] == 1 else "EXACT")
            expect_id.append(f"i{s // 20:06d}#{s % 20}")
        expect_q.append(bool(kind[k] == 1))
        q_role.append(roles[s])
    q_conv = [f"s{k // 20:06d}" for k in range(n_q)]
    q_turn = [k % 20 for k in range(n_q)]
    queries = _turn_table(q_conv, q_turn, q_role, q_text, [None] * n_q)
    truth = pa.table({
        "query_id": [f"{c}#{t}" for c, t in zip(q_conv, q_turn)],
        "match_type": expect_type,
        "index_id": pa.array(expect_id, pa.string()),
        "question": expect_q,
    })
    return index, queries, truth


# --------------------------------------------------------------- clean_docs

# The model of the test data's `documents` table (5000 rows at sf0.1):
# uniform draws from these 30 words, 10-100 words a doc, 5% near twins made
# by appending " dup" to a copy, and 0.16% exact twins. Its only Gopher
# stopword is "the", so the c1 gate (two stopwords) drops every one of its
# docs; the base docs here get "the" and "of" inserted, so all pass c1.
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
CLEAN_BOILERPLATE = "subscribe newsletter clickhere freegift limitedoffer unsubscribe"
TWIN_OFFSET = 10_000_000
NEAR_OFFSET = 20_000_000
JUNK_OFFSET = 30_000_000


def clean_inputs(seed: int, n_docs: int):
    """(docs, plan). Base docs follow the `documents` table model above and
    all pass the quality gates; plan lists the plantings. Doc lengths and
    planting counts do not depend on the seed, so neither does the work."""
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    lengths = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    boiler = set(rng.choice(n_docs, n_docs // 10, replace=False).tolist())
    twins = set(rng.choice(n_docs, max(1, n_docs // 500), replace=False).tolist())
    nears = set(rng.choice(n_docs, n_docs // 20, replace=False).tolist())
    ids, texts = [], []
    for d in range(n_docs):
        while True:  # redraw the rare short doc under c1's mean word length 3
            words = list(rng.choice(vocab, int(lengths[d])))
            for sw in ("the", "of"):
                words.insert(int(rng.integers(0, len(words) + 1)), sw)
            if sum(map(len, words)) >= 3 * len(words):
                break
        t = " ".join(words) + (f" {CLEAN_BOILERPLATE}" if d in boiler else "")
        ids.append(d)
        texts.append(t)
        if d in twins:  # verbatim copy: c2 keeps the lower id
            ids.append(d + TWIN_OFFSET)
            texts.append(t)
        if d in nears:  # the table's near-twin form: one c3 cluster
            ids.append(d + NEAR_OFFSET)
            texts.append(t + " dup")
    junk = [JUNK_OFFSET + j for j in range(max(1, n_docs // 200))]
    for j in junk:  # three words: the c1 gate drops it
        ids.append(j)
        texts.append(" ".join(rng.choice(vocab, 3)))
    order = rng.permutation(len(ids))
    docs = pa.table({
        "doc_id": pa.array(np.array(ids, dtype="int64")[order]),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    plan = {"n_base": n_docs, "boiler": sorted(boiler), "twins": sorted(twins),
            "nears": sorted(nears), "junk": junk}
    return docs, plan


# -------------------------------------------------------------------- main


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> None:
    """Write the inputs of `workload` under directory `out`."""
    import json

    def n(x: int, lo: int) -> int:
        return max(lo, int(x * scale))

    if workload == "er_small":
        _write(er_turns(seed, n(ER_TURNS, 400)), os.path.join(out, "turns"), 8)
    elif workload == "stream_match":
        batch = n(STREAM_BATCH, 8)
        index, queries, truth = stream_inputs(seed, n(STREAM_INDEX, 25 * batch), batch, STREAM_BATCHES)
        _write(index, os.path.join(out, "index"), 4)
        _write(queries, os.path.join(out, "queries"), FILES_PER_BATCH * STREAM_BATCHES)
        pq.write_table(truth, os.path.join(out, "truth.parquet"))
    elif workload == "clean_docs":
        docs, plan = clean_inputs(seed, n(CLEAN_DOCS, 100))
        _write(docs, os.path.join(out, "docs"), 4)
        with open(os.path.join(out, "plan.json"), "w") as fh:
            json.dump(plan, fh)
    else:
        raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.scale)
