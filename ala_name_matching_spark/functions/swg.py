"""Smith-Waterman-Gotoh local alignment similarity, batch-vectorized.

The reference's author gate scores with simmetrics' SmithWatermanGotoh
(MatchMetrics.java:117,165; ALANameSearcher.java:1381-1383, both on
uppercased strings); round 1-2 substituted Jaro-Winkler as the sanctioned
stand-in. This module closes the parity gap with a from-scratch
implementation of the PUBLISHED algorithm (Smith & Waterman 1981; Gotoh
1982 affine-gap recurrences), parameterized like the simmetrics defaults
the reference instantiates: substitution +5 match / -3 mismatch, affine
gap cost 5 + (k-1)*1, similarity normalized by min(|a|, |b|) * 5.
(Exact simmetrics windowing quirks are NOT reproduced -- behavior here is
pinned by this repo's golden tests, documented as an equivalent of the
published algorithm, not a port of the library.)

Recurrences (local alignment, zero floor):
    E[i][j] = max(H[i][j-1] - open, E[i][j-1] - extend)   (gap in b)
    F[i][j] = max(H[i-1][j] - open, F[i-1][j] - extend)   (gap in a)
    H[i][j] = max(0, H[i-1][j-1] + sub(a_i, b_j), E[i][j], F[i][j])
    score   = max over all (i, j) of H[i][j]
    sim     = score / (min(|a|, |b|) * match)   in [0, 1]

Vectorization: the DP is sequential in (i, j) but independent ACROSS
pairs, so the batch dimension is the numpy axis -- the i x j loop runs
at most SWG_CAP^2 = 1024 python iterations of whole-batch array ops,
per Arrow batch, not per pair. This kernel is for short name-shaped
fields (authors); it is deliberately NOT on the turn-text hot path,
where jw_vectorized remains the default (see pairs.py author_metric).

Edge conventions: both empty -> 1.0; exactly one empty -> 0.0 (no
alignment exists); inputs are truncated to SWG_CAP chars (authors are
short; the cap bounds the quadratic loop).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SWG_CAP = 32
MATCH = 5.0
MISMATCH = -3.0
GAP_OPEN = 5.0
GAP_EXTEND = 1.0


def _char_matrix(s: pd.Series, cap: int) -> tuple[np.ndarray, np.ndarray]:
    vals = s.fillna("").astype(str).str.slice(0, cap)
    lens = vals.str.len().to_numpy(dtype=np.int64)
    width = max(int(lens.max(initial=0)), 1)
    padded = vals.str.pad(width, side="right", fillchar="\x00")
    blob = "".join(padded.tolist())
    mat = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32).reshape(
        -1, width
    )
    return mat, lens


def swg_batch(
    a: pd.Series,
    b: pd.Series,
    match: float = MATCH,
    mismatch: float = MISMATCH,
    gap_open: float = GAP_OPEN,
    gap_extend: float = GAP_EXTEND,
    cap: int = SWG_CAP,
) -> np.ndarray:
    """Normalized SWG similarity for aligned series; NaN where either side
    is null."""
    n = len(a)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    null_mask = a.isna().to_numpy() | b.isna().to_numpy()
    ma, la = _char_matrix(a, cap)
    mb, lb = _char_matrix(b, cap)
    wa, wb = ma.shape[1], mb.shape[1]

    neg = -np.inf
    # rolling rows over j for the batch: H/E need only the previous row
    h_prev = np.zeros((n, wb + 1), dtype=np.float64)
    f_prev = np.full((n, wb + 1), neg, dtype=np.float64)
    best = np.zeros(n, dtype=np.float64)
    for i in range(wa):
        valid_i = i < la  # rows past a's real length must not contribute
        h_cur = np.zeros((n, wb + 1), dtype=np.float64)
        f_cur = np.empty((n, wb + 1), dtype=np.float64)
        f_cur[:, 0] = neg
        e = np.full(n, neg, dtype=np.float64)
        for j in range(wb):
            sub = np.where(ma[:, i] == mb[:, j], match, mismatch)
            e = np.maximum(h_cur[:, j] - gap_open, e - gap_extend)
            f_cur[:, j + 1] = np.maximum(
                h_prev[:, j + 1] - gap_open, f_prev[:, j + 1] - gap_extend
            )
            h = np.maximum.reduce(
                [
                    np.zeros(n),
                    h_prev[:, j] + sub,
                    e,
                    f_cur[:, j + 1],
                ]
            )
            # cells outside either string's real length stay 0 so they
            # never feed `best` or later rows
            h = np.where(valid_i & (j < lb), h, 0.0)
            h_cur[:, j + 1] = h
            np.maximum(best, h, out=best)
        h_prev, f_prev = h_cur, f_cur

    denom = np.minimum(la, lb).astype(np.float64) * match
    with np.errstate(invalid="ignore", divide="ignore"):
        sim = np.where(denom > 0, best / np.maximum(denom, 1.0), 0.0)
    both_empty = (la == 0) & (lb == 0)
    sim = np.where(both_empty, 1.0, sim)
    sim = np.where(null_mask, np.nan, sim)
    return np.clip(sim, 0.0, 1.0)


def swg_udf():
    """Arrow-batched pandas UDF column: SWG similarity of two string cols.

    Built lazily (a function, not a module-level UDF) so importing swg.py
    never requires an active session. Uppercases both sides first --
    MatchMetrics.java:165 / ALANameSearcher.java:1383 call
    getSimilarity(expected.toUpperCase(), actual.toUpperCase()).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _series(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            swg_batch(
                a.astype("string").str.upper(),
                b.astype("string").str.upper(),
            )
        )

    return F.pandas_udf(_series, T.DoubleType())
