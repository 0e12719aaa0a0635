"""Error-code catalog: the reference's ErrorType enum mapped to this
engine's transcript-domain codes (ErrorType.java:26-80; threaded through
searches by performErrorCheckSearch, ALANameSearcher.java:660-682).

One authoritative table so every code any operator emits is documented with
its reference analog; tests/test_validation.py scans the operator sources
and asserts no stray code literal exists outside this catalog. An empty
error_codes array is ErrorType.NONE ("noIssue").
"""

from __future__ import annotations

# code -> (reference ErrorType + line, emitted by, meaning here)
ERROR_CATALOG: dict[str, tuple[str, str, str]] = {
    "QUESTION": (
        "QUESTION_SPECIES (ErrorType.java:38)",
        "operators/phrase.issue_flags_col -> ladder error_codes",
        "turn text contains '?' -- low-confidence identification marker",
    ),
    "FORWARDED": (
        "AFFINITY_SPECIES / CONFER_SPECIES (ErrorType.java:42,46)",
        "operators/phrase.issue_flags_col -> ladder error_codes",
        "re:/fwd: prefix -- the text refers to another turn (aff./cf. analog)",
    ),
    "TRUNCATED": (
        "INDETERMINATE_SPECIES (ErrorType.java:34)",
        "operators/phrase.issue_flags_col -> ladder error_codes",
        "trailing ellipsis -- indeterminate text, exact match unlikely",
    ),
    "SHOUT": (
        "GENERIC (ErrorType.java:54)",
        "operators/phrase.issue_flags_col -> ladder error_codes",
        "all-caps formatting anomaly (generic suspicious-input signal)",
    ),
    "HOMONYM": (
        "HOMONYM (ErrorType.java:50)",
        "operators/ladder.search_ladder; operators/pairs homonym gate",
        "candidate passed the score gate but was rejected ONLY by the "
        "role-context conflict and no other candidate matched",
    ),
    "EXCLUDED": (
        "EXCLUDED (ErrorType.java:63)",
        "operators/ladder.search_ladder best-match flag",
        "matched row is marked excluded from the index",
    ),
    "ASSOCIATED_EXCLUDED": (
        "ASSOCIATED_EXCLUDED (ErrorType.java:67)",
        "operators/ladder.search_ladder sibling flag",
        "best match is clean but an excluded qualifying sibling existed",
    ),
    "MISAPPLIED": (
        "MISAPPLIED (ErrorType.java:76)",
        "operators/validation.misapplied_resolution",
        "every candidate sense is misapplied and no unique target exists",
    ),
    "MISAPPLIED_PARTIAL": (
        "MATCH_MISAPPLIED (ErrorType.java:72)",
        "operators/validation.misapplied_resolution",
        "an accepted sense exists alongside misapplied history -- matched, "
        "flagged",
    ),
    "MISAPPLIED_RESOLVED": (
        "MATCH_MISAPPLIED (ErrorType.java:72)",
        "operators/validation.misapplied_resolution",
        "all senses misapplied but they agree on one target -- resolved to it",
    ),
    "NO_MATCH": (
        "(MetricsResultDTO null result; SPECIES_PLURAL's reject outcome, "
        "ErrorType.java:30)",
        "operators/ladder.search_ladder",
        "no tier produced a qualifying candidate",
    ),
}

# match_type values are a separate vocabulary (MatchType.java analog), kept
# here so the catalog test can tell codes from types.
MATCH_TYPES = {"EXACT", "CANONICAL", "PHONETIC", "PHRASE", "ALIAS", "NO_MATCH"}
