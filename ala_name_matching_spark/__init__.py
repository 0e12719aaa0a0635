"""ala_name_matching_spark — a from-scratch, PySpark-native entity-resolution engine.

Re-expresses the capabilities of AtlasOfLivingAustralia/ala-name-matching
(reference at /root/reference, studied for WHAT it computes, not HOW) as an
idiomatic Spark record-linkage pipeline over tables of multi-turn transcripts:

    normalize -> blocking keys (exact / canonical / phonetic tiers)
              -> salted, size-capped blocking joins
              -> vectorized pairwise scoring (Jaro-Winkler + Levenshtein + token-set)
              -> connected components + deterministic per-cluster
                 representative election (one engine: cluster_labels)

Layout:
    functions/  scalar & similarity functions (SURVEY.md §2.2, §2.4 A1)
    operators/  blocking, pairs, clustering, validation, dedup, ANN, text analysis
    sources/    synthetic transcript generator, readers, checkpoint manager
    plans/      end-to-end pipelines + evaluation (pairwise F1)
    streaming/  incremental matching via Structured Streaming
"""

__version__ = "0.1.0"
