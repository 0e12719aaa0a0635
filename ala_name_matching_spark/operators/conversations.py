"""Conversation-level deduplication over transcript tables.

The transcripts axis' unit of reuse is rarely the single turn: scraped chat
logs repeat as whole CONVERSATIONS -- re-scrapes of the same thread caught at
different times (a strict turn-prefix of a longer capture), reposts with a
few turns edited, and canned-response boilerplate shared across threads.
Turn-level near-dup (operators/dedup.py) misses all three because each turn
is individually unremarkable; these operators lift the signal to the
conversation grain.

Design (all three are linear in total turns, no all-pairs product):

* a turn FINGERPRINT is md5 of the whitespace-folded lowercase text -- the
  same normalization as the token lane (dedup.tokens_col), so "same turn"
  means same content modulo case/spacing;
* `conv_neardup_pairs` joins conversations ON A SHARED FINGERPRINT (the
  inverted-index discipline: candidates must share >= 1 turn, so the join
  key is the rare fingerprint, never the conversation) and filters the
  pair-overlap counts to threshold Jaccard -- exact, like
  dedup.ngram_jaccard_pairs at the document grain;
* `conv_prefix_pairs` finds re-scrape chains with PREFIX HASHES: each
  conversation's ordered fingerprint sequence contributes one rolling
  md5 per prefix length, and "A is a prefix of B" becomes an equi-join of
  A's full-sequence hash against B's exploded prefix hashes -- sum(len)
  rows total, zero pairwise comparisons;
* `conv_dup_turn_profile` is the per-conversation boilerplate ledger:
  fraction of distinct turns that also appear in >= 1 other conversation
  (one fingerprint-df groupBy + a join back).

At 100 TB: every join here keys on a 128-bit content hash. For
`conv_neardup_pairs` a fingerprint shared by n conversations (greetings,
empty turns) is a hot key of the fingerprint self-join and yields n^2/2
candidate rows; the set semantics are exact, with no boilerplate cap.
Prefix hashes are unique-by-
construction below md5 collision odds. Conversation sequences are
collected per conv_id -- bounded by the longest conversation, not the
corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def render_conversations(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(conv_id, n_turns, n_chars, text): assemble each conversation into
    ONE training-document string under stable turn ordering -- the step
    that turns a turn-grain transcript table into documents an LLM data
    pipeline can pack, dedup, and score (the per-turn text equality
    invariant carries through verbatim: each turn's text appears exactly
    once, unmodified, in order).

    Per-turn line = "{role}: {text}". The fold is the repo's sorted-fold
    contract: collect_list(struct(turn_idx, line)) -> sort_array -> join, a total
    order because (conv_id, turn_idx) is unique by contract -- so the
    result is task-scheduling-independent and replays as DuckDB
    string_agg(line, sep ORDER BY turn_idx).

    SCALE: one partially-aggregated shuffle on conv_id; the text payload
    rides it exactly once (assembling documents is the one job where the
    payload MUST move). Conversation length bounds the per-group state,
    not the corpus.
    """
    # role is coalesced like text: a NULL role must yield ": text", not a
    # NULL line -- concat propagates NULL and array_join SKIPS null
    # elements, which would silently drop the whole turn's text while
    # n_turns still counts it, breaking the "each turn's text appears
    # exactly once" invariant.
    text = F.coalesce(F.col(text_col), F.lit(""))
    line = F.concat(F.coalesce(F.col(role_col), F.lit("")), F.lit(": "), text)
    return (
        turns.groupBy(F.col(conv_col).alias("conv_id"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col(idx_col).alias("i"), line.alias("l")
                            )
                        )
                    ),
                    lambda s: s["l"],
                ),
                sep,
            ).alias("text"),
        )
        .select(
            "conv_id",
            "n_turns",
            F.length("text").cast("long").alias("n_chars"),
            "text",
        )
    )


def extract_sft_pairs(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """(conv_id, turn_idx, prompt, response): supervised fine-tuning pair
    extraction -- every `response_role` turn immediately preceded (by
    turn_idx order within its conversation) by a `prompt_role` turn
    yields one training pair; turn_idx is the RESPONSE turn's index.

    The standard instruction-data mining step over chat transcripts:
    adjacent user->assistant exchanges become (prompt, response) rows,
    multi-turn context handling deferred to render_conversations (whole
    -conversation documents) -- the two ops together cover the single
    -exchange and full-context SFT formats.

    SCALE: one lag() window PARTITIONED by conversation (never global) --
    a single shuffle on conv_id, per-group state bounded by conversation
    length. Deterministic: (conv_id, turn_idx) is unique by contract, so
    lag's order is total; replays as DuckDB lag(...) OVER (PARTITION BY
    conv ORDER BY idx).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev_role = F.lag(F.col(role_col)).over(w)
    prev_text = F.lag(F.col(text_col)).over(w)
    return (
        turns.select(
            F.col(conv_col).alias("conv_id"),
            F.col(idx_col).alias("turn_idx"),
            F.col(role_col).alias("_role"),
            F.col(text_col).alias("_text"),
            prev_role.alias("_prev_role"),
            prev_text.alias("_prev_text"),
        )
        .where(
            (F.col("_role") == response_role)
            & (F.col("_prev_role") == prompt_role)
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("_prev_text").alias("prompt"),
            F.col("_text").alias("response"),
        )
    )


def turn_fingerprint(text: Column) -> Column:
    """md5 of the whitespace-folded lowercase turn text (content identity)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def conv_fingerprints(
    df: DataFrame, conv_col: str = "conv_id", text_col: str = "text"
) -> DataFrame:
    """(conv_id, fp): the DISTINCT turn-fingerprint set of each conversation."""
    return df.select(
        F.col(conv_col).alias("conv_id"),
        turn_fingerprint(F.col(text_col)).alias("fp"),
    ).distinct()


def conv_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """(conv_l, conv_r, overlap, jaccard): conversation pairs whose distinct
    turn-fingerprint sets have Jaccard >= threshold. Exact (no hashing loss:
    a qualifying pair shares >= 1 fingerprint, so the fp join is lossless).
    """
    fps = conv_fingerprints(df, conv_col, text_col)
    sizes = fps.groupBy("conv_id").agg(F.count("*").alias("n"))
    inter = (
        fps.alias("a")
        .join(fps.alias("b"), "fp")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .groupBy(
            F.col("a.conv_id").alias("conv_l"),
            F.col("b.conv_id").alias("conv_r"),
        )
        .agg(F.count("*").alias("overlap"))
    )
    j = F.col("overlap") / (F.col("nl") + F.col("nr") - F.col("overlap"))
    return (
        inter.join(sizes.withColumnsRenamed({"conv_id": "conv_l", "n": "nl"}), "conv_l")
        .join(sizes.withColumnsRenamed({"conv_id": "conv_r", "n": "nr"}), "conv_r")
        .where(j >= threshold)
        .select(
            "conv_l",
            "conv_r",
            F.col("overlap").cast("long").alias("overlap"),
            F.round(j, 4).alias("jaccard"),
        )
    )


def conv_prefix_pairs(
    df: DataFrame, conv_col: str = "conv_id", text_col: str = "text",
    turn_col: str = "turn_idx",
) -> DataFrame:
    """(conv_prefix, conv_full, prefix_len, full_len): conversation pairs
    where conv_prefix's ENTIRE ordered turn sequence equals the first
    prefix_len turns of conv_full -- the re-scrape chain detector.

    Strict prefixes plus whole-conversation duplicates (equal length,
    emitted once with conv_prefix < conv_full). Rolling-hash construction:
    prefix hash k = md5('|'-join of the first k turn fingerprints); the
    explode emits sum(conversation lengths) = total-turn-count rows, and
    the detector is a hash equi-join -- linear, not pairwise.
    """
    seqs = (
        df.select(
            F.col(conv_col).alias("conv_id"),
            F.struct(
                F.col(turn_col).alias("t"),
                turn_fingerprint(F.col(text_col)).alias("fp"),
            ).alias("s"),
        )
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "conv_id",
            F.transform("ss", lambda x: x["fp"]).alias("fps"),
        )
    )
    pref = seqs.select(
        "conv_id",
        F.size("fps").alias("n"),
        F.explode(F.sequence(F.lit(1), F.size("fps"))).alias("k"),
        "fps",
    ).select(
        "conv_id",
        "n",
        "k",
        F.md5(F.array_join(F.slice("fps", 1, F.col("k")), "|")).alias("h"),
    )
    full = pref.where(F.col("k") == F.col("n")).select(
        F.col("conv_id").alias("conv_prefix"),
        F.col("n").alias("prefix_len"),
        "h",
    )
    return (
        full.join(
            pref.select(
                F.col("conv_id").alias("conv_full"),
                F.col("n").alias("full_len"),
                F.col("k"),
                F.col("h"),
            ),
            ["h"],
        )
        .where(
            (F.col("prefix_len") == F.col("k"))
            & (F.col("conv_prefix") != F.col("conv_full"))
            & (
                (F.col("prefix_len") < F.col("full_len"))
                | (
                    (F.col("prefix_len") == F.col("full_len"))
                    & (F.col("conv_prefix") < F.col("conv_full"))
                )
            )
        )
        .select(
            "conv_prefix",
            "conv_full",
            F.col("prefix_len").cast("long").alias("prefix_len"),
            F.col("full_len").cast("long").alias("full_len"),
        )
    )


def conv_dup_turn_profile(
    df: DataFrame, conv_col: str = "conv_id", text_col: str = "text"
) -> DataFrame:
    """(conv_id, n_turns, n_shared_turns, dup_frac): per conversation, how
    much of its distinct turn content also appears in other conversations.
    The boilerplate/copypasta ledger; dup_frac near 1.0 marks a
    conversation assembled from reused turns."""
    fps = conv_fingerprints(df, conv_col, text_col)
    dfreq = fps.groupBy("fp").agg(F.count("*").alias("n_convs"))
    return (
        fps.join(dfreq, "fp")
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum((F.col("n_convs") > 1).cast("long")).alias("n_shared_turns"),
        )
        .select(
            "conv_id",
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_shared_turns").cast("long").alias("n_shared_turns"),
            F.round(F.col("n_shared_turns") / F.col("n_turns"), 4).alias(
                "dup_frac"
            ),
        )
    )
