"""Privacy-preserving record linkage: Bloom-filter field encodings.

Schnell, Bachteler & Reiher (BMC Med Inf & Dec Making 2009): encode each
record's quasi-identifier into an m-bit Bloom filter of its padded
character bigrams (k deterministic hash functions per bigram) and link on
the DICE coefficient of the bit sets

    dice(A, B) = 2 * |A AND B| / (|A| + |B|)

-- the standard PPRL construction (its multi-field variant is the CLK,
Schnell 2011: all fields hashed into ONE filter; compose by unioning the
position sets). The party matching records never sees the source strings,
only bitmaps; n-gram similarity survives encoding because a typo flips
only the few positions fed by the bigrams it touches. Classic caveat,
stated honestly: basic Bloom encodings are vulnerable to frequency
attacks (Kuzu et al. 2011); hardening (salting, balancing, XOR-folding)
is orthogonal to the dataflow and out of scope here.

Spark shape, built for 100 TB:
  * encoding hashes each DISTINCT bigram once (the vocabulary is
    alphabet^2-bounded -> broadcast join), then one collect_set groupBy
    rebuilds per-record position sets; per-record element count is
    bounded by k * (len + 1). No UDF anywhere.
  * the bit SET is represented as the sorted int array of set positions
    (identical to the bitmap up to encoding): |A| = size, |A AND B| =
    size(array_intersect) -- whole-stage-codegen set ops, and the same
    object replays in DuckDB as a sorted list (the cm_sketch/bloom md5
    position discipline), which is what makes the pair scores
    hash-checkable cross-engine.
  * pair generation joins on a blocking key exactly like every other
    comparator lane (operators/pairs.py discipline) -- PPRL at scale
    blocks on phonetic/soundex keys of the encoded fields' source or on
    LSH over the filters themselves; the quadratic term stays confined
    to blocks.

Hash family: position j of bigram g = md5("pprl{j}|" || g) taken as the
first 15 hex chars (< 2^60, always positive) mod m -- the bloom.py /
cm_sketch double-hash-free construction (independent md5 per j), chosen
over Schnell's h1 + j*h2 because it replays bit-for-bit in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier

_PAD = "_"  # Schnell-style field padding so edge bigrams are anchored


def _gram_positions(gram: Column, m_bits: int, k: int) -> Column:
    """array of the k md5 positions for one bigram (lambda-safe)."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"pprl{j}|"), gram)), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(m_bits),
            ).cast("int")
            for j in range(k)
        ]
    )


def bloom_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 4096,
    k: int = 2,
) -> DataFrame:
    """(id, bf, nbits): the Bloom-filter bit set per record.

    bf = sorted distinct array of set positions over the padded lowercase
    field's character bigrams; nbits = |bf| (the popcount). Null/empty
    fields are dropped (they have no bigrams to encode).

    Shape: the md5 position hashing runs ONCE PER DISTINCT BIGRAM, not
    per occurrence -- the bigram vocabulary is alphabet^2-bounded (a few
    hundred rows on text), so it broadcast-joins against the exploded
    (id, gram) stream and one collect_set groupBy rebuilds the per-record
    set. The all-HOF map-only formulation (hash inside a per-record
    lambda) was measured 5x slower at sf0.1: interpreted md5 per gram
    OCCURRENCE (~k * len per record) swamps the one (id, position)
    shuffle this version pays."""
    # stage the padded string as a bound attribute FIRST: lambda bodies
    # skip common-subexpression elimination (the shingles_from_tokens PERF
    # rule), so an unstaged concat+lower re-evaluates per window index --
    # O(len^2) char work per record (measured 4 s of a 9.5 s encode)
    staged = df.where(
        F.col(text_col).isNotNull() & (F.length(text_col) >= 1)
    ).select(
        F.col(id_col).alias("id"),
        F.concat(F.lit(_PAD), F.lower(F.col(text_col)), F.lit(_PAD)).alias(
            "__pad"
        ),
    )
    grams = staged.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("__pad") - 1),
                    lambda i: F.substring("__pad", i, 2),
                )
            )
        ).alias("g"),
    )
    # consumed twice (vocab + join): barrier the skinny (id, g) stream
    grams = barrier(grams)
    gpos = (
        grams.select("g")
        .distinct()
        .select("g", _gram_positions(F.col("g"), m_bits, k).alias("__ps"))
    )
    return (
        grams.join(F.broadcast(gpos), "g")
        .select("id", F.explode("__ps").alias("__p"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("__p")).alias("bf"))
        .withColumn("nbits", F.size("bf"))
    )


def dice_pairs(
    encoded: DataFrame,
    block_col: str = "bk",
    threshold: float = 0.8,
) -> DataFrame:
    """(id_l, id_r, inter, dice) for within-block pairs with dice >= t.

    encoded must carry (block) + bloom_encode columns. inter/dice are
    exact set statistics of the encodings (codegen array ops); dice is
    rounded to 6 dp -- the cross-engine hashing anchor.
    """
    # the encoding projection (per-record md5 position sets -- interpreted
    # HOF over ~k*len elements) feeds BOTH sides of the self-join; a
    # barrier executes it once (the ed_join prefix-table rule: skinny
    # payload -> the barrier wins; measured ~2x at sf0.1)
    encoded = barrier(encoded)
    l = encoded.select(
        F.col(block_col).alias("__b"),
        F.col("id").alias("id_l"),
        F.col("bf").alias("bf_l"),
        F.col("nbits").alias("n_l"),
    )
    r = encoded.select(
        F.col(block_col).alias("__b"),
        F.col("id").alias("id_r"),
        F.col("bf").alias("bf_r"),
        F.col("nbits").alias("n_r"),
    )
    inter = F.size(F.array_intersect("bf_l", "bf_r"))
    dice = F.round(
        2.0 * inter.cast("double") / (F.col("n_l") + F.col("n_r")), 6
    )
    return (
        l.join(r, "__b")
        .where(F.col("id_l") < F.col("id_r"))
        .select(
            "id_l",
            "id_r",
            inter.cast("long").alias("inter"),
            dice.alias("dice"),
        )
        .where(F.col("dice") >= threshold)
    )
