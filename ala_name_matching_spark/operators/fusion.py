"""Golden-record fusion: per-cluster attribute consensus.

After clustering, the reference elects one principal instance and takes
its fields wholesale (ALATaxonResolver.principals, ALATaxonResolver.java:
63-85). Production ER systems go one step further -- data fusion: each
ATTRIBUTE of the survivor record is chosen independently by consensus
across cluster members (majority vote with deterministic tie-breaks),
so a cluster whose best single record has a missing/garbled field still
gets the field right if most members agree.

Scale shape: one partial-aggregated groupBy per fused attribute (keyed
on (cluster, value) then reduced to the cluster grain with a
min(struct(-count, value)) aggregate -- skew-immune: no window sort
over a hot cluster), plus one groupBy for member
counts, joined at the cluster grain. All joins are cluster-keyed and
AQE-broadcastable when the fused table is small relative to members.

Determinism: winner per attribute = highest support, ties to the
lexicographically smallest value; nulls never vote.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def golden_record(
    clustered: DataFrame,
    cluster_col: str,
    attr_cols: list[str],
    id_col: str,
    text_col: str | None = None,
) -> DataFrame:
    """One row per cluster: member count, modal value + support per attr,
    and (optionally) the representative id elected by longest text then
    smallest id -- the pipeline's B7 rule (`clustering._labels_and_winners_pdf`
    elects by max priority = text length, ties to the smallest id).

    Output columns: (<cluster_col>, n_members, <attr>_gold,
    <attr>_support, ... [, rep_id]).
    """
    base = clustered.groupBy(cluster_col).agg(
        F.count("*").alias("n_members"),
        *(
            [
                F.min(
                    F.struct(
                        (-F.length(F.col(text_col))).alias("_nl"),
                        F.col(id_col).alias("_rid"),
                    )
                )["_rid"].alias("rep_id")
            ]
            if text_col
            else []
        ),
    )
    parts = [base]
    for a in attr_cols:
        votes = (
            clustered.filter(F.col(a).isNotNull())
            .groupBy(cluster_col, a)
            .agg(F.count("*").alias("_n"))
        )
        winner = votes.groupBy(cluster_col).agg(
            F.min(
                F.struct(
                    (-F.col("_n")).alias("_neg"),
                    F.col(a).alias("_val"),
                )
            ).alias("_w")
        )
        parts.append(
            winner.select(
                cluster_col,
                F.col("_w._val").alias(f"{a}_gold"),
                (-F.col("_w._neg")).cast("long").alias(f"{a}_support"),
            )
        )
    return reduce(lambda l, r: l.join(r, cluster_col, "left"), parts)
