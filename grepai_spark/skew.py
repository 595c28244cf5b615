"""Explicit skew handling — salting for hot keys.

The reference caps hot groups outright (block cap 100
/root/reference/rpg/indexer.go:20, hub cap 50 rpg/indexer.go:26). Caps are
kept where they mirror reference semantics (link.py, materialize.py, and
dedup.capped_bucket_pairs, the similarity-join family's one capped candidate
operator); this module adds the other standard tool: SALTING, for exact
aggregations that must not drop data when one key is huge (the mega-thread:
one conv_id holding ~25% of all turns in the fixture, millions of turns in
production).

Two-phase shape for non-combinable aggregations (collect_set & friends):

    phase 1: groupBy(key, salt)  — the hot key's rows spread over n_salt
             reducers; each emits a partial set
    phase 2: groupBy(key)        — n_salt partial sets per key merge into one

Combinable aggregations (count/sum/min/max) do NOT need this: Spark's
partial aggregation already combines map-side. Salting pays one extra small
shuffle to make the per-reducer state bounded — the trade you want when a
single group's collect state would not fit one task.

AQE's skewJoin handles the JOIN side of the same problem (enabled in
session.py); salting handles the AGGREGATION side, which AQE cannot split
because a group must end on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALT = 16


def with_salt(df: DataFrame, n_salt: int = N_SALT) -> DataFrame:
    """Deterministic row-level salt — hash of the whole row, NOT random:
    re-runs produce identical partials, keeping lineage/resume and tests
    deterministic (the reference's seeded-RNG discipline,
    /root/reference/rpg/indexer.go:60-64)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)).cast(
            "int"
        ),
    )


def salted_collect_set(
    df: DataFrame,
    key: str,
    value: str,
    out_col: str = "values",
    n_salt: int = N_SALT,
) -> DataFrame:
    """Exact distinct-set per key via two-phase salted aggregation.

    Output: (key, out_col sorted array, n_<out_col> int). Sorted for
    determinism regardless of shuffle order.
    """
    salted = with_salt(df.select(key, value), n_salt)
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_set(value).alias("_partial")
    )
    merged = partial.groupBy(key).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_partial")))
        ).alias(out_col)
    )
    return merged.withColumn(f"n_{out_col}", F.size(out_col))


def conv_tool_profile(
    transcripts: DataFrame, n_salt: int = N_SALT
) -> DataFrame:
    """Per-conversation distinct tool profile — the collect-style aggregation
    a mega-thread would blow up without salting."""
    t = transcripts.where(F.col("tool") != "").select("conv_id", "tool")
    return salted_collect_set(t, "conv_id", "tool", out_col="tools", n_salt=n_salt)


def conv_tool_profile_oracle(transcripts_rel: str) -> str:
    # tools serialized: the driver's canonicalizer can't hash list cells
    return f"""
SELECT conv_id,
       array_to_string(list_sort(list_distinct(list(tool))), ',') AS tools,
       CAST(len(list_distinct(list(tool))) AS INT) AS n_tools
FROM ({transcripts_rel}) t
WHERE tool <> ''
GROUP BY conv_id
""".strip()
