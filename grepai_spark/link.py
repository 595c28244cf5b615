"""Stage 2 — LINK: blocked entity linking.

Two linking paths, mirroring the reference:

* exact path — mentions join the broadcast alias dictionary on the surface
  form (and a normalized key), the analog of name-based callee resolution via
  hash lookup (/root/reference/rpg/indexer.go:527-598). Broadcast-hash join:
  no shuffle of the big side.
* similarity path — aliases of DIFFERENT canonicals are compared pairwise
  within a block (first normalized token), Jaccard >= 0.5 creates a
  same-entity link edge; blocks are capped to bound the O(k^2) pair explosion,
  exactly the reference's own skew mitigation (verb blocking + block cap 100,
  /root/reference/rpg/indexer.go:17-27,661-757). A MinHash-banded variant
  replaces the first-token block with LSH band keys.

The alias dictionary is a driver-resident dimension, as the reference keeps
its symbol maps in RAM (rpg/indexer.go:527): the mention detectors already
collect it whole for their broadcasts, so linking reads the same rows
through dimcache and computes the similarity pairs on the driver with the
Python twins of the naming SQL (lockstep-tested in tests/test_naming_dialect).
The DuckDB oracles replay the blocking and banding in SQL
(oracles.alias_sim_edges_oracle).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.dimcache import attach_rows, cached_rows
from grepai_spark.naming import (
    JACCARD_THRESHOLD,
    py_first_token,
    py_jaccard,
    py_norm_tokens,
)

BLOCK_CAP = 100  # ref: maxFeatureGroupSize, rpg/indexer.go:20


def _similar_pairs(
    alias_dict: DataFrame,
    bucket_keys: Callable[[str, list[str]], Iterable[str]],
    threshold: float,
    cap: int,
) -> DataFrame:
    """Shared body of both similarity paths: bucket every alias with tokens
    under each key `bucket_keys(alias, tokens)` yields (alias order), cap
    each bucket at `cap` members, pair a.alias < b.alias with distinct
    canonical ids and keep Jaccard >= threshold. Same float arithmetic as
    the SQL (len ints -> IEEE double division). The pairs come back as a
    LocalRelation with its rows attached, so canonicalization reads them
    without a job."""
    buckets: dict[str, list] = {}
    for r in sorted(cached_rows(alias_dict), key=lambda r: r["alias"]):
        toks = py_norm_tokens(r["alias"])
        if not toks:
            continue
        for key in bucket_keys(r["alias"], toks):
            buckets.setdefault(key, []).append(
                (r["alias"], r["canonical_id"], toks)
            )
    out: set[tuple[str, str]] = set()
    for members in buckets.values():
        members = members[:cap]
        for i, (a_alias, a_cid, a_toks) in enumerate(members):
            for b_alias, b_cid, b_toks in members[i + 1 :]:
                if a_cid == b_cid or a_alias == b_alias:
                    # the SQL pair predicate is a STRICT a.alias < b.alias:
                    # duplicate surface forms never pair
                    continue
                if py_jaccard(a_toks, b_toks) >= threshold:
                    out.add((a_cid, b_cid))
    pairs = sorted(out)
    return attach_rows(
        alias_dict.sparkSession.createDataFrame(
            pairs, "src string, dst string"
        ),
        pairs,
    )


def link_mentions_exact(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mention rows -> + canonical_id via broadcast exact join on surface form.

    The (alias, canonical_id) dim is deduped on the driver from the
    loaded-dimension rows, so no call pays a distinct shuffle job."""
    pairs = sorted(
        {(r["alias"], r["canonical_id"]) for r in cached_rows(alias_dict)}
    )
    dim = F.broadcast(
        mentions.sparkSession.createDataFrame(
            pairs, "alias string, canonical_id string"
        )
    )
    return mentions.join(dim, mentions["mention"] == dim["alias"], "left").drop(
        "alias"
    )


def alias_similarity_edges(
    alias_dict: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    block_cap: int = BLOCK_CAP,
) -> DataFrame:
    """(src, dst) canonical-id pairs whose aliases are Jaccard-similar.

    Block key = first normalized token of the SURFACE order, like the
    reference's verb blocking (not the sorted token set's minimum). Within
    a block only the first `block_cap` aliases (deterministic alias order)
    participate in pairing — the reference's cap against quadratic blowup.
    """
    return _similar_pairs(
        alias_dict,
        lambda alias, toks: (py_first_token(alias),),
        threshold,
        block_cap,
    )


def mention_tool_overlap(
    mentions: DataFrame,
    calls: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Range join (L3 analog): link each in-text mention to tool invocations
    within ±`window` turns of it in the SAME conversation — the
    line-range-overlap join that maps chunks to symbols in the reference
    (/root/reference/rpg/indexer.go:387-442, predicate rpg/indexer.go:473-475).

    Plan shape: each mention EXPLODES to its (2*window+1) candidate turn
    keys, then a pure equi-join on (conv_id, t_turn). Joining on conv_id
    alone with the band as a post-join filter would materialize
    |mentions| x |calls| rows per conversation first — quadratic in exactly
    the mega-thread case the north rule names (one conv holding ~25% of all
    turns), and AQE can only split partitions, not shrink the per-key pair
    count. The explode trades that for a fixed (2*window+1)x row expansion;
    per composite key the group is a single turn, so no key is ever hot.
    """
    m = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("m_turn"),
        "mention",
    ).withColumn(
        "t_turn",
        F.explode(
            F.sequence(
                F.col("m_turn") - window, F.col("m_turn") + window
            )
        ),
    )
    c = calls.select(
        "conv_id",
        F.col("turn_idx").alias("t_turn"),
        F.col("obj").alias("tool"),
    )
    return m.join(c, ["conv_id", "t_turn"]).select(
        "conv_id",
        "m_turn",
        "mention",
        "t_turn",
        "tool",
        F.abs(F.col("t_turn") - F.col("m_turn")).cast("int").alias("dist"),
    )


LSH_BANDS = 4
LSH_ROWS = 2
LSH_BUCKET_CAP = 200  # same role as BLOCK_CAP, per band bucket


def minhash_link_sql(tokens_col: str, seed: int) -> str:
    """DuckDB twin of the driver-side band minhash: MinHash_seed(tokens) =
    lexicographic min of md5('<seed>:'||token). md5 hex strings are
    identical in Python and DuckDB, so the oracle replays the banding —
    and with it the per-bucket cap — bucket for bucket."""
    return (
        f"list_aggregate(list_transform({tokens_col},"
        f" t -> md5('{seed}:' || t)), 'min')"
    )


def alias_similarity_edges_lsh(
    alias_dict: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """LSH-banded variant of alias_similarity_edges.

    Band key = band index + `rows_per_band` consecutive minhashes, each the
    min over tokens of md5('<i>:'||token); two alias sets sharing any band
    key become candidates (the standard banding scheme, see PAPERS.md),
    verified with exact Jaccard. A superset-recall prefilter: anything the
    banding misses was below ~0.3 similarity with high probability. Band
    buckets are capped at `bucket_cap` members (deterministic alias order —
    the same discipline as BLOCK_CAP and the dedup DF_CAP).
    """

    def band_keys(alias: str, toks: list[str]) -> list[str]:
        r = rows_per_band
        mins = [
            min(hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in toks)
            for i in range(bands * r)
        ]
        return [
            "|".join([str(bnd), *mins[bnd * r : bnd * r + r]])
            for bnd in range(bands)
        ]

    return _similar_pairs(alias_dict, band_keys, threshold, bucket_cap)
