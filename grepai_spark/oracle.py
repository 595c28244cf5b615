"""Pure-Python reference extractor — the golden-triple oracle.

Mirrors the reference's extractor semantics over transcript rows exactly like
its inline-fixture tests do (/root/reference/trace/extractor_test.go:50-60):
tiny input -> exact expected (subj, pred, obj) set. The Spark pipeline must hit
P/R >= 0.95 against this (BASELINE.json north_rule); on clean fixtures it must
be exactly 1.0.

No Spark imports here — this module must stay an independent implementation
path (it is the thing the pipeline is checked AGAINST).
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

from grepai_spark.naming import (
    JACCARD_THRESHOLD,
    py_first_token,
    py_jaccard,
    py_norm_tokens,
)

_FENCE = re.compile(r"```.*?```", re.S)


@dataclass(frozen=True)
class Triple:
    subj: str
    pred: str
    obj: str
    conv_id: str
    turn_idx: int


def canonical_components(
    alias_rows: list[tuple[str, str, str]],
) -> dict[str, str]:
    """canonical_id -> component id (min canonical_id in the component).

    Components = union of (same-canonical alias groups) and (Jaccard >= 0.5
    links between aliases of different canonicals, blocked by first token —
    mirroring verb-blocked similarity, /root/reference/rpg/indexer.go:700-757).
    """
    canon_tokens: dict[str, list[list[str]]] = defaultdict(list)
    for alias, canon, _kind in alias_rows:
        canon_tokens[canon].append(py_norm_tokens(alias))

    parent: dict[str, str] = {c: c for c in canon_tokens}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    # blocked pairwise Jaccard between aliases of different canonicals
    blocks: dict[str, list[tuple[str, list[str]]]] = defaultdict(list)
    for alias, canon, _kind in alias_rows:
        toks = py_norm_tokens(alias)
        if toks:
            blocks[py_first_token(alias)].append((canon, toks))
    for _, members in blocks.items():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ca, ta), (cb, tb) = members[i], members[j]
                if ca != cb and py_jaccard(ta, tb) >= JACCARD_THRESHOLD:
                    union(ca, cb)

    return {c: find(c) for c in canon_tokens}


def golden_triples(
    rows: list[dict],
    alias_rows: list[tuple[str, str, str]],
) -> set[Triple]:
    """rows: dicts with conv_id, turn_idx, role, text, tool."""
    comp = canonical_components(alias_rows)
    pats = [
        (
            re.compile(r"\b" + re.escape(a) + r"\b"),
            comp[c],
            "does" if k == "action" else "mentions",
        )
        for a, c, k in alias_rows
        if k in ("entity", "action")
    ]
    out: set[Triple] = set()
    for r in rows:
        conv, idx, role = r["conv_id"], int(r["turn_idx"]), r["role"]
        tool = r.get("tool") or ""
        if tool:
            out.add(Triple(role, "calls", tool, conv, idx))
        text = r.get("text") or ""
        # P5/P6 analog: matches inside code fences are masked out
        # (ref trace/extractor.go:540-702). Deliberately re-implemented here
        # (not imported from extract.py) — this module is the independent
        # implementation the pipeline is checked against.
        if "```" in text:
            text = _FENCE.sub(" ", text)
        for pat, cid, pred in pats:
            if pat.search(text):
                out.add(Triple(role, pred, cid, conv, idx))
    return out


def precision_recall(
    got: set[Triple], want: set[Triple]
) -> tuple[float, float]:
    if not got or not want:
        return (0.0, 0.0) if want or got else (1.0, 1.0)
    tp = len(got & want)
    return tp / len(got), tp / len(want)
