"""Multi-pattern dictionary matching — the detectors' large-dictionary regime.

The reference's per-language pattern sets are bounded (a few regexes per
language, /root/reference/trace/patterns.go:33-58), so its scan-per-pattern
loop never meets a big dictionary. A production alias dictionary is 10^4-10^6
entries, and the small-regime detector (one C-memmem ``str.find`` per alias
per turn, extract.py) degrades linearly in |dict|: at 10^4 aliases it is the
pipeline's scale ceiling.

This module provides the scale path: a pure-Python Aho-Corasick automaton
that finds ALL dictionary occurrences in ONE pass over the text — O(len(text)
+ matches) per turn, independent of |dict| — then applies the same
word-boundary test the small regime applies. :func:`build_matcher` is the
two-regime switch: below ``AUTOMATON_CUTOFF`` aliases the memmem loop wins
(measured in tests/test_automaton.py), above it the automaton does.

Worker-side state discipline (the 10^6-alias regime): Spark deserializes a
fresh copy of the UDF command for EVERY task, so any state held in a closure
cell is rebuilt per task. The matcher therefore lives in a MODULE-LEVEL memo
(:func:`matcher_for`, keyed by a content hash of the alias tuple) — module
globals survive across tasks in a reused Python worker, so each long-lived
worker process builds the automaton exactly once per dictionary version, the
per-executor in-memory symbol map exactly how the reference holds its
dictionaries in RAM (rpg/indexer.go:527). The alias data itself ships via
``SparkContext.broadcast`` (:class:`AliasPayload`), not closure capture, so
the pickled task command stays small at any dictionary size.

Boundary semantics are identical in BOTH regimes: an occurrence counts iff
its neighbors are outside the ASCII word set (``WORD_CHARS``), checked at
every literal occurrence. RE2's default ``\\b`` applies the same ASCII
predicate in the DuckDB oracle; Java's ``\\b`` does NOT (it is
Unicode-aware even without UNICODE_CHARACTER_CLASS, so a non-ASCII letter
beside the alias suppresses the boundary), which is why the Spark oracle
dialect spells the boundary as explicit ASCII lookarounds
(extract.mentions_oracle_sql). The small regime uses no Unicode-aware
fallback, so crossing AUTOMATON_CUTOFF can never change detection output
(aliases are expected to be ASCII — the dictionary loader's domain — and
non-ASCII text neighbors are non-word in the detector and both oracles).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

# measured crossover on ~500-char texts (loop vs automaton wall): 128
# aliases 3.7ms vs 4.1ms, 256 aliases 7.3ms vs 3.4ms — the per-alias memmem
# loop wins below ~150 entries, the automaton above
AUTOMATON_CUTOFF = 160

WORD_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


class AhoCorasick:
    """Classic goto/fail automaton over the alias set.

    States are ints; ``goto`` is a list of dicts (char -> state); ``out`` is
    a list of tuples of pattern indices ending at that state (failure-chain
    outputs merged at build time, so matching never walks fail links for
    output collection).
    """

    __slots__ = ("goto", "fail", "out", "patterns")

    def __init__(self, patterns: list[str]):
        self.patterns = patterns
        goto: list[dict[str, int]] = [{}]
        out: list[list[int]] = [[]]
        for idx, p in enumerate(patterns):
            s = 0
            for ch in p:
                nxt = goto[s].get(ch)
                if nxt is None:
                    nxt = len(goto)
                    goto[s][ch] = nxt
                    goto.append({})
                    out.append([])
                s = nxt
            out[s].append(idx)
        fail = [0] * len(goto)
        queue = list(goto[0].values())
        head = 0
        while head < len(queue):
            s = queue[head]
            head += 1
            for ch, t in goto[s].items():
                queue.append(t)
                f = fail[s]
                while f and ch not in goto[f]:
                    f = fail[f]
                fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
                if out[fail[t]]:
                    out[t].extend(out[fail[t]])
        self.goto = goto
        self.fail = fail
        self.out = [tuple(o) for o in out]

    def boundary_matches(self, text: str) -> list[str]:
        """Sorted distinct patterns with >= 1 word-boundary-clean occurrence
        in `text` — the same predicate as the per-alias ``\\b p \\b`` regex."""
        goto = self.goto
        fail = self.fail
        out = self.out
        patterns = self.patterns
        word = WORD_CHARS
        n = len(text)
        found: set[int] = set()
        s = 0
        for i, ch in enumerate(text):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            o = out[s]
            if o:
                end_ok = i + 1 >= n or text[i + 1] not in word
                if end_ok:
                    for idx in o:
                        if idx in found:
                            continue
                        start = i + 1 - len(patterns[idx])
                        if start == 0 or text[start - 1] not in word:
                            found.add(idx)
        return sorted(patterns[i] for i in found)


def _boundary_occurrence(text: str, alias: str, n: int, first: int) -> bool:
    """True iff some literal occurrence of `alias` (starting the scan at the
    known `first` hit) has non-word ASCII neighbors on both sides — the SAME
    predicate AhoCorasick.boundary_matches applies at every occurrence."""
    word = WORD_CHARS
    la = len(alias)
    p = first
    while p != -1:
        end = p + la
        if (p == 0 or text[p - 1] not in word) and (
            end >= n or text[end] not in word
        ):
            return True
        p = text.find(alias, p + 1)
    return False


def _small_regime(ordered: list[str]) -> Callable[[str], list[str]]:
    """The measured-fastest small-dictionary path (PERF.md §8): one C-memmem
    ``str.find`` per alias gates the boundary scan; when the first literal
    occurrence is embedded, the scan walks the remaining occurrences with the
    same ASCII boundary test the automaton applies — regime choice can never
    change results."""

    def match(text: str) -> list[str]:
        n = len(text)
        found: list[str] = []
        for a in ordered:
            p = text.find(a)
            if p != -1 and _boundary_occurrence(text, a, n, p):
                found.append(a)
        return found

    return match


# ---------------------------------------------------------------------------
# Per-process state: module globals survive across tasks in a reused Python
# worker (unlike closure cells, which arrive fresh with every deserialized
# task command), so these memos ARE the "build once per worker" guarantee.
# ---------------------------------------------------------------------------

BUILD_COUNT = 0  # total AhoCorasick constructions in this process (tests)
_AC_MEMO: dict[str, AhoCorasick] = {}
_MATCHER_MEMO: dict[tuple[str, int], Callable[[str], list[str]]] = {}
_MEMO_CAP = 8  # dictionary versions live per process are few; bound the memos


def _content_key(ordered: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for a in ordered:
        h.update(a.encode())
        h.update(b"\x00")
    return h.hexdigest()


def automaton_for(ordered: tuple[str, ...]) -> AhoCorasick:
    """The per-process automaton for this exact (sorted, deduped) alias
    tuple — built at most once per worker process per dictionary version."""
    global BUILD_COUNT
    key = _content_key(ordered)
    ac = _AC_MEMO.get(key)
    if ac is None:
        BUILD_COUNT += 1
        ac = AhoCorasick(list(ordered))
        if len(_AC_MEMO) >= _MEMO_CAP:
            _AC_MEMO.clear()
        _AC_MEMO[key] = ac
    return ac


def matcher_for(
    ordered: tuple[str, ...], cutoff: int = AUTOMATON_CUTOFF
) -> Callable[[str], list[str]]:
    """Per-process memoized matcher over a sorted, deduped alias tuple.

    The content-hash key means two broadcast payloads carrying the same
    dictionary share one build; the memo is module state, so it persists
    across task boundaries in a reused worker.
    """
    key = (_content_key(ordered), cutoff)
    m = _MATCHER_MEMO.get(key)
    if m is None:
        if len(ordered) <= cutoff:
            m = _small_regime(list(ordered))
        else:
            ac = automaton_for(ordered)
            m = ac.boundary_matches
        if len(_MATCHER_MEMO) >= _MEMO_CAP:
            _MATCHER_MEMO.clear()
        _MATCHER_MEMO[key] = m
    return m


def build_matcher(
    aliases: list[str], cutoff: int = AUTOMATON_CUTOFF
) -> Callable[[str], list[str]]:
    """text -> sorted aliases with a word-boundary occurrence in text.

    Two-regime: memmem loop below `cutoff` aliases, Aho-Corasick above.
    Dispatches through the module-level memo, so every matcher for the same
    dictionary content in one process shares one build — including matchers
    arriving inside freshly-deserialized task commands.
    """
    return matcher_for(tuple(sorted(set(aliases))), cutoff)


class AliasPayload:
    """Broadcast payload for a dictionary UDF: the alias data plus a
    per-process lazily-bound matcher.

    Ship one of these via ``SparkContext.broadcast`` instead of closing over
    the raw dict: the task command then pickles only the broadcast handle
    (bytes, not the dictionary), each worker unpickles the payload once into
    its broadcast registry, and :meth:`matcher` binds to the module-memoized
    matcher on first use — the instance cache makes every later batch a
    single attribute read (no re-sorting, no re-hashing per batch).

    `data` maps alias -> caller-defined payload (a kind string for mention
    detection, a (pred, entity_id) tuple for edge emission).
    """

    def __init__(self, data: dict):
        self.data = data
        self.ordered = tuple(sorted(data))
        self._matcher: Callable[[str], list[str]] | None = None

    def matcher(self) -> Callable[[str], list[str]]:
        m = self._matcher
        if m is None:
            m = matcher_for(self.ordered)
            self._matcher = m
        return m

    def __getstate__(self):
        return {"data": self.data, "ordered": self.ordered}

    def __setstate__(self, state):
        self.data = state["data"]
        self.ordered = state["ordered"]
        self._matcher = None
