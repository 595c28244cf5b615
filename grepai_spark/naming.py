"""Name normalization — the alias/feature tokenizer.

Reinterprets the reference's splitName (camelCase/PascalCase/snake_case/acronym
splitting, /root/reference/rpg/extractor_local.go:180-256) and
normalizeAtomicFeature (/root/reference/rpg/features.go:11-25) as a single
normalization: surface form -> sorted distinct lowercase token array.

Three twins of the SAME function, kept in lockstep (tested against each other):

* :func:`py_norm_tokens` — pure Python; used by the golden-triple oracle and
  inside pandas UDFs.
* :func:`norm_tokens_sql` — SQL expression string, emitted for either the
  ``spark`` or ``duckdb`` dialect; used by queries and their DuckDB oracles.
* :func:`norm_tokens_col` — the Spark Column (just ``F.expr`` of the former).

Being expressible as built-in SQL keeps this JVM-side (whole-stage codegen) in
the hot path — no Python needed for normalization at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# camel boundary: lower/digit followed by upper; acronym boundary: run of uppers
# followed by Upper+lower (HTTPServer -> HTTP Server).
_CAMEL = r"([a-z0-9])([A-Z])"
_ACRO = r"([A-Z]+)([A-Z][a-z])"
_SEP = r"[^a-z0-9]+"

_PY_CAMEL = re.compile(_CAMEL)
_PY_ACRO = re.compile(_ACRO)
_PY_SEP = re.compile(_SEP)


def py_norm_tokens(name: str) -> list[str]:
    """Pure-Python twin of :func:`norm_tokens_sql`."""
    s = _PY_ACRO.sub(r"\1 \2", name)
    s = _PY_CAMEL.sub(r"\1 \2", s)
    toks = [t for t in _PY_SEP.split(s.lower()) if t]
    return sorted(set(toks))


def norm_tokens_sql(col: str, dialect: str = "spark") -> str:
    """SQL expression producing the sorted distinct token array for `col`."""
    if dialect == "spark":
        g1, g2 = "$1", "$2"
        split = f"split(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}'), '{_CAMEL}', '{g1} {g2}')), '{_SEP}')"
        return f"array_sort(array_distinct(filter({split}, x -> x != '')))"
    elif dialect == "duckdb":
        # DuckDB's regexp_replace replaces only the first match unless 'g'.
        g1, g2 = "\\1", "\\2"
        split = f"regexp_split_to_array(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}', 'g'), '{_CAMEL}', '{g1} {g2}', 'g')), '{_SEP}')"
        return f"list_sort(list_distinct(list_filter({split}, x -> x != '')))"
    raise ValueError(f"unknown dialect {dialect!r}")


def norm_tokens_col(col: str) -> Column:
    return F.expr(norm_tokens_sql(col, "spark"))


def norm_key_sql(col: str, dialect: str = "spark") -> str:
    """Canonical join key: tokens joined by '_' (e.g. FetchData == fetch_data).

    Zero-token names key to '' in all three engines: Spark's array_join and
    the python twin produce '' natively; DuckDB's string_agg of an empty
    list is NULL, so it is coalesced (tests/test_naming_dialect locks the
    three-way agreement on hostile names)."""
    arr = norm_tokens_sql(col, dialect)
    if dialect == "spark":
        return f"array_join({arr}, '_')"
    return f"coalesce(list_aggregate({arr}, 'string_agg', '_'), '')"


def py_norm_key(name: str) -> str:
    return "_".join(py_norm_tokens(name))


def py_first_token(name: str) -> str:
    """First token in SURFACE order (not sorted) — the blocking key, mirroring
    the reference's verb blocking by the feature's first word
    (/root/reference/rpg/indexer.go:661-695)."""
    s = _PY_ACRO.sub(r"\1 \2", name)
    s = _PY_CAMEL.sub(r"\1 \2", s)
    toks = [t for t in _PY_SEP.split(s.lower()) if t]
    return toks[0] if toks else ""


def first_token_sql(col: str, dialect: str = "spark") -> str:
    """SQL twin of :func:`py_first_token`.

    Zero-token names (all punctuation / non-ASCII) block to '' like the
    python twin — NOT a bare element_at, which THROWS under Spark 4's ANSI
    mode on the empty array (a single degenerate name would kill a whole
    linking job at scale), and NOT DuckDB's native NULL, which an equi-join
    on the blocking key silently drops."""
    if dialect == "spark":
        g1, g2 = "$1", "$2"
        split = f"split(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}'), '{_CAMEL}', '{g1} {g2}')), '{_SEP}')"
        return f"coalesce(try_element_at(filter({split}, x -> x != ''), 1), '')"
    g1, g2 = "\\1", "\\2"
    split = f"regexp_split_to_array(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}', 'g'), '{_CAMEL}', '{g1} {g2}', 'g')), '{_SEP}')"
    return f"coalesce(list_filter({split}, x -> x != '')[1], '')"


JACCARD_THRESHOLD = 0.5  # ref: rpg/indexer.go:19


def jaccard_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Jaccard over two token arrays, compared against JACCARD_THRESHOLD by
    linking, dedup and the golden oracle (the reference's
    calculateJaccardSimilarity, rpg/indexer.go:496-518)."""
    if dialect == "spark":
        return (
            f"CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
            f" / CAST(size(array_union({a}, {b})) AS DOUBLE)"
        )
    return (
        f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        f" / CAST(len(list_distinct(list_concat({a}, {b}))) AS DOUBLE)"
    )


def py_jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    u = sa | sb
    return (len(sa & sb) / len(u)) if u else 0.0


# ---------------------------------------------------------------------------
# F2 — verb-object feature synthesis
# (ref lexicon + rules: /root/reference/rpg/extractor_local.go:39-134;
#  4-word cap: rpg/extractor_local.go:169-176)
# ---------------------------------------------------------------------------

# the reference's knownVerbs lexicon, verbatim (a parity data table)
VERBS = (
    "get set new create delete remove update handle process validate parse "
    "format convert build init close open read write send receive start stop "
    "run execute check is has can should find search lookup save load persist "
    "encode decode marshal unmarshal register add make do list count reset "
    "flush sync fetch put patch apply resolve notify emit on to from with "
    "ensure assert test bench serve listen connect disconnect subscribe "
    "unsubscribe publish lock unlock wait signal log print render draw sort "
    "filter map reduce merge split join append insert pop push peek scan walk "
    "visit traverse compute calculate measure wrap unwrap extract inject "
    "index reindex rebuild refresh compile transform configure setup teardown "
    "destroy dispose release acquire allocate free enable disable toggle show "
    "hide expand collapse match compare diff clone copy move rename swap trim "
    "strip clean sanitize normalize flatten chunk embed query watch poll dial "
    "accept bind attach detach mount unmount"
).split()

_VERB_SET = frozenset(VERBS)
FEATURE_WORD_CAP = 4  # ref: buildLabel, rpg/extractor_local.go:169-176


def py_surface_tokens(name: str) -> list[str]:
    """splitName twin: surface-ordered lowercase words (dups kept)."""
    s = _PY_ACRO.sub(r"\1 \2", name or "")
    s = _PY_CAMEL.sub(r"\1 \2", s)
    return [t for t in _PY_SEP.split(s.lower()) if t]


def py_verb_object(name: str) -> str:
    """Verb-object feature label (ExtractAtomicFeatures rules):
    verb-first name -> as-is; verb mid-name -> reordered verb-first;
    no verb -> 'operate-' prefixed; capped at 4 words, kebab-joined."""
    toks = py_surface_tokens(name)
    if not toks:
        return "unknown"
    vi = next((i for i, t in enumerate(toks) if t in _VERB_SET), None)
    if vi is None:
        words = ["operate", *toks]
    elif vi == 0:
        words = toks
    else:
        words = [toks[vi], *toks[:vi], *toks[vi + 1 :]]
    return "-".join(words[:FEATURE_WORD_CAP])


def _surface_tokens_sql(col: str, dialect: str) -> str:
    if dialect == "spark":
        g1, g2 = "$1", "$2"
        split = f"split(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}'), '{_CAMEL}', '{g1} {g2}')), '{_SEP}')"
        return f"filter({split}, x -> x != '')"
    g1, g2 = "\\1", "\\2"
    split = f"regexp_split_to_array(lower(regexp_replace(regexp_replace({col}, '{_ACRO}', '{g1} {g2}', 'g'), '{_CAMEL}', '{g1} {g2}', 'g')), '{_SEP}')"
    return f"list_filter({split}, x -> x != '')"


def _verbs_array_sql(dialect: str) -> str:
    body = ", ".join(f"'{v}'" for v in VERBS)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def verb_object_sql(col: str, dialect: str = "spark") -> str:
    """One-expression SQL twin of :func:`py_verb_object`.

    NOTE (Spark): the token split repeats inside this expression; in hot
    paths use :func:`verb_object_col_staged` which binds the split as its
    own projection first (HOF lambdas defeat subexpression elimination —
    PERF.md #2). The one-expression form exists for oracle SQL parity.
    """
    toks = _surface_tokens_sql(col, dialect)
    verbs = _verbs_array_sql(dialect)
    if dialect == "spark":
        # try_element_at: ANSI mode makes bare element_at throw on empty arrays
        fv = f"try_element_at(filter({toks}, t -> array_contains({verbs}, t)), 1)"
        pos = f"array_position({toks}, {fv})"
        words = (
            f"CASE WHEN size({toks}) = 0 THEN array('unknown')"
            f" WHEN {pos} IS NULL THEN concat(array('operate'), {toks})"
            f" WHEN {pos} = 1 THEN {toks}"
            f" ELSE concat(array({fv}),"
            f" slice({toks}, 1, CAST({pos} AS INT) - 1),"
            f" slice({toks}, CAST({pos} AS INT) + 1, size({toks}))) END"
        )
        return f"array_join(slice({words}, 1, {FEATURE_WORD_CAP}), '-')"
    fv = f"list_filter({toks}, t -> list_contains({verbs}, t))[1]"
    pos = f"list_position({toks}, {fv})"
    words = (
        f"CASE WHEN len({toks}) = 0 THEN ['unknown']"
        f" WHEN {pos} IS NULL THEN list_concat(['operate'], {toks})"
        f" WHEN {pos} = 1 THEN {toks}"
        f" ELSE list_concat(list_concat([{fv}],"
        f" list_slice({toks}, 1, {pos} - 1)),"
        f" list_slice({toks}, {pos} + 1, len({toks}))) END"
    )
    return f"array_to_string(list_slice({words}, 1, {FEATURE_WORD_CAP}), '-')"


def verb_object_col_staged(df, col: str, out: str = "feature"):
    """Hot-path Spark form: stage the expensive token split / verb lookup as
    their own projections so whole-stage codegen computes each ONCE per row
    (inlining them into the CASE re-evaluates the regex split up to 6x)."""
    verbs = _verbs_array_sql("spark")
    staged = (
        df.withColumn("_vo_toks", F.expr(_surface_tokens_sql(col, "spark")))
        .withColumn(
            "_vo_fv",
            F.expr(
                f"try_element_at(filter(_vo_toks, t -> array_contains({verbs}, t)), 1)"
            ),
        )
        .withColumn("_vo_pos", F.expr("array_position(_vo_toks, _vo_fv)"))
    )
    words = (
        "CASE WHEN size(_vo_toks) = 0 THEN array('unknown')"
        " WHEN _vo_pos IS NULL THEN concat(array('operate'), _vo_toks)"
        " WHEN _vo_pos = 1 THEN _vo_toks"
        " ELSE concat(array(_vo_fv),"
        " slice(_vo_toks, 1, CAST(_vo_pos AS INT) - 1),"
        " slice(_vo_toks, CAST(_vo_pos AS INT) + 1, size(_vo_toks))) END"
    )
    return staged.withColumn(
        out, F.expr(f"array_join(slice({words}, 1, {FEATURE_WORD_CAP}), '-')")
    ).drop("_vo_toks", "_vo_fv", "_vo_pos")
