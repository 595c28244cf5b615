"""Three-way lockstep for the naming twins on ADVERSARIAL names — the
Spark SQL dialect, the DuckDB dialect, and the python twin must agree on
norm_tokens / norm_key / first_token / verb_object over hostile
identifiers (unicode, emoji, quotes, separators-only, 300-char tokens).

Complements test_naming_property (hypothesis, python-vs-DuckDB, ASCII
alphabet): this adds the SPARK dialect — the production expressions —
and non-ASCII input, in one Spark job over a deterministic corpus.

Found-by-this-test (round 5): bare `element_at(...)` in first_token_sql's
Spark dialect threw under ANSI mode on zero-token names, and DuckDB keyed
them to NULL where python keys to '' — both now coalesce to ''.

Known engine boundary (pinned below, excluded from the corpus): Turkish
İ (U+0130). Java's and Python's lower() expand it to 'i' + U+0307
(combining dot above) — the combining mark splits tokens — while
DuckDB's utf8proc simple-folds it to a bare 'i'. That is lower() itself
disagreeing between engines, not our expressions; alias/tool names are
ASCII by the dictionary loader's contract.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from grepai_spark import naming


def _adversarial_names() -> list[str]:
    rng = random.Random(7)
    hand = [
        "", " ", "_", "-", ".", "$", "a",
        "FetchData", "fetch_data", "fetchHTTPData", "HTTPServer2Go",
        "naïveRôle", "übergröße_data", "日本語name", "name日本語",
        "éFetch", "A-B_c.d e", "UPPER", "lower", "MiXeD",
        "x" * 300, "get2Items3Now", "__dunder__", "--flag", "..dots..",
        "tab\tname", "new\nline", "quote'name", 'dquote"name',
        "back\\slash", "emoji🎉name", "ÅngströmUnit", "ße_sharp", "ǅungla",
        "getItems", "fetchRowsNow", "parse", "operate",
    ]
    alpha = "abcXYZ019_.-$ éß日🎉'\"\\\t"
    rand = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 30)))
        for _ in range(150)
    ]
    return hand + rand


def test_naming_three_way_lockstep_on_adversarial_names(spark):
    names = _adversarial_names()
    pdf = pd.DataFrame({"i": range(len(names)), "n": names})

    sdf = spark.createDataFrame(pdf)
    s_rows = sorted(
        tuple(r)
        for r in sdf.select(
            "i",
            F.expr(naming.norm_tokens_sql("n", "spark")).alias("nt"),
            F.expr(naming.norm_key_sql("n", "spark")).alias("nk"),
            F.expr(naming.first_token_sql("n", "spark")).alias("ft"),
            F.expr(naming.verb_object_sql("n", "spark")).alias("vo"),
        ).collect()
    )

    con = duckdb.connect()
    con.register("t", pdf)
    d_rows = con.execute(
        f"""SELECT i,
  {naming.norm_tokens_sql('n', 'duckdb')} AS nt,
  {naming.norm_key_sql('n', 'duckdb')} AS nk,
  {naming.first_token_sql('n', 'duckdb')} AS ft,
  {naming.verb_object_sql('n', 'duckdb')} AS vo
FROM t ORDER BY i"""
    ).fetchall()

    mismatches = []
    for (si, snt, snk, sft, svo), (_, dnt, dnk, dft, dvo) in zip(
        s_rows, d_rows
    ):
        name = names[si]
        expected = (
            ("nt", list(snt or []), list(dnt or []), naming.py_norm_tokens(name)),
            ("nk", snk, dnk, naming.py_norm_key(name)),
            ("ft", sft, dft, naming.py_first_token(name)),
            ("vo", svo, dvo, naming.py_verb_object(name)),
        )
        for tag, a, b, c in expected:
            if not (a == b == c):
                mismatches.append((tag, name, a, b, c))
    assert not mismatches, mismatches[:5]


def test_turkish_dotted_capital_is_a_known_engine_boundary():
    """Pin the documented boundary: if DuckDB's lower() ever starts
    expanding İ like Python/Java do, the exclusion above is obsolete and
    the corpus should regain İ."""
    py = naming.py_norm_tokens("İstanbulCity")
    assert py == ["city", "i", "stanbul"]  # combining dot splits the token
    con = duckdb.connect()
    (duck,) = con.execute(
        f"SELECT {naming.norm_tokens_sql('n', 'duckdb')} "
        f"FROM (SELECT 'İstanbulCity' AS n) t"
    ).fetchone()
    assert list(duck) == ["city", "istanbul"]  # simple fold, no split
