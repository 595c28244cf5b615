"""Cross-dialect parity for the text-analysis SQL builders on ADVERSARIAL
text — the oracle gate proves Spark == DuckDB on the fixture corpus; this
locks the same equality on inputs the synthesizer never emits (empty
strings, unicode, quotes/backslashes, code fences, huge tokens, CR/LF
soup), so a dialect divergence can't hide behind fixture blandness.

The corpus is deterministic (seeded RNG + hand-built edge cases) and the
strings travel as DATA (parameterized DataFrame / pandas registration),
never interpolated into SQL.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd

import __spark_entry__ as entry


def _adversarial_corpus() -> list[str]:
    rng = random.Random(0xC0FFEE)
    hand = [
        "",
        " ",
        "\n\n\n",
        "\t \r\n\t",
        "the the the",
        "le la les de et",
        "der und die das",
        "el los y para",
        "the le der el",  # 4-way stopword tie -> LANG_ORDER tie-break
        "a",
        "A" * 5000,  # one huge token, past FINGERPRINT_PREFIX
        "word " * 2000,  # long but low-entropy
        "it's \"quoted\" and back\\slashed",
        "'; DROP TABLE documents; --",
        "```python\nthe code fence of and to\n```",
        "naïve café façade übergröße żółć",
        "日本語のテキストです。漢字とかな。",
        "🎉🎊 emoji only 🚀",
        "mixed 日本語 and the english of text",
        "UPPER lower MiXeD CaSe THE OF AND",
        "1234567890 007 42",
        "!!!???...,,,;;;:::",
        "a.b.c.d.e.f.g",
        "tab\tseparated\ttokens\there",
        "trailing spaces   ",
        "   leading spaces",
        "null\x00byte",  # NUL inside a string
        "émigré's résumé — naïve rôle",
        "the nbsp tokens",  # non-breaking spaces
        " line separators",
    ]
    alphabets = [
        "abcdefghijklmnopqrstuvwxyz",
        "abcdefghijklmnopqrstuvwxyz0123456789 .,!?'\"\\`~#$%^&*()",
        "the a of and to in le la der die el los ",
        "αβγδε 你好 мир ",
    ]
    rand = []
    for i in range(120):
        alpha = alphabets[i % len(alphabets)]
        n = rng.randrange(0, 400)
        rand.append("".join(rng.choice(alpha) for _ in range(n)))
    return hand + rand


def _normalize(rows, ndigits=6):
    out = []
    for r in rows:
        out.append(
            tuple(
                round(v, ndigits) if isinstance(v, float) else v for v in r
            )
        )
    return sorted(out)


def test_text_stats_dialects_agree_on_adversarial_corpus(spark):
    texts = _adversarial_corpus()
    pdf = pd.DataFrame(
        {"doc_id": [f"d{i:04d}" for i in range(len(texts))], "text": texts}
    )

    sdf = spark.createDataFrame(pdf)
    spark_rows = [
        tuple(r) for r in entry._text_stats_select(sdf).collect()
    ]

    con = duckdb.connect()
    con.register("documents", pdf)
    duck_rows = [tuple(r) for r in con.execute(
        entry._text_stats_oracle()
    ).fetchall()]

    assert len(spark_rows) == len(duck_rows) == len(texts)
    a, b = _normalize(spark_rows), _normalize(duck_rows)
    mismatches = [
        (x, y) for x, y in zip(a, b) if x != y
    ]
    assert not mismatches, mismatches[:3]
