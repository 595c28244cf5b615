"""Three-way parity for the mention detector on ADVERSARIAL transcripts —
the Arrow UDF detector (automaton two-regime matcher), the Spark-SQL
oracle, and the DuckDB oracle must agree row-for-row on text the
synthesizer never emits: aliases flush against unicode, digits,
underscores, fences (balanced, unterminated, inline), CRLF, duplicates.

This is the core triple-extraction semantics (boundary + fence masking +
first-occurrence pos + per-turn dedup) locked on hostile input rather
than fixture prose. Strings travel as DATA; only the fixed alias
dictionary is ever interpolated into SQL.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from grepai_spark import extract
from grepai_spark.synth import alias_dict_df


def _adversarial_turns() -> list[str]:
    return [
        # plain hits, start/end of string
        "call FetchData now",
        "FetchData",
        "use FetchData",
        "trailing FetchData ",
        # boundary misses: \w neighbors (letter, digit, underscore)
        "xFetchData",
        "FetchDatax",
        "FetchData2",
        "2FetchData",
        "_FetchData_",
        "xfetch_data",
        "fetch_datax",
        # underscore INSIDE the alias is fine; punctuation neighbors match
        "fetch_data.",
        "(fetch_data)",
        "fetch_data,QueryParser;parse_query",
        # ASCII boundary semantics: non-ASCII neighbors are non-word
        "日本語FetchData日本語",
        "éFetchDataé",
        "żFetchRowsż",
        "🎉FetchData🎉",
        # case sensitivity
        "fetchdata FETCHDATA FetchDATA",
        # duplicates in one turn -> one row, pos = first occurrence
        "FetchData and FetchData again FetchData",
        "parse_query then parse_query",
        # several distinct aliases in one turn
        "DataFetcher calls parse_query and QueryParser via FetchRows",
        # balanced fence masks the alias
        "```\nFetchData\n```",
        "before ```FetchData``` after",
        "a ``` fetch_data ``` b QueryParser c",
        # fence containing one alias next to a live one
        "```parse_query``` FetchData",
        # unterminated fence: NOT masked (balanced-fences-only contract)
        "``` FetchData",
        "FetchData ```",
        # two fences, alias alive between them
        "```x``` FetchData ```y```",
        # alias split across a fence boundary never existed as a word
        "Fetch```Data```",
        # whitespace variants
        "\tFetchData\t",
        "line1\r\nFetchData\r\nline3",
        "FetchData\nparse_query",
        # empties and near-empties
        "",
        " ",
        "``````",
        "```",
        # quotes/backslashes around aliases
        "'FetchData' \"parse_query\" \\QueryParser\\",
        # tool-ish words that are NOT aliases must not match
        "fetch data Fetch Data datafetcher queryparser",
    ]


def test_mentions_three_way_parity_on_adversarial_corpus(spark):
    texts = _adversarial_turns()
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "role": ["user" if i % 2 else "assistant" for i in range(len(texts))],
            "text": texts,
            "tool": ["" for _ in texts],
        }
    )

    sdf = spark.createDataFrame(pdf)

    # 1) the production path: Arrow UDF + two-regime automaton matcher
    udf_rows = sorted(
        tuple(r)
        for r in extract.detect_mentions(sdf, alias_dict_df(spark)).collect()
    )

    # 2) the Spark-SQL oracle dialect over the same in-memory relation
    sdf.createOrReplaceTempView("adv_transcripts")
    spark_sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            extract.mentions_oracle_sql(
                "SELECT * FROM adv_transcripts", "spark"
            )
        ).collect()
    )

    # 3) the DuckDB oracle dialect
    con = duckdb.connect()
    con.register("adv_transcripts", pdf)
    duck_rows = sorted(
        tuple(r)
        for r in con.execute(
            extract.mentions_oracle_sql(
                "SELECT * FROM adv_transcripts", "duckdb"
            )
        ).fetchall()
    )

    assert udf_rows == spark_sql_rows, (
        "UDF vs Spark-SQL oracle",
        [x for x in udf_rows if x not in spark_sql_rows][:5],
        [x for x in spark_sql_rows if x not in udf_rows][:5],
    )
    assert spark_sql_rows == duck_rows, (
        "Spark-SQL vs DuckDB oracle",
        [x for x in spark_sql_rows if x not in duck_rows][:5],
        [x for x in duck_rows if x not in spark_sql_rows][:5],
    )
    # sanity: the corpus actually exercises hits (not vacuous parity)
    assert len(udf_rows) >= 15
