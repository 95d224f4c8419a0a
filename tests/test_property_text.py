"""Property-based equivalence of the three text-op implementations:

  1. pure-Python reference (tests/reference_impl.py — the executable spec),
  2. Spark native expressions (ocr_spark/functions/text.py),
  3. DuckDB SQL twins (same module, *_sql builders).

Hypothesis generates adversarial strings (mixed whitespace, newlines, CRs,
rule-token fragments, unicode letters); all examples are evaluated in ONE
Spark job / ONE DuckDB query so the suite stays fast.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import tests.reference_impl as R
from ocr_spark.functions import text as TX

RULES = [["hte", "the"], ["ab", "XY"], ["--", "—"]]

# characters that stress every operator: whitespace variants, CR/LF, rule
# fragments, hyphens, unicode letters for the hyphenation repair class.
# The whitespace includes code points outside ASCII and outside regex \s
# (\v \x1f NEL NBSP LINE SEPARATOR IDEOGRAPHIC SPACE): T2 must strip
# exactly what Python's str.strip() strips, in all three implementations.
_ALPHABET = st.sampled_from(
    list(" \t\n\r\x0b\x1f\x85\xa0\u2028\u3000")
    + list("abehtAB-")
    + ["\r\n", "--", "hte", "ab", "é", "ß"]
)
_TEXTS = st.lists(_ALPHABET, min_size=0, max_size=30).map("".join)


def _collect_examples(n: int = 200) -> list[str]:
    examples: list[str] = []

    @settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.data_too_large],
    )
    @given(_TEXTS)
    def gather(s: str) -> None:
        examples.append(s)

    gather()
    # hand-picked edge cases incl. the reference's own golden input
    examples += [
        "",
        " ",
        "\r\n\r\n",
        "  Hello \t World!  \n\n\nThis is a   test. \r\nNew line.\rAnother.  ",
        "hy-\nphen",
        "no-\n1digit",
        "é-\né",
        "a" * 500 + "-\n" + "b" * 500,
    ]
    return examples


EXAMPLES = _collect_examples()


def test_spark_matches_reference(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(EXAMPLES)], "i long, t string")
    got = {
        r["i"]: (r["cw"], r["ex"])
        for r in df.select(
            "i",
            TX.clean_whitespace("t").alias("cw"),
            TX.extract_text("t", RULES).alias("ex"),
        ).collect()
    }
    for i, s in enumerate(EXAMPLES):
        assert got[i][0] == R.clean_whitespace(s), repr(s)
        assert got[i][1] == R.extract_text(s, RULES), repr(s)


def test_duckdb_matches_reference():
    con = duckdb.connect()
    tbl = pa.table({"i": list(range(len(EXAMPLES))), "t": EXAMPLES})
    con.register("x", tbl)
    cw_sql = TX.clean_whitespace_sql("t")
    ex_sql = TX.extract_text_sql("t", RULES)
    rows = con.sql(f"SELECT i, {cw_sql} AS cw, {ex_sql} AS ex FROM x ORDER BY i").fetchall()
    for i, cw, ex in rows:
        s = EXAMPLES[i]
        assert cw == R.clean_whitespace(s), repr(s)
        assert ex == R.extract_text(s, RULES), repr(s)
