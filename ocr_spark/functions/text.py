"""Scalar text operators T1-T7 (SURVEY.md §2.7) as native Catalyst expressions.

Each operator reproduces the reference's Python semantics bit-for-bit:

  T1 newline normalization  — ref ocr_components/postprocessing_module.py:66
  T2 strip (ALL whitespace) — ref ocr_components/postprocessing_module.py:69
  T3 space/tab squeeze      — ref ocr_components/postprocessing_module.py:72
  T4 blank-line collapse    — ref ocr_components/postprocessing_module.py:77
  T5 ordered literal rules  — ref ocr_components/postprocessing_module.py:104-105
  T7 hyphenation repair     — north-star op (BASELINE.json); reference expresses
                              it only through T5's rule mechanism

Application order is load-bearing: clean whitespace FIRST, custom rules SECOND
(ref postprocessing_module.py:130-146); inside cleaning the order is
normalize newlines → strip → squeeze spaces/tabs → collapse newline runs.

Everything here is a pure Column expression — whole-stage-codegen'd, no UDFs
— except `unicode_normalize` (bottom section), where NFC/NFKC requires the
Unicode tables and runs as a SPARSE vectorized UDF (non-ASCII rows only).
Each Spark expression has a DuckDB-SQL twin (``*_sql``) used by the oracle in
``__spark_entry__.py`` so the two can never drift apart silently.

Whitespace-domain contract: bit-parity with Python's ``str.strip()`` (T2) is
guaranteed over the whitespace the reference emits — {space, \\t, \\r, \\n}.
Exotic whitespace diverges by engine (Python strips \\v \\f \\xa0 and other
Unicode spaces; Java regex ``\\s`` is ASCII ``[ \\t\\n\\x0B\\f\\r]``; RE2
``\\s`` is ``[ \\t\\n\\f\\r]``), so no single pattern matches all three —
property-tested over the contractual domain in tests/test_property_text.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# T1 — newline normalization: CRLF then lone CR -> LF
# ---------------------------------------------------------------------------


def normalize_newlines(col: Column) -> Column:
    return F.regexp_replace(col, r"\r\n|\r", "\n")


def normalize_newlines_sql(expr: str) -> str:
    return rf"regexp_replace({expr}, '\r\n|\r', chr(10), 'g')"


# ---------------------------------------------------------------------------
# T2 — strip: Python str.strip() strips ALL leading/trailing whitespace
# (space, tab, newline, CR, FF, VT) — NOT Spark `trim` (space only).
# ---------------------------------------------------------------------------


def strip_all(col: Column) -> Column:
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def strip_all_sql(expr: str) -> str:
    return rf"regexp_replace({expr}, '^\s+|\s+$', '', 'g')"


# ---------------------------------------------------------------------------
# T3 — squeeze runs of spaces/tabs to one space; newlines untouched
# ---------------------------------------------------------------------------


def squeeze_spaces(col: Column) -> Column:
    return F.regexp_replace(col, r"[ \t]+", " ")


def squeeze_spaces_sql(expr: str) -> str:
    return rf"regexp_replace({expr}, '[ \t]+', ' ', 'g')"


# ---------------------------------------------------------------------------
# T4 — collapse runs of >=2 newlines to one (no blank lines survive)
# ---------------------------------------------------------------------------


def collapse_blank_lines(col: Column) -> Column:
    return F.regexp_replace(col, r"\n{2,}", "\n")


def collapse_blank_lines_sql(expr: str) -> str:
    return rf"regexp_replace({expr}, '\n{{2,}}', chr(10), 'g')"


# ---------------------------------------------------------------------------
# composed whitespace cleaner (ref _clean_whitespace, exact order)
# ---------------------------------------------------------------------------


def clean_whitespace(col: Column) -> Column:
    return collapse_blank_lines(squeeze_spaces(strip_all(normalize_newlines(col))))


def clean_whitespace_sql(expr: str) -> str:
    return collapse_blank_lines_sql(squeeze_spaces_sql(strip_all_sql(normalize_newlines_sql(expr))))


# ---------------------------------------------------------------------------
# T5 — ordered literal replacements: for each (find, replace) IN CONFIG ORDER,
# literal case-sensitive replace-all; later rules see earlier rules' output.
# Uses F.replace (literal, Spark >= 3.5) — NOT regexp_replace (metachar hazard).
# ---------------------------------------------------------------------------


def apply_rules(col: Column, rules: Sequence[tuple[str, str]]) -> Column:
    out = col
    for find, repl in validate_rules(rules):
        out = F.replace(out, F.lit(find), F.lit(repl))
    return out


def apply_rules_sql(expr: str, rules: Sequence[tuple[str, str]]) -> str:
    out = expr
    for find, repl in validate_rules(rules):
        f = find.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"replace({out}, '{f}', '{r}')"
    return out


def validate_rules(rules: Sequence) -> list[tuple[str, str]]:
    """Rule validation mirroring the reference: keep only 2-string pairs,
    skip (don't fail on) anything else — ref postprocessing_module.py:29-38."""
    valid: list[tuple[str, str]] = []
    if not isinstance(rules, (list, tuple)):
        return valid
    for rule in rules:
        if (
            isinstance(rule, (list, tuple))
            and len(rule) == 2
            and all(isinstance(x, str) for x in rule)
        ):
            valid.append((rule[0], rule[1]))
    return valid


# ---------------------------------------------------------------------------
# full postprocess = clean whitespace THEN rules (ref process_output order)
# ---------------------------------------------------------------------------


def process_output(col: Column, rules: Sequence[tuple[str, str]] = ()) -> Column:
    return apply_rules(clean_whitespace(col), rules)


# ---------------------------------------------------------------------------
# T7 — hyphenation repair: join "exam-\nple" -> "example" (letter-hyphen-
# newline-letter). Must run BEFORE T4 collapses the newline context away is
# NOT required — the pattern needs the newline, so we apply it after T1
# (newlines normalized) and before the rest of cleaning when used in the
# extraction pipeline.
# ---------------------------------------------------------------------------


def repair_hyphenation(col: Column) -> Column:
    return F.regexp_replace(col, r"(\p{L})-\n(\p{L})", "$1$2")


def repair_hyphenation_sql(expr: str) -> str:
    return rf"regexp_replace({expr}, '(\p{{L}})-\n(\p{{L}})', '\1\2', 'g')"


def extract_text(col: Column, rules: Sequence[tuple[str, str]] = ()) -> Column:
    """Full text-kind extraction: T1 → T7 → T2/T3/T4 → T5."""
    out = repair_hyphenation(normalize_newlines(col))
    out = collapse_blank_lines(squeeze_spaces(strip_all(out)))
    return apply_rules(out, rules)


def extract_text_sql(expr: str, rules: Sequence[tuple[str, str]] = ()) -> str:
    out = repair_hyphenation_sql(normalize_newlines_sql(expr))
    out = collapse_blank_lines_sql(squeeze_spaces_sql(strip_all_sql(out)))
    return apply_rules_sql(out, rules)


# ---------------------------------------------------------------------------
# mojibake repair (ftfy-lite): fix the classic UTF-8-bytes-decoded-as-cp1252
# double encoding for a fixed set of common targets. The rule table is
# DERIVED (target.encode('utf-8').decode('cp1252')) at import, restricted to
# targets whose mojibake form is fully printable/non-space so both the
# F.replace fold and its SQL twin stay literal-safe. Ordered longest-first
# so 3-char sequences ('â€¦') are consumed before any 2-char prefix rule
# could split them. Pure codegen via the T5 apply_rules machinery — scales
# as a literal replace chain at the scan.
# ---------------------------------------------------------------------------

_MOJIBAKE_TARGETS = "…—–“‘’éèêáóúñüöäç«»°"


def _derive_mojibake_rules() -> list[tuple[str, str]]:
    rules: list[tuple[str, str]] = []
    for ch in _MOJIBAKE_TARGETS:
        try:
            moji = ch.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:  # undefined cp1252 byte -> not a rule
            continue
        if all((not c.isspace()) and c.isprintable() for c in moji):
            rules.append((moji, ch))
    rules.sort(key=lambda r: len(r[0]), reverse=True)
    return rules


MOJIBAKE_RULES: list[tuple[str, str]] = _derive_mojibake_rules()


def mojibake_repair(col: Column) -> Column:
    return apply_rules(col, MOJIBAKE_RULES)


def mojibake_repair_sql(expr: str) -> str:
    return apply_rules_sql(expr, MOJIBAKE_RULES)


def mojibake_inject(col: Column) -> Column:
    """Inverse chain (clean -> mojibake) for fixtures/oracles; exact inverse
    of mojibake_repair on text containing no mojibake sequences already."""
    return apply_rules(col, [(b, a) for a, b in MOJIBAKE_RULES])


def mojibake_inject_sql(expr: str) -> str:
    return apply_rules_sql(expr, [(b, a) for a, b in MOJIBAKE_RULES])


# ---------------------------------------------------------------------------
# Unicode hygiene (crawl text): strip the invisible garbage real pages carry
# (C0/C1 control chars, zero-width joiners/spaces, BOM, soft hyphens) and
# canonicalize composition (NFC/NFKC) so byte-different spellings of the
# same text ('e'+U+0301 vs 'é') hash/dedup identically downstream.
#
# The strip is ONE regexp_replace (whole-stage codegen, exact DuckDB twin —
# same pattern, both engines' regex dialects accept \x{...}). Composition
# normalization can't be a column expression, so unicode_normalize uses the
# sparse-UDF pattern from functions/idn.py: only rows containing non-ASCII
# enter the Arrow batch (ASCII is NFC/NFKC-invariant), the rest
# short-circuit through coalesce — an ASCII-dominant corpus stays codegen.
# Cross-engine check: our UDF (stdlib unicodedata) vs DuckDB's independent
# nfc_normalize() agree per row (tests/test_unicode_clean.py).
#
# Kept OUT of the strip class: \t \n (real whitespace) and \r (owned by
# normalize_newlines — stripping a lone \r here would delete a line break
# instead of normalizing it). cp1252-mojibake never collides: its decoded
# forms are the PRINTABLE cp1252 0x80-0x9F glyphs, not C1 code points.
# ---------------------------------------------------------------------------

# C0 minus \t\n\r, DEL, C1, zero-width (ZWSP/ZWNJ/ZWJ/WJ), BOM, soft hyphen
_STRIP_CLASS = (
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
    "\\x{0080}-\\x{009F}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]"
)


def clean_control_chars(col: Column) -> Column:
    return F.regexp_replace(col, _STRIP_CLASS, "")


def clean_control_chars_sql(expr: str) -> str:
    return f"regexp_replace({expr}, '{_STRIP_CLASS}', '', 'g')"


def _make_norm_udf(form: str):
    import unicodedata

    import pandas as pd
    from pyspark.sql import types as T

    def _norm(texts):
        return texts.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    # annotate with the resolved class (pandas_udf infers eval type from
    # the hints; a string annotation can't resolve from this scope)
    _norm.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_norm, T.StringType())


_NORM_UDFS: dict = {}


def unicode_normalize(
    col: Column, form: str = "NFC", gate_col: Column | None = None
) -> Column:
    """Unicode normalization with the sparse-UDF fast path (see block
    comment). form in NFC/NFKC/NFD/NFKD.

    `gate_col` optionally carries the non-ASCII gate probe: when `col` is
    itself an expression tree (not a plain column), gating on the CHEAP
    underlying column avoids re-evaluating the tree inside the rlike —
    any gate is sound as long as gate-ASCII implies col-ASCII (ASCII is
    normalization-invariant, so extra TRUE gates only cost UDF identity
    calls, never correctness)."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    udf = _NORM_UDFS.get(form)
    if udf is None:
        udf = _NORM_UDFS[form] = _make_norm_udf(form)
    needs = (gate_col if gate_col is not None else col).rlike(r"[^\x00-\x7f]")
    return F.coalesce(udf(F.when(needs, col)), col)


def unicode_clean(col: Column, form: str = "NFC") -> Column:
    """Control/zero-width strip + composition normalization — the full
    crawl-text Unicode hygiene pass, applied BEFORE whitespace
    canonicalization and any hashing/dedup.

    The sparse-UDF gate probes the RAW column (stripping only ever REMOVES
    non-ASCII chars, so raw-ASCII implies stripped-ASCII) — the strip
    regexp_replace is evaluated once per taken branch instead of feeding
    the gate's rlike a third evaluation of the same tree."""
    return unicode_normalize(clean_control_chars(col), form, gate_col=col)


# ---------------------------------------------------------------------------
# sentence segmentation (rule-based, RE2-safe, exact cross-engine twin)
#
# The decontamination-window / sentence-boundary-packing primitive. The rule
# set is the classic abbreviation-guarded splitter (the Punkt-heuristic
# family), expressed ONLY with constructs Java regex and RE2 share — no
# lookaround, replacement backrefs only — so the DuckDB twin is exact:
#
#   1. protect multi-letter abbreviation dots  (Mr. Dr. etc. Fig. ...)
#   2. protect single-letter dots              (J. Smith, e.g., U.S.A.)
#   3. newline runs are hard boundaries
#   4. [.!?]+ (+ closing quotes/brackets) followed by whitespace and an
#      upper/digit/opening-quote starts a new sentence
#   5. split, trim, restore protected dots, drop empties
#
# Known trade (documented): a single capital letter ending a sentence
# ("...in C. Then...") is read as an initial and NOT split — initials are
# far more frequent in crawl text than single-letter sentence ends.
# ---------------------------------------------------------------------------

SENT_ABBREVS = (
    "Mr", "Mrs", "Ms", "Dr", "Prof", "Sr", "Jr", "St", "vs", "etc",
    "Fig", "No", "al", "Inc", "Ltd", "Co", "Corp", "approx", "dept",
    "est", "min", "max", "resp",
)
_SENT_P = "\x01"  # protected-dot sentinel
_SENT_B = "\x02"  # boundary sentinel
_ABBR_RE = r"\b(" + "|".join(SENT_ABBREVS) + r")\."
_SINGLE_RE = r"\b([A-Za-z])\."
_BOUND_RE = "([.!?]+[\"'\u201d)\\]]*)[ \\t]+([A-Z0-9\"'\u201c])"


def split_sentences(col: Column) -> Column:
    """array<string> of sentences of `col`, in order, trimmed, no empties."""
    s = F.regexp_replace(col, _ABBR_RE, "$1" + _SENT_P)
    s = F.regexp_replace(s, _SINGLE_RE, "$1" + _SENT_P)
    s = F.regexp_replace(s, r"\n+", _SENT_B)
    s = F.regexp_replace(s, _BOUND_RE, "$1" + _SENT_B + "$2")
    parts = F.split(s, _SENT_B)
    return F.filter(
        F.transform(
            parts,
            lambda x: F.regexp_replace(F.trim(x), _SENT_P, "."),
        ),
        lambda x: x != "",
    )


def split_sentences_sql(expr: str) -> str:
    """DuckDB twin of split_sentences. DuckDB string literals are RAW
    (standard SQL: no backslash processing), so regex backslashes go in
    as-is and only quotes double; regexp_replace needs the 'g' flag;
    sentinels emitted as chr() so no control char sits raw in the SQL."""
    abbr = _ABBR_RE.replace("'", "''")
    single = _SINGLE_RE.replace("'", "''")
    bound = _BOUND_RE.replace("'", "''")
    s = f"regexp_replace({expr}, '{abbr}', '\\1' || chr(1), 'g')"
    s = f"regexp_replace({s}, '{single}', '\\1' || chr(1), 'g')"
    s = f"regexp_replace({s}, '\\n+', chr(2), 'g')"
    s = f"regexp_replace({s}, '{bound}', '\\1' || chr(2) || '\\2', 'g')"
    return (
        f"list_filter(list_transform(string_split({s}, chr(2)), "
        f"x -> replace(trim(x), chr(1), '.')), x -> x <> '')"
    )
