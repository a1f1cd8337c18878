"""Vectorized grok/regex parsing of transcript text → structured fields.

Re-expresses the reference's parsers (S2 NDJSON ``src/parsers/ndjsonParser.js:8-116``,
S3 CSV ``src/parsers/csvParser.js:10-94``) for the transcript domain: instead of
per-line ``JSON.parse`` with drop-on-error, we run a vectorized regex over the
``text`` column and channel non-matching turns to an error column
(``error_kind``) for the router — the Spark analog of "drop malformed with
capped logging" is "route malformed, never crash" (PERMISSIVE semantics).

There is one path, one codegen'd ``regexp_extract`` per field, because it
beat an Arrow-batched pandas single-regex variant 2.19 s to 7.42 s (2M rows,
4 fields, local[32], best-of-3 warm).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Grok-style named pattern registry (public grok pattern names).
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "GREEDYDATA": r".*",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
}

_GROK_REF = re.compile(r"%\{(\w+):(\w+)\}")

# The transcript line shape (mirrors reference message shape,
# scripts/generate-ndjson.js:147-161): "METHOD /path -> STATUS: MSG".
TRANSCRIPT_GROK = "%{WORD:method} %{NOTSPACE:path} -> %{INT:status}: %{GREEDYDATA:msg}"


@dataclass(frozen=True)
class CompiledGrok:
    regex: str
    fields: tuple[str, ...]
    types: tuple[str, ...]  # spark cast target per field ("string" = none)


def compile_grok(expr: str, casts: dict[str, str] | None = None) -> CompiledGrok:
    """Compile ``%{PATTERN:name}`` grok syntax to an anchored capture regex."""
    casts = casts or {}
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        pat, name = m.group(1), m.group(2)
        if pat not in GROK_PATTERNS:
            raise KeyError(f"unknown grok pattern %{{{pat}}}")
        fields.append(name)
        return f"({GROK_PATTERNS[pat]})"

    body = _GROK_REF.sub(sub, expr)
    types = tuple(casts.get(f, "string") for f in fields)
    return CompiledGrok(regex=f"^{body}$", fields=tuple(fields), types=types)


TRANSCRIPT_CASTS = {"status": "int"}
TRANSCRIPT_COMPILED = compile_grok(TRANSCRIPT_GROK, TRANSCRIPT_CASTS)


def _cast_extracted(raw: Column, matched: Column, typ: str) -> Column:
    # regexp_extract yields '' BOTH for regex-miss and for a matched-empty
    # group (e.g. GREEDYDATA msg on "... -> 200: "). Disambiguate with the
    # match flag: unmatched rows -> NULL, matched-empty string fields keep
    # '' (round-trip invariant). Numeric casts still NULL-out '' first
    # (ANSI mode would throw on '').
    c = F.when(matched, raw)
    if typ != "string":
        return F.nullif(c, F.lit("")).cast(typ)
    return c


def parse_grok(
    df: DataFrame,
    text_col: str = "text",
    grok: CompiledGrok = TRANSCRIPT_COMPILED,
    error_col: str = "error_kind",
) -> DataFrame:
    """Extract grok fields from ``text_col``; tag unparsable rows.

    ``error_kind``: 'blank' for empty/whitespace text (≙ blank-line skip,
    ndjsonParser.js:50), 'malformed' for regex-miss (≙ JSON.parse failure,
    ndjsonParser.js:99-115), NULL for clean rows. An ``error_col`` the
    input already carries (the NDJSON reader's 'malformed' for an
    unparsable JSON line) wins over the grok verdict.
    """
    text = F.col(text_col)
    matched = text.rlike(grok.regex)
    out = df
    for i, (name, typ) in enumerate(zip(grok.fields, grok.types), start=1):
        out = out.withColumn(
            name,
            _cast_extracted(F.regexp_extract(text, grok.regex, i),
                            matched, typ),
        )
    verdict = (
        F.when(text.isNull() | (F.trim(text) == ""), F.lit("blank"))
        .when(~matched, F.lit("malformed"))
        .otherwise(F.lit(None).cast("string"))
    )
    if error_col in df.columns:
        verdict = F.coalesce(F.col(error_col), verdict)
    return out.withColumn(error_col, verdict)


def reassemble_text(df: DataFrame) -> Column:
    """Inverse of the transcript grok — used by the round-trip invariant
    "per-turn text equality under stable (conv_id, turn_idx) ordering"."""
    return F.concat(
        F.col("method"), F.lit(" "), F.col("path"), F.lit(" -> "),
        F.col("status").cast("string"), F.lit(": "), F.col("msg"),
    )


def log_templates(
    df: DataFrame,
    text_col: str,
    mask: str = "[0-9]+",
    placeholder: str = "#",
    min_n: int = 1,
) -> DataFrame:
    """Log-template mining, the Drain-style first pass: collapse every
    variable number in a message to a placeholder and group by the
    resulting SKELETON — "which message shapes does this firehose
    contain, and how hot is each?". The reference parses individual
    lines (src/parsers — SURVEY.md §2.2) but has no template clustering;
    this is the aggregate view log triage actually starts from.

    Pure codegen: one regexp_replace projection (narrow) + one map-side
    combinable aggregate; no UDF, no shuffle beyond the skeleton
    groupBy. ``example`` is the MIN raw message per skeleton — a
    deterministic representative, so the whole table is exactly
    oracle-able (DuckDB needs the 'g' flag to match Spark's
    replace-all semantics).

    Returns (skeleton, n, n_variants, example), hottest templates first
    being a cheap ORDER BY for the caller.
    """
    skel = F.regexp_replace(F.col(text_col), mask, placeholder)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(skel.alias("skeleton"), F.col(text_col).alias("_raw"))
        .groupBy("skeleton")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("_raw").cast("bigint").alias("n_variants"),
            F.min("_raw").alias("example"),
        )
        .where(F.col("n") >= min_n)
    )
