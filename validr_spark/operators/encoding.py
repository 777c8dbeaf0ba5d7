"""Encoding hygiene for text columns: replacement chars, stray control
bytes, mojibake, zero-width characters.

Web-scale corpora arrive through many decode paths (HTML scrapes, PDF
extraction, double-decoded databases); a training pipeline has to find the
rows where that went wrong before they poison the tokenizer.  Every
encoding check is a pure Catalyst `regexp_count` projection — whole-stage
codegen, zero Python per row, zero shuffle for the per-doc scan; the
corpus report is one partial-aggregated pass whose shuffle carries |group|
rows.  Only the NFC functions call Python, for the non-ASCII rows.

Pattern dialect: the Java-regex ∩ RE2 subset (same policy as
operators/pii.py) with `\\x{hhhh}` hex escapes, which both Java and RE2
accept verbatim — the identical pattern strings run in Spark and in the
DuckDB oracle (see __spark_entry__.oracle_sql's encoding query).

Classes detected:

- ``replacement`` — U+FFFD, what a strict decoder emits for undecodable
  bytes; any occurrence means content was already lost upstream.
- ``control`` — C0 control chars other than tab/newline/carriage-return,
  plus DEL: binary junk or transfer corruption inside "text".
- ``mojibake`` — the classic UTF-8-bytes-read-as-Latin-1 signatures:
  ``Ã``/``Â``/``Ä``…``Å`` followed by a Latin-1 continuation char (the
  decoded image of a two-byte UTF-8 sequence), and ``â€`` (image of the
  E2-80-xx punctuation block: ’ “ ” – —).
- ``zero_width`` — ZWSP/ZWNJ/ZWJ/BOM-in-body: invisible chars that split
  tokens and leak into generated text.

Reference parity note: guyskk/validr validates *values* (str_validator
checks length/pattern once a value decoded — _validator_c.pyx); corpus
encoding forensics is part of the distributed-pipeline layer this repo
adds on top.
"""

from __future__ import annotations

import unicodedata
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._barrier import arrow_map

__all__ = ["ENCODING_PATTERNS", "encoding_counts", "encoding_scan",
           "encoding_report", "is_nfc", "nfc_normalize_text", "nfc_audit",
           "clean_text"]

# A UTF-8 continuation byte (0x80-0xBF) mis-decoded shows up as its
# Latin-1 image (U+0080-U+00BF) OR, far more often in the wild, its
# cp1252 image: 0x80-0x9F map to the Windows punctuation/letter block
# (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ).
_CONT = (r"[\x{0080}-\x{00BF}\x{20AC}\x{201A}\x{0192}\x{201E}\x{2026}"
         r"\x{2020}\x{2021}\x{02C6}\x{2030}\x{0160}\x{2039}\x{0152}"
         r"\x{017D}\x{2018}\x{2019}\x{201C}\x{201D}\x{2022}\x{2013}"
         r"\x{2014}\x{02DC}\x{2122}\x{0161}\x{203A}\x{0153}\x{017E}"
         r"\x{0178}]")

# Java ∩ RE2: character classes + \x{hhhh} escapes only, no lookaround.
ENCODING_PATTERNS: dict[str, str] = {
    "replacement": r"\x{FFFD}",
    # C0 minus \t \n \r, plus DEL
    "control": r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]",
    # Lead char image of a 2-byte UTF-8 sequence (Â Ã Ä Å) or of the
    # 3-byte E2 punctuation block (â), followed by a continuation image.
    "mojibake": r"[\x{00C2}-\x{00C5}\x{00E2}]" + _CONT,
    "zero_width": r"[\x{200B}-\x{200D}\x{FEFF}]",
}


def encoding_counts(col: Column | str) -> Column:
    """struct<replacement:int, control:int, mojibake:int, zero_width:int>
    — non-overlapping match counts, one codegen regex pass per class."""
    col = F.col(col) if isinstance(col, str) else col
    return F.struct(*[
        F.regexp_count(col, F.lit(pat)).alias(name)
        for name, pat in ENCODING_PATTERNS.items()
    ])


def encoding_scan(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document encoding audit: one row per doc with per-class counts
    and an ``is_clean`` flag.  Map-side only — composes with pushdown and
    column pruning; filter on ``NOT is_clean`` to quarantine."""
    c = encoding_counts(text_col)
    out = df.select(F.col(id_col), c.alias("_e"))
    names = list(ENCODING_PATTERNS)
    total = sum((F.col("_e")[n] for n in names[1:]), F.col("_e")[names[0]])
    return out.select(
        id_col,
        *[F.col("_e")[n].alias(f"n_{n}") for n in names],
        total.alias("n_bad_chars"),
        (total == 0).alias("is_clean"),
    )


def encoding_report(df: DataFrame, text_col: str = "text",
                    by: str | None = "source") -> DataFrame:
    """Corpus-level encoding report, optionally per ``by`` group: docs
    scanned, docs affected per class, total bad chars, clean fraction.
    Partial-aggregated map-side; the shuffle carries |groups| rows."""
    c = encoding_counts(text_col)
    keys = [by] if by else []
    tmp = df.select(*keys, c.alias("_e"))
    names = list(ENCODING_PATTERNS)
    total = sum((F.col("_e")[n] for n in names[1:]), F.col("_e")[names[0]])
    tmp = tmp.select(*keys, "_e", total.alias("_tot"))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for n in names:
        aggs.append(F.sum((F.col("_e")[n] > 0).cast("long"))
                    .alias(f"docs_{n}"))
    aggs.append(F.sum("_tot").alias("total_bad_chars"))
    aggs.append(F.round(F.avg((F.col("_tot") == 0).cast("double")), 6)
                .alias("clean_frac"))
    g = tmp.groupBy(*keys) if keys else tmp.groupBy()
    out = g.agg(*aggs)
    return out.orderBy(*keys) if keys else out


# --- Unicode normalization-form hygiene -------------------------------------

def _non_ascii(col: Column) -> Column:
    """True where ``col`` holds a non-ASCII character, NULL for NULL.
    ASCII text is NFC by definition, so only these rows need Python."""
    return col.rlike(r"[^\x00-\x7F]")


def is_nfc(col: Column | str) -> Column:
    """Boolean column: is the string in Unicode NFC (composed) form?

    Mixed-normalization corpora make identical-looking strings tokenize
    differently (``é`` as U+00E9 vs ``e``+U+0301), splitting dedup
    fingerprints, enum/equality checks, and token statistics.

    Catalyst has no normalization-form primitive, so this is
    ``unicodedata.is_normalized`` (a C quick-check) over Arrow batches
    (:func:`~._barrier.arrow_map`).  NULL in → NULL out.  Every non-NULL
    row crosses into Python; to keep the ASCII majority of a corpus out,
    pass ``F.when(non_ascii, col)`` as the argument, as
    :func:`nfc_audit` does (PERF.md Finding 22).
    """
    col = F.col(col) if isinstance(col, str) else col
    return arrow_map(
        lambda s: s.map(partial(unicodedata.is_normalized, "NFC")),
        "boolean", col)


def nfc_normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rewrite ``text_col`` into NFC.

    One projection: ``coalesce(nfc(when(non_ascii, text)), text)``.  The
    ``when`` sits in the UDF's argument, so ASCII and NULL rows reach
    Python as NULL and keep their text (PERF.md Finding 22); only the
    non-ASCII minority is normalized.  One scan, one Python pass, no
    shuffle, and row order is kept.
    """
    c = F.col(text_col)
    nfc = arrow_map(lambda s: s.map(partial(unicodedata.normalize, "NFC")),
                    "string", F.when(_non_ascii(c), c))
    return df.withColumn(text_col, F.coalesce(nfc, c))


def nfc_audit(df: DataFrame, text_col: str = "text",
              by: str | None = "source") -> DataFrame:
    """Corpus normalization-form report, optionally per ``by`` group:
    docs scanned, non-ASCII docs, docs not in NFC, non-NFC fraction.

    One scan and one aggregate: the non-NULL and non-ASCII texts
    summed, and ``count_if(is_nfc(when(non_ascii, text)) = false)``.
    The ``when`` in :func:`is_nfc`'s argument keeps the ASCII majority
    out of Python (PERF.md Finding 22).  The shuffle carries |groups|
    rows.  An empty frame without ``by`` gives one row with NULL
    ``n_docs``/``n_non_ascii`` (sums, not counts), 0 ``n_not_nfc`` and
    NULL ``not_nfc_frac``.
    """
    c = F.col(text_col)
    non_ascii = _non_ascii(c)
    keys = [by] if by else []
    out = df.groupBy(*keys).agg(
        F.sum(c.isNotNull().cast("long")).alias("n_docs"),
        F.sum(non_ascii.cast("long")).alias("n_non_ascii"),
        F.count_if(is_nfc(F.when(non_ascii, c)) == False)  # noqa: E712
        .alias("n_not_nfc"))
    out = out.withColumn(
        "not_nfc_frac",
        F.round(F.try_divide(F.col("n_not_nfc"), F.col("n_docs")), 6))
    return out.orderBy(*keys) if keys else out


def clean_text(df: DataFrame, text_col: str = "text",
               strip_controls: bool = True, strip_zero_width: bool = True,
               collapse_whitespace: bool = True,
               nfc: bool = True) -> DataFrame:
    """The repair counterpart of :func:`encoding_scan`: apply the SAFE
    subset of fixes in one pass — strip C0 controls/DEL, strip
    zero-width chars (ZWSP/ZWNJ/ZWJ/in-body BOM), collapse whitespace
    runs (preserving single newlines as line structure), and NFC-
    normalize.  Mojibake and U+FFFD are deliberately NOT "fixed": the
    original bytes are unrecoverable, so those rows belong in the
    quarantine path (``encoding_scan``'s ``is_clean`` filter), not under
    a silent rewrite.

    Order matters and is fixed: controls/zero-width out first (so a
    control char between two spaces collapses to ONE space), whitespace
    second, NFC last.  Idempotent: cleaning cleaned text is a no-op
    (asserted in tests).  Everything except the NFC step is codegen
    `regexp_replace`; the NFC step sends only the non-ASCII minority to
    Python (:func:`nfc_normalize_text`'s argument screen).
    """
    c = F.col(text_col)
    if strip_controls:
        c = F.regexp_replace(
            c, r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}"
               r"\x{007F}]", "")
    if strip_zero_width:
        c = F.regexp_replace(c, r"[\x{200B}-\x{200D}\x{FEFF}]", "")
    if collapse_whitespace:
        # runs containing a newline become one newline (keep paragraph/
        # line structure); pure horizontal runs become one space; then
        # trim the ends
        c = F.regexp_replace(c, r"[ \t\r]*\n[ \t\r\n]*", "\n")
        c = F.regexp_replace(c, r"[ \t\r]+", " ")
        c = F.trim(c)
    out = df.withColumn(text_col, c)
    if nfc:
        out = nfc_normalize_text(out, text_col)
    return out
