"""Corpus-hygiene operators for training-data pipelines: benchmark
decontamination (n-gram overlap against an eval set) and PII
redaction — steps the reference never needed (its corpus is customs
manifests, ``training.log``-scale) but that any 100 TB pretraining
pipeline runs before the data touches a trainer.

Everything is built-in Catalyst expressions (no UDFs); regex patterns
stick to constructs with identical semantics in Java regex (Spark) and
RE2 (DuckDB) — character classes, ``\\d``, bounded repetition, ``\\b``
on ASCII — so every operator is oracle-checkable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.dedup import shingles

# Pattern table: (name, regex, replacement token). Order matters —
# emails are redacted before phones so a digit-heavy local part can
# never be half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, the number
    of distinct word ``n``-grams it shares with the benchmark (eval)
    set, plus the contamination verdict. Output: id, n_overlap,
    contaminated (1/0) — every corpus row is kept so downstream can
    filter OR audit.

    ``n`` defaults to 5: long enough that an overlap means shared
    provenance, not chance collision (trigram overlap on a narrow
    vocabulary flags half the corpus; see the calibration note in the
    oracle module). Real pipelines use 8-13; the semantics are
    identical.

    Scale shape: the benchmark n-gram set is eval-benchmark-sized (MBs
    against a 100 TB corpus), so it is distinct-ed and **broadcast** —
    the corpus side is a single map-side hash-join probe over its
    exploded shingles followed by one partial-aggregated count; the
    only shuffle is the per-document count, keyed on ``id_col``.
    """
    bench_grams = (
        shingles(benchmark, text_col, id_col, n=n).select("shingle").distinct()
    )
    corpus_grams = shingles(corpus, text_col, id_col, n=n)
    overlap = (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.when(F.coalesce("n_overlap", F.lit(0)) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("contaminated"),
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-LEVEL duplicate-line removal (the C4-recipe step): any
    line whose exact text occurs in more than ``max_occurrences``
    documents-positions across the whole corpus is dropped from every
    document (boilerplate, navigation chrome, license headers). Output:
    one row per input document — id, ``text`` rebuilt from the
    surviving lines in original order, ``n_removed``. Documents whose
    lines are all dropped survive with empty text (auditable, not
    silently vanished).

    Scale shape: explode to (id, line-ordinal, line) — linear; ONE
    partial-aggregated count shuffle keyed on the line text (the
    classic word-count shape; at 100 TB hash the line to a digest
    first if line lengths are adversarial); a broadcast-unfriendly
    count table joins back by sort-merge on the line key; reassembly
    is one shuffle on ``id_col`` with per-document bounded state
    (lines-per-doc is physics, not corpus size).
    """
    # sep is a LITERAL separator (as the docstring and the DuckDB
    # oracle treat it) but F.split takes a Java regex — quote it, or a
    # caller passing "|" or "." would silently split on every character
    sep_re = re.escape(sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep_re), -1)).alias(
            "_idx", "_line"
        ),
    )
    counts = lines.groupBy("_line").agg(F.count(F.lit(1)).alias("_cnt"))
    kept = lines.join(counts, "_line").filter(F.col("_cnt") <= max_occurrences)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s._line,
            ),
            sep,
        ).alias("_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), F.lit(sep_re), -1)).alias("_n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_text", F.lit("")).alias(text_col),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers, keeping an audit
    count. Output: id, n_redactions, redacted.

    Replacements run sequentially in ``PII_PATTERNS`` order; the match
    counts are taken per-pattern on the ORIGINAL text (the audit number
    answers "how much PII did this document carry", not "how many
    replacements happened after earlier rewrites"). Map-only — one
    projection, zero shuffles, pipelines with the scan at any scale.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)) for _, pat, _ in PII_PATTERNS
    ]
    redacted = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return df.select(
        F.col(id_col),
        total.cast("int").alias("n_redactions"),
        redacted.alias("redacted"),
    )


def dup_substring_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 16,
    max_occurrences: int = 1,
) -> DataFrame:
    """MassiveText-style EXACT-SUBSTRING duplication signal — the
    granularity between whole-document dedup (:mod:`dedup`) and line
    dedup above: fixed-length character windows at a fixed stride,
    hashed corpus-wide; a window whose text recurs beyond
    ``max_occurrences`` marks a duplicated span (license boilerplate,
    templated passages, quoted chunks), even when it never aligns with
    a line break and the containing documents differ elsewhere.

    Output: one row per input document — id, ``n_windows``,
    ``n_dup_windows`` (ints), ``dup_lo``/``dup_hi`` (0-based char
    bounds covering every duplicated window; NULL when clean).
    Documents shorter than ``window`` keep a row with zero counts.

    Scale shape: the window explode is ``len/stride`` rows per
    document — the heavy, honest cost of the MassiveText recipe — but
    each row is only (id, offset, md5); ONE partial-aggregated count
    shuffle keyed on the full 32-hex md5 (no truncation: a truncated
    hash colliding at corpus scale would FALSELY mark spans), a
    sort-merge join back on the hash (count table is
    corpus-vocabulary-sized — never broadcast-hinted), and a bounded
    per-document aggregate. ``stride`` is the cost dial: window/stride
    overlap factor ≈ 4 here vs MassiveText's 1 (they dedup disjoint
    chunks; overlapping windows catch shifted duplicates).
    """
    t = F.col("_t")
    wins = (
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
        .filter(F.length(t) >= window)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.length(t) - window) / stride).cast("int"),
                )
            ).alias("_i"),
            "_t",
        )
        .select(
            F.col(id_col),
            (F.col("_i") * stride).alias("_off"),
            F.md5(F.substr(t, F.col("_i") * stride + 1, F.lit(window))).alias(
                "_h"
            ),
        )
    )
    counts = wins.groupBy("_h").agg(F.count(F.lit(1)).alias("_cnt"))
    dup = F.col("_cnt") > max_occurrences
    stats = (
        wins.join(counts, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_windows"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("int").alias(
                "n_dup_windows"
            ),
            F.min(F.when(dup, F.col("_off"))).cast("int").alias("dup_lo"),
            F.max(F.when(dup, F.col("_off") + window)).cast("int").alias(
                "dup_hi"
            ),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.col("dup_lo"),
            F.col("dup_hi"),
        )
    )
