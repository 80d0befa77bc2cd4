"""Majority-vote knowledge extraction (OP-AGG-VOTE, SURVEY.md §2.5).

Reference: ``src/batch_train.py:121-146`` — a Python ``Counter`` per
normalized source description, ``most_common(1)`` winner.

Spark-first restatement: vote counting is a plain groupBy (partial
aggregation map-side, one shuffle), winner selection is a second
aggregate, ``min(struct(-frequency, targets...))`` over the vote
counts — both fully inside Catalyst, never a UDAF, and no per-group
sort.

Determinism: ``Counter.most_common`` breaks ties by insertion order,
which is row-order dependent and therefore nondeterministic under
distribution. The engine defines the tie-break as
``(frequency DESC, official_description ASC, ccc_code ASC)`` — a
documented, deterministic divergence (SURVEY.md §7.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def majority_vote(
    df: DataFrame,
    src_col: str = "original_description",
    target_cols: tuple[str, ...] = ("official_description", "ccc_code"),
    freq_col: str = "frequency",
) -> DataFrame:
    """Per ``src_col``, count votes for each distinct target tuple and
    keep the winner (highest count; deterministic tie-break by target
    columns ascending). Empty-string sources are excluded (reference
    ``src/batch_train.py:127``). Two partial-aggregated shuffles: the
    vote count on (src, targets), then the winner on src."""
    return state_winners(
        vote_counts(df, src_col, target_cols, freq_col), src_col, target_cols, freq_col
    )


def vote_counts(
    df: DataFrame,
    src_col: str = "original_description",
    target_cols: tuple[str, ...] = ("official_description", "ccc_code"),
    freq_col: str = "frequency",
) -> DataFrame:
    """The vote-count STATE: one row per (src, target tuple) with its
    frequency — an algebraic (summable) aggregate, which is what makes
    the knowledge base incrementally maintainable: per-batch states
    merge by addition (``profiling.merge_agg_states``), no realignment
    of history."""
    return (
        df.filter(F.col(src_col) != "")
        .groupBy(src_col, *target_cols)
        .agg(F.count(F.lit(1)).alias(freq_col))
    )


def state_winners(
    votes: DataFrame,
    src_col: str = "original_description",
    target_cols: tuple[str, ...] = ("official_description", "ccc_code"),
    freq_col: str = "frequency",
) -> DataFrame:
    """Winner per source from a vote-count state — the aggregate
    (non-window) top-1: min over struct(-freq, targets..., freq);
    -freq ASC == freq DESC, then target columns ascending — the
    ``row_number()`` top-1 order, map-side combinable."""
    winner = F.min(
        F.struct(
            (-F.col(freq_col)).alias("_nf"),
            *[F.col(c).alias(c) for c in target_cols],
            F.col(freq_col).alias(freq_col),
        )
    ).alias("_w")
    agg = votes.groupBy(src_col).agg(winner)
    return agg.select(
        src_col,
        *[F.col(f"_w.{c}").alias(c) for c in target_cols],
        F.col(f"_w.{freq_col}").alias(freq_col),
    )
