"""The flagship link-and-vote query (SURVEY.md §3.3).

Reference: ``src/batch_train.py:54-146`` (``train_model``). The
pandas/Counter implementation becomes one declarative plan:

    filter not-null keys → derive link_key → normalize_text → one
    sorted item array per waybill and side → inner join on link_key
    with equal array sizes (count match) → arrays_zip + posexplode
    (positional alignment) → groupBy vote → aggregate top-1

Physical shape (pinned by ``tests/test_plans.py``): A and B each
shuffle once on ``link_key`` for their ``collect_list`` aggregate, the
join reuses those exchanges, and the vote adds two partial-aggregated
shuffles (vote counts, then the winner per source). Group state is
bounded by items per waybill (tens), so there is no skew or OOM risk
at 100 TB. No Python in the plan unless NFKC is enabled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .cache import tracked_persist

from sea_express_customs_etl_spark.functions.strings import normalize_text_col
from sea_express_customs_etl_spark.operators.linking import add_link_key
from sea_express_customs_etl_spark.operators.vote import majority_vote


def knowledge_base(
    df_a: DataFrame, df_b: DataFrame, *, use_nfkc: bool = True
) -> DataFrame:
    """table_a_raw-shaped × table_b_history-shaped → standard_knowledge_base.

    Output schema: original_description, official_description, ccc_code,
    frequency — the reference's ``standard_knowledge_base``
    (``src/batch_train.py:137-146``)."""
    return majority_vote(knowledge_aligned(df_a, df_b, use_nfkc=use_nfkc)).select(
        "original_description", "official_description", "ccc_code", "frequency"
    )


def linked_sides(
    df_a: DataFrame, df_b: DataFrame, *, use_nfkc: bool
) -> tuple[DataFrame, DataFrame]:
    """Both sides keyed for linking (OP-FIL-NOTNULL, OP-JOIN-KEY;
    reference ``src/batch_train.py:69-87``): rows with a null waybill
    key (and, on A, a null description) dropped, ``link_key`` derived,
    A's description normalized. Output: A (link_key, item_no,
    original_description), B (link_key, item_sequence,
    description_official, ccc_code)."""
    a = add_link_key(
        df_a.filter(
            F.col("mawb_no").isNotNull()
            & F.col("hawb_no").isNotNull()
            & F.col("description_original").isNotNull()
        )
    ).select(
        "link_key",
        "item_no",
        normalize_text_col(F.col("description_original"), use_nfkc=use_nfkc).alias(
            "original_description"
        ),
    )
    b = add_link_key(
        df_b.filter(F.col("mawb_no").isNotNull() & F.col("hawb_no").isNotNull())
    ).select("link_key", "item_sequence", "description_official", "ccc_code")
    return a, b


def knowledge_aligned(
    df_a: DataFrame, df_b: DataFrame, *, use_nfkc: bool = True
) -> DataFrame:
    """The link-and-align stage of :func:`knowledge_base`, exposed so
    the vote can be computed as mergeable STATE (incremental
    maintenance) instead of folded straight to winners. Output:
    (link_key, pos, original_description, official_description,
    ccc_code) — one row per aligned item pair, ``pos`` the 1-based
    rank of the pair within its waybill.

    Count match (OP-JOIN-COUNTEQ, reference ``src/batch_train.py:91-110``)
    and positional alignment (OP-JOIN-POS, ``:113-126``, sort both sides
    then ``zip``) in one pass: each side collects its waybill's items
    into an array sorted by its own order column, so the i-th item of
    A meets the i-th item of B whatever the raw order values are."""
    a, b = linked_sides(df_a, df_b, use_nfkc=use_nfkc)
    a_packed = a.groupBy("link_key").agg(
        F.sort_array(
            F.collect_list(F.struct("item_no", "original_description"))
        ).alias("_ia")
    )
    b_packed = b.groupBy("link_key").agg(
        F.sort_array(
            F.collect_list(
                F.struct("item_sequence", "description_official", "ccc_code")
            )
        ).alias("_ib")
    )
    # count equality as `size(a) - size(b) == 0` rather than
    # `size(a) == size(b)`: an EqualTo between side-separable
    # expressions would be extracted into the join KEYS, forcing a
    # re-shuffle on (size, link_key); the subtraction form stays a
    # residual join filter and the join reuses the collect_list
    # exchanges on link_key (verified via .explain — 2 exchanges
    # fewer).
    return (
        a_packed.join(b_packed, "link_key", "inner")
        .filter((F.size("_ia") - F.size("_ib")) == 0)
        .select(
            "link_key",
            F.posexplode(
                F.arrays_zip(
                    F.col("_ia.original_description").alias("original_description"),
                    F.col("_ib.description_official").alias("official_description"),
                    F.col("_ib.ccc_code").alias("ccc_code"),
                )
            ).alias("_pos0", "_p"),
        )
        .select(
            "link_key",
            (F.col("_pos0") + 1).alias("pos"),
            "_p.original_description",
            "_p.official_description",
            "_p.ccc_code",
        )
    )


def knowledge_base_ivm(
    state: DataFrame,
    kb: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    *,
    use_nfkc: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Incremental knowledge-base maintenance (VERDICT r4 #2). The
    reference rebuilds ``standard_knowledge_base`` wholesale every run
    (``/root/reference/src/batch_train.py:154-176``); here only the
    DELTA is linked/aligned, and history participates as mergeable
    vote-count STATE:

    1. ``delta_votes`` — align the new load, count votes (the only
       corpus-shaped work; cost ∝ delta);
    2. ``state'``     — merge per-(src, target) counts by addition
       (``merge_agg_states``: state is |distinct tuples|-sized, not
       row-sized);
    3. ``kb'``        — recompute winners ONLY for touched sources:
       untouched rows pass through by anti-join, touched sources
       re-rank over the merged state (semi-join).

    Returns ``(state', kb')``. Invariant (oracle-checked by the
    ``knowledge_ivm`` query): folding any waybill-complete batch
    sequence yields ``kb'`` identical to a full rebuild — vote counts
    are algebraic, and alignment is per-waybill, so a waybill-complete
    delta contributes exactly its full-run votes. The ``touched`` side
    is delta-sized (grows with load size) — deliberately hint-free, AQE
    broadcasts it when small."""
    from sea_express_customs_etl_spark.operators.profiling import (
        merge_agg_states,
    )
    from sea_express_customs_etl_spark.operators.vote import (
        state_winners,
        vote_counts,
    )

    keys = ("original_description", "official_description", "ccc_code")
    # persisted: the delta's whole align+count chain feeds BOTH the
    # state merge and the touched-source set — without the pin it
    # executes once per consumer (measured 11.5 → ~7 s at sf0.1)
    delta_votes = tracked_persist(vote_counts(
        knowledge_aligned(delta_a, delta_b, use_nfkc=use_nfkc)
    ))
    new_state = merge_agg_states(
        [state, delta_votes], key_cols=keys, count_cols=("frequency",)
    )
    touched = delta_votes.select("original_description").distinct()
    kept = kb.join(touched, "original_description", "left_anti")
    rewon = state_winners(
        new_state.join(touched, "original_description", "left_semi")
    )
    return new_state, kept.unionByName(
        rewon.select(
            "original_description", "official_description", "ccc_code", "frequency"
        )
    )
