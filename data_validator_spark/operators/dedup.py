"""Deduplication operators.

Two families from the reference:
  - first-occurrence-wins dedup over an explicit ingest order
    (entity_controller.py:381-383 `_valid_user_ids`,
    utils.py:297-317 cross-org dedup) — A3/A4 in SURVEY.md §2.4.
  - winner-selection dedup with completed-state branching and
    `:dupN` suffixing (firestore_services.py:227-357) — W2/W3.

Both are single-shuffle window computations: `dropDuplicates` alone is
nondeterministic under parallelism, so an explicit order column is
required (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_wins(
    df: DataFrame, keys: Sequence[str], order_col: str, keep_marker: bool = False
) -> DataFrame:
    """Keep the first row per key by `order_col` (deterministic analogue
    of the reference's 'skip ids already seen' set logic)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    out = df.withColumn("_rn", F.row_number().over(w))
    if keep_marker:
        return out.withColumn("is_first", F.col("_rn") == 1).drop("_rn")
    return out.filter(F.col("_rn") == 1).drop("_rn")


def flag_duplicates(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    label: str = "duplicate_clip_id",
) -> DataFrame:
    """Soft-rule form: first occurrence stays clean, later occurrences
    get a `label(key)` message column `_dup_label` (NULL when clean)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    rn = F.row_number().over(w)
    key_str = F.concat_ws(":", *[F.col(k).cast("string") for k in keys])
    return df.withColumn(
        "_dup_label",
        F.when(rn > 1, F.concat(F.lit(label + "("), key_str, F.lit(")"))),
    )


def winner_selection(
    df: DataFrame,
    keys: Sequence[str],
    complete_col: str = "is_complete",
    time_col: str = "updated_at",
    id_col: str = "clip_id",
    suffixed_col: str | None = None,
    dup_label: str = "Duplicate",
    multi_label: str = "multiple_completed_transcripts",
) -> DataFrame:
    """Winner-selection dedup, reproducing the reference's branch table
    (firestore_services.py:293-357; truth table VALIDATION_RULES.md:376-397):

      group size 1                -> winner, no message
      exactly 1 completed         -> completed row wins; losers 'Duplicate'
      >=2 completed               -> NO winner; every row flagged
                                     `multi_label` and every row suffixed
      0 completed                 -> latest by time_col wins; losers 'Duplicate'

    Losers (or all rows in the >=2-completed branch) get ':dupN'
    appended to `suffixed_col`, numbered oldest-first
    (firestore_services.py:269-290).

    Adds columns: is_winner, dedup_msg, <suffixed_col> (rewritten).
    One shuffle on `keys` (all windows share the partitioning).
    """
    suffixed_col = suffixed_col or id_col
    comp = F.coalesce(F.col(complete_col), F.lit(False))
    ts = F.coalesce(F.col(time_col), F.lit("1970-01-01").cast("timestamp"))

    w = Window.partitionBy(*keys)
    # id tiebreak keeps the pick deterministic under equal timestamps
    w_pick = w.orderBy(comp.desc(), ts.desc(), F.col(id_col).asc())
    n_complete = F.sum(comp.cast("int")).over(w)
    grp_n = F.count(F.lit(1)).over(w)
    pick_rank = F.row_number().over(w_pick)

    out = df.withColumns(
        {"_n_complete": n_complete, "_grp_n": grp_n, "_pick": pick_rank}
    )
    multi = (F.col("_grp_n") > 1) & (F.col("_n_complete") >= 2)
    is_winner = (F.col("_grp_n") == 1) | (
        (F.col("_n_complete") <= 1) & (F.col("_pick") == 1)
    )
    # suffix targets: losers, or everyone in the >=2-completed branch
    sfx_t = (F.col("_grp_n") > 1) & (multi | ~is_winner)
    w_sfx = Window.partitionBy(*keys, sfx_t).orderBy(ts.asc(), F.col(id_col).asc())
    sfx_rank = F.row_number().over(w_sfx)
    cols = {
        suffixed_col: F.when(
            sfx_t,
            F.concat(F.col(suffixed_col), F.lit(":dup"), sfx_rank.cast("string")),
        ).otherwise(F.col(suffixed_col)),
        "is_winner": is_winner,
        "dedup_msg": F.when(multi, F.lit(multi_label)).when(
            (F.col("_grp_n") > 1) & ~is_winner, F.lit(dup_label)
        ),
    }
    # the columns, in order, of df.withColumns(cols): temps drop out
    names = df.columns + [c for c in cols if c not in df.columns]
    return out.select(*[cols[c].alias(c) if c in cols else c for c in names])
