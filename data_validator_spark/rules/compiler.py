"""Rule compiler: ordered rule list -> Column expressions.

Output contract per entity (reference core_models.py:269-272, 586-597):
  validation_msg_<entity>  ';'-joined soft labels, declaration order
  warning_msg_<entity>     ';'-joined warning labels
  valid_<entity>           validation_msg == ''

Hard-tier rows are split into an invalid side-channel with normalized
(invalid_key, invalid_value, expected_value) columns, one row per
failed hard rule — the `invalid_data` table analogue
(entity_controller.py:148-191).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.rules.spec import HARD, SOFT, WARNING, Rule


def _joined(rules: Sequence[Rule], tier: str, extra: Sequence[Column] = ()) -> Column:
    msgs = [F.when(r.predicate, r.message) for r in rules if r.tier == tier]
    msgs += list(extra)
    if not msgs:
        return F.lit("")
    # concat_ws drops NULLs -> only violated labels remain, in order
    return F.concat_ws(";", *msgs)


def message_columns(
    rules: Sequence[Rule],
    entity: str,
    soft_labels: Sequence[Column] = (),
    warning_labels: Sequence[Column] = (),
) -> dict[str, Column]:
    """validation_msg / warning_msg / valid Columns for the soft and
    warning tiers: each tier's rule labels in declaration order, then
    its extra labels — NULL-or-nonempty string Columns from sources
    outside the rule list (dedup, reference joins, audio checks). One
    ';'-join per message gives the same string as appending the
    sources one at a time (the reference appends, never overwrites —
    core_models.py:663-715), in one projection."""
    vmsg = _joined(rules, SOFT, soft_labels)
    return {
        f"validation_msg_{entity}": vmsg,
        f"warning_msg_{entity}": _joined(rules, WARNING, warning_labels),
        f"valid_{entity}": vmsg == "",
    }


def apply_rules(
    df: DataFrame, rules: Sequence[Rule], entity: str
) -> DataFrame:
    """Append validation_msg / warning_msg / valid columns (soft +
    warning tiers). Hard rules are handled by `hard_violations` /
    `split_hard`."""
    return df.withColumns(message_columns(rules, entity))


def hard_predicate(rules: Sequence[Rule]) -> Column:
    hard = [r.predicate for r in rules if r.tier == HARD]
    if not hard:
        return F.lit(False)
    out = hard[0]
    for p in hard[1:]:
        out = out | p
    return F.coalesce(out, F.lit(False))


def hard_violations(
    df: DataFrame, rules: Sequence[Rule], entity: str, id_cols: Sequence[str]
) -> DataFrame:
    """Invalid side-channel: one row per (row, failed hard rule) with
    normalized error columns — mirrors invalid_data assembly
    (entity_controller.py:148-191, error capture at :324-326 etc.)."""
    hard = [r for r in rules if r.tier == HARD]
    if not hard:
        return df.select(*id_cols).limit(0).withColumns(
            {
                "entity": F.lit(entity),
                "rule": F.lit(""),
                "invalid_key": F.lit(""),
                "invalid_value": F.lit(""),
                "expected_value": F.lit(""),
            }
        )
    errs = F.array(
        *[
            F.when(
                r.predicate,
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.lit(r.invalid_key or "").alias("invalid_key"),
                    (
                        F.coalesce(F.col(r.invalid_key).cast("string"), F.lit("null"))
                        if r.invalid_key
                        else F.lit("")
                    ).alias("invalid_value"),
                    F.lit(r.expected or "").alias("expected_value"),
                ),
            )
            for r in hard
        ]
    )
    # a row failing no hard rule carries an empty array: inline emits
    # nothing for it
    return df.select(
        *id_cols,
        F.lit(entity).alias("entity"),
        F.inline(F.filter(errs, lambda x: x.isNotNull())),
    )


def split_hard(
    df: DataFrame, rules: Sequence[Rule], entity: str, id_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(rows passing all hard rules, invalid side-channel rows)."""
    pred = hard_predicate(rules)
    return df.filter(~pred), hard_violations(df, rules, entity, id_cols)
