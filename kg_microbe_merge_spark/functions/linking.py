"""Entity linking: batched mention detection + alias-dictionary scoring.

Stage shape (BASELINE.json north_star): mentions are the subject/object
surface forms coming out of triple extraction; the alias dictionary
``(alias, entity_id, prior)`` is small (≤ millions of rows) relative to
the corpus, so the link join is an explicit ``F.broadcast`` hash join —
no shuffle of the 100 TB side. Ambiguity (one alias → k entity_ids) is
resolved by max prior with a deterministic entity_id tiebreak, expressed
as a single ``max_by``-style aggregation (no window over the huge side
needed — we reduce the *dictionary*, not the corpus).

Cross-source equivalence (two entity ids sharing an alias are
``same_as``) is not a self-join here: the pipeline hands the dictionary's
alias groups straight to ``operators.components.alias_group_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_alias_dictionary(aliases: DataFrame) -> DataFrame:
    """Collapse an ambiguous alias table to one best entity per alias:
    max prior, ties broken by lexicographically largest entity_id
    (deterministic — struct max compares field-by-field).

    Runs on the dictionary side only — tiny aggregation, then broadcast.
    """
    return aliases.groupBy("alias").agg(
        F.max(F.struct(F.col("prior"), F.col("entity_id"))).alias("_best")
    ).select(
        "alias",
        F.col("_best.entity_id").alias("entity_id"),
        F.col("_best.prior").alias("prior"),
    )


def link_mentions(
    triples: DataFrame,
    aliases: DataFrame,
    mention_cols: tuple[str, str] = ("subj", "obj"),
) -> DataFrame:
    """Link subject and object surface forms against the broadcast alias
    dictionary; unlinked mentions keep their surface form as a
    provisional id (``surface:<form>``), so no assertion is dropped.

    Output: input columns with ``subj``/``obj`` replaced by entity ids,
    plus ``subj_score``/``obj_score`` link priors (null when unlinked).
    """
    best = resolve_alias_dictionary(aliases)
    out = triples
    for col in mention_cols:
        side = best.select(
            F.col("alias").alias(col),
            F.col("entity_id").alias(f"_{col}_eid"),
            F.col("prior").alias(f"{col}_score"),
        )
        out = out.join(F.broadcast(side), col, "left")
        out = out.withColumn(
            col,
            F.coalesce(
                F.col(f"_{col}_eid"),
                F.concat(F.lit("surface:"), F.col(col)),
            ),
        ).drop(f"_{col}_eid")
    return out

