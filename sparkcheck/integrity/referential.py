"""Referential-integrity (orphan) checks.

Reference template (business_rules/models.py:384-415):

    SELECT count(*) FROM child c LEFT JOIN parent p ON c.fk = p.pk
    WHERE c.fk IS NOT NULL AND p.pk IS NULL

Spark-first compilation: a LEFT ANTI join — Catalyst's dedicated operator
for NOT EXISTS — after filtering null FKs. The anti-join only needs the
parent's DISTINCT key column, so we project + de-dup the parent first;
for dimension-sized parents we broadcast that key set, turning the check
into a map-only pass over the child (no shuffle of the 100 TB side at
all). For large parents, AQE picks sort-merge/shuffle-hash and its skew
splitter handles hot FK values; the child side can additionally be salted
by the caller via repartition if a single FK dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def parent_hint(parent: DataFrame, broadcast_parent: bool | None) -> DataFrame:
    """Apply ``broadcast_parent`` to the parent side of an orphan join:
    True hints a broadcast, False a shuffled hash join (never a
    broadcast), None leaves the choice to Catalyst/AQE size estimates."""
    if broadcast_parent is True:
        return F.broadcast(parent)
    if broadcast_parent is False:
        return parent.hint("shuffle_hash")
    return parent


def orphan_rows(
    child: DataFrame,
    fk: str,
    parent: DataFrame,
    pk: str,
    broadcast_parent: bool | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Child rows whose non-null FK has no match in parent PK.

    ``broadcast_parent``: True forces a broadcast of the distinct parent
    keys (map-side anti-join — the right plan whenever the parent key set
    fits in executor memory, e.g. any dimension table); False forces the
    shuffle path; None lets Catalyst/AQE decide from size estimates.
    """
    keys = parent_hint(parent.select(F.col(pk).alias(fk)).distinct(), broadcast_parent)
    sel = list(dict.fromkeys([fk, *extra_cols]))
    return (
        child.select(*sel, F.spark_partition_id().alias("partition_id"))
        .where(F.col(fk).isNotNull())
        .join(keys, on=fk, how="left_anti")
    )


def orphan_summary(
    child: DataFrame,
    fk: str,
    parent: DataFrame,
    pk: str,
    broadcast_parent: bool | None = None,
) -> DataFrame:
    """One-row frame: orphan_count + distinct_orphan_keys."""
    rows = orphan_rows(child, fk, parent, pk, broadcast_parent)
    return rows.agg(
        F.count(F.lit(1)).alias("orphan_count"),
        F.count_distinct(F.col(fk)).alias("distinct_orphan_keys"),
    )
