"""Batch CRUD semantics over immutable columnar tables (SURVEY §2.1,
ops C1-C10).

The reference stores one JSON file per record and mutates in place
(/root/reference/src/models/collection.py:58-169); per-row REST CRUD
does not survive at 100 TB. These operators re-express each mutation as
a *batch* dataset transformation — append, key-merge, anti-join delete —
that Spark executes as one distributed pass, and that a table format
(Delta/Iceberg) would commit atomically. All are pure DataFrame ops:
Catalyst pushes the key predicates into scans, broadcasts small key
sets, and the only shuffles are the joins on the merge key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def full_scan(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """C1 — load a collection (reference glob-scans *.json,
    collection.py:171-177). Column pruning reaches the Parquet scan."""
    return df.select(*columns) if columns else df


def point_lookup(df: DataFrame, key_col: str, key) -> DataFrame:
    """C2 — single-record fetch (collection.py:112-115); an equality
    filter that becomes a Parquet pushed filter (min/max row-group skip)."""
    return df.filter(F.col(key_col) == F.lit(key))


def exists_semi(df: DataFrame, probe: DataFrame, key_col: str) -> DataFrame:
    """C3 batched — which probe keys exist (collection.py:117-119).
    Left-semi join; the probe side broadcasts when small."""
    return probe.join(df, key_col, "left_semi")


def insert_append(df: DataFrame, new_rows: DataFrame) -> DataFrame:
    """C4 — batch insert (collection.py:77-110). Pure union by name;
    the write side would be .write.mode('append')."""
    return df.unionByName(new_rows)


def upsert(base: DataFrame, updates: DataFrame, key_col: str) -> DataFrame:
    """C5 — partial update with the reference's merge semantics
    (collection.py:121-154): non-null update fields win, missing fields
    keep base values, rows only in updates are inserted, `created_at`
    would be preserved from base. One outer join on the key — the
    MERGE INTO equivalent for plain Parquet.
    """
    b = base.alias("b")
    u = updates.alias("u")
    merged = b.join(u, F.col(f"b.{key_col}") == F.col(f"u.{key_col}"), "full_outer")
    cols = []
    base_cols = set(base.columns)
    for c in dict.fromkeys([*base.columns, *updates.columns]):
        if c == key_col:
            cols.append(F.coalesce(f"b.{c}", f"u.{c}").alias(c))
        elif c in base_cols and c in updates.columns:
            cols.append(F.coalesce(f"u.{c}", f"b.{c}").alias(c))
        elif c in base_cols:
            cols.append(F.col(f"b.{c}").alias(c))
        else:
            cols.append(F.col(f"u.{c}").alias(c))
    return merged.select(*cols)


def delete_keys(df: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """C6 — batch delete (collection.py:156-169) as a left-anti join
    rewrite; the deleted-keys side broadcasts."""
    return df.join(F.broadcast(keys), key_col, "left_anti")


def cascade_delete(
    children: DataFrame, deleted_parents: DataFrame, fk_col: str, parent_key: str
) -> DataFrame:
    """C7 — deleting parents deletes their children
    (/root/reference/src/main.py:204-215 loops over chunks per
    document); here a single anti-join on the FK."""
    keys = deleted_parents.select(F.col(parent_key).alias(fk_col))
    return children.join(F.broadcast(keys), fk_col, "left_anti")


def fk_violations(
    child: DataFrame, parent: DataFrame, fk_col: str, parent_key: str
) -> DataFrame:
    """C8 — rows whose FK has no parent (reference validates per-row at
    src/main.py:159-162,221-232); left-anti join against parent keys."""
    keys = parent.select(F.col(parent_key).alias(fk_col))
    return child.join(keys, fk_col, "left_anti")


def reject_duplicates(
    existing: DataFrame, incoming: DataFrame, key_col: str
) -> tuple[DataFrame, DataFrame]:
    """C9 — 409-on-existing-id (src/main.py:110-114) as a batch split:
    (accepted, rejected) via anti/semi joins on the key."""
    keys = existing.select(key_col)
    accepted = incoming.join(keys, key_col, "left_anti")
    rejected = incoming.join(keys, key_col, "left_semi")
    return accepted, rejected


def reject_repeats(
    incoming: DataFrame, key_col: str
) -> tuple[DataFrame, DataFrame]:
    """C9 within one batch: (accepted, rejected), rejecting EVERY copy
    of a key that occurs more than once in ``incoming`` — no copy is
    preferred, so the split is the same however often the plan runs.
    One shuffle on the key (a window count), shared by both sides."""
    n = incoming.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(key_col))
    )
    return (
        n.filter(F.col("_n") == 1).drop("_n"),
        n.filter(F.col("_n") > 1).drop("_n"),
    )


def truncate(df: DataFrame) -> DataFrame:
    """C10 — reset a collection (src/main.py:47-87) = empty DataFrame,
    schema preserved."""
    return df.filter(F.lit(False))
