"""Delta-chain composition and copy-on-write partition maintenance —
the machinery behind INCREMENTAL upkeep of every partitioned layout
the store writes (r13).

The versioned store commits a copy-on-write snapshot per write
generation, and the write path KNOWS its delta exactly — `add` knows
the accepted rows, `delete` knows the removed rows, `update` knows
both sides — so each commit records that delta beside the snapshot
(``v{N}/_delta``: ``upserts`` = the new full rows, ``removes`` = the
displaced old full rows), the row-level analogue of a
Delta-Lake/Iceberg transaction log's add/remove file actions. A new
generation of a partitioned layout then costs work proportional to
the DELTA and the partitions it touches, instead of to the corpus:

- compose a chain of deltas into (final upserted rows, displaced old
  rows) — pure delta-sized DataFrame algebra,
  :func:`compose_delta_chain`;
- rewrite only the partition directories those rows live in and
  HARD-LINK every untouched partition's files from the previous
  generation — :func:`rewrite_partitions` over :func:`link_tree`,
  the filesystem form of Iceberg's unchanged-data-file manifest
  reuse (on an object store a metadata copy either way).

:func:`rewrite_partitions` serves four layouts, each of which only
says which partitions a delta touches: the data snapshot
(``v{N}/bucket=`` by id hash), the sign layout
(``_sign_v{N}/layout/bucket=[/sub=]`` by sign bits), the IVF
assignments (``_ivf_v{N}/assignments/cluster_id=`` by frozen-centroid
cell) and the CDF consumer's mirror (``data_v{N}/bucket=`` by id
hash).

At 100 TB this is the difference between "a 1k-row write costs a
KMeans retrain plus a full corpus shuffle before the next search" and
"a 1k-row write costs a 1k-row assignment plus a handful of cell
rewrites". The reference rebuilds every index from scratch on each
mutation (src/models/collection.py:97-99,198 — the documented
pessimization); this module is the opposite end of that axis.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from local_vectordb_spark.sources.partitioned import write_partitioned


def compose_delta_chain(
    steps: list[tuple[DataFrame, DataFrame]], key_col: str = "id"
) -> tuple[DataFrame, DataFrame]:
    """Fold an ordered chain of per-commit deltas into the NET change.

    ``steps`` is [(upserts, removes), ...] in commit order; each side
    carries the full table schema (an ``update`` contributes the same
    id to BOTH sides of one step: the old row to removes, the merged
    row to upserts). Returns ``(final_upserts, old_rows)``:

    - ``final_upserts`` — for every id whose LAST touch leaves it
      present, the row as of the chain's end (the row the new artifact
      must contain);
    - ``old_rows`` — for every id that EXISTED at the chain's start,
      the row as it stood then (the row whose partition the new
      artifact must rewrite). An id first touched by a plain add has
      no old row; an id whose first touch is a delete or update does —
      its remove side IS the pre-chain state, because earlier steps
      did not touch it.

    Everything is delta-sized: unions of the step frames plus two
    per-id windows. Intermediate states cancel out by construction —
    an id added in step 1, moved in step 2, and deleted in step 3
    appears in NEITHER output (it was absent at both endpoints).
    """
    if not steps:
        raise ValueError("compose_delta_chain needs at least one step")
    tagged = []
    for i, (ups, rems) in enumerate(steps):
        tagged.append(
            ups.withColumn("_step", F.lit(i)).withColumn("_op", F.lit("u"))
        )
        tagged.append(
            rems.withColumn("_step", F.lit(i)).withColumn("_op", F.lit("r"))
        )
    ops = tagged[0]
    for t in tagged[1:]:
        ops = ops.unionByName(t)

    # final state: the max-step op per id; an update's u and r share a
    # step, and the post-state is the upsert, so 'u' ranks first there
    w_last = Window.partitionBy(key_col).orderBy(
        F.desc("_step"), F.desc("_op")  # 'u' > 'r' lexically → u first
    )
    final_upserts = (
        ops.withColumn("_rn", F.row_number().over(w_last))
        .filter((F.col("_rn") == 1) & (F.col("_op") == "u"))
        .drop("_rn", "_step", "_op")
    )
    # pre-chain state: the min-step op per id; at that step an
    # update's REMOVE side is the old row, so 'r' ranks first, and an
    # id whose first touch is a bare add (no 'r' at min step) had no
    # pre-chain row and is filtered out
    w_first = Window.partitionBy(key_col).orderBy(
        F.asc("_step"), F.asc("_op")  # 'r' < 'u' lexically → r first
    )
    old_rows = (
        ops.withColumn("_rn", F.row_number().over(w_first))
        .filter((F.col("_rn") == 1) & (F.col("_op") == "r"))
        .drop("_rn", "_step", "_op")
    )
    return final_upserts, old_rows


def apply_changes(
    base: DataFrame, feed: DataFrame, key_col: str = "id"
) -> DataFrame:
    """Apply a change-data feed to a base snapshot — the CONSUMER side
    of ``table_changes`` (r14): drop every key the feed names (both
    'remove' rows and the pre-images of 'upsert's), union the upsert
    rows in the base schema. ``mirror(snapshot@since, feed(since, v))
    == snapshot@v`` row-for-row, timestamps included — the contract
    the ``crud_cdf_mirror`` registry entry hash-checks per round. One
    anti-join + one union, cost ∝ base scan + feed size; the feed side
    is churn-sized and broadcasts. This is what an incremental
    downstream consumer (embedding cache, feature store, training-
    shard builder) runs per poll instead of re-reading snapshots."""
    cols = base.columns
    return base.join(
        F.broadcast(feed.select(key_col)), key_col, "left_anti"
    ).unionByName(
        feed.filter(F.col("change_type") == "upsert").select(*cols)
    )


def link_tree(src: str, dst: str) -> None:
    """Recursively hard-link every file under ``src`` into ``dst``
    (directories recreated, files linked — zero data copied). The
    incremental artifact builders use this to carry UNTOUCHED
    partition directories over from the previous generation's
    artifact. Falls back to a real copy per file when the filesystem
    refuses links (e.g. cross-device); raises FileNotFoundError if
    ``src`` vanishes mid-walk — the caller treats that as losing the
    race to the retention GC and falls back to a full build."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, t = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            link_tree(s, t)
        else:
            try:
                os.link(s, t)
            except FileNotFoundError:
                raise
            except OSError:
                shutil.copy2(s, t)


def rewrite_partitions(
    spark: SparkSession,
    prev: str,
    out: str,
    cols: list[str],
    touched,
    changed_ids: DataFrame,
    new_rows: DataFrame,
) -> bool:
    """Write the next generation of the partitioned layout at ``prev``
    into ``out``: ``(prev rows in touched partitions − changed_ids) ∪
    new_rows`` through :func:`write_partitioned`, then every untouched
    top-level partition directory of ``prev`` hard-linked
    (:func:`link_tree`). Cost ∝ delta + touched partitions.

    ``cols`` are the partition columns, outermost first; ``touched``
    holds the ``cols[0]`` values the delta lands in (old and new
    sides). ``changed_ids`` is a delta-sized frame with an ``id``
    column (it is broadcast); ``new_rows`` carries every layout
    column, partition columns included. An emptied result is written
    as :func:`write_partitioned`'s schema-bearing flat parquet, and a
    ``prev`` without partition dirs is taken for one (no rows kept).

    Returns False, having written nothing, for a null touched key or
    a non-numeric partition dir in ``prev`` (hive names a null
    partition value ``__HIVE_DEFAULT_PARTITION__``): integer partition
    arithmetic does not cover them, so the caller takes its wholesale
    path, which handles nulls like any other value."""
    key = cols[0]
    names = [n for n in os.listdir(prev) if n.startswith(f"{key}=")]
    if None in touched or not all(
        n.split("=", 1)[1].lstrip("-").isdigit() for n in names
    ):
        return False
    touched = set(touched)
    keep = [n for n in names if int(n.split("=", 1)[1]) not in touched]
    if touched or not keep:
        rows = new_rows
        if names:  # else prev is an emptied generation: nothing to keep
            rows = (
                spark.read.parquet(prev)
                .filter(F.col(key).isin(sorted(touched)))
                .join(F.broadcast(changed_ids.select("id")), "id", "left_anti")
                .select(*new_rows.columns)
                .unionByName(new_rows)
            )
        if not write_partitioned(rows, out, cols) and keep:
            # the touched partitions emptied but untouched ones remain:
            # the layout stays partitioned, so drop the flat empty file
            shutil.rmtree(out)
    for name in keep:
        link_tree(os.path.join(prev, name), os.path.join(out, name))
    return True
