"""Delta-chain composition and file-level artifact reuse: the
machinery behind incremental maintenance of the versioned store.

Every commit records its delta beside the snapshot (``v{N}/_delta``:
``upserts`` = the new full rows, ``removes`` = the displaced old full
rows), the row-level analogue of a Delta-Lake/Iceberg transaction
log's add/remove file actions. A write generation, or an index
artifact built for generation N from an artifact of an earlier
retained generation w plus a complete delta chain w+1..N, then costs
work proportional to the DELTA and the partitions it touches, not to
the corpus:

- :func:`compose_delta_chain` folds the chain into (final upserted
  rows, displaced old rows), pure delta-sized DataFrame algebra;
- :func:`rewrite_partitions` rewrites only the partition directories
  (data buckets, sign buckets, IVF cells) those rows live in and
  hard-links every untouched one from the previous directory
  (:func:`link_tree`): the filesystem form of Iceberg's
  unchanged-data-file manifest reuse; on an object store this is a
  metadata copy either way.

A 1k-row write therefore costs a 1k-row assignment plus a handful of
partition rewrites, where the reference rebuilds every index from
scratch on each mutation (src/models/collection.py:97-99,198).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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


def rewrite_partitions(
    prev_dir: str,
    out_dir: str,
    key: str,
    touched,
    changed_ids: DataFrame,
    new_rows: DataFrame,
    part_cols: tuple[str, ...] = (),
) -> None:
    """Write the next generation of a directory hive-partitioned on the
    integer column ``key``: rows = previous rows whose ``id`` is not in
    ``changed_ids`` + ``new_rows``. Only the ``touched`` partition values are read (one
    partition-pruned scan of ``prev_dir``), anti-joined against the
    broadcast id set, unioned with ``new_rows`` and written to
    ``out_dir``; every other ``key=`` directory is hard-linked. The
    caller guarantees that every changed id's old and new row lives in
    a touched partition.

    ``new_rows`` fixes the column set, so a previous directory missing
    one of its columns (an older layout) raises AnalysisException.
    ``part_cols`` (default: ``key`` alone) are the written partition
    columns, ``key`` first; a shuffle on them puts each rewritten leaf
    in one task, so it holds one file. An empty ``touched`` writes
    nothing and links everything."""
    if touched:
        cols = part_cols or (key,)
        prev = new_rows.sparkSession.read.parquet(prev_dir)
        (
            prev.filter(F.col(key).isin(sorted(touched)))
            .join(F.broadcast(changed_ids), "id", "left_anti")
            .select(*new_rows.columns)
            .unionByName(new_rows)
            .repartition(*cols)
            .write.mode("overwrite")
            .partitionBy(*cols)
            .parquet(out_dir)
        )
    else:
        os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(prev_dir):
        k, _, val = name.partition("=")
        if k == key and int(val) not in touched:
            link_tree(os.path.join(prev_dir, name),
                      os.path.join(out_dir, name))


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
