"""The store's data layout and its delta maintenance, in one module:
the versioned data snapshot, the CDF consumer's mirror and the stored
sign/ivf artifacts all write through these functions.

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
- :func:`bucket_of` is the id-hash bucket of a row, and
  :func:`auto_buckets` sizes a generation's bucket count from its
  bytes, so a bucket is one task-sized split at any corpus size;
- :func:`rewrite_partitions` rewrites only the partition directories
  (data buckets, sign buckets, IVF cells) those rows live in and
  hard-links every untouched one from the previous directory
  (:func:`link_tree`): the filesystem form of Iceberg's
  unchanged-data-file manifest reuse; on an object store this is a
  metadata copy either way;
- :func:`write_buckets` is the wholesale bucketed write, and
  :func:`seal_buckets` finishes either write: a generation that kept
  rows records its bucket count, one that kept none becomes a flat
  empty parquet a reader can open;
- :func:`durable_replace` is the commit point of every pointer and
  manifest file.

A 1k-row write therefore costs a 1k-row assignment plus a handful of
partition rewrites, where the reference rebuilds every index from
scratch on each mutation (src/models/collection.py:97-99,198).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# a bucketed generation's bucket count, beside its partition dirs
_BUCKETS = "_BUCKETS"


def bucket_of(n: int, col: str = "id") -> Column:
    """The bucket of a row among ``n``: ``pmod(xxhash64(col), n)``.
    A pure function of the id, so a bucket is computable from ids
    alone (point reads, candidate joins, the touched set of a delta)."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def touched_buckets(ids: DataFrame, n: int) -> set:
    """The buckets among ``n`` that the ``id`` column of ``ids`` hashes
    to; a delta-sized collect."""
    return {r.b for r in ids.select(bucket_of(n).alias("b")).distinct().collect()}


def parquet_bytes(path: str) -> int:
    """Parquet bytes of a generation, an artifact or a snapshot: a
    directory of parquet parts, or a single file."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dirs, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    )


def auto_buckets(nbytes: int, target_bytes: int = 128 << 20) -> int:
    """Bucket count for ``nbytes`` of data: one bucket per
    ``target_bytes`` (a task-sized split), clamped to [16, 8192], so a
    small table stays a small-file read and the count stays bounded."""
    return max(16, min(8192, math.ceil(nbytes / target_bytes)))


def generation_buckets(out_dir: str) -> int | None:
    """The bucket count :func:`seal_buckets` recorded for a generation,
    or None for a flat one."""
    try:
        with open(os.path.join(out_dir, _BUCKETS)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def seal_buckets(
    spark: SparkSession, out_dir: str, n: int, schema: StructType
) -> bool:
    """Finish a generation written partitioned by ``bucket`` among
    ``n``. If it holds a parquet file it records ``n`` and returns
    True. If it kept no rows it is replaced by a flat empty parquet of
    ``schema`` and returns False: a partitioned directory without
    files has no schema a reader could infer."""
    if any(f.endswith(".parquet")
           for _r, _d, fs in os.walk(out_dir) for f in fs):
        with open(os.path.join(out_dir, _BUCKETS), "w") as f:
            f.write(str(n))
        return True
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.createDataFrame([], schema).write.parquet(out_dir)
    return False


def write_buckets(df: DataFrame, out_dir: str, n: int) -> bool:
    """Wholesale bucketed write of ``df`` at ``n`` buckets, one file per
    bucket (a shuffle on the bucket), sealed by :func:`seal_buckets`.
    Returns whether the result is bucketed (``df`` had rows)."""
    (
        df.withColumn("bucket", bucket_of(n)).repartition("bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    )
    return seal_buckets(df.sparkSession, out_dir, n, df.schema)


def durable_replace(path: str, text: str) -> None:
    """Replace the file ``path`` with ``text`` atomically and durably:
    write and fsync a temp file, ``os.replace`` it over ``path`` (atomic
    on POSIX), then fsync the directory, since the rename lives in the
    directory's metadata. A reader sees the old file or the new one,
    never a torn one, and the new one survives power loss."""
    d = os.path.dirname(path) or "."
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dirfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)


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
    of ``table_changes``: drop every key the feed names (both
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
    ``changed_ids`` + ``new_rows``. The caller guarantees that every
    changed id's old and new row lives in a ``touched`` partition.

    Only the ``touched`` partition directories that exist are listed
    and read; each is anti-joined against the broadcast id set, unioned
    with ``new_rows`` and written to ``out_dir``. Every other ``key=``
    directory is hard-linked. A previous directory with no ``key=``
    directory holds no rows, so ``new_rows`` alone are written.

    ``new_rows`` fixes the column set: a previous layout missing one of
    its columns raises AnalysisException, also when no touched
    directory exists (one untouched directory is then read for its
    schema and filtered empty), so old-layout partitions are never
    linked beside new-layout ones. A null in ``touched`` or a
    non-integer ``key=`` directory (hive's null partition) raises
    ValueError before anything is written. ``part_cols`` (default:
    ``key`` alone) are the written partition columns, ``key`` first; a
    shuffle on them puts each rewritten leaf in one task, so it holds
    one file. An empty ``touched`` writes nothing and links
    everything."""
    if None in touched:
        raise ValueError(f"a null {key} has no partition directory")
    parts = {}
    for name in os.listdir(prev_dir):
        k, _, val = name.partition("=")
        if k == key:
            parts[int(val)] = name
    if touched:
        cols = part_cols or (key,)
        rows = new_rows
        read = [parts[t] for t in sorted(touched) if t in parts]
        read = read or list(parts.values())[:1]
        if read:
            rows = (
                new_rows.sparkSession.read.option("basePath", prev_dir)
                .parquet(*[os.path.join(prev_dir, n) for n in read])
                .filter(F.col(key).isin(sorted(touched)))
                .join(F.broadcast(changed_ids), "id", "left_anti")
                .select(*new_rows.columns)
                .unionByName(new_rows)
            )
        (
            rows.repartition(*cols)
            .write.mode("overwrite")
            .partitionBy(*cols)
            .parquet(out_dir)
        )
    else:
        os.makedirs(out_dir, exist_ok=True)
    for val, name in parts.items():
        if val not in touched:
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
