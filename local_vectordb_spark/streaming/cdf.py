"""Streaming change-data-feed consumer: the client-side loop that keeps
a local MIRROR table in sync with a served VectorDB table by polling
``GET /{kind}/_changes`` over HTTP instead of re-reading snapshots.

``operators/incremental.apply_changes`` is the batch form of the same
contract (``mirror(snapshot@since, feed(since, v)) == snapshot@v``,
hash-checked by the ``crud_cdf_mirror`` registry entry). This module
is the consumer that sees only the HTTP face (paginated JSON pages,
``X-Table-Version`` / ``X-More-Changes`` / ``X-Timeline-Id`` headers,
410 on a broken chain). Its invariants:

- every page of one poll is cut from the generation PINNED by the
  first page's ``X-Table-Version`` (an immutable range, so offset
  pagination cannot tear across commits), re-polled with
  ``version=<pin>&offset+=limit`` until ``X-More-Changes: false``;
- a feed the server cannot serve (410 Gone, a 404 cursor past a
  rewound head, or another ``X-Timeline-Id``) is never applied: the
  consumer re-reads the full snapshot through the list route, pinned
  the same way, which is also how a new mirror bootstraps, since a
  table's initial bulk load records no delta;
- the mirror is the store's own data layout (operators/incremental):
  generations ``data_v{N}`` hive-partitioned by ``bucket_of`` the id
  at a width fixed in ``_META`` at the first bootstrap, so a poll
  rewrites only the buckets its feed touches and hard-links the rest,
  at cost ∝ churn, never corpus;
- a commit writes the data generation first and then replaces the
  ``_SINCE`` cursor durably: a consumer killed mid-sync re-applies an
  idempotent feed and never serves a half-applied mirror. The previous
  generation is kept (its files back the new one's links); older ones
  are removed.

The poll clock is any Structured Streaming source (rate, Kafka control
topic, a scheduler tick) driving ``foreachBatch``; each micro-batch is
one drain-and-apply. The reference has no change feed at all
(src/models/collection.py:86-110 rewrites files and rebuilds indexes
wholesale).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import urllib.error
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from local_vectordb_spark.operators.incremental import (
    auto_buckets,
    bucket_of,
    durable_replace,
    parquet_bytes,
    rewrite_partitions,
    seal_buckets,
    touched_buckets,
    write_buckets,
)
from local_vectordb_spark.sources.json_records import SCHEMAS


class FeedGone(Exception):
    """HTTP 410 from ``/_changes``: the chain from the consumer's
    cursor is permanently unservable (reset, initial load, or GC'd
    generation in the range) — re-read the full snapshot."""


def _get(url: str):
    req = urllib.request.Request(url, method="GET")
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read()), dict(resp.headers)


def fetch_changes_page(
    base_url: str,
    kind: str,
    since: int,
    *,
    version: int | None = None,
    limit: int = 100,
    offset: int = 0,
) -> tuple[list[dict], int, bool, str | None]:
    """One feed page. Returns (rows, served_version, more,
    timeline_id). Raises :class:`FeedGone` on 410; propagates other
    HTTP errors (a 404 on an out-of-range cursor is a CALLER bug — the
    cursor came from a prior ``X-Table-Version``, which only a reset
    can invalidate, and a reset answers 410)."""
    url = f"{base_url}/{kind}/_changes?since={since}&limit={limit}&offset={offset}"
    if version is not None:
        url += f"&version={version}"
    try:
        _, rows, headers = _get(url)
    except urllib.error.HTTPError as e:
        if e.code == 410:
            raise FeedGone(e.read().decode() or "feed gone") from e
        raise
    return (
        rows,
        int(headers["X-Table-Version"]),
        headers.get("X-More-Changes") == "true",
        headers.get("X-Timeline-Id"),
    )


def drain_changes(
    base_url: str, kind: str, since: int, *, limit: int = 100
) -> tuple[list[dict], int, str | None]:
    """Drain EVERY page of one poll: the first page pins the served
    generation, continuation pages pass ``version=<pin>`` so the range
    is immutable under concurrent commits (the server's documented
    contract). Returns (all rows, pinned version, timeline id)."""
    rows, pin, more, tid = fetch_changes_page(
        base_url, kind, since, limit=limit
    )
    offset = limit
    while more:
        page, _, more, _ = fetch_changes_page(
            base_url, kind, since, version=pin, limit=limit, offset=offset
        )
        rows.extend(page)
        offset += limit
    return rows, pin, tid


def _head_pin(base_url: str, kind: str) -> tuple[int, str | None]:
    """(live version, timeline id) from one ``limit=0`` list-route
    read: the headers without any rows — what the direct-parquet
    bootstrap needs before it bypasses HTTP for the data."""
    _, _, headers = _get(f"{base_url}/{kind}?limit=0")
    return int(headers["X-Table-Version"]), headers.get("X-Timeline-Id")


def _snapshot_pages(
    base_url: str, kind: str, *, limit: int = 100
) -> tuple[list[dict], int, str | None]:
    """Full-snapshot fallback (bootstrap / post-410): page the list
    route, pinning every page after the first to the generation the
    first page's ``X-Table-Version`` named. A short page ends the
    scan (the list route has no more-pages header; the pinned
    generation is immutable, so row count is stable)."""
    _, rows, headers = _get(f"{base_url}/{kind}?limit={limit}")
    pin = int(headers["X-Table-Version"])
    tid = headers.get("X-Timeline-Id")
    out, offset = list(rows), limit
    while len(rows) == limit:
        _, rows, _ = _get(
            f"{base_url}/{kind}?version={pin}&limit={limit}&offset={offset}"
        )
        out.extend(rows)
        offset += limit
    return out, pin, tid


def _changes_schema(kind: str) -> T.StructType:
    return T.StructType(
        [T.StructField("change_type", T.StringType(), False)]
        + list(SCHEMAS[kind].fields)
    )


def _parse_row(row: dict, schema: T.StructType) -> tuple:
    vals = []
    for f in schema.fields:
        v = row.get(f.name)
        if v is not None and isinstance(f.dataType, T.TimestampType):
            v = _dt.datetime.fromisoformat(v)
            if v.tzinfo is not None:
                # the server writes an explicit UTC offset: an aware
                # datetime converts exactly whatever either session's
                # timeZone. A naive string is read in this session's
                # zone, which must then match the producer's.
                v = v.astimezone(_dt.timezone.utc)
        vals.append(v)
    return tuple(vals)


def _rows_to_df(
    spark: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    from local_vectordb_spark.session import local_rows_df

    return local_rows_df(
        spark, [_parse_row(r, schema) for r in rows], schema
    )


def _mirror_data_dir(mirror_dir: str, version: int) -> str:
    return os.path.join(mirror_dir, f"data_v{version}")


def _mirror_meta(mirror_dir: str) -> dict:
    p = os.path.join(mirror_dir, "_META")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_meta(mirror_dir: str, meta: dict) -> None:
    durable_replace(os.path.join(mirror_dir, "_META"), json.dumps(meta))


def _mirror_n_buckets(mirror_dir: str) -> int:
    """The mirror's persisted bucket width (layout identity — written
    once at bootstrap, never changed for the mirror's lifetime)."""
    return int(_mirror_meta(mirror_dir)["n_buckets"])


def read_mirror(spark: SparkSession, mirror_dir: str) -> DataFrame:
    """The mirror at its committed cursor (raises if never synced).
    The physical hash-bucket partition column is layout, not data —
    dropped here."""
    v = mirror_cursor(mirror_dir)
    if v is None:
        raise ValueError(f"no mirror committed under {mirror_dir}")
    return spark.read.parquet(_mirror_data_dir(mirror_dir, v)).drop("bucket")


def mirror_cursor(mirror_dir: str) -> int | None:
    p = os.path.join(mirror_dir, "_SINCE")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read())


def _point_cursor_and_gc(mirror_dir: str, version: int, prev: int | None) -> None:
    """The mirror's commit point: ``_SINCE`` names ``version``, replaced
    durably AFTER the data write, then every generation but this one
    and ``prev`` is removed. ``prev`` is kept: its files back the new
    generation's hard links."""
    durable_replace(os.path.join(mirror_dir, "_SINCE"), str(version))
    keep = {f"data_v{version}"} | (
        {f"data_v{prev}"} if prev is not None else set()
    )
    for name in os.listdir(mirror_dir):
        if name.startswith("data_v") and name not in keep:
            shutil.rmtree(os.path.join(mirror_dir, name),
                          ignore_errors=True)


def _commit_mirror_full(
    df: DataFrame,
    mirror_dir: str,
    version: int,
    prev: int | None,
    n_buckets: int,
    timeline: str | None = None,
) -> None:
    """Bootstrap or recovery commit: the whole snapshot ``df`` as one
    bucketed generation (``write_buckets``; an empty snapshot is a flat
    empty parquet). ``n_buckets`` is the mirror's width only when
    ``_META`` has none yet: the width is layout identity for the
    mirror's lifetime. ``timeline`` (the server's ``X-Timeline-Id``) is
    re-pinned on every bootstrap, the moment the mirror adopts a
    possibly new version line."""
    meta = _mirror_meta(mirror_dir)
    meta.setdefault("n_buckets", n_buckets)
    if timeline is not None:
        meta["timeline"] = timeline
    _write_meta(mirror_dir, meta)
    write_buckets(df, _mirror_data_dir(mirror_dir, version),
                  meta["n_buckets"])
    _point_cursor_and_gc(mirror_dir, version, prev)


def _apply_feed_bucketed(
    spark: SparkSession,
    kind: str,
    feed: DataFrame,
    mirror_dir: str,
    since: int,
    pin: int,
) -> int:
    """Apply ``feed`` to generation ``since`` as generation ``pin``: the
    buckets of the ids the feed names are rewritten (their rows minus
    those ids, plus the upserts) and every other bucket is hard-linked
    (``rewrite_partitions``), so a poll costs ∝ churn. Returns the
    touched-bucket count."""
    n = _mirror_n_buckets(mirror_dir)
    new_dir = _mirror_data_dir(mirror_dir, pin)
    touched = touched_buckets(feed, n)
    cols = [f.name for f in SCHEMAS[kind].fields]
    rewrite_partitions(
        _mirror_data_dir(mirror_dir, since), new_dir, "bucket", touched,
        feed.select("id"),
        feed.filter(F.col("change_type") == "upsert").select(*cols)
        .withColumn("bucket", bucket_of(n)),
    )
    seal_buckets(spark, new_dir, n, SCHEMAS[kind])
    _point_cursor_and_gc(mirror_dir, pin, prev=since)
    return len(touched)


def sync_mirror_once(
    spark: SparkSession,
    base_url: str,
    kind: str,
    mirror_dir: str,
    *,
    limit: int = 100,
    n_buckets: int | None = None,
    snapshot_path=None,
) -> dict:
    """One poll: drain the feed from the committed cursor and apply it
    to the mirror (``_apply_feed_bucketed``: cost ∝ churn). Returns a
    progress record ``{action, since, served_version, n_changes,
    touched_buckets}``; ``action`` is ``noop``, ``applied``,
    ``bootstrapped``, ``reset`` or ``empty``.

    A feed that cannot extend the mirror's timeline is never applied;
    the mirror re-reads the full snapshot (corpus-sized by contract)
    and bootstraps from it instead:
    - no cursor yet (a new mirror);
    - 410 Gone (reset, initial load or a GC'd generation in the range);
    - 404 on a cursor that came from a prior ``X-Table-Version``: the
      server's version line was rewound under it (a reset);
    - an ``X-Timeline-Id`` other than the one pinned in ``_META``: a
      recreated or restored store at the same address whose version
      line passed the cursor. A mirror with no pinned id adopts the
      first one it sees.
    A re-read that finds the table empty wipes a synced mirror to the
    never-synced state (``reset``) and reports ``empty`` for a new one;
    neither leaves pre-reset rows served.

    ``n_buckets`` sets the mirror's width at its first bootstrap only
    (``_META`` keeps it for the mirror's lifetime). None sizes it with
    the store's ``auto_buckets``: from the snapshot's bytes when
    bootstrapping from parquet, at the floor when bootstrapping from
    HTTP pages (the small, wire-only path).

    ``snapshot_path`` is a ``(kind, version) -> path`` hook naming the
    pinned generation's parquet snapshot on shared storage. When it
    names an existing path, the bootstrap reads that parquet directly,
    a distributed scan with no rows through the driver; the pin and
    timeline id still come from one header read, so it reads exactly
    the generation the server named. Otherwise the HTTP JSON pager is
    the fallback."""
    os.makedirs(mirror_dir, exist_ok=True)
    since = mirror_cursor(mirror_dir)
    schema = _changes_schema(kind)
    if since is not None:
        try:
            rows, pin, tid = drain_changes(
                base_url, kind, since, limit=limit
            )
        except FeedGone:
            rows, pin = None, None  # fall through to snapshot re-read
        except urllib.error.HTTPError as e:
            if e.code != 404:
                raise
            # the cursor came from a prior X-Table-Version, so a 404
            # means the server's version line was REWOUND under us (a
            # reset landed; the table now has fewer generations than
            # the cursor, possibly none) — dead timeline, re-read
            rows, pin = None, None
        if pin is not None:
            meta = _mirror_meta(mirror_dir)
            pinned_tl = meta.get("timeline")
            if pinned_tl is not None and tid is not None and tid != pinned_tl:
                # same-address, DIFFERENT store: the feed parses but
                # its deltas belong to another timeline — 410 semantics
                rows, pin = None, None
            elif pinned_tl is None and tid is not None:
                # adopt the id now so every later poll is protected
                meta["timeline"] = tid
                _write_meta(mirror_dir, meta)
        if pin is not None:
            if pin == since:  # nothing new committed since last poll
                return {"action": "noop", "since": since,
                        "served_version": pin, "n_changes": 0,
                        "touched_buckets": 0}
            feed = _rows_to_df(spark, rows, schema)
            n_touched = _apply_feed_bucketed(
                spark, kind, feed, mirror_dir, since, pin
            )
            return {"action": "applied", "since": since,
                    "served_version": pin, "n_changes": len(rows),
                    "touched_buckets": n_touched}
    # bootstrap (no cursor) or 410/404/timeline recovery
    if snapshot_path is not None:
        head, tid = _head_pin(base_url, kind)
        if head >= 0:
            path = snapshot_path(kind, head)
            if path is not None and os.path.exists(path):
                snap = spark.read.parquet(path).select(
                    [f.name for f in SCHEMAS[kind].fields]
                )
                n = snap.count()
                nb = n_buckets or auto_buckets(parquet_bytes(path))
                _commit_mirror_full(snap, mirror_dir, head, prev=since,
                                    n_buckets=nb, timeline=tid)
                return {"action": "bootstrapped", "since": since,
                        "served_version": head, "n_changes": n,
                        "touched_buckets": None,
                        "bootstrap_source": "snapshot_parquet"}
            # pin named a generation the hook can't serve (GC raced the
            # header read, or the hook covers other kinds only): the
            # wire path below is always correct, just corpus-over-HTTP
    rows, pin, tid = _snapshot_pages(base_url, kind, limit=limit)
    snap = _rows_to_df(spark, rows, SCHEMAS[kind])
    if pin >= 0:
        _commit_mirror_full(snap, mirror_dir, pin, prev=since,
                            n_buckets=n_buckets or auto_buckets(0),
                            timeline=tid)
        return {"action": "bootstrapped", "since": since,
                "served_version": pin, "n_changes": len(rows),
                "touched_buckets": None, "bootstrap_source": "http_pages"}
    if since is not None:
        # the table was reset and never re-written: a mirror pinned to
        # the dead timeline must not keep serving it — wipe to the
        # never-synced state (the next poll with live data re-bootstraps)
        os.remove(os.path.join(mirror_dir, "_SINCE"))
        for name in os.listdir(mirror_dir):
            if name.startswith("data_v"):
                shutil.rmtree(os.path.join(mirror_dir, name),
                              ignore_errors=True)
        return {"action": "reset", "since": since, "served_version": pin,
                "n_changes": 0, "touched_buckets": None}
    # never-written table, never-synced mirror: nothing was created,
    # no _SINCE exists and read_mirror still raises
    return {"action": "empty", "since": since,
            "served_version": pin, "n_changes": 0,
            "touched_buckets": None}


def run_cdf_mirror_stream(
    spark: SparkSession,
    base_url: str,
    kind: str,
    mirror_dir: str,
    clock: DataFrame | None,
    checkpoint_dir: str,
    *,
    limit: int = 100,
    available_now: bool = True,
    timeout_sec: int = 300,
    progress_sink: list | None = None,
    poll_interval_sec: int = 10,
    snapshot_path=None,
):
    """The Structured Streaming consumer loop: each micro-batch of
    ``clock`` (any streaming source — a rate stream in production, a
    file-per-tick clock in tests) triggers ONE :func:`sync_mirror_once`
    inside ``foreachBatch``. The clock carries no data; it is the poll
    scheduler, checkpointed like any sink so a restarted consumer
    resumes polling without double-applying (the mirror cursor, not
    the clock offset, is the idempotency point — a replayed tick just
    re-polls and no-ops). ``clock=None`` builds the production
    default: a rate stream ticking once per ``poll_interval_sec``
    (pass ``available_now=False`` with it — a rate clock never runs
    dry, so the caller owns stop()). Returns the StreamingQuery
    (stopped when ``available_now``)."""
    default_clock = clock is None
    if default_clock and available_now:
        raise ValueError(
            "clock=None builds a continuous rate clock, which never "
            "'runs dry' — availableNow would make the drain's stopping "
            "point timing-dependent. Pass available_now=False (caller "
            "stops the query) or supply a finite clock source."
        )
    if default_clock:
        clock = spark.readStream.format("rate") \
            .option("rowsPerSecond", 1).load()

    def _poll(_batch: DataFrame, _batch_id: int) -> None:
        rec = sync_mirror_once(spark, base_url, kind, mirror_dir,
                               limit=limit, snapshot_path=snapshot_path)
        if progress_sink is not None:
            progress_sink.append(rec)

    writer = (
        clock.writeStream.foreachBatch(_poll)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"cdf_mirror_{kind}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif default_clock:
        # the poll cadence lives in the trigger, not the rate source:
        # one micro-batch (= one poll) per interval
        writer = writer.trigger(processingTime=f"{poll_interval_sec} seconds")
    q = writer.start()
    if available_now:
        q.awaitTermination(timeout_sec)
        q.stop()
    return q
