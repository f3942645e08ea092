"""Streaming change-data-feed consumer (SURVEY §7 step 7, r14
verdict #7): the client-side loop that keeps a local MIRROR table in
sync with a served VectorDB table by polling ``GET /{kind}/_changes``
over HTTP instead of re-reading snapshots.

The batch half of this contract already exists —
``operators/incremental.apply_changes`` applies one composed feed to
one base snapshot, and the ``crud_cdf_mirror`` registry entry
hash-checks that ``mirror(snapshot@since, feed(since, v)) ==
snapshot@v`` byte-for-byte. This module is the SERVING-side closure:
a consumer that only ever sees the HTTP face (paginated JSON pages,
``X-Table-Version`` / ``X-More-Changes`` headers, 410 on a broken
chain) and must drive the continuation contract correctly:

- every page of one poll is cut from the generation PINNED by the
  first page's ``X-Table-Version`` (an immutable range — offset
  pagination cannot tear across commits), re-polled with
  ``version=<pin>&offset+=limit`` until ``X-More-Changes: false``;
- **410 Gone** (reset / initial load / GC'd generation in the range)
  means the feed from this cursor is PERMANENTLY unservable: the
  consumer falls back to re-reading the full snapshot through the
  paginated list route, pinned the same way — which is also how a
  brand-new mirror bootstraps, since a table's initial bulk load
  records no delta by design;
- the mirror commit is crash-safe the same way the server's store is:
  data first into a versioned directory, then the ``_SINCE`` cursor
  file replaced atomically — a consumer killed mid-sync re-applies an
  idempotent feed, never serves a half-applied mirror.

At scale the poll clock is any Structured Streaming source (rate,
Kafka control topic, a scheduler tick) driving ``foreachBatch``; each
micro-batch does one drain-and-apply, so mirror maintenance cost is
∝ churn per poll interval — the same contract the server's own
incremental index maintenance rides. The reference has no change
feed at all (src/models/collection.py:86-110 rewrites files and
rebuilds indexes wholesale); this is capability extension on the
consumer side of the r13 producer.
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

from local_vectordb_spark.operators.incremental import rewrite_partitions
from local_vectordb_spark.sources.json_records import SCHEMAS
from local_vectordb_spark.sources.partitioned import write_partitioned

# Mirror partitioning width: rows live in hash buckets so a sync can
# rewrite ONLY the buckets the feed touches and hard-link the rest —
# the same touched-partition discipline the server's incremental index
# artifacts use. Must stay CONSTANT for a mirror's lifetime (bucket
# identity is the layout); persisted in the mirror's _META at
# bootstrap. 16 suits test-scale corpora; at 100 TB size it so one
# bucket ≈ a few GB (tens of thousands of buckets) — per-poll cost is
# then (touched buckets × bucket size) + churn, never the corpus.
# r18 (r17 verdict #7): a parquet-snapshot bootstrap SELF-SIZES the
# width from the snapshot's bytes with the data snapshot's policy
# (one bucket ≈ one 128 MiB task split), floored here so test-scale
# mirrors keep this exact layout; pass n_buckets to pin it.
N_BUCKETS_DEFAULT = 16


def _auto_mirror_buckets(nbytes: int,
                         target_bytes: int = 128 << 20) -> int:
    import math

    return max(N_BUCKETS_DEFAULT,
               min(8192, math.ceil(nbytes / target_bytes)))


def _snapshot_parquet_bytes(path: str) -> int:
    """Bytes of the snapshot backing a bootstrap — a directory of
    parquet parts or a single file; the self-sizing input."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    )


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
                # r16 wire format: the server serializes with an
                # explicit UTC offset (r15 ADVICE — a naive string is
                # re-interpreted in the CONSUMER's session zone, which
                # may differ from the producer's). Normalize to aware
                # UTC; Spark converts aware datetimes exactly,
                # independent of either session's timeZone conf. A
                # naive string (pre-r16 server) keeps the old
                # interpretation — producer and consumer must then
                # share spark.sql.session.timeZone.
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


def _bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("id"), F.lit(n_buckets)).cast("int")


def _mirror_meta(mirror_dir: str) -> dict:
    p = os.path.join(mirror_dir, "_META")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_meta(mirror_dir: str, meta: dict) -> None:
    tmp = os.path.join(mirror_dir, "_META.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(mirror_dir, "_META"))


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
    """Cursor replaced atomically AFTER the data write, older
    generations GC'd last — the same write-then-point discipline as
    the server's store, so a consumer killed at any point serves
    either the previous consistent mirror or the new one, never a
    torn write. The immediately-previous generation is RETAINED
    (keep-2): its files back the new generation's hard links, and
    keeping it observable lets tests (and operators) verify the
    link-reuse contract; everything older is removed."""
    tmp = os.path.join(mirror_dir, "_SINCE.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(mirror_dir, "_SINCE"))
    # fsync the DIRECTORY too, mirroring the server's _commit_pointer
    # (r15 ADVICE): the rename lives in the directory's metadata, and
    # without flushing that fd the cursor flip may not survive power
    # loss even though the file contents would.
    dirfd = os.open(mirror_dir, os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)
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
    """Bootstrap / 410-recovery commit: the whole snapshot, written
    once, hash-bucket partitioned so every LATER sync can rewrite
    only touched buckets (an EMPTY snapshot — a reset table's fresh
    generation — lands as write_partitioned's schema-bearing flat
    parquet, which later syncs extend like any other generation).

    ``timeline`` pins WHOSE version line the cursor belongs to (the
    server's ``X-Timeline-Id``): ``n_buckets`` is immutable layout
    identity, but the timeline is re-pinned on every bootstrap — a
    bootstrap is exactly the moment the mirror adopts a (possibly
    new) timeline."""
    meta = _mirror_meta(mirror_dir)
    if "n_buckets" not in meta:
        meta["n_buckets"] = n_buckets
    if timeline is not None:
        meta["timeline"] = timeline
    _write_meta(mirror_dir, meta)
    write_partitioned(
        df.withColumn("bucket", _bucket_expr(_mirror_n_buckets(mirror_dir))),
        _mirror_data_dir(mirror_dir, version), ["bucket"],
    )
    _point_cursor_and_gc(mirror_dir, version, prev)


def _apply_feed_bucketed(
    spark: SparkSession,
    kind: str,
    feed: DataFrame,
    mirror_dir: str,
    since: int,
    pin: int,
) -> int:
    """The cost ∝ churn sync (r15): the feed names its ids, ids name
    their hash buckets, and the new generation is a
    ``rewrite_partitions`` of those buckets — the same copy-on-write
    writer the server's snapshot and index artifacts ride. A
    full-corpus rewrite per poll (the naive form) costs ∝ corpus at
    100 TB no matter how small the delta. Returns the touched-bucket
    count."""
    bucket = _bucket_expr(_mirror_n_buckets(mirror_dir))
    touched = [
        r.b for r in feed.select(bucket.alias("b")).distinct().collect()
    ]  # churn-sized collect, never corpus-sized
    # the feed's upserts are post-images and its ids name every row it
    # replaces or removes — apply_changes' contract, per bucket
    new_rows = feed.filter(F.col("change_type") == "upsert").select(
        *[f.name for f in SCHEMAS[kind].fields]
    ).withColumn("bucket", bucket)
    prev_dir = _mirror_data_dir(mirror_dir, since)
    new_dir = _mirror_data_dir(mirror_dir, pin)
    if not rewrite_partitions(spark, prev_dir, new_dir, ["bucket"], touched,
                              feed.select("id"), new_rows):
        # hash buckets are never null, so only a dir this module did
        # not write gets here: refuse rather than advance the cursor
        raise ValueError(f"{prev_dir}: not a bucketed mirror generation")
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
    """One poll: drain the paginated feed from the committed cursor
    and apply it to the mirror — rewriting ONLY the hash buckets the
    feed touches (broadcast anti-join over a partition-pruned read,
    untouched buckets hard-linked), so a poll costs ∝ churn, never ∝
    corpus. Bootstrap or recover from 410 by paging the full snapshot
    (that path IS corpus-sized by contract — it exists because the
    feed from this base is permanently unservable; a production
    bootstrap at 100 TB reads the snapshot from shared storage
    instead of HTTP/JSON). ``n_buckets`` applies only at bootstrap —
    the width is the mirror's layout identity and persists in its
    ``_META``. Default (None) SELF-SIZES at a parquet-snapshot
    bootstrap from the snapshot's bytes (one bucket ≈ one task-sized
    split, floored at ``N_BUCKETS_DEFAULT`` — r17 verdict #7; the
    HTTP-pages bootstrap keeps the floor width, it is the wire-only
    small path by contract); an explicit integer pins the width.
    Returns a progress record ``{action, since,
    served_version, n_changes, touched_buckets}``.

    A RESET under the consumer is survived, not crashed on: a reset
    rewinds the server's version line, so a poll from the old cursor
    answers 404 (cursor ahead of the live head) or 410 (chain gone) —
    either way the mirror's timeline is dead. The poller falls back
    to the snapshot read; if the reset table has live generations the
    mirror re-bootstraps onto the new timeline, and if it is still
    EMPTY the mirror is wiped (action ``'reset'``) rather than left
    serving pre-reset rows forever.

    A RECREATED/RESTORED store whose new version line has ADVANCED
    past the cursor is the case version arithmetic cannot see (r15
    ADVICE, medium): ``since=cursor`` answers 200 with a complete —
    but new-timeline — delta chain. The server's ``X-Timeline-Id``
    (a UUID minted once per store directory) is compared against the
    id pinned in the mirror's ``_META``; a mismatch is treated
    exactly like 410 — dead timeline, snapshot re-bootstrap — never
    applied onto the old-timeline base.

    ``snapshot_path`` is the 100 TB bootstrap escape hatch (r15
    verdict #4): a ``(kind, version) -> path`` hook that names the
    pinned generation's parquet snapshot on SHARED storage. When set
    and the path exists, bootstrap/410-recovery reads that parquet
    directly — a distributed columnar scan, bucket-partitioned write,
    no rows through the driver — with the HTTP JSON pager kept as the
    wire-only fallback (the pin and timeline id still come from one
    header read, so the parquet generation read is exactly the one
    the server named)."""
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
                # a pre-r16 mirror meets a timeline-aware server:
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
                nb = n_buckets if n_buckets is not None else (
                    _auto_mirror_buckets(_snapshot_parquet_bytes(path))
                )
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
                            n_buckets=n_buckets or N_BUCKETS_DEFAULT,
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
    # never-written table, never-synced mirror: nothing was created —
    # a distinct action (r15 ADVICE: reporting 'bootstrapped' here
    # misled monitors; no _SINCE exists and read_mirror still raises)
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
