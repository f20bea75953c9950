"""Catalog + persistence — the reference's ``Directory`` re-expressed as a
Parquet layout (SURVEY.md §1.5-1.7, D1 in §2.1).

Reference: /root/reference/src/directory.cpp:86-171 (JSON config, prefix
rules, create-on-open, sorted listing), /root/reference/src/storage/file/
directory.cpp:45-86.  The custom .hta container (magic/BOM/versioned header,
src/storage/file/file.hpp:94-326) is replaced wholesale by Parquet: schema,
endianness and stats travel with the files, and positional index arithmetic
becomes predicate pushdown on ``time``/``interval_start``.

Layout:
    <base>/meta.json     per-metric Meta + prefix rules
    <base>/raw/          parquet, partitioned by metric (and UTC day)
    <base>/levels        ONE parquet table holding every rollup level,
                         partitioned by ``interval`` and below it by
                         ``metric`` (store builds) or ``metric``, ``tb``
                         (the streaming layout, see streaming/ingest.py)

Consistency: every level of a store sits behind one durability barrier,
as a metric's level files do in the reference (``Metric::flush()``,
reference src/metric.cpp:605-609).  ``HtaStore.build`` writes all
levels in one job and flips them with one :func:`publish_version`; an
ingest batch publishes its region of all levels with one
:func:`publish_partitions`.  A reader therefore sees every level as of
the same build or batch, never level 1 of one and level 2 of another.
The per-level tables of earlier releases (``levels/<interval_ns>/``)
fail loudly on read; a full ``HtaStore.build()`` rewrites them.

Scale notes: ``partitionBy("metric")`` gives per-metric file pruning (the
analog of one directory per metric in the reference).  For millions of
metrics switch ``partition_by_metric=False`` — data is then bucket-sorted by
(metric, time) and row-group stats prune instead (avoids small-file
explosion).  Appends are directory-append atomic; a Delta/Iceberg catalog
drops in here when the jars are available (import-gated, not required).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compat import pin, release
from ..errors import (HtaError, InvalidTimestampError,
                      MissingMetricConfigError)
from ..meta import Meta
from ..operators.aggregate import (aggregate_auto, aggregate_exact,
                                   aggregate_telescope)
from ..operators.retrieve import (retrieve_flex, retrieve_min_samples,
                                  retrieve_raw, retrieve_rows)
from ..operators.rollup import _cascade, _level1, plan_build, raw_range
from ..operators.scopes import (RAW_DEFAULT, ROW_DEFAULT, IntervalScope)
from ..operators.stats import count_scoped
from ..schemas import AGG_SCHEMA, RAW_SCHEMA

__all__ = ["HtaStore", "Metric", "resolve_table_path", "publish_version",
           "publish_partitions", "read_partition_manifest", "read_levels",
           "level_of", "stack_levels", "read_raw_table", "append_raw",
           "as_raw", "list_versions", "resolve_table_version",
           "partition_columns", "with_day", "PublishLockError"]

RAW_COLUMNS = [f.name for f in RAW_SCHEMA.fields]
#: nanoseconds per UTC day, the raw table's ``day`` partition width
DAY_NS = 86_400_000_000_000
LEVEL_COLUMNS = [f.name for f in AGG_SCHEMA.fields]
#: the levels table: the aggregate row plus its level's ``interval`` (ns),
#: the outermost partition column
LEVELS_SCHEMA = T.StructType(
    [*AGG_SCHEMA.fields, T.StructField("interval", T.LongType(), False)])


def resolve_table_path(path: str) -> str:
    """Current physical directory of a (possibly versioned) table.

    A table that has been atomically republished (see
    :func:`publish_version`) is reached through ``<path>.manifest``, a tiny
    JSON pointer file; otherwise the plain path is the table.  Readers and
    appenders both resolve through here, so they always land on the live
    snapshot."""
    mp = path + ".manifest"
    if os.path.exists(mp):
        with open(mp) as f:
            doc = json.load(f)
        return os.path.join(os.path.dirname(path), doc["current"])
    return path


def partition_columns(path: str) -> list[str]:
    """The partition columns of the live table at ``path``, outermost
    first, read off its directory names (``metric=…/day=…``).  A writer
    that appends to or rewrites the table partitions by these: Spark
    reads a table in one layout only, and ignores data files at the root
    beside ``metric=`` directories."""
    parts, d = [], resolve_table_path(path)
    while os.path.isdir(d):
        sub = sorted(e for e in os.listdir(d)
                     if "=" in e and os.path.isdir(os.path.join(d, e)))
        if not sub:
            break
        parts.append(sub[0].split("=", 1)[0])
        d = os.path.join(d, sub[0])
    return parts


def with_day(df: DataFrame) -> DataFrame:
    """``df`` with the raw table's ``day`` partition column: the UTC day
    of the ns ``time`` (``time div 86400e9``)."""
    return df.withColumn("day", F.call_function(
        "div", F.col("time"), F.lit(DAY_NS)))


def table_exists(path: str) -> bool:
    return os.path.exists(path) or os.path.exists(path + ".manifest")


def list_versions(path: str) -> list[int]:
    """Snapshot versions still on disk for a versioned table, ascending —
    the time-travel horizon.  With the default ``keep=2`` publish
    discipline this is (previous, current); republish with a larger
    ``keep`` for a longer horizon."""
    vroot = path + ".versions"
    if not os.path.isdir(vroot):
        return []
    return sorted(int(d[2:]) for d in os.listdir(vroot)
                  if d.startswith("v_") and d[2:].isdigit())


def resolve_table_version(path: str, version: int | None = None) -> str:
    """Physical directory of snapshot ``version`` — time travel over the
    immutable ``publish_version`` snapshots (``None`` = the live table).

    Because snapshots are immutable and the manifest flip is atomic, a
    version directory that exists is always complete: reading an old
    version during a concurrent republish is safe (same guarantee Delta
    or Iceberg time travel gives, here at whole-table granularity)."""
    if version is None:
        return resolve_table_path(path)
    target = f"{path}.versions/v_{version}"
    if not os.path.isdir(target):
        raise FileNotFoundError(
            f"no snapshot v_{version} for {path}; on-disk versions: "
            f"{list_versions(path)} (older snapshots are GC'd by the "
            f"publish keep= policy)")
    return target


class PublishLockError(RuntimeError):
    """A concurrent publisher holds the table's writer lease."""


class _Lease:
    """A held writer lease: heartbeats the lockfile and re-verifies token
    ownership on demand (both ADVICE r9: without a heartbeat, a live
    publisher whose snapshot write exceeds ``stale_s`` had its lease
    silently stolen — re-admitting the exact two-writer race the lease
    closes)."""

    __slots__ = ("lock", "token", "_stop", "_thread")

    def __init__(self, lock: str, token: str, beat_s: float):
        self.lock = lock
        self.token = token
        self._stop = threading.Event()

        def _beat() -> None:
            while not self._stop.wait(beat_s):
                if not self._owned():
                    return        # stolen/removed: stop touching; the
                                  # pre-flip verify() raises loudly
                try:
                    os.utime(self.lock, None)
                except OSError:
                    return

        self._thread = threading.Thread(target=_beat, daemon=True,
                                        name=f"lease-heartbeat:{lock}")
        self._thread.start()

    def _owned(self) -> bool:
        try:
            with open(self.lock) as f:
                return f.read() == self.token
        except OSError:
            return False

    def verify(self) -> None:
        """Raise unless this process still owns the lease — called
        immediately before every manifest flip, so even a stolen lease
        (holder paused past ``stale_s`` with the heartbeat somehow also
        stalled, e.g. a long GC/VM suspend) turns into a loud
        :class:`PublishLockError` instead of a silent two-writer
        interleave."""
        if not self._owned():
            raise PublishLockError(
                f"writer lease {self.lock} no longer owned by this "
                "publisher (taken over as stale or removed) — aborting "
                "before the manifest flip; re-run the publish")

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=1.0)
        try:
            if self._owned():
                os.unlink(self.lock)
        except OSError:
            pass


@contextmanager
def _writer_lease(path: str, timeout_s: float = 60.0,
                  stale_s: float = 300.0):
    """Single-writer lease around a manifest flip (VERDICT r8 #4).

    ``publish_version`` / ``publish_partitions`` assume ONE writer — two
    racing publishers would both read version n, both write v_{n+1}
    content, and the losing flip's rows silently vanish.  The reference's
    analog single-writer assumption is enforced by its monotonic insert
    guard (/root/reference/src/metric.cpp:519-524); ours is this lease: an
    ``O_CREAT|O_EXCL`` lockfile at ``<path>.lock``.  A second writer
    blocks (bounded by ``timeout_s``) and then fails LOUDLY with
    :class:`PublishLockError` — never a silent interleave.

    Liveness vs staleness (ADVICE r9): while held, a daemon heartbeat
    thread refreshes the lockfile mtime every ``stale_s / 4`` seconds, so
    a LIVE publisher's lock never ages past ``stale_s`` no matter how
    long its snapshot write runs; and the yielded :class:`_Lease` exposes
    ``verify()``, called by both publish paths immediately before their
    manifest flip, so ownership loss in any residual window aborts the
    publish instead of interleaving.

    Stale takeover: a crashed holder leaves the lockfile behind (its
    heartbeat died with it); a lock older than ``stale_s`` (mtime) is
    unlinked and re-contended — the O_EXCL create after the unlink still
    admits exactly one taker.  The re-check of mtime immediately before
    the unlink closes the window where a FRESH lock (a successful
    taker's) could be mistaken for the stale one; the remaining TOCTOU is
    the standard lockfile trade, and the pre-flip ``verify()`` converts
    even that residue into a loud abort.  Cluster note: correct on any
    filesystem with atomic exclusive create (POSIX, NFSv4, most
    object-store FUSE layers are NOT — front a real coordinator there,
    same as Delta's LogStore requirement).
    """
    lock = path + ".lock"
    os.makedirs(os.path.dirname(os.path.abspath(lock)) or ".",
                exist_ok=True)
    token = f"{os.getpid()}-{os.urandom(8).hex()}"
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except FileNotFoundError:
                continue                      # holder just released; retry
            if age > stale_s:
                try:                          # stale takeover
                    if time.time() - os.stat(lock).st_mtime > stale_s:
                        os.unlink(lock)
                except FileNotFoundError:
                    pass
                continue
            if time.monotonic() >= deadline:
                raise PublishLockError(
                    f"another publisher holds {lock} (age {age:.1f}s); "
                    "concurrent manifest publishes are single-writer — "
                    "retry after it completes, or remove the lockfile if "
                    "its holder is known dead") from None
            time.sleep(0.05)
    lease = _Lease(lock, token, beat_s=max(0.5, stale_s / 4))
    try:
        yield lease
    finally:
        lease.close()


def publish_version(path: str, write_fn, keep: int = 2,
                    lock_timeout_s: float = 60.0) -> str:
    """Atomic table republish: write a brand-new immutable snapshot under
    ``<path>.versions/v_<n>``, then flip the ``<path>.manifest`` pointer
    with one POSIX rename.

    This is the swap-write discipline the plain overwrite lacked: a reader
    racing the old write-tmp-then-overwrite saw a partially deleted
    directory (the reference instead tolerates torn tails at the file
    layer, /root/reference/src/storage/file/file.hpp:210-247).  Here a
    concurrent reader either resolves the old manifest (old snapshot, kept
    for ``keep``-1 more publishes) or the new one — never a half table; a
    crash before the rename leaves the old pointer intact.

    ``write_fn(target_dir)`` must fully write the snapshot.  Returns the
    new snapshot directory.

    Publishes are single-writer: the whole allocate-write-flip sequence
    runs under the table's :func:`_writer_lease`; a concurrent publisher
    blocks briefly and then raises :class:`PublishLockError` (r9) —
    without it, two racing publishers would allocate the same version
    number and the losing flip's rows would silently vanish.
    """
    with _writer_lease(path, timeout_s=lock_timeout_s) as lease:
        vroot = path + ".versions"
        os.makedirs(vroot, exist_ok=True)
        versions = sorted(int(d[2:]) for d in os.listdir(vroot)
                          if d.startswith("v_") and d[2:].isdigit())
        target = f"{vroot}/v_{(versions[-1] + 1) if versions else 1}"
        write_fn(target)
        mp = path + ".manifest"
        tmp = f"{mp}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"current": os.path.relpath(target,
                                                  os.path.dirname(path))},
                      f)
        lease.verify()          # still the sole writer, or abort loudly
        os.replace(tmp, mp)                   # the atomic pointer flip
        # GC: drop all but the latest keep-1 previous snapshots (in-flight
        # readers of the immediately-previous version stay valid)
        for v in (versions[:len(versions) - (keep - 1)] if keep > 1
                  else versions):
            shutil.rmtree(f"{vroot}/v_{v}", ignore_errors=True)
        # the pre-versioning in-place directory is one generation behind
        # once a second snapshot lands — same retirement rule as GC'd
        # versions
        if versions and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        return target


def _pm_path(path: str) -> str:
    # the underscore prefix keeps Spark's file index from treating the
    # manifest as data if anything ever lists the root directly
    return os.path.join(path, "_part_manifest.json")


def read_partition_manifest(path: str) -> dict | None:
    """The partition manifest of a streaming-maintained table, or None
    when the table doesn't use the partition-manifest layout.

    Shape: ``{"v": n, "top": top_interval_ns,
    "partitions": {"interval=<ns>/metric=<m>/tb=<b>": version_int}}`` —
    each key is a partition's directory fragment, each value the version
    whose ``v=<version>`` subdirectory holds that partition's live files."""
    mp = _pm_path(path)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return json.load(f)


def _write_partition_manifest(path: str, doc: dict) -> None:
    tmp = _pm_path(path) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, _pm_path(path))          # the atomic pointer flip


def publish_partitions(spark: SparkSession, path: str, region: DataFrame,
                       top: int, replace_all: bool = False,
                       lock_timeout_s: float = 60.0) -> list[str]:
    """Atomic multi-partition publish for a streaming-maintained table —
    the per-batch analog of :func:`publish_version`.

    The table is partitioned by whichever of ``interval``, ``metric`` and
    ``tb`` ``region`` carries, in that order; the levels table carries all
    three: ``<path>/interval=<ns>/metric=<m>/tb=<b>/v=<n>/part-*.parquet``
    plus ``_part_manifest.json`` mapping every live partition to its
    version.  A publish (one micro-batch's open-region rewrite of every
    level):

    1. writes ``region`` to ``<path>/_stage``, partitioned as above;
    2. renames each staged partition into place as a brand-new immutable
       ``v=<n>`` subdirectory — live files are never modified;
    3. flips the manifest with one POSIX rename.

    A reader racing the publish resolves the old manifest (old version
    dirs, kept for one more publish) or the new one — never a mid-swap
    partition set (the reference's analog is the flush barrier + torn-tail
    tolerance, /root/reference/src/storage/file/file.hpp:210-247,
    src/metric.cpp:605-609).  A crash at any step leaves the old manifest
    intact; the idempotent replay overwrites the orphaned staging/version
    dirs of the failed attempt.

    ``replace_all=True`` (compaction/adoption) makes the staged partition
    set the complete new table: manifest keys not re-staged are dropped
    and their directories removed.

    Per-publish driver cost is O(partitions-in-region) renames — planner-
    state sized (the open region of the batch's metrics).  The manifest
    itself is O(total partitions); at very large metric counts the scale
    path is manifest segmentation + checkpointing (the Delta/Iceberg log
    design), behind this same function.

    Publishes are single-writer per table (same :func:`_writer_lease`
    discipline as :func:`publish_version`; raises
    :class:`PublishLockError` on contention).

    Returns the partition keys written."""
    parts = [c for c in ("interval", "metric", "tb") if c in region.columns]
    stage = os.path.join(path, "_stage")
    os.makedirs(path, exist_ok=True)
    with _writer_lease(path, timeout_s=lock_timeout_s) as lease:
        region.write.mode("overwrite").partitionBy(*parts).parquet(stage)
        keys = _flip_partitions(path, stage, len(parts), top, replace_all,
                                lease)
        shutil.rmtree(stage, ignore_errors=True)
        return keys


def _flip_partitions(path: str, staged: str, depth: int, top: int,
                     replace_all: bool, lease: _Lease) -> list[str]:
    """Publish the staged partition dirs, ``depth`` levels deep (under the
    held ``lease``): rename each into place as ``v=<n>``, flip the
    manifest, GC all but the new and the previous version of each touched
    partition."""
    doc = read_partition_manifest(path) or {"v": 0, "top": top,
                                            "partitions": {}}
    ver = doc["v"] + 1
    dirs = [staged] if os.path.isdir(staged) else []
    for _ in range(depth):
        dirs = [os.path.join(d, e) for d in dirs for e in sorted(os.listdir(d))
                if "=" in e]
    new_parts = [os.path.relpath(d, staged) for d in dirs]
    for key in new_parts:
        dest = os.path.join(path, key, f"v={ver}")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        if os.path.exists(dest):             # orphan of a crashed attempt
            shutil.rmtree(dest)
        os.replace(os.path.join(staged, key), dest)
    prev = doc["partitions"]
    if replace_all:
        doc["partitions"] = {k: ver for k in new_parts}
    else:
        doc["partitions"] = dict(prev)
        doc["partitions"].update({k: ver for k in new_parts})
    doc["v"] = ver
    doc["top"] = top
    lease.verify()              # still the sole writer, or abort loudly
    _write_partition_manifest(path, doc)
    # GC: drop everything but the new version and the immediately-previous
    # live version per touched partition (in-flight readers of the previous
    # manifest stay valid — keep=2 discipline)
    for key in new_parts:
        keep = {ver, prev.get(key)}
        pdir = os.path.join(path, key)
        for d in os.listdir(pdir):
            if d.startswith("v=") and int(d[2:]) not in keep:
                shutil.rmtree(os.path.join(pdir, d), ignore_errors=True)
    if replace_all:
        for key in set(prev) - set(new_parts):
            shutil.rmtree(os.path.join(path, key), ignore_errors=True)
    return new_parts


def _adopt_into_partition_manifest(spark: SparkSession, path: str,
                                   top: int) -> None:
    """One-time migration of a store-built (whole-table versioned) levels
    table into the partition-manifest layout, so streaming upserts and
    readers see a single layout.  O(table) once, at the first streaming
    write against a store-built table.  The partitions are published
    before the versioned manifest is removed, and readers prefer that
    manifest, so a racing reader sees the store-built snapshot until the
    removal and the same rows in the new layout after it; a crash in
    between adopts again at the next batch."""
    if not os.path.exists(path + ".manifest"):
        _refuse_per_level(path)
        return
    df = read_levels(spark, path).withColumn("tb", F.call_function(
        "div", F.col("interval_start"), F.lit(top)))
    publish_partitions(spark, path, df, top, replace_all=True)
    os.remove(path + ".manifest")
    shutil.rmtree(path + ".versions", ignore_errors=True)


def read_raw_table(spark: SparkSession, path: str,
                   version: int | None = None) -> DataFrame | None:
    """Read a raw points table (plain or whole-table versioned; ``version``
    time-travels, see :func:`resolve_table_version`) with the declared
    ``RAW_SCHEMA``: no schema-inference job, and partition columns
    (``metric``, ``day``) are discovered from the directory names.
    Returns None when no table exists."""
    if not table_exists(path):
        return None
    df = (spark.read.schema(RAW_SCHEMA)
          .parquet(resolve_table_version(path, version)))
    return df.select(*RAW_COLUMNS, *(["day"] if "day" in df.columns else []))


def append_raw(spark: SparkSession, path: str, df: DataFrame,
               new_parts: list[str], mode: str = "append") -> None:
    """Write raw rows to the raw table at ``path`` in the live table's
    layout.  Whenever the table exists its partition columns are read off
    its directories (:func:`partition_columns`): Spark reads a table in
    one layout only, so rows written in another would hide, or be hidden
    by, the rest.  ``new_parts`` (``metric``, ``day``) shapes a new table
    only.  Writes land in the live snapshot (file-level rename-atomic);
    the session's cached file listing of the path is refreshed after."""
    live = resolve_table_path(path)
    parts = partition_columns(path) if table_exists(path) else new_parts
    if "day" in parts:
        df = with_day(df)
    writer = df.write.mode(mode)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(live)
    spark.catalog.refreshByPath(live)


def _refuse_per_level(path: str) -> None:
    """Raise on the per-level tables that earlier releases kept under
    ``levels/`` (``<interval_ns>/``, ``<interval_ns>.manifest``).  Read as
    one table they would look like a store without levels, and a read
    without levels silently answers from raw, or with nothing."""
    if os.path.isdir(path) and any(e.split(".")[0].isdigit()
                                   for e in os.listdir(path)):
        raise HtaError(
            f"{path} holds one table per rollup level, the layout of an "
            "earlier release; run HtaStore.build() to rewrite it as one "
            "levels table")


def read_levels(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the levels table at ``path`` (``<base>/levels``) with the
    declared ``LEVELS_SCHEMA``, in either layout: the whole-table
    versioned snapshot of ``HtaStore.build`` (preferred when both exist,
    see :func:`_adopt_into_partition_manifest`) or the partition manifest
    of ``IncrementalRollup``.  One read serves every level: filtering on
    ``interval`` (:func:`level_of`) prunes to that level's directories.
    A table without data files reads as an empty frame; returns None when
    no table exists."""
    reader = spark.read.schema(LEVELS_SCHEMA)
    if os.path.exists(path + ".manifest"):
        df = reader.parquet(resolve_table_path(path))
    else:
        _refuse_per_level(path)
        doc = read_partition_manifest(path)
        if doc is None and not os.path.isdir(path):
            return None
        # no manifest yet (a first publish that crashed before its flip):
        # nothing under the directory is committed
        live = doc["partitions"] if doc else {}
        dirs = [os.path.join(path, key, f"v={v}") for key, v in live.items()]
        if not dirs:
            return spark.createDataFrame([], LEVELS_SCHEMA)
        df = reader.option("basePath", path).parquet(*dirs)
    return df.select("interval", *LEVEL_COLUMNS)


def level_of(levels: DataFrame, interval: int) -> DataFrame:
    """One level of a levels-table frame, in the aggregate schema."""
    return levels.filter(F.col("interval") == interval).select(*LEVEL_COLUMNS)


def stack_levels(levels: dict[int, DataFrame]) -> DataFrame:
    """A :func:`build_levels` dict as rows of the levels table: every
    level's rows tagged with its ``interval``, in one frame."""
    return reduce(DataFrame.unionByName, [
        df.select(*LEVEL_COLUMNS, F.lit(iv).cast("long").alias("interval"))
        for iv, df in levels.items()])


def as_raw(df: DataFrame) -> DataFrame:
    """``df``'s raw columns cast to ``RAW_SCHEMA``'s declared types.  Every
    raw write goes through here, so a declared-schema read never meets a
    different physical type."""
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                       for f in RAW_SCHEMA.fields])


class HtaStore:
    """A directory of metrics with hierarchical rollups."""

    def __init__(self, spark: SparkSession, base_path: str,
                 configs: dict[str, Meta] | None = None,
                 prefix_configs: dict[str, Meta] | None = None,
                 partition_by_metric: bool = True,
                 partition_time_days: bool = False):
        """``partition_time_days``: additionally partition the raw table by
        UTC day (derived from the ns timestamp).  At 100 TB this is the
        difference between directory-level pruning of a time-range query and
        relying on row-group stats alone; day bounds are injected by the
        Metric facade where scope semantics allow (see ``_day_bounds``)."""
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.partition_by_metric = partition_by_metric
        self.partition_time_days = partition_time_days
        # merge semantics: persisted configs load first, caller-supplied
        # entries overlay them (never clobber the persisted catalog), and
        # the merged result is re-persisted when anything new was supplied
        self._configs: dict[str, Meta] = {}
        self._prefix: dict[str, Meta] = {}
        if os.path.exists(self._meta_path()):
            self._load_meta()
        self._configs.update(configs or {})
        self._prefix.update(prefix_configs or {})
        if configs or prefix_configs:
            self._save_meta()

    # -- config / catalog --------------------------------------------------
    def _meta_path(self) -> str:
        return f"{self.base}/meta.json"

    def _save_meta(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        doc = {
            "metrics": {m: asdict(c) for m, c in self._configs.items()},
            "prefixes": {m: asdict(c) for m, c in self._prefix.items()},
        }
        with open(self._meta_path(), "w") as f:
            json.dump(doc, f, indent=1)

    def _load_meta(self) -> None:
        with open(self._meta_path()) as f:
            doc = json.load(f)
        self._configs = {m: Meta(**c) for m, c in doc.get("metrics", {}).items()}
        self._prefix = {m: Meta(**c) for m, c in doc.get("prefixes", {}).items()}

    def meta_for(self, name: str) -> Meta:
        """Exact config, else longest matching prefix rule
        (src/directory.cpp:106-111,157-170); unknown names raise."""
        if name in self._configs:
            return self._configs[name]
        best = None
        for p, m in self._prefix.items():
            if name.startswith(p + ".") and (best is None or len(p) > len(best[0])):
                best = (p, m)
        if best:
            return best[1]
        raise MissingMetricConfigError(f"no metric config for {name!r}")

    def metric_names(self) -> list[str]:
        """Sorted listing (src/storage/file/directory.cpp:74-86).

        With a metric-partitioned raw table the partition directories ARE
        the catalog (the analog of the reference's one-dir-per-metric
        layout): an O(#metrics) filesystem listing, no data scan, whatever
        this store's ``partition_by_metric`` flag says.  Falls back to a
        distinct scan for unpartitioned layouts."""
        path = resolve_table_path(f"{self.base}/raw")
        if not os.path.isdir(path):
            return []
        from urllib.parse import unquote
        names = {unquote(d.split("=", 1)[1]) for d in os.listdir(path)
                 if d.startswith("metric=")}
        if names:
            return sorted(names)
        raw = self.raw()
        if raw is None:
            return []
        return sorted(r["metric"] for r in raw.select("metric").distinct().collect())

    def __getitem__(self, name: str) -> "Metric":
        return Metric(self, name, self.meta_for(name))

    # -- physical tables ---------------------------------------------------
    def raw(self, version: int | None = None) -> DataFrame | None:
        """The raw points table; ``version`` time-travels to an earlier
        :func:`publish_version` snapshot (e.g. pre-compaction) while it is
        inside the publish ``keep=`` horizon — see :func:`list_versions`."""
        return read_raw_table(self.spark, f"{self.base}/raw", version)

    @staticmethod
    def day_pruned(raw: DataFrame, begin: int | None, end: int | None) -> DataFrame:
        """Inject day-partition bounds for a time range where scope
        semantics allow (closed/open endpoints only — extended endpoints may
        need arbitrarily distant neighbour points).  Day = time div 86400e9."""
        if "day" not in raw.columns:
            return raw
        d = DAY_NS
        cond = None
        if begin is not None:
            c = F.col("day") >= F.lit(begin // d)
            cond = c
        if end is not None:
            c = F.col("day") <= F.lit(end // d)
            cond = c if cond is None else (cond & c)
        return raw.filter(cond) if cond is not None else raw

    def level(self, interval: int) -> DataFrame | None:
        """One rollup level, in the aggregate schema; None when the store
        has no levels table."""
        levels = read_levels(self.spark, f"{self.base}/levels")
        return None if levels is None else level_of(levels, interval)

    def levels_for(self, meta: Meta) -> dict[int, DataFrame]:
        """``meta``'s levels, each filtered from one read of the levels
        table; empty when the store has none."""
        levels = read_levels(self.spark, f"{self.base}/levels")
        if levels is None:
            return {}
        return {iv: level_of(levels, iv) for iv in meta.level_intervals()}

    def write_raw(self, df: DataFrame, mode: str = "append",
                  validate: bool = True) -> None:
        """Append raw points.  ``validate`` enforces the reference's insert
        guards (t != 0, src/metric.cpp:513-518) batch-wide; strict
        monotonicity across appends is the ingest job's contract (see
        streaming.ingest for the stateful enforcement).  Columns are cast
        to ``RAW_SCHEMA``'s types (see :func:`as_raw`).  An existing table
        keeps its layout (:func:`append_raw`); ``partition_by_metric`` and
        ``partition_time_days`` shape a new one."""
        w = as_raw(df)
        if validate:
            # NULL must be caught explicitly: NULL <= 0 is NULL, which the
            # filter drops — a NULL-time row would otherwise persist and
            # silently vanish from every time-range read (review r4)
            bad = w.filter(F.col("time").isNull() | (F.col("time") <= 0))
            if bad.limit(1).count() > 0:
                raise InvalidTimestampError(
                    "cannot insert invalid (NULL or <= 0) time")
        parts = (["metric"] if self.partition_by_metric else []) + \
            (["day"] if self.partition_time_days else [])
        append_raw(self.spark, f"{self.base}/raw",
                   w.sortWithinPartitions("metric", "time"), parts, mode)

    def compact(self, table: str = "raw", target_partitions: int = 1) -> int:
        """Small-file compaction for streaming-appended tables: rewrite
        ``table`` (``"raw"``, or ``"levels"`` for every level at once)
        coalesced and re-sorted.  Streaming ingest appends a few files per
        micro-batch; at scale those small files dominate scan planning
        cost — periodic compaction restores row-group-stat pruning
        efficiency.  The rewrite keeps the table's layout and publishes
        atomically: a partition-manifest table through
        :func:`publish_partitions`, any other through
        :func:`publish_version`.  Returns the file count after.

        (A Delta OPTIMIZE/Z-ORDER drops in here when the jars are present.)
        """
        if table not in ("raw", "levels"):
            raise ValueError(
                f"compact() takes 'raw' or 'levels', not {table!r}")
        path = f"{self.base}/{table}"
        if table == "raw":
            df, order = read_raw_table(self.spark, path), ["metric", "time"]
        else:
            df = read_levels(self.spark, path)
            order = ["interval", "metric", "interval_start"]
        if df is None:
            return 0
        df = (df.repartition(max(target_partitions, 1), "metric")
              .sortWithinPartitions(*order))
        pm = (read_partition_manifest(path) if table == "levels"
              and not os.path.exists(path + ".manifest") else None)
        if pm is not None:
            # consolidate every partition into one fresh version and flip
            # the manifest (replace_all drops the superseded keys/dirs)
            top = int(pm["top"])
            publish_partitions(self.spark, path, df.withColumn(
                "tb", F.call_function("div", F.col("interval_start"),
                                      F.lit(top))), top, replace_all=True)
            live = path
        else:
            # preserve the existing partition layout exactly, whatever this
            # store's flags say — a rewrite that drops (or adds) partition
            # columns leaves a mixed directory the next writer makes
            # unreadable
            parts = partition_columns(path)

            def _write(target: str) -> None:
                writer = df.write.mode("overwrite")
                if parts:
                    writer = writer.partitionBy(*parts)
                writer.parquet(target)

            # atomic republish: full new snapshot, then one manifest rename
            # — a concurrent reader sees the old or the new table, never a
            # half-deleted directory (the round-1 in-place overwrite's race)
            live = publish_version(path, _write)
        self.spark.catalog.refreshByPath(live)
        return sum(1 for _r, _d, files in os.walk(live)
                   for f in files if f.endswith(".parquet"))

    def build(self, metas: dict[str, Meta] | None = None) -> None:
        """(Re)build all rollup levels for all metrics; ``metas`` rebuilds
        a subset, whose rows replace theirs while every other metric's
        rows carry forward.

        Metrics sharing identical hierarchy parameters are built together
        (one scan per distinct Meta, level 1 pinned once per group).
        Every level of every group is written in ONE job into a new
        snapshot of the levels table and published with one
        :func:`publish_version` flip, so a reader sees all levels of the
        previous build or all levels of this one.  The flip supersedes a streaming (partition-manifest) or per-level
        layout under ``levels/``, which is removed after it.
        """
        raw = self.raw()
        if raw is None:
            return
        subset = metas is not None
        metas = metas or {m: self.meta_for(m) for m in self.metric_names()}
        by_params: dict[tuple, list[str]] = {}
        for m, meta in metas.items():
            key = (meta.interval_min, meta.interval_max, meta.interval_factor)
            by_params.setdefault(key, []).append(m)
        path = f"{self.base}/levels"
        # subset rebuild: the republish must CARRY FORWARD the rows of
        # metrics not being rebuilt — publishing only the subset's
        # aggregates would silently destroy everyone else's rollups behind
        # the flip (review r4).  The rebuilt metrics' old rows go at every
        # interval, including ones their new ladders no longer produce.
        # Read first: per-level tables of an earlier release raise here,
        # before any job runs.
        parts = []
        existing = read_levels(self.spark, path) if subset else None
        if existing is not None:
            rebuilt = F.broadcast(self.spark.createDataFrame(
                [(m,) for m in metas], "metric string"))
            parts.append(existing.join(rebuilt, "metric", "left_anti"))
        pins = []
        try:
            for (imin, imax, ifac), metrics in by_params.items():
                meta = Meta(interval_min=imin, interval_max=imax,
                            interval_factor=ifac)
                members = F.broadcast(self.spark.createDataFrame(
                    [(m,) for m in metrics], "metric string"))
                sub = raw.join(members, "metric", "left_semi")
                chunks, ranges = plan_build(sub)
                lvl = _level1(sub, meta.level_intervals()[0], ranges, chunks)
                # level 1 pinned once: the one write below re-groups it
                # into every level instead of re-running the lag window
                # and the segment explode per level branch
                pins.append(pin(lvl))
                parts.append(stack_levels(_cascade(pins[-1], meta, ranges)))
            if not parts:
                return
            out = (reduce(DataFrame.unionByName, parts)
                   .sortWithinPartitions("interval", "metric",
                                         "interval_start"))
            by = ["interval", "metric"] if self.partition_by_metric \
                else ["interval"]
            publish_version(path, lambda target: out.write.mode("overwrite")
                            .partitionBy(*by).parquet(target))
        finally:
            for df in pins:
                release(df)
        shutil.rmtree(path, ignore_errors=True)


class Metric:
    """Single-metric facade with the reference Metric's read API
    (mode-checked), over the store's tables."""

    def __init__(self, store: HtaStore, name: str, meta: Meta):
        self.store = store
        self.name = name
        self.meta = meta

    def _raw(self) -> DataFrame:
        self.meta.check_read()
        raw = self.store.raw()
        if raw is None:
            raise MissingMetricConfigError(f"no data for {self.name!r}")
        return raw.filter(F.col("metric") == self.name)

    def _levels(self) -> dict[int, DataFrame]:
        out = {}
        for iv, df in self.store.levels_for(self.meta).items():
            out[iv] = df.filter(F.col("metric") == self.name)
        return out

    def retrieve(self, begin: int, end: int,
                 scope: IntervalScope = RAW_DEFAULT) -> DataFrame:
        from ..operators.scopes import Scope
        raw = self._raw()
        lo = begin if scope.begin in (Scope.closed, Scope.open) else None
        hi = end if scope.end in (Scope.closed, Scope.open) else None
        return retrieve_raw(HtaStore.day_pruned(raw, lo, hi), begin, end, scope)

    def retrieve_rows(self, begin: int, end: int, interval_upper: int,
                      scope: IntervalScope = ROW_DEFAULT) -> DataFrame:
        return retrieve_rows(self._raw(), self._levels(), self.meta,
                             begin, end, interval_upper, scope)

    def retrieve_min_samples(self, begin: int, end: int, min_samples: int,
                             scope: IntervalScope = ROW_DEFAULT) -> DataFrame:
        return retrieve_min_samples(self._raw(), self._levels(), self.meta,
                                    begin, end, min_samples, scope)

    def retrieve_flex(self, begin: int, end: int, interval_upper: int,
                      scope: IntervalScope = ROW_DEFAULT,
                      smooth: bool = True):
        return retrieve_flex(self._raw(), self._levels(), self.meta,
                             begin, end, interval_upper, scope, smooth)

    def aggregate(self, begin: int, end: int,
                  use_levels: bool | str = "auto") -> DataFrame:
        """Exact range aggregate.  ``use_levels``: ``"auto"`` (default)
        runs :func:`aggregate_auto`'s cost model (the reference always
        telescopes, metric.cpp:160-231, but Spark's per-branch stage
        overhead makes small ranges faster as one raw windowed scan);
        ``True`` forces the telescope, ``False`` the raw-exact scan.
        Results are path-independent.

        Every path reads the raw table day-pruned from ``begin`` (only
        points >= the clamped begin contribute; the upper boundary point
        may be days later, so no upper bound), with per-metric ranges
        from the *unpruned* table, or clamping would see a false
        ``t_first``."""
        raw = self._raw()
        ranges = raw_range(raw)
        pruned = HtaStore.day_pruned(raw, begin, None)
        levels = self._levels() if use_levels in (True, "auto") else {}
        if not levels:
            return aggregate_exact(pruned, begin, end, ranges=ranges)
        if use_levels == "auto":
            return aggregate_auto(pruned, levels, self.meta, begin, end,
                                  ranges=ranges)
        return aggregate_telescope(pruned, levels, self.meta, begin, end,
                                   ranges=ranges)

    def count(self, begin: int | None = None, end: int | None = None,
              scope: IntervalScope = RAW_DEFAULT) -> int:
        if begin is None:
            return self._raw().count()
        if end is None:
            # open-ended count: everything from begin through the tail
            # (an int64 sentinel keeps check_range's int comparison valid)
            end = 2 ** 63 - 1
        rows = count_scoped(self._raw(), begin, end, scope).collect()
        return rows[0]["n"] if rows else 0

    def range(self) -> tuple[int, int]:
        r = self._raw().agg(F.min("time"), F.max("time")).collect()[0]
        return r[0], r[1]

    def insert(self, df: DataFrame) -> None:
        self.meta.check_write()
        self.store.write_raw(df.withColumn("metric", F.lit(self.name)))
