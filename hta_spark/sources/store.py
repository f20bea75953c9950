"""Catalog + persistence — the reference's ``Directory`` re-expressed as a
Parquet layout (SURVEY.md §1.5-1.7, D1 in §2.1).

Reference: /root/reference/src/directory.cpp:86-171 (JSON config, prefix
rules, create-on-open, sorted listing), /root/reference/src/storage/file/
directory.cpp:45-86.  The custom .hta container (magic/BOM/versioned header,
src/storage/file/file.hpp:94-326) is replaced wholesale by Parquet: schema,
endianness and stats travel with the files, and positional index arithmetic
becomes predicate pushdown on ``time``/``interval_start``.

Layout:
    <base>/meta.json                 per-metric Meta + prefix rules
    <base>/raw/                      parquet, partitioned by metric
    <base>/levels/<interval_ns>/     parquet rollups, partitioned by metric

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
import threading
import time
from contextlib import ExitStack, contextmanager
from dataclasses import asdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import InvalidTimestampError, MissingMetricConfigError
from ..meta import Meta
from ..operators.aggregate import (aggregate_auto, aggregate_exact,
                                   aggregate_telescope)
from ..operators.retrieve import (retrieve_flex, retrieve_min_samples,
                                  retrieve_raw, retrieve_rows)
from ..operators.rollup import build_levels, raw_range
from ..operators.scopes import (RAW_DEFAULT, ROW_DEFAULT, IntervalScope)
from ..operators.stats import count_scoped
from ..schemas import AGG_SCHEMA, RAW_SCHEMA

__all__ = ["HtaStore", "Metric", "resolve_table_path", "publish_version",
           "publish_partitions", "publish_partition_tables",
           "read_partition_manifest", "read_level_table",
           "read_raw_table", "as_raw", "list_versions",
           "resolve_table_version", "partition_columns", "with_day",
           "PublishLockError"]

RAW_COLUMNS = [f.name for f in RAW_SCHEMA.fields]
#: nanoseconds per UTC day, the raw table's ``day`` partition width
DAY_NS = 86_400_000_000_000
LEVEL_COLUMNS = [f.name for f in AGG_SCHEMA.fields]


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
    import shutil
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
    """The partition manifest of a streaming-maintained level table, or
    None when the table doesn't use the partition-manifest layout.

    Shape: ``{"v": n, "top": top_interval_ns,
    "partitions": {"metric=<m>/tb=<b>": version_int}}`` — each key is a
    partition's directory fragment, each value the version whose
    ``v=<version>`` subdirectory holds that partition's live files."""
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
    """Atomic multi-partition publish for a streaming-maintained level
    table — the per-batch analog of :func:`publish_version`.

    The table layout is ``<path>/metric=<m>/tb=<b>/v=<n>/part-*.parquet``
    plus ``_part_manifest.json`` mapping every live partition to its
    version.  A publish (one micro-batch's open-region rewrite):

    1. writes ``region`` (columns: metric, tb, interval_start, aggregate
       fields) to a staging dir, partitioned by (metric, tb);
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

    ``replace_all=True`` (compaction/rebuild) makes the staged partition
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
    return publish_partition_tables(
        spark, {path: region}, os.path.join(path, "_stage"), top,
        replace_all, lock_timeout_s)[path]


def publish_partition_tables(spark: SparkSession,
                             regions: dict[str, DataFrame], stage: str,
                             top: int, replace_all: bool = False,
                             lock_timeout_s: float = 60.0
                             ) -> dict[str, list[str]]:
    """:func:`publish_partitions` for several tables with ONE staged write.

    ``regions`` maps table paths, in lease order, to their regions.  Every
    table's writer lease is taken in that order and held to the end; the
    union of the regions is written once under ``stage`` (mode
    overwrite), partitioned by ``(_iv = position in regions, metric,
    tb)``; then each table flips in order (:func:`_flip_partitions`).  A
    reader sees each table's pre- or post-publish state.  ``stage`` is
    single-writer as long as every publisher into it holds one of these
    tables' leases.  Returns each table's partition keys written."""
    import shutil
    with ExitStack() as held:
        leases = []
        for path in regions:
            os.makedirs(path, exist_ok=True)
            leases.append(held.enter_context(
                _writer_lease(path, timeout_s=lock_timeout_s)))
        (reduce(DataFrame.unionByName,
                [r.withColumn("_iv", F.lit(i))
                 for i, r in enumerate(regions.values())])
         .write.mode("overwrite").partitionBy("_iv", "metric", "tb")
         .parquet(stage))
        out = {path: _flip_partitions(path, os.path.join(stage, f"_iv={i}"),
                                      top, replace_all, lease)
               for i, (path, lease) in enumerate(zip(regions, leases))}
        shutil.rmtree(stage, ignore_errors=True)
        return out


def _flip_partitions(path: str, staged: str, top: int, replace_all: bool,
                     lease: _Lease) -> list[str]:
    """Publish one table's staged ``metric=*/tb=*`` dirs (under the held
    ``lease``): rename each into place as ``v=<n>``, flip the manifest,
    GC all but the new and the previous version of each touched
    partition."""
    import shutil
    doc = read_partition_manifest(path) or {"v": 0, "top": top,
                                            "partitions": {}}
    ver = doc["v"] + 1
    new_parts: list[str] = []
    for mdir in os.listdir(staged) if os.path.isdir(staged) else []:
        if not mdir.startswith("metric="):
            continue
        for tdir in os.listdir(os.path.join(staged, mdir)):
            if tdir.startswith("tb="):
                new_parts.append(f"{mdir}/{tdir}")
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
    """One-time migration of a legacy level table (plain dir or versioned
    whole-table manifest) into the partition-manifest layout, so streaming
    upserts and readers see a single layout.  O(table) once, at the first
    streaming write against a store-built table; NOT reader-atomic (open
    the store for streaming before serving readers)."""
    import shutil
    legacy = resolve_table_path(path)
    if not os.path.isdir(legacy):
        return
    # declared schema: a directory holding no data files (e.g. only the
    # staging orphan of a crashed first publish) reads as an empty table
    df = spark.read.schema(AGG_SCHEMA).parquet(legacy)
    if "tb" not in df.columns:
        df = df.withColumn("tb", F.call_function(
            "div", F.col("interval_start"), F.lit(top)))
    df = df.select("metric", "tb", *LEVEL_COLUMNS[1:])
    # materialize before the legacy files are deleted out from under the
    # plan.  Deliberately NOT compat.pin (SCALE.md Connect table): the
    # persist fallback would be invalidated by the same-path publish's
    # refreshByPath and re-read files this function is about to delete;
    # only a true lineage cut is safe here (migration is a local-admin
    # op, gated accordingly).
    df = df.localCheckpoint(eager=True)
    if legacy == path:                       # plain in-place legacy table
        for entry in os.listdir(path):
            p = os.path.join(path, entry)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                else os.remove(p)
    else:                                    # whole-table versioned layout
        shutil.rmtree(path + ".versions", ignore_errors=True)
        os.remove(path + ".manifest")
    publish_partitions(spark, path, df, top)


def clear_partition_manifest(path: str) -> None:
    """Remove a partition-manifest layout (used by whole-table rebuilds
    that republish through :func:`publish_version` instead)."""
    import shutil
    if read_partition_manifest(path) is None:
        return
    os.remove(_pm_path(path))
    for entry in os.listdir(path) if os.path.isdir(path) else []:
        if entry.startswith(("metric=", "_stage")):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


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


def read_level_table(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a level table in ANY of its layouts (partition-manifest,
    whole-table-versioned, plain) with the declared ``AGG_SCHEMA``.  An
    existing table with no data files reads as an empty frame; returns
    None when no table exists."""
    doc = read_partition_manifest(path)
    reader = spark.read.schema(AGG_SCHEMA)
    if doc is not None:
        dirs = [os.path.join(path, key, f"v={v}")
                for key, v in doc["partitions"].items()]
        if not dirs:
            return spark.createDataFrame([], AGG_SCHEMA)
        df = reader.option("basePath", path).parquet(*dirs)
    elif table_exists(path):
        df = reader.parquet(resolve_table_path(path))
    else:
        return None
    return df.select(*LEVEL_COLUMNS)


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
        layout): an O(#metrics) filesystem listing, no data scan.  Falls
        back to a distinct scan for unpartitioned layouts."""
        path = resolve_table_path(f"{self.base}/raw")
        if not os.path.isdir(path):
            return []
        if self.partition_by_metric:
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
        # resolves every layout: partition-manifest (streaming-maintained),
        # whole-table versioned, plain — normalized to the canonical schema
        return read_level_table(self.spark, f"{self.base}/levels/{interval}")

    def levels_for(self, meta: Meta) -> dict[int, DataFrame]:
        out = {}
        for iv in meta.level_intervals():
            df = self.level(iv)
            if df is not None:
                out[iv] = df
        return out

    def write_raw(self, df: DataFrame, mode: str = "append",
                  validate: bool = True) -> None:
        """Append raw points.  ``validate`` enforces the reference's insert
        guards (t != 0, src/metric.cpp:513-518) batch-wide; strict
        monotonicity across appends is the ingest job's contract (see
        streaming.ingest for the stateful enforcement).  Columns are cast
        to ``RAW_SCHEMA``'s types (see :func:`as_raw`)."""
        w = as_raw(df)
        if validate:
            # NULL must be caught explicitly: NULL <= 0 is NULL, which the
            # filter drops — a NULL-time row would otherwise persist and
            # silently vanish from every time-range read (review r4)
            bad = w.filter(F.col("time").isNull() | (F.col("time") <= 0))
            if bad.limit(1).count() > 0:
                raise InvalidTimestampError(
                    "cannot insert invalid (NULL or <= 0) time")
        parts = []
        if self.partition_by_metric:
            parts.append("metric")
        if self.partition_time_days:
            w = with_day(w)
            parts.append("day")
        w = w.sortWithinPartitions("metric", "time")
        writer = w.write.mode(mode)
        if parts:
            writer = writer.partitionBy(*parts)
        # appends resolve to the live snapshot (file-level rename-atomic);
        # only table REWRITES need the versioned publish path
        writer.parquet(resolve_table_path(f"{self.base}/raw"))

    def compact(self, table: str = "raw", target_partitions: int = 1) -> int:
        """Small-file compaction for streaming-appended tables: rewrite the
        table coalesced and re-sorted by (metric, time).  Streaming ingest
        appends a few files per micro-batch; at scale those small files
        dominate scan planning cost — periodic compaction restores
        row-group-stat pruning efficiency.  Returns the file count after.

        (A Delta OPTIMIZE/Z-ORDER drops in here when the jars are present.)
        """
        path = (f"{self.base}/raw" if table == "raw"
                else f"{self.base}/levels/{table}")
        pm = None if table == "raw" else read_partition_manifest(path)
        if pm is not None:
            # partition-manifest layout: consolidate every partition into
            # one fresh version and flip the manifest (replace_all drops
            # the superseded keys/dirs) — readers never see a half state
            df = read_level_table(self.spark, path)
            region = (df.repartition(max(target_partitions, 1), "metric")
                      .sortWithinPartitions("metric", "interval_start")
                      .withColumn("tb", F.call_function(
                          "div", F.col("interval_start"),
                          F.lit(int(pm["top"])))))
            publish_partitions(self.spark, path, region, int(pm["top"]),
                               replace_all=True)
            self.spark.catalog.refreshByPath(path)
            return sum(1 for _r, _d, files in os.walk(path)
                       for f in files if f.endswith(".parquet"))
        if not table_exists(path):
            return 0
        live = resolve_table_path(path)
        df = self.spark.read.schema(
            RAW_SCHEMA if table == "raw" else AGG_SCHEMA).parquet(live)
        sort_cols = ["metric", "time" if table == "raw" else "interval_start"]
        # preserve the existing partition layout exactly, whatever this
        # store's flags say — a rewrite that drops (or adds) partition
        # columns leaves a mixed directory the next writer makes
        # unreadable
        parts = partition_columns(path)

        def _write(target: str) -> None:
            writer = (df.repartition(max(target_partitions, 1), "metric")
                      .sortWithinPartitions(*sort_cols)
                      .write.mode("overwrite"))
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(target)

        # atomic republish: full new snapshot, then one manifest rename —
        # a concurrent reader sees the old or the new table, never a
        # half-deleted directory (the round-1 in-place overwrite's race)
        new_dir = publish_version(path, _write)
        self.spark.catalog.refreshByPath(new_dir)
        n = sum(1 for root, _d, files in os.walk(new_dir)
                for f in files if f.endswith(".parquet"))
        return n

    def build(self, metas: dict[str, Meta] | None = None) -> None:
        """(Re)build all rollup levels for all metrics.

        Metrics sharing identical hierarchy parameters are built together in
        one job (one scan per distinct Meta), each level written as its own
        parquet table.
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
        per_level: dict[int, list[DataFrame]] = {}
        for (imin, imax, ifac), metrics in by_params.items():
            meta = Meta(interval_min=imin, interval_max=imax, interval_factor=ifac)
            members = F.broadcast(self.spark.createDataFrame(
                [(m,) for m in metrics], "metric string"))
            sub = raw.join(members, "metric", "left_semi")
            for iv, df in build_levels(sub, meta).items():
                per_level.setdefault(iv, []).append(df)
        # subset rebuild: every level republish must CARRY FORWARD the
        # rows of metrics not being rebuilt — publishing only the
        # subset's aggregates would silently destroy everyone else's
        # rollups behind the manifest flip (review r4).  Levels on disk
        # that the subset's new ladders no longer produce still need a
        # republish that strips the rebuilt metrics' stale rows.
        rebuilt = F.broadcast(self.spark.createDataFrame(
            [(m,) for m in metas], "metric string"))
        if subset:
            lv_dir = f"{self.base}/levels"
            if os.path.isdir(lv_dir):
                for name in os.listdir(lv_dir):
                    if name.isdigit() and int(name) not in per_level:
                        per_level[int(name)] = []
        # one atomic republish per level table (param groups sharing an
        # interval are unioned first) — a rebuild racing readers flips the
        # manifest instead of overwriting in place.  Levels are written
        # bottom-up with each level cached so every cascade step reads its
        # materialized parent (forcing independently would re-derive all
        # intermediate levels from level 1: O(levels^2) aggregations).
        cached = []
        for iv in sorted(per_level):
            dfs = list(per_level[iv])
            if subset:
                existing_lvl = self.level(iv)
                if existing_lvl is not None:
                    dfs.append(existing_lvl
                               .join(rebuilt, "metric", "left_anti")
                               .select(*LEVEL_COLUMNS))
            if not dfs:
                continue
            out = dfs[0].select(*LEVEL_COLUMNS)
            for d in dfs[1:]:
                out = out.unionByName(d.select(*LEVEL_COLUMNS))
            for d in dfs:
                d.cache()
                cached.append(d)
            out = out.sortWithinPartitions("metric", "interval_start")

            def _write(target: str, _out=out) -> None:
                writer = _out.write.mode("overwrite")
                if self.partition_by_metric:
                    writer = writer.partitionBy("metric")
                writer.parquet(target)

            # a rebuild replaces any streaming partition-manifest layout
            # with the whole-table versioned one — cleared only after the
            # publish, whose write still reads the carried-forward rows
            publish_version(f"{self.base}/levels/{iv}", _write)
            clear_partition_manifest(f"{self.base}/levels/{iv}")
        for d in cached:
            d.unpersist()


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
