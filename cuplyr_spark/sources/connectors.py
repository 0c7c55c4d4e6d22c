"""Lakehouse-format connectors.

Two tiers:

- **Jar-gated readers** (Delta / Iceberg / Hudi): the format jars are
  not on this build's classpath; the readers raise immediately with the
  exact conf needed rather than failing deep inside the JVM. Once the
  jar + catalog conf is present these return ordinary Frames and
  everything downstream works unchanged.
- **Versioned tables** (jar-free, works everywhere Spark reads
  parquet): immutable segment directories plus ONE append log —
  immutable ``_LOG.<n>`` commit records (delta-encoded, with periodic
  ``_CHECKPOINT.<n>`` folds) behind ONE ``_LATEST_LOG`` pointer, the
  Delta-log essence. Readers only ever see a fully-written version,
  old versions stay readable (time travel), and every mutation
  commits through one publish-and-rebase loop (``_commit``). Two
  table shapes share the one protocol:

  * **append/log tables** (``append_snapshot``/``read_append_snapshot``
    and the row-level writes): each append writes only its own segment
    — right for event/fact ingest where a 100 TB table must grow by
    the batch's bytes, not be rewritten per batch. An exactly-once
    batch-id watermark makes streaming replays idempotent;
  * **copy-on-write tables** (``write_snapshot``/``upsert_snapshot``):
    thin wrappers whose every version replaces all segments (Delta
    writes an overwrite as "remove every file, add the new ones") —
    right for mutable dimension-style data where merges rewrite anyway.

  Storage: log IO goes through the SAME Hadoop FileSystem layer as the
  parquet write (``Path.getFileSystem`` via the JVM gateway), so a
  ``table_dir`` on ``hdfs://``, ``s3a://``, ``file://`` or a bare
  local path keeps data and pointer on ONE filesystem. Concurrent
  writers use OPTIMISTIC CONCURRENCY (Delta's model): ``_LOG.<n>`` is
  created by an atomic exclusive-create (``os.link`` locally,
  non-overwriting rename on Hadoop — both fail, rather than clobber,
  when the name exists), so two writers of version n get exactly one
  winner; the pointer swap is monotonic (a slow writer of v2 cannot
  regress the pointer after v3 published) and readers probe forward
  from it to the newest commit record. The loser heals the pointer,
  then rebases when its work stays valid on the winner (appends, and
  row-level writes over appends) or raises
  :class:`ConcurrentWriteError` for the caller to retry. A crash at
  any point leaves readers on a complete version and at worst an
  orphan segment that vacuum reclaims.
  CAVEAT: the exclusive-create is atomic on HDFS and local/POSIX
  filesystems; S3A lacks atomic rename, so multi-writer tables on raw
  S3 need a conditional-put backend (:func:`register_exclusive_put`)
  or an external coordination layer (the same reason Delta on S3
  needs a LogStore) — otherwise treat S3A tables as single-writer.
"""

from __future__ import annotations

import os
import posixpath
import re
import threading
import warnings
from collections.abc import Mapping as _Mapping
from typing import NamedTuple

from pyspark.sql import SparkSession

from cuplyr_spark.frame import Frame

_HINTS = {
    "delta": (
        "io.delta:delta-spark_2.13:<version> on spark.jars.packages and "
        "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
    ),
    "iceberg": (
        "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<version> and a "
        "spark.sql.catalog.<name> configuration"
    ),
    "hudi": "org.apache.hudi:hudi-spark3.5-bundle_2.13:<version>",
}


def _format_available(spark: SparkSession, fmt: str) -> bool:
    try:
        spark.read.format(fmt).load("/nonexistent/__probe__")
        return True  # pragma: no cover - load of missing path raises
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        # ClassNotFound / DATA_SOURCE_NOT_FOUND -> jar missing;
        # path errors -> format resolved fine.
        return "DATA_SOURCE_NOT_FOUND" not in msg and "ClassNotFound" not in msg


def read_lakehouse(spark: SparkSession, fmt: str, path: str) -> Frame:
    """Read a Delta/Iceberg/Hudi table if the runtime has the format."""
    if fmt not in _HINTS:
        raise ValueError(f"unknown lakehouse format {fmt!r}")
    if not _format_available(spark, fmt):
        raise ModuleNotFoundError(
            f"{fmt} support requires {_HINTS[fmt]} (jar not on this "
            "classpath — stubbed per build constraints)"
        )
    return Frame(spark.read.format(fmt).load(path))  # pragma: no cover


# -- versioned tables (jar-free parquet + one append log) ----------------

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read of the
    table and its publish attempt. The table is UNDAMAGED — the loser
    detected the conflict and published nothing (at worst it left an
    orphan segment that vacuum reclaims). Recovery is Delta's:
    re-read the table and re-run the operation against the new base.
    Mutations whose work stays valid on top of a concurrent commit
    retry internally (``_commit``): ``append_snapshot``, a blind
    ``write_snapshot``, and — rebasing over appends, raising on a
    concurrent fold or row-level write of a segment they touched —
    ``delete_append_rows``, ``update_append_rows``,
    ``upsert_append_rows`` and ``merge_append_dvs``. Operations whose
    result was computed from a superseded table surface this:
    ``write_snapshot(expected_base=)``, ``upsert_snapshot``,
    compaction, restore/rollback, the column renames and drop,
    ``set_append_expectations`` and ``reset_append_watermark``."""


# Conditional-put backends for the exclusive-create commit primitive,
# keyed by URI scheme. Object stores that support atomic
# create-if-absent natively (S3 grew `If-None-Match: *` conditional
# PUTs in 2024; GCS has `x-goods-if-generation-match: 0`; Azure
# `If-None-Match: *`) can commit WITHOUT the Hadoop rename dance,
# whose S3A copy+delete is not atomic. Register one per scheme and
# every log/commit-record create routes through it; unregistered
# schemes keep the rename path with its documented caveat. Registration
# swaps in a new dict under the lock, so a commit on another thread
# reads either the old mapping or the new one, never a half-edit.
_EXCLUSIVE_PUT_BACKENDS: dict = {}
_EXCLUSIVE_PUT_LOCK = threading.Lock()


def register_exclusive_put(scheme: str, fn) -> None:
    """Register ``fn(url: str, text: str) -> bool`` as the atomic
    create-if-absent primitive for ``scheme`` tables (True = created,
    False = already exists — the CAS loser). The backend must be
    ATOMIC against concurrent puts of the same key; a check-then-put
    emulation reintroduces exactly the race this hook closes. Pass
    ``None`` to unregister."""
    global _EXCLUSIVE_PUT_BACKENDS
    with _EXCLUSIVE_PUT_LOCK:
        backends = dict(_EXCLUSIVE_PUT_BACKENDS)
        if fn is None:
            backends.pop(scheme.lower(), None)
        else:
            backends[scheme.lower()] = fn
        _EXCLUSIVE_PUT_BACKENDS = backends


def http_if_none_match_put(url: str, text: str, timeout: float = 30.0) -> bool:
    """Reference conditional-put backend for S3-compatible HTTP
    endpoints: one PUT with ``If-None-Match: *`` — the store itself
    arbitrates the race and answers 412 Precondition Failed to every
    loser. A 409 Conflict counts as a CAS loss only when its body
    carries a conditional-write conflict code (S3 answers 409
    ``ConditionalRequestConflict`` when two conditional PUTs of the
    same key race each other, Azure answers 409
    ``BlobAlreadyExists``) or is empty (bare-409 S3-compatibles) —
    S3 also uses 409 for NON-race store errors (``OperationAborted``,
    bucket-state conflicts), and those re-raise instead of melting
    into an indefinite rebase-retry loop. Usable
    directly as ``register_exclusive_put("s3a",
    lambda url, text: http_if_none_match_put(presign(url), text))``
    with whatever auth/presign wrapper the deployment uses."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url,
        data=text.encode("utf-8"),
        method="PUT",
        headers={
            "If-None-Match": "*",
            "Content-Type": "application/json",
        },
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout):
            return True
    except urllib.error.HTTPError as e:
        if e.code == 412:
            return False
        if e.code == 409:
            # S3 answers 409 for NON-race conditions too
            # (OperationAborted, bucket-state conflicts) — only the
            # documented conditional-write conflict codes mean "CAS
            # loser". Anything else is a real store error: surfacing
            # it beats an indefinite rebase-retry loop in the commit
            # protocol. An empty body is treated as a CAS loss (some
            # S3-compatibles answer a bare 409 to the racing PUT).
            try:
                body = e.read().decode("utf-8", "replace")
            except Exception:
                body = ""
            race_codes = (
                "ConditionalRequestConflict",  # S3 racing conditional PUTs
                "BlobAlreadyExists",           # Azure
                "PreconditionFailed",
            )
            if not body.strip() or any(c in body for c in race_codes):
                return False
            raise
        raise


class _TableFS:
    """Manifest/listing IO for one table_dir, routed through the SAME
    filesystem Spark writes the parquet to.

    Bare local paths use plain ``os.*`` (no JVM round-trip, and no
    SparkSession needed for read-only metadata calls); any URI-scheme
    path (``file://``, ``hdfs://``, ``s3a://``, ...) resolves a Hadoop
    ``FileSystem`` from the active session's Hadoop conf, so data and
    pointer always land together. The log protocol is in the module
    docstring — this class is only plumbing.
    """

    def __init__(self, table_dir: str, spark: SparkSession | None = None):
        self.dir = table_dir.rstrip("/") or "/"
        self.remote = bool(_URI_SCHEME.match(table_dir))
        if self.remote:
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    f"URI-scheme table_dir {table_dir!r} needs an active "
                    "SparkSession (its Hadoop conf resolves the filesystem)"
                )
            self._jvm = spark._jvm
            self._conf = spark._jsc.hadoopConfiguration()
            self._path = self._jvm.org.apache.hadoop.fs.Path(self.dir)
            self._fs = self._path.getFileSystem(self._conf)
            self._gw = spark.sparkContext._gateway

    def join(self, name: str) -> str:
        return posixpath.join(self.dir, name)

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def isdir(self) -> bool:
        if not self.remote:
            return os.path.isdir(self.dir)
        return self._fs.exists(self._path) and self._fs.getFileStatus(
            self._path
        ).isDirectory()

    def exists(self, name: str) -> bool:
        if not self.remote:
            return os.path.exists(self.join(name))
        return self._fs.exists(self._jpath(self.join(name)))

    def file_sizes(self, name: str, recurse: bool = False) -> list[int]:
        """Byte sizes of the data files under subdir ``name``
        (metadata like ``_SUCCESS`` and hidden files excluded) — the
        compaction planner's input. Unpartitioned segments are flat
        parquet directories; ``recurse=True`` walks
        hive-partitioned segments (data files nested under ``k=v``
        dirs)."""
        if not self.remote:
            if recurse:
                out = []
                for root, dirs, files in os.walk(self.join(name)):
                    dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                    for f in files:
                        if not f.startswith(("_", ".")):
                            out.append(os.path.getsize(os.path.join(root, f)))
                return out
            return [
                e.stat().st_size
                for e in os.scandir(self.join(name))
                if e.is_file() and not e.name.startswith(("_", "."))
            ]
        if recurse:
            out = []
            it = self._fs.listFiles(self._jpath(self.join(name)), True)
            while it.hasNext():
                st = it.next()
                base = st.getPath().getName()
                if not base.startswith(("_", ".")):
                    out.append(st.getLen())
            return out
        out = []
        for st in self._fs.listStatus(self._jpath(self.join(name))):
            base = st.getPath().getName()
            if st.isFile() and not base.startswith(("_", ".")):
                out.append(st.getLen())
        return out

    def data_files(self, name: str, recurse: bool = False) -> list[str]:
        """Absolute paths of the data files under subdir ``name``
        (metadata/hidden files excluded), LOCAL filesystems only — the
        driver-side pyarrow stats pass reads these directly; remote
        tables feed the same kernel through a ``mapInArrow`` job."""
        if self.remote:
            raise ValueError("data_files: local filesystems only")
        base = self.join(name)
        if recurse:
            out = []
            for root, dirs, files in os.walk(base):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                out += [
                    os.path.join(root, f)
                    for f in files
                    if not f.startswith(("_", "."))
                ]
            return sorted(out)
        return sorted(
            e.path
            for e in os.scandir(base)
            if e.is_file() and not e.name.startswith(("_", "."))
        )

    def subdirs(self, name: str) -> list[str]:
        """Names of the directories directly under subdir ``name``."""
        if not self.remote:
            return [
                e.name for e in os.scandir(self.join(name)) if e.is_dir()
            ]
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._jpath(self.join(name)))
            if st.isDirectory()
        ]

    def listdir(self) -> list[str]:
        if not self.remote:
            return os.listdir(self.dir)
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._path)
        ]

    def mkdirs(self) -> None:
        if not self.remote:
            os.makedirs(self.dir, exist_ok=True)
        else:
            self._fs.mkdirs(self._path)

    def stat_sig(self, name: str) -> tuple | None:
        """(size, mtime) fingerprint of a file, or None when absent —
        one stat call, used to validate cached log states against the
        immutable commit record they were built from (a DELETED-AND-
        RECREATED table reuses paths and version numbers, so identity
        of the path alone is not identity of the table)."""
        if not self.remote:
            try:
                st = os.stat(self.join(name))
            except OSError:
                return None
            return (st.st_size, st.st_mtime_ns)
        try:
            fst = self._fs.getFileStatus(self._jpath(self.join(name)))
        except Exception:
            return None
        return (fst.getLen(), fst.getModificationTime())

    def read_text(self, name: str) -> str | None:
        """File contents, or None when absent."""
        if not self.remote:
            try:
                with open(self.join(name)) as f:
                    return f.read()
            except FileNotFoundError:
                return None
        p = self._jpath(self.join(name))
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def write_text_atomic(self, name: str, text: str, tmp_suffix: str) -> None:
        """Write-temp + rename-over — the atomic pointer swap. Local:
        ``os.replace``. Hadoop: ``FileContext.rename(OVERWRITE)``
        (atomic on HDFS/local; copy+delete on S3A — single-writer)."""
        if not self.remote:
            tmp = self.join(name) + tmp_suffix
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, self.join(name))
            return
        tmp_p = self._jpath(self.join(name) + tmp_suffix)
        out = self._fs.create(tmp_p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._path.toUri(), self._conf
        )
        ren = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(tmp_p, self._jpath(self.join(name)), opts)

    def write_text_exclusive(
        self, name: str, text: str, tmp_suffix: str
    ) -> bool:
        """Atomically CREATE ``name`` with ``text`` — False when it
        already exists. This is the optimistic-concurrency CAS
        primitive: two writers racing to create the same version
        marker get exactly one winner. Local: ``os.link`` (atomic
        exclusive on POSIX). Remote: a registered conditional-put
        backend for the scheme when one exists
        (:func:`register_exclusive_put` — one If-None-Match PUT, the
        store arbitrates), else ``FileContext.rename`` WITHOUT the
        OVERWRITE option (atomic exclusive on HDFS; S3A's copy+delete
        rename is not atomic — multi-writer tables on raw S3 either
        register the conditional-put hook or need external
        coordination, as pre-conditional-write Delta did)."""
        if self.remote:
            scheme = self.dir.split("://", 1)[0].lower()
            backend = _EXCLUSIVE_PUT_BACKENDS.get(scheme)
            if backend is not None:
                return bool(backend(self.join(name), text))
        if not self.remote:
            tmp = self.join(name) + tmp_suffix
            with open(tmp, "w") as f:
                f.write(text)
            try:
                os.link(tmp, self.join(name))
                return True
            except FileExistsError:
                return False
            finally:
                os.unlink(tmp)
        tmp_p = self._jpath(self.join(name) + tmp_suffix)
        out = self._fs.create(tmp_p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._path.toUri(), self._conf
        )
        ren = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(ren, 1)
        opts[0] = ren.NONE
        try:
            fc.rename(tmp_p, self._jpath(self.join(name)), opts)
            return True
        except Exception as e:  # noqa: BLE001 — Py4J wraps the Java IOE
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                self._fs.delete(tmp_p, False)
                return False
            raise


def _conform_schema(df, unified, aliases: dict | None = None):
    """Project ``df`` onto the unified (name, type) list: present
    columns cast to the promoted type, absent ones NULL-filled — the
    bind_rows fill rule applied at the table boundary.

    ``aliases`` ({target-name: source-name-in-df}) reads a target
    column from a DIFFERENTLY-NAMED physical column — the column-
    rename translation for segments written before a
    :func:`rename_append_column` (their parquet footers carry the
    era's name). A missing source still NULL-fills (the segment
    predates the column entirely)."""
    from pyspark.sql import functions as F

    cols = []
    for name, dtype in unified:
        src = (aliases or {}).get(name, name)
        if src in df.columns:
            cols.append(F.col(src).cast(dtype).alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*cols)


def _seg_version(seg: str) -> int:
    """The log version that created a segment — encoded in its name
    (``seg=<n>-<uuid>`` / ``fold=<n>-<uuid>``), which is what lets
    reads resolve each segment's COLUMN-NAME ERA without any
    per-segment metadata lookup."""
    head = seg.split("=", 1)[1]
    return int(head.split("-", 1)[0])


def _era_aliases(renames, seg_version: int, schema) -> dict:
    """{head-name: name-at-segment-creation} for schema columns whose
    name CHANGED after the segment was written — walking the rename
    chain newest-first (a→b at v5, b→c at v9: a v3 segment reads
    head 'c' from physical 'a'). Empty dict for post-rename segments
    (the common case: zero overhead)."""
    if not renames:
        return {}
    out = {}
    ordered = sorted(renames, key=lambda r: -int(r["at"]))
    for name, _ in schema or []:
        cur = name
        for r in ordered:
            if int(r["at"]) > seg_version and r["to"] == cur:
                cur = r["from"]
        if cur != name:
            out[name] = cur
    return out


def _era_groups(renames, segs, schema):
    """Group segments by their column-name era: ``[(aliases, [seg,
    ...]), ...]`` — one multi-path relation per era keeps the scan
    count ∝ renames (a handful), never ∝ segments."""
    if not renames:
        return [({}, list(segs))]
    groups: dict = {}
    for s in segs:
        al = _era_aliases(renames, _seg_version(s), schema)
        groups.setdefault(tuple(sorted(al.items())), []).append(s)
    return [(dict(k), v) for k, v in groups.items()]


# -- append/log tables (segment-manifest, append cost ∝ batch) -----------

_LOG_PTR = "_LATEST_LOG"

# Watermark key for appends that pass batch_id without an app_id.
_DEFAULT_APP = "__default__"


def _log_versions(fs: _TableFS) -> list[int]:
    """The retained ``_LOG.<k>`` commit records' versions, ascending.
    Each record is exclusive-created only after its data is complete,
    so the newest IS the published version wherever the (mutable)
    pointer file points."""
    if not fs.isdir():
        return []
    return sorted(
        int(name[5:])
        for name in fs.listdir()
        if name.startswith("_LOG.") and name[5:].isdigit()
    )



# Delta-log cadence: every _CHECKPOINT_EVERY-th commit additionally
# folds the cumulative table state into an immutable _CHECKPOINT.<n>,
# bounding every reader's delta-chain walk. The public Delta-log
# design (delta actions + periodic checkpoint), rebuilt jar-free.
_CHECKPOINT_EVERY = 10

# Per-SEGMENT-keyed manifest families: diffed entry-by-entry in delta
# records (cost ∝ the commit's touched segments). Every other key is
# small (schema, watermarks, specs) and replaced whole when it changes.
_DELTA_MAP_KEYS = ("stats", "file_stats", "deletes", "delete_counts",
                   "partitions")

_MISS = object()


def _changed(a, b) -> bool:
    """Value changed between manifests — identity first (carried-over
    sub-objects are the same object; the equality walk never runs for
    the untouched bulk of the table)."""
    return a is not b and a != b


def _log_delta(prev: dict, new: dict) -> dict | None:
    """The delta record turning state ``prev`` (version n-1) into
    ``new`` (version n) — what a commit serializes instead of the full
    manifest, so commit bytes are ∝ the change, never ∝ the table.
    Segment-keyed families diff per entry; the ``segments`` list diffs
    as ordered add/remove; small keys replace whole. Returns None when
    the new segment order is not reconstructible as
    "survivors-in-prev-order + additions" (never happens on the write
    paths here, which all append; full-form is the sound fallback)."""
    ps = prev.get("segments") or []
    ns = new.get("segments") or []
    pset, nset = set(ps), set(ns)
    add = [s for s in ns if s not in pset]
    rm = [s for s in ps if s not in nset]
    if [s for s in ps if s in nset] + add != ns:
        return None
    d: dict = {"delta": 1, "version": new["version"]}
    if add:
        d["seg_add"] = add
    if rm:
        d["seg_rm"] = rm
    map_set: dict = {}
    map_rm: dict = {}
    for k in _DELTA_MAP_KEYS:
        pm = prev.get(k) or {}
        nm = new.get(k) or {}
        ups = {s: v for s, v in nm.items() if _changed(pm.get(s, _MISS), v)}
        rms = [s for s in pm if s not in nm]
        if ups:
            map_set[k] = ups
        if rms:
            map_rm[k] = rms
    if map_set:
        d["map_set"] = map_set
    if map_rm:
        d["map_rm"] = map_rm
    skip = {"version", "segments", *_DELTA_MAP_KEYS}
    sets = {
        k: v
        for k, v in new.items()
        if k not in skip and _changed(prev.get(k, _MISS), v)
    }
    if "restored_from" in new:
        # always explicit in the raw record: _walk_window reads it off
        # the retained records of a partly vacuumed window, and a
        # restore-after-restore to the same target must not compress
        # away
        sets["restored_from"] = new["restored_from"]
    if "ts" in new:
        # always explicit too: append_version_as_of probes raw records
        # and treats a ts-less delta as pre-timestamp ("matches any
        # as_of") — two metadata-only commits inside one millisecond
        # would otherwise compress the stamp away and time travel
        # could resolve to a version newer than requested
        sets["ts"] = new["ts"]
    unsets = [k for k in prev if k not in skip and k not in new]
    if sets:
        d["set"] = sets
    if unsets:
        d["unset"] = unsets
    return d


class _LazyFamily(_Mapping):
    """A segment-keyed checkpoint family (zone-map stats, deletion
    vectors, partition dirs, ...) loaded from its OWN checkpoint shard
    on first real access — the cold-read fix for million-segment
    tables: the dominant cost of reconstructing a huge state is
    building the per-segment dicts (≈10 s for 1M segments' zone maps,
    in ANY serialization — measured), and most reads never touch most
    families (an unpredicated read needs segments + deletes, never
    stats; vacuum needs deletes, never file_stats). Sharding the
    checkpoint per family and hydrating lazily makes each read pay
    only for the families it consults.

    Pending delta operations compose COPY-ON-WRITE
    (:meth:`with_op`): applying the post-checkpoint delta chain to a
    lazy state records the ops instead of hydrating, so a head read
    stays lazy across the walk. Hydration parses the shard once
    (memoized on the shared loader) and replays the ops in order.
    Content equality (the delta round-trip check), iteration, and
    truthiness all behave like the dict they stand for."""

    __slots__ = ("_loader", "_ops", "_data")

    def __init__(self, loader, ops=()):
        self._loader = loader
        self._ops = tuple(ops)
        self._data = None

    def _load(self) -> dict:
        if self._data is None:
            base = dict(self._loader())
            for kind, payload in self._ops:
                if kind == "set":
                    base.update(payload)
                else:
                    for s in payload:
                        base.pop(s, None)
            self._data = base
        return self._data

    @property
    def loaded(self) -> bool:
        return self._data is not None

    def with_op(self, kind: str, payload) -> "_LazyFamily":
        return _LazyFamily(self._loader, self._ops + ((kind, payload),))

    def __getitem__(self, k):
        return self._load()[k]

    def __iter__(self):
        return iter(self._load())

    def __len__(self):
        return len(self._load())

    def __contains__(self, k):
        return k in self._load()

    def get(self, k, default=None):
        return self._load().get(k, default)

    def __bool__(self):
        # a shard is only written non-empty and "set" ops only grow,
        # so truthiness needs no hydration unless removals are pending
        if self._data is None and not any(
            kind == "rm" for kind, _ in self._ops
        ):
            return True
        return len(self._load()) > 0

    def __eq__(self, other):
        if isinstance(other, _LazyFamily):
            return self._load() == other._load()
        if isinstance(other, dict):
            return self._load() == other
        return NotImplemented

    def __ne__(self, other):
        eq = self.__eq__(other)
        return NotImplemented if eq is NotImplemented else not eq

    __hash__ = None  # mutable-equivalent mapping


class _ShardLoader:
    """Memoized parse of one checkpoint family shard — shared by every
    :class:`_LazyFamily` derived from the same base version, so a
    delta chain of lazy states parses the shard at most once."""

    __slots__ = ("_fs", "_name", "_cache")

    def __init__(self, fs: "_TableFS", name: str):
        self._fs = fs
        self._name = name
        self._cache = None

    def __call__(self) -> dict:
        if self._cache is None:
            import json as _json

            text = self._fs.read_text(self._name)
            if text is None:
                raise FileNotFoundError(
                    f"checkpoint shard {self._name} missing in "
                    f"{self._fs.dir!r} — the checkpoint index references "
                    "it; vacuum sweeps index and shards as one unit, so "
                    "this indicates out-of-band deletion"
                )
            self._cache = _json.loads(text)
        return self._cache


# The segment-keyed families a sharded checkpoint externalizes — the
# ones whose size grows with the segment count. Everything else
# (schema, watermarks, renames, sketch_spec, ...) is O(1)-ish and
# stays in the index for one-read access.
_CKPT_EXT = ("stats", "file_stats", "partitions", "deletes",
             "delete_counts")
# Shard only past this segment count: below it the whole state parses
# in single-digit milliseconds and extra files would just add stat
# calls. Tests override this to exercise the sharded path.
_CKPT_SHARD_MIN_SEGS = 10_000


def _ckpt_version(name: str) -> int | None:
    """The log version a checkpoint file belongs to — the index
    (``_CHECKPOINT.<n>``) or a family shard (``_CHECKPOINT.<n>.<fam>``);
    None for non-checkpoint names. Vacuum sweeps index and shards as
    one unit through this."""
    if not name.startswith("_CHECKPOINT."):
        return None
    head = name[12:].split(".", 1)[0]
    return int(head) if head.isdigit() else None


def _hydrated_state(state: dict) -> dict:
    """A plain-dict copy of ``state`` with every lazy family
    materialized — for JSON serialization (full-form log fallback)."""
    return {
        k: (dict(v._load()) if isinstance(v, _LazyFamily) else v)
        for k, v in state.items()
    }


def _apply_log_delta(state: dict, rec: dict) -> dict:
    """Apply one delta record to a materialized state — the reader
    half of :func:`_log_delta`. Families still lazy (unhydrated
    :class:`_LazyFamily`) take the delta as a pending op instead of
    hydrating, so the post-checkpoint walk of a huge table stays
    cheap until a family is actually consulted."""
    out = dict(state)
    rm = set(rec.get("seg_rm") or ())
    segs = [s for s in (state.get("segments") or []) if s not in rm]
    out["segments"] = segs + list(rec.get("seg_add") or ())
    for k, ups in (rec.get("map_set") or {}).items():
        cur = out.get(k)
        if isinstance(cur, _LazyFamily) and not cur.loaded:
            out[k] = cur.with_op("set", dict(ups))
            continue
        m = dict(cur or {})
        m.update(ups)
        out[k] = m
    for k, rms in (rec.get("map_rm") or {}).items():
        cur = out.get(k)
        if isinstance(cur, _LazyFamily) and not cur.loaded:
            # may be empty after hydration; __bool__ loads when rm ops
            # are pending, so truthiness semantics stay exact
            out[k] = cur.with_op("rm", list(rms))
            continue
        m = dict(cur or {})
        for s in rms:
            m.pop(s, None)
        if m:
            out[k] = m
        else:  # writers drop emptied families rather than keep {}
            out.pop(k, None)
    for k, v in (rec.get("set") or {}).items():
        out[k] = v
    for k in rec.get("unset") or ():
        out.pop(k, None)
    out["version"] = rec["version"]
    return out


# In-process cache of MATERIALIZED log states: {(table_dir, version):
# (record-stat-sig, state)}. A (table, version) state is immutable
# once committed, so repeated reads in one driver session pay the
# reconstruction walk ONCE — the head read of a 100k-segment table
# drops from ~0.8 s (checkpoint JSON parse) to one stat call. Entries
# validate against the _LOG.<v> commit record's (size, mtime)
# fingerprint before use, so a table directory that was deleted and
# recreated (scratch dirs, test fixtures — version numbers restart)
# can never serve a stale state. Cached states are SHARED objects:
# everything downstream treats them as read-only (writers build new
# dicts via _log_with_extras / dict copies — audited, and the delta
# round-trip check in _write_log would catch an aliasing mutation).
_LOG_STATE_CACHE: dict = {}
_LOG_STATE_CACHE_MAX = 8
# driver threads (append_refresh, the upsert DV overlap) share the
# cache: every read-modify-write of it holds this lock
_LOG_STATE_LOCK = threading.Lock()


def _cache_log_state(key: tuple, sig: tuple, state: dict) -> None:
    c = _LOG_STATE_CACHE
    with _LOG_STATE_LOCK:
        c.pop(key, None)
        c[key] = (sig, state)  # dict preserves insertion order: LRU-ish
        while len(c) > _LOG_STATE_CACHE_MAX:
            del c[next(iter(c))]


def _cached_log_state(fs: _TableFS, k: int) -> dict | None:
    """The cached state for version ``k``, validated against the
    commit record on disk; None on miss or fingerprint mismatch."""
    key = (fs.dir, k)
    hit = _LOG_STATE_CACHE.get(key)
    if hit is None:
        return None
    sig = fs.stat_sig(f"_LOG.{k}")
    with _LOG_STATE_LOCK:
        hit = _LOG_STATE_CACHE.get(key)
        if hit is None:
            return None
        if sig is None or sig != hit[0]:
            del _LOG_STATE_CACHE[key]
            return None
        return hit[1]


def _read_log_rec(fs: _TableFS, k: int) -> dict:
    """The raw ``_LOG.<k>`` record — full-form manifest (pre-delta
    tables, version 1, non-linear publishes) or a delta record."""
    import json as _json

    text = fs.read_text(f"_LOG.{k}")
    if text is None:
        raise FileNotFoundError(f"log version {k} not found in {fs.dir!r}")
    return _json.loads(text)


def _reconstruct_log(fs: _TableFS, version: int) -> dict:
    """Materialize the full table state at ``version``: walk back from
    the target collecting delta records until a base — an immutable
    ``_CHECKPOINT.<k>`` or a full-form ``_LOG.<k>`` — then apply the
    chain forward. The walk is bounded by the checkpoint cadence
    (≤ ~2×``_CHECKPOINT_EVERY`` small reads even across a crashed
    checkpoint write), never by the version count or the table size."""
    import json as _json

    sig = fs.stat_sig(f"_LOG.{version}")
    cached = _cached_log_state(fs, version)
    if cached is not None:
        return cached
    chain: list[dict] = []
    k = version
    state = None
    while k >= 1:
        if k < version:
            # a cached LOWER version is a valid base: roll the few
            # deltas above it forward instead of walking to the
            # checkpoint — the post-commit re-read shape (commit n,
            # cache holds n-1) costs one delta apply, not a walk
            hit = _cached_log_state(fs, k)
            if hit is not None:
                state = hit
                break
        text = fs.read_text(f"_CHECKPOINT.{k}")
        if text is not None:
            state = _json.loads(text)
            ext = state.pop("_ext", None)
            if ext:
                # sharded checkpoint: heavy segment-keyed families
                # live in their own files and hydrate lazily on
                # first access (see _LazyFamily)
                for fam, fname in ext.items():
                    state[fam] = _LazyFamily(_ShardLoader(fs, fname))
            break
        rec = _read_log_rec(fs, k)
        if not rec.get("delta"):
            state = rec
            break
        chain.append(rec)
        k -= 1
    if state is None:
        raise FileNotFoundError(
            f"log version {version} in {fs.dir!r} has no reachable "
            "base manifest (delta chain walked past version 1)"
        )
    if len(chain) > 2 * _CHECKPOINT_EVERY:
        # One crashed checkpoint write costs one extra cadence of walk
        # — expected and silent. A walk past TWO cadences means the
        # store has rejected every recent checkpoint (_write_checkpoint
        # is deliberately best-effort and swallows the errors), so the
        # chain is growing unboundedly and every fresh reader pays
        # O(versions-since-last-base); surface it instead of degrading
        # silently forever.
        warnings.warn(
            f"append log at {fs.dir!r}: reconstruction of version "
            f"{version} walked {len(chain)} delta records without "
            f"hitting a checkpoint (cadence is {_CHECKPOINT_EVERY}) — "
            "checkpoint writes appear to be persistently failing on "
            "this store; reads stay correct but slow down linearly "
            "until one lands (check store permissions/quotas)",
            stacklevel=3,
        )
    for rec in reversed(chain):
        state = _apply_log_delta(state, rec)
    if sig is not None:
        _cache_log_state((fs.dir, version), sig, state)
    return state


def _log_head_version(fs: _TableFS) -> int:
    """The published head version WITHOUT listing the table directory
    (the directory holds every segment, so a listing is O(segments)):
    start from the pointer and probe ``_LOG.<v+1>`` existence forward —
    normally exactly one miss. Commit records are written densely, so
    forward probing finds any commit a transiently-regressed pointer
    hides. Falls back to the full listing only when the pointer is
    missing, corrupt, or dangling (vacuum hole / torn write)."""
    text = fs.read_text(_LOG_PTR)
    try:
        ptr = int(text.strip()) if text is not None else 0
    except ValueError:
        ptr = 0
    if ptr > 0 and fs.exists(f"_LOG.{ptr}"):
        v = ptr
        while fs.exists(f"_LOG.{v + 1}"):
            v += 1
        return v
    return max(_log_versions(fs), default=0)


def _read_log(fs: _TableFS, version: int | None = None) -> dict | None:
    """The published log manifest (or a pinned earlier one),
    MATERIALIZED: ``{"version": n, "segments": [dir, ...],
    "max_batch_id": m|None, "watermarks": {app_id: max_batch_id, ...},
    "schema": [[name, type], ...], ...}`` — reconstructed from the
    nearest checkpoint/full manifest plus the delta records above it
    (:func:`_reconstruct_log`), so callers keep the full-state
    contract while commits stay ∝ their change.

    The published version resolves pointer-first with forward probing
    (:func:`_log_head_version`) — the immutable manifests are the
    commit records, so a transient pointer regression (stale-writer
    TOCTOU) never hides a commit from readers; the next writer's
    :func:`_advance_ptr` heals the pointer file itself."""
    if version is None:
        version = _log_head_version(fs)
        if version == 0:
            return None
    return _reconstruct_log(fs, version)


def _require_log(
    fs: _TableFS, table_dir: str, version: int | None = None
) -> dict:
    """:func:`_read_log` for operations that need a published table."""
    log = _read_log(fs, version)
    if log is None:
        raise FileNotFoundError(
            f"no published append log at {table_dir!r} (missing {_LOG_PTR})"
        )
    return log


def _iter_log_states(fs: _TableFS, lo: int, hi: int):
    """Yield ``(k, full-state)`` for versions ``lo..hi`` ascending,
    reconstructing ``lo`` once and rolling deltas forward — O(window)
    total instead of O(window × chain) repeated walks. Incremental
    consumers (CDF, history, vacuum) iterate versions this way."""
    if lo > hi:
        return
    state = _reconstruct_log(fs, lo)
    yield lo, state
    for k in range(lo + 1, hi + 1):
        rec = _read_log_rec(fs, k)
        state = _apply_log_delta(state, rec) if rec.get("delta") else rec
        yield k, state


def append_version_as_of(
    table_dir: str, as_of, spark: SparkSession | None = None
) -> int:
    """The newest log version whose commit timestamp is ``<= as_of``
    (float epoch seconds, a datetime, or an ISO string) — the
    TIMESTAMP-AS-OF resolver (Delta's, with the same writer-clock
    caveat). Pass the result as ``version=`` to any reader. Walks raw
    records head-down (O(retained versions) tiny reads, bounded by
    vacuum); records from before timestamps were stamped match any
    ``as_of``. Raises when even the oldest retained version is newer
    than ``as_of`` (vacuumed past it)."""
    import datetime

    if isinstance(as_of, str):
        as_of = datetime.datetime.fromisoformat(as_of).timestamp()
    elif isinstance(as_of, datetime.datetime):
        as_of = as_of.timestamp()
    fs = _TableFS(table_dir, spark)
    # nothing published: _require_log raises (or reads a first commit
    # that landed in between)
    head = _log_head_version(fs) or _require_log(fs, table_dir)["version"]
    oldest = None
    for v in range(head, 0, -1):
        try:
            rec = _read_log_rec(fs, v)
        except FileNotFoundError:
            break  # vacuumed below here
        # top-level in full form, inside "set" in delta form (always
        # present there: the stamp changes every commit)
        ts = rec.get("ts")
        if ts is None:
            ts = (rec.get("set") or {}).get("ts")
        oldest = (v, ts)
        if ts is None or ts <= as_of:
            return v
    raise ValueError(
        f"no retained version of {table_dir!r} is as old as "
        f"{as_of!r} — the oldest retained commit is version "
        f"{oldest[0]} at ts {oldest[1]} (vacuum swept earlier history)"
    )


def _log_states_for(fs: _TableFS, versions: list[int]):
    """``(v, full-state)`` for an explicit (sorted) version list —
    rolled forward when contiguous (the normal retained-history
    shape), per-version reconstruction otherwise."""
    if versions and versions == list(range(versions[0], versions[-1] + 1)):
        yield from _iter_log_states(fs, versions[0], versions[-1])
    else:
        for v in versions:
            yield v, _reconstruct_log(fs, v)


def _log_watermarks(log: dict | None) -> dict[str, int]:
    """Per-app exactly-once watermarks, with the legacy single
    ``max_batch_id`` field folded in as the default app's entry."""
    if log is None:
        return {}
    wms = dict(log.get("watermarks") or {})
    legacy = log.get("max_batch_id")
    if legacy is not None and _DEFAULT_APP not in wms:
        wms[_DEFAULT_APP] = legacy
    return wms


def _write_log(fs: _TableFS, log: dict, prev: dict | None = None) -> int:
    """Publish a log manifest: immutable ``_LOG.<n>`` by atomic
    EXCLUSIVE-create — ``_LOG.<n>`` is the commit record, so two
    writers racing to publish version n get exactly one winner, the
    concurrency model of the Delta log itself — then the monotonic
    ``_LATEST_LOG`` pointer swap. Raises
    :class:`ConcurrentWriteError` for the loser. Only
    :func:`_commit` calls this: it heals the pointer and rebases or
    refuses. ``max_batch_id`` mirrors the default app's watermark for
    pre-rework readers.

    ``prev`` — the materialized state of version n-1 exactly as
    :func:`_read_log` returned it — switches the serialized record to
    DELTA form (:func:`_log_delta`): commit bytes ∝ the change, not
    the table. Every ``_CHECKPOINT_EVERY``-th delta commit also folds
    the full state into an immutable ``_CHECKPOINT.<n>``, bounding
    reader reconstruction; the checkpoint is derived data written
    AFTER the commit record, so a crash between the two costs only a
    slightly longer walk until the next cadence hit. Without ``prev``
    (version 1, restores of legacy tables, callers predating the
    delta layer) the full manifest is written — readers accept both
    forms at any version, so pre-delta tables keep reading and their
    next commits simply start the delta chain."""
    import json as _json
    import time as _time

    n = log["version"]
    log["max_batch_id"] = (log.get("watermarks") or {}).get(_DEFAULT_APP)
    # commit wall-clock, for TIMESTAMP-AS-OF resolution and history —
    # writer-local clock, same caveat as Delta's file-mtime timestamps
    log["ts"] = round(_time.time(), 3)
    payload = log
    if prev is not None and prev.get("version") == n - 1 and n > 1:
        d = _log_delta(prev, log)
        # belt-and-braces: a delta is used only if applying it to prev
        # reproduces the full state bit-for-bit (identity-fast compare
        # — shared sub-objects short-circuit); anything surprising
        # degrades to the always-sound full form
        if d is not None and _apply_log_delta(prev, d) == log:
            payload = d
    is_delta = payload is not log
    if not is_delta:
        # full-form fallback: materialize any lazy families carried in
        # by reference (restore/republish paths) before serializing
        payload = _hydrated_state(log)
    if not fs.write_text_exclusive(
        f"_LOG.{n}", _json.dumps(payload), f".tmp.{n}"
    ):
        raise ConcurrentWriteError(
            f"log version {n} at {fs.dir!r} was committed by another "
            "writer — re-read the log and retry"
        )
    _advance_ptr(fs, n)
    if is_delta and n % _CHECKPOINT_EVERY == 0:
        _write_checkpoint(fs, log)
    return n


def _advance_ptr(fs: _TableFS, n: int) -> None:
    """Monotonic ``_LATEST_LOG`` swap to committed version ``n`` — or
    past it, never below a HIGHER committed version: the guard that
    keeps a slow writer of v2 from regressing the pointer after v3
    published.

    The ``_LOG.<k>`` commit records are the independent evidence. Each
    is durable BEFORE its writer's pointer swap, so re-probing them
    after our own rename catches a regression we caused (a stale
    writer that read the pointer before a newer publish and renamed
    after it), and the loop re-advances to the true head.

    After exhausting the verify-rewrite loop (possible only under
    persistently torn/corrupt pointer reads) the publish is still
    durable when ``_LOG.<n>`` exists — readers probe forward from the
    pointer and fall back to the records — so this returns; raising
    would make :func:`_commit` re-append a version that already
    committed (duplicate rows). Only without the record does the
    failure surface as :class:`ConcurrentWriteError`: a publish must
    never report success while readers may not see it."""
    target = n
    for _ in range(8):
        target = _log_probe_committed(fs, target)
        ptr = (fs.read_text(_LOG_PTR) or "").strip()
        if ptr.isdigit() and int(ptr) >= target:
            return
        fs.write_text_atomic(_LOG_PTR, str(target), f".ptr.{target}")
    if fs.exists(f"_LOG.{n}"):
        return
    raise ConcurrentWriteError(
        f"pointer {_LOG_PTR!r} under {fs.dir!r} could not be advanced to "
        f"v{n} after 8 verify-rewrite attempts — persistent torn/corrupt "
        "pointer reads; the data is written but NOT published"
    )


def _log_probe_committed(fs: _TableFS, start: int) -> int:
    """Highest version proven committed, by forward existence probes
    from a version KNOWN committed — replaces the per-commit directory
    listing (O(segments) entries at scale) with O(lag) stat calls,
    normally one."""
    v = start
    while fs.exists(f"_LOG.{v + 1}"):
        v += 1
    return v


def _write_checkpoint(fs: _TableFS, state: dict) -> None:
    """Fold the materialized state into ``_CHECKPOINT.<n>`` —
    exclusive-create (racing maintainers: one winner, content
    identical either way — a (table, version) state is immutable, so
    an already-present file IS this content), best-effort: the
    checkpoint is pure derived data, so a failure only lengthens
    reconstruction walks.

    Past ``_CKPT_SHARD_MIN_SEGS`` segments the checkpoint is SHARDED
    BY FAMILY: each heavy segment-keyed family (``_CKPT_EXT``) lands
    in its own ``_CHECKPOINT.<n>.<family>`` file and the index keeps
    only a pointer — cold readers then parse ONLY the families they
    touch (an unpredicated read skips the dominant zone-map family
    entirely; ≈10 s of dict-building avoided at 1M segments). Shards
    are written BEFORE the index, so an index on disk always has its
    shards (a crash in between leaves orphan shards vacuum sweeps).
    Small tables keep the legacy single-file form, which readers
    accept at any version forever."""
    import json as _json

    n = state["version"]
    try:
        if len(state.get("segments") or ()) < _CKPT_SHARD_MIN_SEGS:
            fs.write_text_exclusive(
                f"_CHECKPOINT.{n}", _json.dumps(_hydrated_state(state)),
                f".ck.{n}"
            )
            return
        index = {}
        ext = {}
        for k, v in state.items():
            if k in _CKPT_EXT and v:
                fam_name = f"_CHECKPOINT.{n}.{k}"
                body = _json.dumps(
                    dict(v._load()) if isinstance(v, _LazyFamily) else v
                )
                # existing shard == this content (immutable state):
                # a lost exclusive-create race is success
                fs.write_text_exclusive(fam_name, body, f".ck.{n}.{k}")
                ext[k] = fam_name
            elif not isinstance(v, _LazyFamily):
                index[k] = v
            else:
                index[k] = dict(v._load())
        if ext:
            index["_ext"] = ext
        fs.write_text_exclusive(
            f"_CHECKPOINT.{n}", _json.dumps(index), f".ck.{n}"
        )
    except Exception:
        pass


def _frame_schema_pairs(df) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


# Safe type widenings (old → new) for schema_mode="merge" — the public
# Delta type-widening set that is exact and natively readable: Spark's
# parquet reader upcasts an int32/float file column under a
# bigint/double read schema, and the recorded zone-map bounds
# (ints/floats) stay valid without rewriting. Orderable only; never
# narrowing, never string↔number, never decimal (scale changes move
# the unscaled-int stats domain).
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def _widens(a, b) -> bool:
    """Is ``a → b`` a safe widening? The fixed numeric set, plus
    SAME-SCALE decimal precision growth — exact (the unscaled-integer
    stats domain is unchanged, and Spark's parquet reader upcasts
    decimal precision natively). Scale changes stay refused: they move
    the recorded stats domain."""
    if (a, b) in _WIDENINGS:
        return True
    if (
        isinstance(a, str) and a.startswith("decimal(")
        and isinstance(b, str) and b.startswith("decimal(")
    ):
        pa, sa = map(int, a[8:-1].split(","))
        pb, sb = map(int, b[8:-1].split(","))
        return sa == sb and pb >= pa
    return False


def _partition_dirs(fs: _TableFS, seg: str, depth: int) -> list[str]:
    """Relative ``k=v[/k2=v2...]`` partition directories of a
    hive-partitioned segment, found by walking exactly ``depth``
    levels — one listing per directory level, recorded in the log
    manifest at append time so reads never re-list."""
    rels = [""]
    for _ in range(depth):
        nxt = []
        for r in rels:
            base = posixpath.join(seg, r) if r else seg
            for d in fs.subdirs(base):
                if "=" in d and not d.startswith(("_", ".")):
                    nxt.append(posixpath.join(r, d) if r else d)
        rels = nxt
    return sorted(rels)


def _partition_values(reldir: str) -> dict[str, str | None]:
    """Parse ``k=v/k2=v2`` into {col: value-string}, unescaping hive's
    %-encoding; the null sentinel maps to None."""
    from urllib.parse import unquote

    out = {}
    for piece in reldir.split("/"):
        k, _, v = piece.partition("=")
        v = unquote(v)
        out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


# -- manifest-level column statistics (zone maps) ------------------------

# Stat-eligible column types: totally ordered, JSON-serializable with
# exact round-trip. decimal(p,s) is eligible through _stat_eligible —
# its bounds are recorded as exact UNSCALED INTEGERS (the scale is a
# constant of the column type), never JSON floats, so decimal pruning
# is as sound as integer pruning. Complex types have no useful
# min/max.
_STAT_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "boolean", "string", "date", "timestamp", "timestamp_ntz",
}


def _stat_eligible(typ) -> bool:
    """Can a column of this type carry zone-map stats?"""
    return typ in _STAT_TYPES or (
        isinstance(typ, str) and typ.startswith("decimal(")
    )


def _dec_scale(typ: str) -> int:
    """The scale of a ``decimal(p,s)`` simpleString."""
    return int(typ[typ.rindex(",") + 1:-1])


# Conservative per-value broadcast-relation widths by simpleString
# type, for row-count-derived size bounds (broadcast_guarded's
# known_bytes). Variable-width types get generous allowances; anything
# unknown assumes 64 bytes.
_TYPE_WIDTH_BYTES = {
    "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
    "date": 4, "bigint": 8, "double": 8, "timestamp": 8,
    "timestamp_ntz": 8, "string": 64, "binary": 128,
}


def _est_row_bytes(types, widths=None) -> int:
    """Estimated broadcast bytes per row for columns of ``types``
    (simpleStrings) — 16 bytes of per-row overhead plus per-type
    widths. Paired with an EXACT row count this beats Catalyst's
    analyzed-plan stats, which ignore aggregation/distinct reduction
    and routinely inflate a 20k-row key set to gigabytes.

    ``widths``, when given, is a parallel iterable of MEASURED
    per-column max byte widths (None entries fall back to the type
    default). Variable-width columns (string/binary) must not lean on
    the 64-byte default when the caller can measure: a key set of long
    URLs or composite text hashes would be under-estimated by orders
    of magnitude and force-broadcast past BROADCAST_MAX_BYTES."""
    total = 16
    ws = list(widths) if widths is not None else None
    for i, t in enumerate(types):
        w = ws[i] if ws is not None and i < len(ws) else None
        if w is not None:
            total += int(w) + 8  # measured bytes + offset/len overhead
        elif isinstance(t, str) and t.startswith("decimal("):
            total += 16
        else:
            total += _TYPE_WIDTH_BYTES.get(t, 64)
    return total
def _local_relation(spark, column_values: dict, schema: str):
    """Small driver-held key/probe relation as a DataFrame that
    executes JVM-side. ``spark.createDataFrame(list_of_tuples)``
    parallelizes PICKLED rows: every task that touches the relation
    round-trips a Python worker, so a 64-row probe inside a write job
    costs ~0.5 s of worker startup PER EXECUTION (measured r15, guide
    §4: eliminate the Python boundary — this was the single largest
    fixed cost in the steady-state view-refresh MERGE). The
    pandas/Arrow path ships the rows once as Arrow bytes and executes
    as a JVM local scan — same rows, same declared schema, ~5x
    cheaper per use and no Python workers.

    ``column_values``: {column_name: list_of_python_values}, all lists
    the same length; ``schema``: the DDL string to pin exact types.
    Falls back to the pickled-row path if pandas/Arrow balks (exotic
    element types) — correctness first, the fast path is an
    optimization."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(dict(column_values), dtype=object)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        names = list(column_values)
        rows = list(zip(*[column_values[n] for n in names])) or []
        return spark.createDataFrame(rows, schema=schema)


_STAT_STR_CAP = 64
_STAT_OPS = {"==", "=", "<", "<=", ">", ">=", "in"}
# dictionary zone maps: record the EXACT value set of a column when it
# has at most this many distinct values in the segment — prunes
# scattered equality keys (categoricals like event_type) that min/max
# ranges cannot, the manifest analog of Iceberg's dictionary pruning
_STAT_SET_CAP = 32


def _stat_trunc_min(s: str) -> str:
    # a prefix of a string is <= the string: valid lower bound
    return s if len(s) <= _STAT_STR_CAP else s[:_STAT_STR_CAP]


def _stat_trunc_max(s: str) -> str | None:
    # Delta's trick: truncate and bump the last non-maximal char so
    # the stored value is >= every string sharing the prefix — a valid
    # upper bound. None (unbounded) in the degenerate all-U+10FFFF case.
    if len(s) <= _STAT_STR_CAP:
        return s
    p = s[:_STAT_STR_CAP]
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return None


def _stat_json(v, typ: str):
    """One JSON-comparable form per stat type. Dates/timestamps as
    zero-padded ISO strings, which compare lexicographically in value
    order; decimals as exact unscaled integers (scale is a constant of
    the column type, so they compare in value order); numbers and
    bools native."""
    if v is None:
        return None
    if typ in ("date", "timestamp", "timestamp_ntz"):
        return v.isoformat()
    if typ in ("float", "double"):
        return float(v)
    if typ == "boolean":
        return bool(v)
    if typ == "string":
        return v
    if typ.startswith("decimal("):
        return int(v.scaleb(_dec_scale(typ)))
    return int(v)


def _stat_norm_value(v):
    """Normalize a user-supplied filter value into the same domain the
    stats were recorded in."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _stat_cols(schema, pby) -> list:
    """The columns a segment's zone-map stats cover: stat-eligible
    types, minus partition columns (the manifest partition map already
    prunes on those)."""
    return [
        n for n, t in schema
        if _stat_eligible(t) and n not in set(pby or [])
    ]


def _pa_fix_value(v, typ):
    """A pyarrow ``.as_py()`` value mapped into the domain the Spark
    aggregate returns: timestamps come back tz-aware UTC (or naive
    UTC from INT96 files), while PySpark's row collection converts
    internal micros with ``datetime.fromtimestamp`` — the OS local
    timezone, NOT ``spark.sql.session.timeZone`` — so mirror that."""
    import datetime

    if v is None or typ != "timestamp":
        return v
    if v.tzinfo is None:
        v = v.replace(tzinfo=datetime.timezone.utc)
    return v.astimezone().replace(tzinfo=None)


def _pa_partial_stats(tbl, names, types) -> dict:
    """THE zone-map kernel: partial stats of one Arrow table (a whole
    file, or one file's batches). Returns ``{"rows": n, "cols": {col:
    [mn, mx, nulls, set | None]}}`` with raw (unconverted) Python
    values; :func:`_merge_pa_partials` folds partials and
    :func:`_stat_record` renders manifest entries. A name missing from
    ``tbl`` (a ``schema_mode="merge"`` batch omitting a table column)
    is all NULL. float/double mirror Spark's ordering exactly (total
    order with -0.0 < 0.0 and NaN greatest) via the IEEE sortable-bits
    trick; their sets are recorded only on NaN-free data (a
    NaN-bearing column's exact set is degenerate — omitting the
    dictionary is sound, it only skips a pruning opportunity). The set
    is the exact distinct set, None past ``_STAT_SET_CAP``."""
    import numpy as np
    import pyarrow.compute as pc

    rows = tbl.num_rows
    have = set(tbl.column_names)
    cap = _STAT_SET_CAP
    out = {}
    for name in names:
        if name not in have:
            out[name] = [None, None, rows, set()]
            continue
        arr = tbl.column(name).combine_chunks()
        nulls = arr.null_count
        nn = arr.drop_null()
        mn = mx = None
        vals: set | None = set()
        if types[name] in ("float", "double"):
            a = nn.to_numpy(zero_copy_only=False).astype(np.float64)
            if len(a):
                nan_mask = np.isnan(a)
                # canonicalize NaN bit patterns, then the IEEE
                # sortable-bits total order (-0.0 < 0.0, NaN greatest)
                # — matches java.lang.Double.compare
                a = np.where(nan_mask, np.float64("nan"), a)
                u = a.view(np.uint64)
                key = np.where(
                    (u >> np.uint64(63)).astype(bool),
                    ~u,
                    u | np.uint64(1 << 63),
                )
                mn = float(a[int(np.argmin(key))])
                mx = float(a[int(np.argmax(key))])
                uq = np.unique(a)  # dedups -0.0/0.0 to one entry
                if nan_mask.any() or len(uq) > cap:
                    vals = None
                else:
                    vals = {float(v) + 0.0 for v in uq}
        elif len(nn):
            mm = pc.min_max(nn)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            uq = pc.unique(nn)
            vals = None if len(uq) > cap else set(uq.to_pylist())
        # all-NULL columns keep the empty set — the record rule drops
        # empties downstream
        out[name] = [mn, mx, nulls, vals]
    return {"rows": rows, "cols": out}


def _tot_lt(a, b, is_float: bool) -> bool:
    """``a < b`` in the order the per-type Spark aggregate uses —
    for floats the java.lang.Double.compare total order (NaN greatest,
    -0.0 < 0.0), plain ``<`` otherwise. Used only for the driver-side
    merge of per-file partials."""
    if is_float:
        import math

        a_nan, b_nan = math.isnan(a), math.isnan(b)
        if a_nan or b_nan:
            return (not a_nan) and b_nan
        if a == 0.0 and b == 0.0:
            return math.copysign(1.0, a) < math.copysign(1.0, b)
    return a < b


def _merge_pa_partials(partials, names, types) -> dict:
    """Fold kernel partials (same shape in and out)."""
    rows = 0
    merged = {n: [None, None, 0, set()] for n in names}
    for part in partials:
        rows += part["rows"]
        for n in names:
            isf = types[n] in ("float", "double")
            mn, mx, nulls, vals = part["cols"][n]
            m = merged[n]
            m[2] += nulls
            if mn is not None:
                m[0] = mn if m[0] is None or _tot_lt(mn, m[0], isf) else m[0]
                m[1] = mx if m[1] is None or _tot_lt(m[1], mx, isf) else m[1]
            if m[3] is not None and vals is not None:
                m[3] = m[3] | vals
                if len(m[3]) > _STAT_SET_CAP:
                    m[3] = None
            else:
                m[3] = None
    return {"rows": rows, "cols": merged}


def _stat_record(part: dict, names, types, sets: bool) -> dict:
    """A merged partial rendered as one manifest zone-map entry:
    ``{"rows": n, "cols": {col: [min, max, nulls] | [min, max, nulls,
    values]}}`` — JSON-comparable bounds (:func:`_stat_json`), string
    bounds truncated to valid prefixes, and (``sets``) the exact value
    set when non-empty and free of strings longer than
    ``_STAT_STR_CAP``."""
    out = {}
    for c in names:
        t = types[c]
        mn_raw, mx_raw, nulls, vals = part["cols"][c]
        mn = _stat_json(_pa_fix_value(mn_raw, t), t)
        mx = _stat_json(_pa_fix_value(mx_raw, t), t)
        if t == "string":
            mn = None if mn is None else _stat_trunc_min(mn)
            mx = None if mx is None else _stat_trunc_max(mx)
        entry = [mn, mx, int(nulls)]
        if sets and vals and not (
            t == "string" and any(len(v) > _STAT_STR_CAP for v in vals)
        ):
            entry.append(
                sorted(_stat_json(_pa_fix_value(v, t), t) for v in vals)
            )
        out[c] = entry
    return {"rows": int(part["rows"]), "cols": out}


def _local_partials(fs: _TableFS, seg: str, pby, names, types) -> dict:
    """Local feeder: the driver reads each of the segment's parquet
    files with pyarrow, one thread per file (bounded by the core
    count; pyarrow decodes and computes with the GIL released) — no
    Spark job, no Python worker. ``{relpath: partial}``."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    base = fs.join(seg)
    files = fs.data_files(seg, recurse=bool(pby))

    def one(path):
        pf = pq.ParquetFile(path)
        have = set(pf.schema_arrow.names)
        tbl = pf.read(columns=[n for n in names if n in have])
        return _pa_partial_stats(tbl, names, types)

    if not files:
        return {}
    with ThreadPoolExecutor(min(len(files), os.cpu_count() or 1)) as ex:
        parts = list(ex.map(one, files))
    return {os.path.relpath(p, base): part for p, part in zip(files, parts)}


_PICKLE_BY_VALUE_LOCK = threading.Lock()


def _remote_partials(spark, fs: _TableFS, seg: str, schema, names, types):
    """Remote (URI-scheme) feeder: ONE Spark job reads the segment
    (pinned to the table schema) and ``mapInArrow`` hands its Arrow
    batches, keyed by ``_metadata.file_path``, to the same kernel; the
    per-file partials merge on the driver. ``{relpath: partial}``."""
    import pickle
    import sys
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    sdf = _read_parquet_at(spark, schema, fs.join(seg)).select(
        F.col("_metadata.file_path").alias("__file"),
        *[F.col(c) for c in names],
    )

    def _run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        acc: dict = {}
        for b in batches:
            for f in pc.unique(b.column("__file")).to_pylist():
                tbl = pa.Table.from_batches(
                    [b.filter(pc.equal(b.column("__file"), f))]
                )
                p = _pa_partial_stats(tbl, names, types)
                acc[f] = (
                    _merge_pa_partials([acc[f], p], names, types)
                    if f in acc
                    else p
                )
        if acc:
            yield pa.RecordBatch.from_pydict({
                "file": list(acc),
                "part": [pickle.dumps(p) for p in acc.values()],
            })

    # the kernel ships BY VALUE (pickled when the plan is built), so
    # executors need not import cuplyr_spark
    from pyspark import cloudpickle

    mod = sys.modules[__name__]
    with _PICKLE_BY_VALUE_LOCK:
        cloudpickle.register_pickle_by_value(mod)
        try:
            mapped = sdf.mapInArrow(_run, "file string, part binary")
        finally:
            cloudpickle.unregister_pickle_by_value(mod)
    rel = re.compile(_file_rel_re(seg))
    by_file: dict = {}
    for r in mapped.collect():
        key = unquote(rel.match(r["file"]).group(1))
        by_file.setdefault(key, []).append(pickle.loads(r["part"]))
    return {
        k: _merge_pa_partials(ps, names, types) for k, ps in by_file.items()
    }


def _segment_stats(
    spark, fs: _TableFS, seg: str, schema, pby, file_cols=(),
    segment: bool = True,
) -> tuple[dict | None, dict | None]:
    """Zone maps of a just-written segment from ONE pass of the
    pyarrow kernel (:func:`_pa_partial_stats`) over its files — local
    tables on the driver, remote tables through one ``mapInArrow`` job
    (cost ∝ the batch's bytes, never the table's). Returns
    ``(segment_stats, file_stats)``:

    - ``segment_stats`` (None unless ``segment``): min/max/null-count
      per stat-eligible column plus the exact value set of columns with
      at most ``_STAT_SET_CAP`` distinct values (dictionary zone map:
      prunes scattered equality keys min/max cannot). Partition columns
      are covered by the manifest partition map and skipped. Shape:
      ``{"rows": n, "cols": {col: [min, max, nulls] | [min, max,
      nulls, values]}}``.
    - ``file_stats`` (None unless ``file_cols``): per-FILE
      ``{"rows", "cols": {col: [min, max, nulls]}}`` for the cluster /
      z-order columns, keyed by the path RELATIVE to the segment
      directory (partition dirs included) — the same entry shape, so
      :func:`_seg_stats_match` prunes at either grain. Files holding no
      rows get no entry.

    Stats cover the TABLE schema: a ``schema_mode="merge"`` batch
    missing a table column still gets exact stats for it ([None, None,
    rows])."""
    types = dict(map(tuple, schema))
    cols = _stat_cols(schema, pby) if segment else []
    fcols = list(file_cols or ())
    names = cols + [c for c in fcols if c not in cols]
    parts = (
        _remote_partials(spark, fs, seg, schema, names, types)
        if fs.remote
        else _local_partials(fs, seg, pby, names, types)
    )
    seg_stats = (
        _stat_record(
            _merge_pa_partials(parts.values(), names, types),
            cols, types, sets=True,
        )
        if segment
        else None
    )
    file_stats = (
        {
            rel: _stat_record(p, fcols, types, sets=False)
            for rel, p in parts.items()
            if p["rows"]
        }
        if fcols
        else None
    )
    return seg_stats, file_stats


def _merge_segment_stats(sts: list) -> dict | None:
    """Fold-time merge: min of mins, max of maxes, summed null counts
    — EXACT, no data read. None when any input lacks stats (legacy
    segment) or the list is empty; the caller then recomputes."""
    if not sts or any(st is None for st in sts):
        return None
    rows = sum(st["rows"] for st in sts)
    common = set.intersection(*[set(st["cols"]) for st in sts])
    cols = {}
    for c in common:
        mns, mxs, nulls = [], [], 0
        vset: set | None = set()
        for st in sts:
            entry = st["cols"][c]
            mn, mx, nu = entry[0], entry[1], entry[2]
            nulls += nu
            if st["rows"] - nu > 0:  # contributes non-null values
                mns.append(mn)
                mxs.append(mx)
                # value sets union exactly; any contributor without
                # one makes the merged set unknown
                sv = entry[3] if len(entry) > 3 else None
                if vset is not None and sv is not None:
                    vset |= set(sv)
                else:
                    vset = None
        merged_mn = (
            None if not mns or any(m is None for m in mns) else min(mns)
        )
        merged_mx = (
            None if not mxs or any(m is None for m in mxs) else max(mxs)
        )
        merged = [merged_mn, merged_mx, nulls]
        if vset is not None and 0 < len(vset) <= _STAT_SET_CAP:
            merged.append(sorted(vset))
        cols[c] = merged
    return {"rows": rows, "cols": cols}


def _grow_schema_stats(smap: dict, added) -> dict:
    """Zone maps for segments written BEFORE an additive schema
    evolution: the new column is NULL on every row there, so its exact
    stats are ``[None, None, nulls=rows]`` — stamped arithmetically at
    evolution time (zero IO), which makes any comparison filter on the
    new column prune every pre-evolution segment through the existing
    ``nonnull == 0`` rule."""
    import copy

    out = {}
    for s, st in smap.items():
        if st is None or st.get("rows") is None:
            out[s] = st
            continue
        st = copy.deepcopy(st)
        cols = st.setdefault("cols", {})
        for name, typ in added:
            if _stat_eligible(typ) and name not in cols:
                cols[name] = [None, None, int(st["rows"])]
        out[s] = st
    return out


def _file_rel_re(seg: str) -> str:
    """Regex extracting a file path RELATIVE to one specific segment
    directory. Anchors on the segment's exact (escaped) directory
    name — a generic ``(?:seg|fold)=[^/]+`` pattern would greedily
    anchor on the LAST matching component, so a partition column
    literally named ``seg`` or ``fold`` (paths like
    ``seg=3-ab/seg=5/part.parquet``) would mis-key ``file_stats`` and
    make :func:`_seg_paths` build nonexistent file paths."""
    import re as _re

    return r".*/" + _re.escape(seg) + r"/(.*)$"


def _validate_cluster_by(cluster_by, schema, pby) -> list[str]:
    """Validate a ``cluster_by`` spec at table creation: every column
    must exist, be zone-map-eligible (orderable — the range shuffle
    sorts on it and the per-file stats compare on it), and not be a
    partition column (constant per directory, so clustering it is a
    no-op that would waste the shuffle)."""
    cby = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    if not cby:
        raise ValueError("cluster_by must name at least one column")
    types = dict(map(tuple, schema))
    missing = [c for c in cby if c not in types]
    if missing:
        raise ValueError(
            f"cluster_by columns {missing} are not in the frame "
            f"({sorted(types)})"
        )
    overlap = sorted(set(cby) & set(pby or []))
    if overlap:
        raise ValueError(
            f"cluster_by columns {overlap} are partition columns — "
            "constant within every partition directory; cluster on "
            "non-partition columns"
        )
    bad = {c: types[c] for c in cby if not _stat_eligible(types[c])}
    if bad:
        raise ValueError(
            f"cluster_by columns have non-orderable/stat-ineligible "
            f"types {bad} — only {sorted(_STAT_TYPES)} and "
            "decimal(p,s) columns can carry file-grain zone maps"
        )
    return cby


def _cluster_shape(df, cby: list[str], n_files: int | None = None):
    """Range-cluster a batch on the table's cluster columns before it
    becomes a segment: ONE range shuffle (``repartitionByRange``
    samples the batch — cost ∝ the batch's bytes, never the table's)
    plus an in-partition sort, so each written file covers a narrow,
    near-disjoint slice of the cluster-key space and the per-file zone
    maps recorded beside it (:func:`_segment_stats`) prune at FILE grain.
    This is the liquid-clustering write shape at the grain this
    manifest owns: every segment is independently clustered, and the
    table never needs a global re-sort for key probes to stay cheap."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cby]
    shaped = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    return shaped.sortWithinPartitions(*cby)


def _file_prune(log: dict, segs, sfilt: dict):
    """FILE-grain zone-map pruning inside surviving segments that
    carry per-file stats (cluster_by writes; z-ordered compaction
    folds). Returns ``(segs, {seg: [relpath, ...]})``: a
    segment present in the map is read as an explicit file list (its
    other files provably contain no matching row); a segment none of
    whose files can match is dropped outright; segments without
    recorded file stats (pre-clustering, legacy) are read whole.
    Sound by the same measured-bounds arithmetic as segment pruning —
    the caller's residual or exact matcher still runs over whatever
    survives, so a stale or missing entry costs IO, never rows."""
    fsm = log.get("file_stats") or {}
    if not fsm:
        return list(segs), {}
    fcols = set(sfilt)
    kept, fmap = [], {}
    for s in segs:
        fst = fsm.get(s)
        # relevance comes from the segment's own recorded entries (a
        # z-ordered fold measures its zorder columns, a clustered
        # segment its cluster columns) — a segment measuring none of
        # the filtered columns is read whole, zero per-file work
        if not fst or not any(
            fcols & set(st.get("cols") or ()) for st in fst.values()
        ):
            kept.append(s)
            continue
        files = [r for r, st in fst.items() if _seg_stats_match(st, sfilt)]
        if not files:
            continue
        if len(files) < len(fst):
            fmap[s] = sorted(files)
        kept.append(s)
    return kept, fmap


def _seg_paths(fs: _TableFS, seg: str, fmap: dict | None) -> list[str]:
    """The paths a scan opens for one segment: the directory (common
    case) or the file-pruned explicit list from :func:`_file_prune`."""
    rels = fmap.get(seg) if fmap else None
    if rels is None:
        return [fs.join(seg)]
    return [fs.join(f"{seg}/{r}") for r in rels]


class _NormalizedFilter(dict):
    """A stats_filter whose values are ALREADY in the recorded-stats
    domain (predicate derivation normalizes as it validates).
    Normalization is not idempotent for decimals (an unscaled int
    must not be scaled again), so :func:`_normalize_stats_filter`
    passes these through."""


def _normalize_stats_filter(stats_filter: dict, schema) -> dict:
    """{col: value | (op, value) | [(op, value), ...]} → {col: [(op,
    value), ...]}, validated against the table schema. ``in`` takes a
    list/tuple/set of values."""
    if isinstance(stats_filter, _NormalizedFilter):
        return stats_filter
    types = dict(map(tuple, schema or []))
    out = {}
    for c, conds in stats_filter.items():
        if schema is not None:
            if c not in types:
                hint = ""
                if "." in c and c.split(".", 1)[0] in types:
                    # struct-field paths carry no per-field zone maps;
                    # the string `where` form handles them (full scan
                    # of unpruned segments, exact filter)
                    hint = (
                        " — struct fields have no zone maps; use the "
                        f"string where form (e.g. \"{c} < ...\") instead"
                    )
                raise ValueError(
                    f"stats_filter: {c!r} is not a column of the table "
                    f"({sorted(types)}){hint}"
                )
            if not _stat_eligible(types[c]):
                raise ValueError(
                    f"stats_filter: column {c!r} has type {types[c]!r} — "
                    f"only {sorted(_STAT_TYPES)} and decimal(p,s) "
                    "columns carry zone-map stats and support "
                    "stats_filter"
                )
        if isinstance(conds, tuple) and len(conds) == 2:
            conds = [conds]  # a bare (op, value); op validated below
        elif not isinstance(conds, list):
            conds = [("==", conds)]
        norm = []
        for item in conds:
            if not (isinstance(item, tuple) and len(item) == 2):
                raise ValueError(
                    f"stats_filter: condition {item!r} for {c!r} must be "
                    "(op, value)"
                )
            op, v = item
            if op not in _STAT_OPS:
                raise ValueError(
                    f"stats_filter: unknown operator {op!r} (use one of "
                    f"{sorted(_STAT_OPS)})"
                )
            if op == "in":
                if not isinstance(v, (list, tuple, set)):
                    raise ValueError(
                        "stats_filter: 'in' takes a list/tuple/set of "
                        "values"
                    )
                norm.append(
                    (op, [_stat_norm_value2(types.get(c), x) for x in v])
                )
            else:
                norm.append((op, _stat_norm_value2(types.get(c), v)))
        out[c] = norm
    return out


def _stat_norm_value2(typ, v):
    """Column-type-aware filter-value normalization: decimal columns
    normalize into the unscaled-integer domain the stats were recorded
    in (int, Decimal, or exact string literals — a FLOAT is refused
    loudly: the filter comparison would run in double space while the
    prune compares exactly, and that mismatch is how silent
    mispruning starts); everything else through
    :func:`_stat_norm_value`."""
    if isinstance(typ, str) and typ.startswith("decimal("):
        import decimal

        if type(v) is float:
            raise ValueError(
                f"stats_filter: float {v!r} on a {typ} column — pass "
                "an int, decimal.Decimal, or exact string literal "
                "(float comparison semantics differ from the exact "
                "decimal domain)"
            )
        normed = _stat_lit_norm(typ, v)
        if normed is _stat_lit_norm:
            raise ValueError(
                f"stats_filter: value {v!r} is not representable at "
                f"the scale of the {typ} column"
            )
        return normed
    return _stat_norm_value(v)


def _range_excludes(mn, mx, op: str, v) -> bool:
    """Can NO value in [mn, mx] satisfy ``x op v``? None bounds are
    unbounded on that side (never prune)."""
    try:
        if op in ("==", "="):
            return (mx is not None and v > mx) or (
                mn is not None and v < mn
            )
        if op == ">":
            return mx is not None and mx <= v
        if op == ">=":
            return mx is not None and mx < v
        if op == "<":
            return mn is not None and mn >= v
        if op == "<=":
            return mn is not None and mn > v
    except TypeError:
        raise ValueError(
            f"stats_filter: value {v!r} is not comparable with the "
            f"recorded bounds ({mn!r}, {mx!r}) — pass a value of the "
            "column's type"
        ) from None
    return False


def _seg_stats_match(st, filt: dict) -> bool:
    """Could the segment contain a matching row? True when stats are
    missing (legacy segment — never prune blindly)."""
    if st is None:
        return True
    rows, cols = st.get("rows"), st.get("cols") or {}
    for c, conds in filt.items():
        cs = cols.get(c)
        if cs is None:
            continue
        mn, mx, nulls = cs[0], cs[1], cs[2]
        vset = set(cs[3]) if len(cs) > 3 else None
        nonnull = None if rows is None else rows - nulls
        for op, v in conds:
            if nonnull == 0:
                return False  # comparisons never match an all-NULL col
            if op == "in":
                if all(_range_excludes(mn, mx, "==", x) for x in v):
                    return False
                if vset is not None and not any(x in vset for x in v):
                    return False  # dictionary: none of the values occur
            else:
                if _range_excludes(mn, mx, op, v):
                    return False
                if (
                    op in ("==", "=")
                    and vset is not None
                    and v not in vset
                ):
                    return False  # dictionary: the value never occurs
    return True


def _rewrite_sql_eq(pred: str) -> str:
    """Rewrite SQL-style single ``=`` equality to Python ``==``,
    QUOTE-AWARE: a character scan tracks single-/double-quoted string
    literals (with backslash escapes) and only rewrites ``=`` outside
    them — a naive regex would corrupt ``status = 'a=b'`` into
    ``status == 'a==b'`` and the derived prune would silently skip
    the matching segment (unsound). ``=`` already part of ``== <= >=
    !=`` is left alone."""
    out: list[str] = []
    quote: str | None = None
    i, n = 0, len(pred)
    while i < n:
        ch = pred[i]
        if quote is not None:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(pred[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "=":
            prev = pred[i - 1] if i else ""
            nxt = pred[i + 1] if i + 1 < n else ""
            if prev not in "<>=!" and nxt != "=":
                out.append("==")
                i += 1
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _parse_pred_ast(pred: str):
    """Parse a filter predicate for derivation. The Frame.filter
    grammar accepts SQL-style single ``=`` equality; Python's ast does
    not, so retry with ``=`` rewritten to ``==`` via the quote-aware
    :func:`_rewrite_sql_eq` before declaring the predicate
    underivable. Returns the expression node or None."""
    import ast as _ast

    try:
        return _ast.parse(pred, mode="eval").body
    except SyntaxError:
        try:
            return _ast.parse(_rewrite_sql_eq(pred), mode="eval").body
        except SyntaxError:
            return None


def _derive_stats_filter(pred: str, schema) -> dict | None:
    """Best-effort COMPILE of a free-form string predicate into the
    ``stats_filter`` dict form, so ``delete_append_rows(d, "price >
    100")`` prunes candidate segments through zone maps / dictionary
    sets / bloom sidecars exactly like the dict form — the predicate
    itself still runs over the survivors, so the derivation is purely
    an IO reducer and only needs to be IMPLIED by the predicate, never
    equivalent to it.

    Recognized: top-level conjunctions (``and``) of
    ``col <op> literal`` / ``literal <op> col`` (ops ``== < <= > >=``),
    ``col in [literals]``, and SAME-COLUMN equality disjunctions
    (``k == 1 or k == 3`` / ``k in [..] or k == 5`` → one implied IN),
    on stat-eligible columns. Anything else — mixed-column ORs,
    arithmetic, function calls, col-op-col, non-literal sides —
    contributes nothing (the enclosing conjunct is skipped), which
    degrades to the full scan, never to a wrong prune. Returns None
    when nothing was derivable."""
    import ast as _ast

    tree = _parse_pred_ast(pred)
    if tree is None:
        return None
    types = dict(map(tuple, schema or []))

    def const(node):
        """The literal value of a constant-expression node, or a
        sentinel when the node isn't one. bool excluded (zone-map
        comparison semantics for booleans are not worth deriving)."""
        if isinstance(node, _ast.Constant) and (
            type(node.value) in (int, float, str)
        ):
            return node.value
        if (
            isinstance(node, _ast.UnaryOp)
            and isinstance(node.op, _ast.USub)
            and isinstance(node.operand, _ast.Constant)
            and type(node.operand.value) in (int, float)
        ):
            return -node.operand.value
        return const  # sentinel: not a literal

    _FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "==": "=="}
    _OPS = {_ast.Eq: "==", _ast.Lt: "<", _ast.LtE: "<=",
            _ast.Gt: ">", _ast.GtE: ">="}
    conjuncts: list = []

    def walk(n):
        if isinstance(n, _ast.BoolOp) and isinstance(n.op, _ast.And):
            for v in n.values:
                walk(v)
        else:
            conjuncts.append(n)

    def eq_disjunct(d):
        """(col, [values]) for a `col == lit` / `col in [lits]`
        disjunct, else None."""
        if not (isinstance(d, _ast.Compare) and len(d.ops) == 1):
            return None
        o, l, r = d.ops[0], d.left, d.comparators[0]
        if isinstance(o, _ast.Eq):
            if isinstance(l, _ast.Name) and const(r) is not const:
                return l.id, [const(r)]
            if isinstance(r, _ast.Name) and const(l) is not const:
                return r.id, [const(l)]
            return None
        if (
            isinstance(o, _ast.In)
            and isinstance(l, _ast.Name)
            and isinstance(r, (_ast.List, _ast.Tuple, _ast.Set))
        ):
            vs = [const(e) for e in r.elts]
            if const in vs or not vs:
                return None
            return l.id, vs
        return None

    walk(tree)
    out: dict = {}
    for c in conjuncts:
        if isinstance(c, _ast.BoolOp) and isinstance(c.op, _ast.Or):
            # same-column equality disjunction → one implied IN
            col, vals = None, []
            for d in c.values:
                got = eq_disjunct(d)
                if got is None or (col is not None and got[0] != col):
                    col = None
                    break
                col = got[0]
                vals.extend(got[1])
            if col is not None and _stat_eligible(types.get(col)):
                normed = [_stat_lit_norm(types[col], v) for v in vals]
                if not any(v is _stat_lit_norm for v in normed):
                    out.setdefault(col, []).append(("in", normed))
            continue
        if not (isinstance(c, _ast.Compare) and len(c.ops) == 1):
            continue
        op_node, left, right = c.ops[0], c.left, c.comparators[0]
        if isinstance(op_node, _ast.In):
            if not (
                isinstance(left, _ast.Name)
                and isinstance(right, (_ast.List, _ast.Tuple, _ast.Set))
            ):
                continue
            vals = [const(e) for e in right.elts]
            if const in vals or not vals:
                continue
            col, cond = left.id, ("in", vals)
        elif type(op_node) in _OPS:
            op = _OPS[type(op_node)]
            if isinstance(left, _ast.Name) and const(right) is not const:
                col, cond = left.id, (op, const(right))
            elif isinstance(right, _ast.Name) and const(left) is not const:
                col, cond = right.id, (_FLIP[op], const(left))
            else:
                continue
        else:
            continue
        if not _stat_eligible(types.get(col)):
            continue
        op, vals = cond[0], cond[1] if cond[0] == "in" else [cond[1]]
        normed = [_stat_lit_norm(types[col], v) for v in vals]
        if any(v is _stat_lit_norm for v in normed):
            continue  # literal/column type mismatch: underivable
        out.setdefault(col, []).append(
            (op, normed if op == "in" else normed[0])
        )
    return _NormalizedFilter(out) if out else None


_PDIR_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _pdir_lit(typ: str, v):
    """A predicate literal rendered as the directory string a
    ``typ``-recorded partition column would produce for an EQUAL
    value, or the function itself as an 'unsound' sentinel. Type
    gating is what keeps the prune sound: Spark's comparison coercions
    are value-space (``string_col == 1`` matches ``'01'``) while the
    directory map is string-space, so only literal/column pairs whose
    canonical renderings coincide may derive — exact strings on string
    columns, decimal ints on int columns, bools on boolean, ISO
    strings re-canonicalized on date/timestamp."""
    import datetime

    if typ == "string":
        return v if type(v) is str else _pdir_lit
    if typ in _PDIR_INT_TYPES:
        return str(v) if type(v) is int else _pdir_lit
    if typ == "boolean":
        return ("true" if v else "false") if type(v) is bool else _pdir_lit
    if typ == "date":
        if type(v) is not str:
            return _pdir_lit
        try:
            return datetime.date.fromisoformat(v).isoformat()
        except ValueError:
            return _pdir_lit
    if typ in ("timestamp", "timestamp_ntz"):
        if type(v) is not str:
            return _pdir_lit
        try:
            return _pdir_str(datetime.datetime.fromisoformat(v))
        except ValueError:
            return _pdir_lit
    return _pdir_lit


def _derive_pfilter(pred: str, pby, schema) -> dict | None:
    """Best-effort compile of a string predicate's PARTITION-COLUMN
    equality conjuncts into the ``partition_filter`` dict form —
    partition columns carry no zone maps (their values live in the
    manifest partition map instead), so :func:`_derive_stats_filter`
    can't prune on them; this closes that gap for ``where="p == '1'
    and x > 5"``-style predicates. Same soundness rule: only
    top-level AND conjuncts of ``col == literal`` / ``col in
    [literals]`` on partition columns derive, and only when the
    literal's canonical directory rendering provably coincides with
    the column's (:func:`_pdir_lit`); everything else contributes
    nothing, and the full predicate still guards exactness. Returns
    None when nothing derived."""
    import ast as _ast

    if not pby:
        return None
    tree = _parse_pred_ast(pred)
    if tree is None:
        return None
    types = dict(map(tuple, schema or []))
    pset = set(pby)

    def const(node):
        if isinstance(node, _ast.Constant) and (
            type(node.value) in (int, float, str, bool)
        ):
            return node.value
        return const

    conjuncts: list = []

    def walk(n):
        if isinstance(n, _ast.BoolOp) and isinstance(n.op, _ast.And):
            for v in n.values:
                walk(v)
        else:
            conjuncts.append(n)

    def eq_disjunct(d):
        if not (isinstance(d, _ast.Compare) and len(d.ops) == 1):
            return None
        o, l, r = d.ops[0], d.left, d.comparators[0]
        if isinstance(o, _ast.Eq):
            if isinstance(l, _ast.Name) and const(r) is not const:
                return l.id, [const(r)]
            if isinstance(r, _ast.Name) and const(l) is not const:
                return r.id, [const(l)]
            return None
        if (
            isinstance(o, _ast.In)
            and isinstance(l, _ast.Name)
            and isinstance(r, (_ast.List, _ast.Tuple, _ast.Set))
        ):
            vs = [const(e) for e in r.elts]
            if const in vs or not vs:
                return None
            return l.id, vs
        return None

    walk(tree)
    _RFLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
    _ROPS = {_ast.Lt: "<", _ast.LtE: "<=", _ast.Gt: ">", _ast.GtE: ">="}
    out: dict = {}
    for c in conjuncts:
        if isinstance(c, _ast.BoolOp) and isinstance(c.op, _ast.Or):
            # same-partition-column equality disjunction → implied IN
            col, vals = None, []
            for d in c.values:
                got = eq_disjunct(d)
                if got is None or (col is not None and got[0] != col):
                    col = None
                    break
                col = got[0]
                vals.extend(got[1])
            if (
                col is not None
                and col in pset
                and col in types
                and col not in out
            ):
                normed = [_pdir_lit(types[col], v) for v in vals]
                if not any(x is _pdir_lit for x in normed):
                    out[col] = normed
            continue
        if not (isinstance(c, _ast.Compare) and len(c.ops) == 1):
            continue
        op, left, right = c.ops[0], c.left, c.comparators[0]
        rng = None
        if isinstance(op, _ast.Eq):
            if isinstance(left, _ast.Name) and const(right) is not const:
                col, vals = left.id, [const(right)]
            elif isinstance(right, _ast.Name) and const(left) is not const:
                col, vals = right.id, [const(left)]
            else:
                continue
        elif isinstance(op, _ast.In) and isinstance(left, _ast.Name) and (
            isinstance(right, (_ast.List, _ast.Tuple, _ast.Set))
        ):
            vals = [const(e) for e in right.elts]
            if const in vals or not vals:
                continue
            col = left.id
        elif type(op) in _ROPS:
            # RANGE conjunct: sound where the directory rendering
            # preserves value order (date/string) or the column is an
            # int type (typed comparison; gated below)
            if isinstance(left, _ast.Name) and const(right) is not const:
                col, rng = left.id, (_ROPS[type(op)], const(right))
            elif isinstance(right, _ast.Name) and const(left) is not const:
                col, rng = (
                    right.id,
                    (_RFLIP[_ROPS[type(op)]], const(left)),
                )
            else:
                continue
        else:
            continue
        if col not in pset or col not in types:
            continue
        if rng is not None:
            if types[col] in _PRANGE_INT_TYPES:
                # typed int range: pass the raw int through — the
                # normalizer compares directory values parsed, not in
                # string space ("9" > "10")
                if isinstance(rng[1], bool) or not isinstance(rng[1], int):
                    continue
                rendered = rng[1]
            elif types[col] not in _PRANGE_TYPES:
                continue
            else:
                rendered = _pdir_lit(types[col], rng[1])
                if rendered is _pdir_lit or rendered is None:
                    continue
            prev = out.get(col)
            conds = (
                list(prev)
                if isinstance(prev, list)
                and prev
                and isinstance(prev[0], tuple)
                else []
            )
            if prev is not None and not conds:
                continue  # mixed with an earlier equality: keep it
            out[col] = conds + [(rng[0], rendered)]
            continue
        if col in out:
            continue  # repeated equality col: keep first
        normed = [_pdir_lit(types[col], v) for v in vals]
        if any(x is _pdir_lit for x in normed):
            continue  # rendering not provably canonical: skip
        out[col] = normed
    return out or None


def _stat_lit_norm(typ: str, v):
    """Normalize a PREDICATE literal into the domain the zone maps of
    a ``typ`` column were recorded in, or the function itself as a
    'underivable' sentinel. The subtle case is a string literal
    against a timestamp column: stats hold full ``isoformat()``
    strings, and a bare date like ``'2024-06-01'`` compares STRICTLY
    BELOW its own midnight ``'2024-06-01T00:00:00'`` lexicographically
    while comparing EQUAL as timestamps — re-rendering through
    fromisoformat keeps the prune sound."""
    import datetime

    if typ == "string":
        return v if isinstance(v, str) else _stat_lit_norm
    if typ in ("timestamp", "timestamp_ntz"):
        if not isinstance(v, str):
            return _stat_lit_norm
        try:
            return datetime.datetime.fromisoformat(v).isoformat()
        except ValueError:
            return _stat_lit_norm
    if typ == "date":
        if not isinstance(v, str):
            return _stat_lit_norm
        try:
            return datetime.date.fromisoformat(v).isoformat()
        except ValueError:
            return _stat_lit_norm
    if typ == "boolean":
        return _stat_lit_norm
    if typ.startswith("decimal("):
        import decimal

        s = _dec_scale(typ)
        if type(v) is int:
            return v * 10 ** s
        if isinstance(v, decimal.Decimal):
            d = v
        elif type(v) is float:
            # a float literal in a string predicate stands for the
            # SOURCE decimal token (Spark SQL parses 1.5 as
            # DECIMAL(2,1)); str() recovers it exactly for every
            # shortest-repr round-trip
            d = decimal.Decimal(str(v))
        elif isinstance(v, str):
            try:
                d = decimal.Decimal(v)
            except decimal.InvalidOperation:
                return _stat_lit_norm
        else:
            return _stat_lit_norm
        scaled = d.scaleb(s)
        if scaled != scaled.to_integral_value():
            return _stat_lit_norm  # finer than the column scale
        return int(scaled)
    # numeric column: int/float literals only (bool is an int subclass
    # but was already excluded by const())
    return v if type(v) in (int, float) else _stat_lit_norm


def _in_cond(c: str, values):
    """``c IN (...)`` as a Column. ``Column.isin`` converts every
    element through py4j one call at a time — measured 27s for a 55k
    IN list (join_prune_filter feeding a read) — so large lists render
    as ONE SQL text instead (single parse, and the optimizer still
    folds it to an InSet). Falls back to isin for small lists and for
    value types without a SQL literal form."""
    import datetime

    from pyspark.sql import functions as F

    vals = list(values)
    if len(vals) <= 64:
        return F.col(c).isin(vals)

    def lit(v):
        import decimal

        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, decimal.Decimal):
            return str(v)  # SQL parses an exact decimal literal
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, datetime.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, datetime.date):
            return f"DATE '{v.isoformat()}'"
        raise ValueError(f"no SQL literal form for {type(v).__name__}")

    try:
        rendered = ", ".join(lit(v) for v in vals)
    except ValueError:
        return F.col(c).isin(vals)
    return F.expr(f"`{c}` IN ({rendered})")


def _stats_filter_cond(filt: dict, schema=None):
    """The SAME predicate as a Spark Column over the surviving scan —
    the residual that keeps results exact (and reaches the parquet
    row-group stats via ordinary pushdown). ``schema`` re-renders
    decimal columns' normalized unscaled-integer values as exact
    Decimal literals, so the residual compares in the decimal
    domain."""
    import decimal

    from pyspark.sql import functions as F

    types = dict(map(tuple, schema or []))

    def val(c, v):
        t = types.get(c)
        if isinstance(t, str) and t.startswith("decimal("):
            return decimal.Decimal(v).scaleb(-_dec_scale(t))
        return v

    cond = None
    for c, pairs in filt.items():
        for op, raw in pairs:
            v = (
                [val(c, x) for x in raw] if op == "in" else val(c, raw)
            )
            col = F.col(c)
            if op == "in":
                e = _in_cond(c, v)
            elif op in ("==", "="):
                e = col == F.lit(v)
            elif op == "<":
                e = col < F.lit(v)
            elif op == "<=":
                e = col <= F.lit(v)
            elif op == ">":
                e = col > F.lit(v)
            else:
                e = col >= F.lit(v)
            cond = e if cond is None else cond & e
    return cond


# -- sketch sidecar (per-segment HLL + histogram table statistics) -------

_SKETCH_DIR = "_sketch"


# bloom-eligible types: values with a canonical string form identical
# on the JVM (CAST AS STRING) and in Python (str()) — the two sides
# must hash the same bytes
_BLOOM_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}

_EXPECT_ACTIONS = ("fail", "drop", "warn")


def _normalize_expectations(exps: dict) -> dict:
    """``{name: predicate}`` or ``{name: (predicate, action)}`` →
    the JSON-shaped ``{name: [predicate, action]}`` stamped into the
    log manifest. Actions: ``fail`` (reject the whole batch — the
    SQL CHECK-constraint/Delta ``expect_or_fail`` default), ``drop``
    (filter the violating rows out and record the count), ``warn``."""
    if not isinstance(exps, dict) or not exps:
        raise ValueError(
            "expectations must be a non-empty {name: predicate} or "
            "{name: (predicate, action)} dict"
        )
    out = {}
    for name, spec in exps.items():
        if isinstance(spec, str):
            pred, action = spec, "fail"
        else:
            pred, action = spec
        if not isinstance(pred, str) or not pred.strip():
            raise ValueError(
                f"expectation {name!r}: predicate must be a non-empty "
                "SQL string"
            )
        if action not in _EXPECT_ACTIONS:
            raise ValueError(
                f"expectation {name!r}: action {action!r} not in "
                f"{_EXPECT_ACTIONS}"
            )
        out[str(name)] = [pred, action]
    return out


def _resolve_expectations(arg, cur) -> dict | None:
    """The expectations in force for a write: the manifest's, with an
    explicitly-passed spec required to MATCH it (same
    fixed-at-creation rule as sketch_spec — changing the contract is
    :func:`set_append_expectations`'s job, a deliberate versioned
    commit, not a side effect of one writer's argument)."""
    stored = (cur or {}).get("expectations")
    if arg is None:
        return stored
    norm = _normalize_expectations(arg)
    if cur is not None and norm != stored:
        raise ValueError(
            f"expectations do not match the table's {stored!r} — they "
            "are fixed at creation; change them with "
            "set_append_expectations"
        )
    return norm


def _enforce_expectations(df, exps: dict, schema=None, allow_drop=True):
    """Validate one batch against the table's expectations in a
    SINGLE aggregate pass over the batch (cost ∝ batch, never the
    table), BEFORE anything is written. SQL CHECK NULL semantics: a
    predicate evaluating to NULL passes. Returns ``(df_to_write,
    {name: dropped_count})`` — ``fail`` violations raise with
    per-expectation counts; ``drop`` filters (refused when
    ``allow_drop=False`` — dropping an UPDATED row would silently
    delete it); ``warn`` warns. Predicates referencing columns the
    batch legitimately omits (additive evolution) see NULL, i.e.
    pass."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    check = _conform_schema(df, schema) if schema else df
    viol = {
        name: ~F.coalesce(F.expr(pred), F.lit(True))
        for name, (pred, _a) in exps.items()
    }
    counts = check.agg(*[
        F.sum(F.when(v, 1).otherwise(0)).cast("long").alias(name)
        for name, v in viol.items()
    ]).first()
    report = {name: int(counts[name] or 0) for name in exps}
    bad = {
        name: report[name]
        for name, (_p, a) in exps.items()
        if report[name] and (
            a == "fail" or (a == "drop" and not allow_drop)
        )
    }
    if bad:
        raise ValueError(
            "expectation(s) violated — nothing was written: "
            + "; ".join(
                f"{name}: {n} row(s) fail {exps[name][0]!r}"
                + (
                    " (drop is not applied on UPDATE — it would "
                    "silently delete the row)"
                    if exps[name][1] == "drop"
                    else ""
                )
                for name, n in sorted(bad.items())
            )
        )
    drops = {}
    out = check
    changed = False
    for name, (pred, action) in exps.items():
        if not report[name]:
            continue
        if action == "drop":
            out = out.filter(F.coalesce(F.expr(pred), F.lit(True)))
            drops[name] = report[name]
            changed = True
        elif action == "warn":
            _warnings.warn(
                f"expectation {name!r}: {report[name]} row(s) fail "
                f"{pred!r} (action=warn — written anyway)"
            )
    if not changed:
        return df, {}
    # filtered on the conformed view; write the batch's own columns
    return out.select(*df.columns), drops


def _validate_sketch_spec(spec: dict, schema) -> dict:
    """Normalize/validate ``{"distinct": [col, ...], "histogram":
    {col: [lo, hi, bins]}, "bloom": {col: [m_bits, k_hashes]},
    "lgk": 12}`` against the table schema. JSON-shaped on purpose —
    it is stamped into the log manifest."""
    if not isinstance(spec, dict):
        raise ValueError("sketch_spec must be a dict")
    unknown = set(spec) - {"distinct", "histogram", "bloom", "lgk"}
    if unknown:
        raise ValueError(
            f"sketch_spec: unknown keys {sorted(unknown)} (use "
            "'distinct', 'histogram', 'bloom', 'lgk')"
        )
    cols = dict(map(tuple, schema)) if schema else None
    out: dict = {"lgk": int(spec.get("lgk", 12))}
    if not 4 <= out["lgk"] <= 21:
        raise ValueError("sketch_spec: lgk must be in [4, 21]")
    dist = list(spec.get("distinct") or [])
    hist = dict(spec.get("histogram") or {})
    bloom = dict(spec.get("bloom") or {})
    for c in dist + list(hist) + list(bloom):
        if cols is not None and c not in cols:
            raise ValueError(
                f"sketch_spec: {c!r} is not a column of the table"
            )
        if cols is not None and str(cols[c]).startswith(
            ("struct<", "array<", "map<")
        ):
            # refuse at spec validation — the write path would only
            # fail later inside hll_sketch_agg with a DATATYPE_MISMATCH
            raise ValueError(
                f"sketch_spec: {c!r} has nested type {cols[c]!r} — "
                "sketches need atomic values (sketch a derived scalar "
                "such as a struct field projected to a column, or a "
                "hash of the nested value)"
            )
    for c, hspec in hist.items():
        lo, hi, bins = hspec
        if not (hi > lo and int(bins) >= 1):
            raise ValueError(
                f"sketch_spec: histogram for {c!r} needs hi > lo and "
                f"bins >= 1, got {hspec!r}"
            )
        hist[c] = [float(lo), float(hi), int(bins)]
    for c, bspec in bloom.items():
        if cols is not None and cols[c] not in _BLOOM_TYPES:
            raise ValueError(
                f"sketch_spec: bloom on {c!r} ({cols[c]!r}) — only "
                f"{sorted(_BLOOM_TYPES)} columns have a canonical "
                "string form both sides hash identically"
            )
        m, k = int(bspec[0]), int(bspec[1])
        # cap: 2^28 bits = 32 MiB of words per segment per column —
        # sized for ~25M distinct values/segment at ~10 bits each
        if m % 64 or not 64 <= m <= 1 << 28 or not 1 <= k <= 16:
            raise ValueError(
                f"sketch_spec: bloom for {c!r} needs m a multiple of "
                f"64 in [64, 268435456] and k in [1, 16], got {bspec!r}"
            )
        bloom[c] = [m, k]
    out["distinct"] = dist
    out["histogram"] = hist
    out["bloom"] = bloom
    if not dist and not hist and not bloom:
        raise ValueError("sketch_spec: no sketch columns given")
    return out


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """The k bit positions of a value, computed with sha256 over the
    value's canonical string form + a seed suffix — replicated
    EXACTLY by the JVM side (``sha2(concat(cast(col as string),
    '|<i>'), 256)``), which is why bloom columns are restricted to
    int/string types."""
    import hashlib

    return [
        int(
            hashlib.sha256(f"{value}|{i}".encode()).hexdigest()[:15], 16
        )
        % m
        for i in range(k)
    ]


def _bloom_hash_cols(c: str, m: int, k: int):
    """The k JVM-side position expressions — sha256 over the value's
    canonical string form + '|<i>', first 15 hex chars as a long,
    mod m. Mirrors :func:`_bloom_positions` byte-for-byte."""
    from pyspark.sql import functions as F

    return [
        (
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.col(c).cast("string"), F.lit(f"|{i}")
                        ),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % m
        )
        for i in range(k)
    ]


def _segment_sketch_df(spark, fs: _TableFS, seg: str, spec: dict):
    """ONE sidecar row for a segment: the segment's name (so readers
    can map sidecar rows back to segments in one multi-path scan),
    exact row count, one mergeable DataSketches HLL binary per
    'distinct' column, one fixed-bin histogram array per 'histogram'
    column, one bloom-filter word array per 'bloom' column. One
    aggregate job for rows+HLLs plus one per histogram/bloom column,
    each a column-pruned scan of the segment only (cost ∝ the batch;
    the bloom pass additionally ∝ k). The row is tiny (KBs), so it is
    assembled driver-side and returned as a 1-row DataFrame the
    caller writes or unions."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sdf = spark.read.parquet(fs.join(seg))
    lgk = spec["lgk"]
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in spec["distinct"]:
        aggs.append(F.hll_sketch_agg(F.col(c), lgk).alias(f"hll_{c}"))
    row = sdf.agg(*aggs).first()
    data = {"seg": seg, "rows": row["rows"]}
    fields = [
        T.StructField("seg", T.StringType()),
        T.StructField("rows", T.LongType()),
    ]
    for c in spec["distinct"]:
        data[f"hll_{c}"] = row[f"hll_{c}"]
        fields.append(T.StructField(f"hll_{c}", T.BinaryType()))
    for c, (lo, hi, bins) in spec["histogram"].items():
        from cuplyr_spark.operators.sketch import histogram_sketch

        h = histogram_sketch(
            Frame(sdf, ()), c, lo=lo, hi=hi, bins=bins, out="h"
        ).df.first()
        data[f"hist_{c}"] = list(h["h"]) if h is not None else [0] * bins
        fields.append(
            T.StructField(f"hist_{c}", T.ArrayType(T.LongType()))
        )
    for c, (m, k) in (spec.get("bloom") or {}).items():
        # k positions per row, exploded and folded into m/64 words by
        # a partial-combined bit_or — the shuffle is <= m/64 longs per
        # partition, never rows
        posed = (
            sdf.filter(F.col(c).isNotNull())
            .select(
                F.explode(F.array(*_bloom_hash_cols(c, m, k))).alias(
                    "__p"
                )
            )
        )
        wm = (
            posed.groupBy(
                F.floor(F.col("__p") / 64).cast("int").alias("__w")
            )
            .agg(
                F.bit_or(
                    F.expr("shiftleft(1L, int(__p % 64))")
                ).alias("__b")
            )
            .collect()
        )
        arr = [0] * (m // 64)
        for r in wm:
            arr[r["__w"]] = r["__b"]
        data[f"bloom_{c}"] = arr
        fields.append(
            T.StructField(f"bloom_{c}", T.ArrayType(T.LongType()))
        )
    return spark.createDataFrame([data], T.StructType(fields))


def _write_segment_sketch(spark, fs: _TableFS, seg: str, spec: dict):
    _segment_sketch_df(spark, fs, seg, spec).coalesce(1).write.mode(
        "errorifexists"
    ).parquet(fs.join(f"{_SKETCH_DIR}/{seg}"))


def _merged_sketch_df(spark, fs: _TableFS, segs, spec: dict):
    """Union the live segments' sidecar rows and fold them: summed
    exact row count, HLL union per distinct column, element-wise
    histogram sum per histogram column. Sidecar rows missing (segment
    predates the spec / collect disabled) are computed on the fly —
    correctness never degrades, only that segment's scan is paid."""
    from pyspark.sql import functions as F

    parts = []
    for s in segs:
        side = f"{_SKETCH_DIR}/{s}"
        if fs.exists(side):
            parts.append(spark.read.parquet(fs.join(side)))
        else:
            parts.append(_segment_sketch_df(spark, fs, s, spec))
    df = parts[0]
    for p in parts[1:]:
        # pre-r10 sidecar rows lack the seg column; tolerate the mix
        df = df.unionByName(p, allowMissingColumns=True)
    aggs = [F.sum("rows").alias("rows")]
    for c in spec["distinct"]:
        aggs.append(F.hll_union_agg(F.col(f"hll_{c}")).alias(f"hll_{c}"))
    for c in spec["histogram"]:
        aggs.append(
            F.aggregate(
                F.collect_list(F.col(f"hist_{c}")),
                F.expr("cast(array() as array<bigint>)"),
                lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                    F.zip_with(acc, x, lambda a, b: a + b)
                ),
            ).alias(f"hist_{c}")
        )
    for c in spec.get("bloom") or {}:
        # bloom of a union is the word-wise OR of the blooms — exact
        aggs.append(
            F.aggregate(
                F.collect_list(F.col(f"bloom_{c}")),
                F.expr("cast(array() as array<bigint>)"),
                lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                    F.zip_with(acc, x, lambda a, b: a.bitwiseOR(b))
                ),
            ).alias(f"bloom_{c}")
        )
    return df.agg(*aggs)


def table_stats(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> Frame:
    """Table-level statistics from the sketch sidecar — one tiny read
    per live segment, NEVER a data scan (segments missing a sidecar
    row are the one exception and are sketched on the fly): one row
    with ``rows`` (EXACT — per-segment counts are exact and sum
    exactly), ``{col}_distinct_est`` (DataSketches HLL union — rse ≈
    1.04/sqrt(2^lgk)) per 'distinct' column, and ``{col}_hist`` +
    ``{col}_hist_spec`` per 'histogram' column (element-wise-summed
    fixed-bin histogram — EXACT bin counts, quantiles within one bin
    width via :func:`operators.sketch.histogram_quantiles`).

    This is the incremental-statistics contract at 100 TB: each
    segment is sketched once at ingest (``append_snapshot(...,
    sketch_spec=...)``), folds merge sidecars arithmetically, and the
    whole-corpus statistics cost ∝ live segments, not bytes."""
    from pyspark.sql import functions as F

    fs = _TableFS(table_dir, spark)
    log = _require_log(fs, table_dir, version)
    spec = log.get("sketch_spec")
    if spec is None:
        raise ValueError(
            f"table at {table_dir!r} has no sketch_spec — create it "
            "with append_snapshot(..., sketch_spec={...})"
        )
    df = _merged_sketch_df(spark, fs, log["segments"], spec)
    # deletion vectors: sidecars are add-only, but the manifest's
    # delete_counts are exactly additive (the delete scan reads through
    # existing DVs, so a row is never marked twice) — subtracting them
    # keeps `rows` EXACT under merge-on-read deletes. Distinct/histogram
    # sketches still include deleted rows (upper bounds) until a
    # compaction materializes the deletes and re-sketches.
    cmap = log.get("delete_counts") or {}
    deleted = sum(int(cmap.get(s, 0)) for s in log["segments"])
    sel = [(F.col("rows") - F.lit(deleted)).cast("long").alias("rows")]
    for c in spec["distinct"]:
        sel.append(
            F.hll_sketch_estimate(F.col(f"hll_{c}"))
            .cast("long")
            .alias(f"{c}_distinct_est")
        )
    for c, (lo, hi, bins) in spec["histogram"].items():
        sel.append(F.col(f"hist_{c}").alias(f"{c}_hist"))
        sel.append(
            F.struct(
                F.lit(lo).cast("double").alias("lo"),
                F.lit(hi).cast("double").alias("hi"),
                F.lit(bins).cast("int").alias("bins"),
            ).alias(f"{c}_hist_spec")
        )
    return Frame(df.select(*sel), ())


def _bloom_prune(spark, fs: _TableFS, log: dict, segs, sfilt: dict):
    """Drop segments whose sidecar bloom filters prove every value of
    an equality/IN condition absent. One multi-path scan over the
    candidate segments' sidecar rows (cost ∝ segments, never data
    bytes); segments without a sidecar are kept. A bloom can only
    produce false POSITIVES, so pruning is always sound; the residual
    predicate keeps the result exact either way."""
    bloom = (log.get("sketch_spec") or {}).get("bloom") or {}
    # per bloom column: the list of value-lists, one per AND-ed
    # equality/IN condition (a segment is needed only if EVERY
    # condition has at least one possibly-present value)
    conds: dict[str, list[list]] = {}
    for c, pairs in sfilt.items():
        if c not in bloom:
            continue
        for op, v in pairs:
            if op in ("==", "="):
                conds.setdefault(c, []).append([v])
            elif op == "in":
                conds.setdefault(c, []).append(list(v))
    if not conds:
        return segs
    with_side = [s for s in segs if fs.exists(f"{_SKETCH_DIR}/{s}")]
    if not with_side:
        return segs
    from pyspark.sql import functions as F

    # membership tests run JVM-side against the k specific word
    # positions of each value — the (possibly MBs-large) word arrays
    # never leave the executors; only (seg, keep) booleans come back
    def probe(c: str, v) -> str:
        m, k = bloom[c]
        bits = " AND ".join(
            f"((shiftright(element_at(`bloom_{c}`, {pos // 64 + 1}), "
            f"{pos % 64}) & 1) = 1)"
            for pos in _bloom_positions(v, m, k)
        )
        return f"({bits})"

    keep_sql = " AND ".join(
        f"(`bloom_{c}` IS NULL OR ("
        + " OR ".join(probe(c, v) for v in vlist)
        + "))"
        for c, vlists in conds.items()
        for vlist in vlists
    )
    rows = (
        spark.read.parquet(
            *[fs.join(f"{_SKETCH_DIR}/{s}") for s in with_side]
        )
        .select("seg", F.expr(keep_sql).alias("__keep"))
        .collect()
    )
    doomed = {r["seg"] for r in rows if r["__keep"] is False}
    return [s for s in segs if s not in doomed]


_DELETE_DIR = "_delete"
_DV_SEG, _DV_FILE, _DV_POS = "__dv_seg", "__dv_file", "__dv_pos"
# v2 partitioned addressing (basename + partition composite) and the
# legacy path-within-segment column old-layout DVs still join on
_DV_PART, _DV_RELP = "__dv_part", "__dv_relp"


def _dv_is_v2(rel: str) -> bool:
    """Deletion-vector LAYOUT from the directory name: ``dv2=`` /
    ``dvm2=`` files store (seg, file-basename, part-composite, pos);
    legacy ``dv=`` / ``dvm=`` files store (seg, path-within-segment,
    pos). The name, not a schema read, so splitting costs nothing."""
    return rel.rsplit("/", 1)[-1].startswith(("dv2=", "dvm2="))


def _dv_is_maintenance(rel: str) -> bool:
    """``dvm=``/``dvm2=`` files are DV MAINTENANCE rewrites (several
    of a segment's DVs unioned into one) — dataChange=false: the rows
    they address were already emitted as deletes by the original
    commits, so the change feed must skip them."""
    return rel.rsplit("/", 1)[-1].startswith(("dvm=", "dvm2="))


def _dv_part_expr(pby):
    """The PARTITION component of a deletion-vector row address: the
    raw (string, inference-off) discovered partition columns folded
    into one ``\\x1f``-separated composite with a ``\\x00`` NULL
    sentinel. Writers (the DELETE's matching scan) and readers (the
    DV anti-join) both derive it from the same discovered columns of
    the same immutable directories, so the two sides agree by
    construction — no path parsing, no hive escape/unescape round
    trip. MUST be computed BEFORE :func:`_conform_schema` casts the
    partition columns to their recorded types."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in pby],
    )


def _with_dv_meta(df, pby=None, legacy: bool = False):
    """Attach the row-address columns derived from the scan's hidden
    ``_metadata`` struct — the jar-free DELETION VECTOR address.
    Parquet ``row_index`` is a per-physical-file position and segment
    files are immutable, so the address is stable across readers,
    mount points, and filesystem schemes.

    The FILE part is always the bare ``file_name`` — pure
    metadata-struct access, no path parsing (a regexp over the 25M-row
    rehearsal scan was the measured hot spot, first removed from the
    unpartitioned layout, now from both). Unpartitioned segments need
    nothing more: every data file is written by this layer through a
    Spark job whose part-file names embed a per-job UUID, so basenames
    are unique table-wide. PARTITIONED segments reuse basenames across
    their partition directories (one write job), so the address gains
    the PARTITION component (:func:`_dv_part_expr` over ``pby`` — a
    cheap codegen concat of already-materialized partition values,
    measured far below the old per-row regexp). ``legacy=True``
    additionally attaches the pre-v2 regex-derived path-within-segment
    column, needed only while the scanned segments still carry
    old-layout ``dv=`` files (written before the v2 addressing; purge
    or DV maintenance retires them).

    The SEGMENT part (regex) is recorded for DV scoping and
    vacuum/audit only — Catalyst prunes it wherever unused, which is
    every read; only a DELETE's matched rows evaluate it. The pattern
    anchors the segment as the component EXACTLY ``len(pby)+1`` levels
    above the file (this layer always writes ``seg/p1=v/.../file``),
    never "the last ``seg=``-looking component" — a greedy match would
    mis-key both the segment and the legacy within-segment path when a
    PARTITION COLUMN is literally named ``seg``/``fold`` (dirs like
    ``seg=3-ab/seg=5/part.parquet``), silently resurrecting deleted
    rows; fixed depth also keeps a table nested under another table's
    segment dir resolving its own segment."""
    from pyspark.sql import functions as F

    fp = F.col("_metadata.file_path")
    depth = len(pby) + 1 if pby else 1  # partition dirs + file name
    seg_re = (
        r"^.*/((?:seg|fold)=[^/]+)" + r"/[^/]+" * depth + r"$"
    )
    df = (
        df.withColumn(_DV_SEG, F.regexp_extract(fp, seg_re, 1))
        .withColumn(_DV_FILE, F.col("_metadata.file_name"))
        .withColumn(_DV_POS, F.col("_metadata.row_index"))
    )
    if pby:
        df = df.withColumn(_DV_PART, _dv_part_expr(pby))
    if legacy:
        # path within the segment = the last `depth` components
        relp_re = r"/((?:[^/]+/){" + str(depth - 1) + r"}[^/]+)$"
        df = df.withColumn(
            _DV_RELP, F.regexp_extract(fp, relp_re, 1)
        )
    return df


def _dv_dirs_split(log: dict, segs) -> tuple[list[str], list[str]]:
    """The deletion-vector directories covering ``segs``, split by
    layout: (legacy path-addressed dirs, v2 basename+part dirs)."""
    dmap = log.get("deletes") or {}
    dirs = sorted({d for s in segs for d in dmap.get(s, ())})
    return (
        [d for d in dirs if not _dv_is_v2(d)],
        [d for d in dirs if _dv_is_v2(d)],
    )


def _read_dvs(spark, fs: _TableFS, dirs):
    """Union-read deletion-vector directories of ONE layout at the
    fixed schema :func:`_write_dv` gives that layout — a read that
    inferred it from the footers would launch a Spark job per call."""
    ddl = (
        "seg string, file string, part string, pos bigint"
        if _dv_is_v2(dirs[0])
        else "seg string, file string, pos bigint"
    )
    return spark.read.schema(ddl).parquet(*[fs.join(d) for d in dirs])


def _dv_frames(spark, fs: _TableFS, log: dict, segs):
    """Union-read the deletion-vector parquets covering ``segs`` (each
    a tiny table of row addresses), restricted to those segments and
    split by layout — ``(legacy_df | None, v2_df | None)``. One DV
    file can cover many segments (one DELETE touching several); each
    distinct file is read once."""
    from pyspark.sql import functions as F

    dmap = log.get("deletes") or {}
    covered = [s for s in segs if dmap.get(s)]
    legacy_dirs, v2_dirs = _dv_dirs_split(log, segs)

    def load(dirs):
        if not dirs:
            return None
        return _read_dvs(spark, fs, dirs).filter(F.col("seg").isin(covered))

    return load(legacy_dirs), load(v2_dirs)


def _dv_join(df, dv, legacy: bool, how: str, what: str):
    """Join a position-addressed scan against ONE deletion-vector
    frame on the row address: (file-basename, pos) for unpartitioned
    scans, plus the partition composite for v2 partitioned DVs, or the
    legacy path-within-segment for old-layout files. ``left_anti``
    applies the DV, ``left_semi`` reads back the rows it addresses.
    The DV side is FORCE-broadcast (size-guarded): AQE's 10 MB
    autobroadcast threshold is far below a realistic DV (a 1% delete
    of 25M rows is ~50 MB of addresses), and without the hint the
    anti-join degrades to a sort-merge SHUFFLE OF THE WHOLE FACT
    SCAN — measured 68x read tax in the 25M rehearsal, vs ~flat with
    the broadcast. Delta applies DVs scan-side for exactly this
    reason. A DV past the guard (multi-GB — billions of deleted rows)
    drops the hint and degrades to the shuffle, which is the right
    call at that delete fraction anyway (compact with purge_deletes
    instead). Keeps the address columns; callers drop them.

    ``seg`` is left out of every join condition on purpose — the DV
    frames are already scoped to the covered segments, basenames are
    unique table-wide (per-job UUID in every part-file name), and
    omitting it lets Catalyst prune the regex-derived segment column
    from the scan entirely."""
    from pyspark.sql import functions as F

    from cuplyr_spark.frame import broadcast_guarded

    # legacy DVs address by path-within-segment: unpartitioned tables
    # wrote the bare basename there (== _DV_FILE), while partitioned
    # scans carry the regex-derived _DV_RELP
    key = _DV_RELP if legacy and _DV_RELP in df.columns else _DV_FILE
    on = [
        F.col(f"l.{key}") == F.col("r.file"),
        F.col(f"l.{_DV_POS}") == F.col("r.pos"),
    ]
    if not legacy and _DV_PART in df.columns:
        on.append(F.col(f"l.{_DV_PART}") == F.col("r.part"))
    return df.alias("l").join(
        broadcast_guarded(dv, what=what).alias("r"), on=on, how=how
    )


def _anti_dv(df, dvs):
    """Apply ``(legacy_df | None, v2_df | None)`` deletion vectors to
    a position-addressed scan (:func:`_dv_join`, ``left_anti``)."""
    legacy, v2 = dvs
    if v2 is not None:
        df = _dv_join(df, v2, False, "left_anti", "deletion-vector apply")
    if legacy is not None:
        df = _dv_join(df, legacy, True, "left_anti", "deletion-vector apply")
    return df


def _schema_ddl(schema) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in schema)


def _read_parquet_at(spark, schema, *paths):
    """Multi-path parquet scan pinned to the MANIFEST schema — one
    datasource relation (pushdown/pruning span every segment), with a
    column absent from some physical file read as NULL there, which is
    what makes additive schema evolution a metadata-only operation.
    Falls back to footer inference only for pre-schema legacy logs."""
    reader = spark.read
    if schema:
        reader = reader.schema(_schema_ddl(schema))
    return reader.parquet(*paths)


def _dv_meta_cols(pby, legacy: bool):
    """The (name, type) pairs :func:`_with_dv_meta` attaches for this
    layout — appended to the conform target so the address columns
    survive the schema projection."""
    cols = [
        [_DV_SEG, "string"],
        [_DV_FILE, "string"],
        [_DV_POS, "bigint"],
    ]
    if pby:
        cols.append([_DV_PART, "string"])
    if legacy:
        cols.append([_DV_RELP, "string"])
    return cols


def _has_legacy_dvs(log: dict, segs) -> bool:
    dmap = log.get("deletes") or {}
    return any(
        not _dv_is_v2(d) for s in segs for d in dmap.get(s, ())
    )


def _skip_fully_deleted(log: dict, segs):
    """Drop candidate segments whose EXACT delete count has reached
    their recorded row count — they hold zero live rows, so a probe
    scan over them can match nothing and their (ever-growing) DV
    chains need not be read or anti-joined. The read path already
    applies this arithmetic (:func:`_read_segments`); the row-level
    WRITE probes did not, so a merge-heavy table (e.g. a materialized
    view's state, rewritten keyed-batch by keyed-batch) paid a probe
    scan + DV anti-join over every dead historical segment on every
    MERGE until compaction — cost growing linearly with dead segments
    instead of staying ∝ live rows (r15 optimization round; the
    delete counts are additive-exact because delete scans read
    through existing DVs, same soundness argument as the read path)."""
    cmap = log.get("delete_counts") or {}
    if not cmap:
        return segs
    smap = log.get("stats") or {}
    return [
        s
        for s in segs
        if not (
            s in cmap
            and (smap.get(s) or {}).get("rows") is not None
            and int(cmap[s]) >= int(smap[s]["rows"])
        )
    ]


def _provably_covered(cur: dict, segs, k0: str, ktype: str, keyset):
    """Candidate segments whose EVERY row provably carries a merge key
    in ``keyset`` — their live rows are all replaced by this MERGE, so
    the DV scan can skip them and the commit tombstones them
    arithmetically (``delete_counts`` → rows) with no DV parquet at
    all. The proof uses only recorded EXACT stats of the immutable
    segment (guide §8: use what you know that the optimizer does not):

    - the key column's recorded null-count is 0 (a NULL key never
      matches, so any NULL row would survive), AND
    - the recorded dictionary set is a subset of ``keyset``
      (int/string/boolean keys), OR the key is an integer type and
      ``keyset`` contains every integer in the recorded [min, max]
      zone-map range (sorted-list bisect count == max−min+1 — the
      keys are distinct, so counting them inside the window proves
      full enumeration).

    Stats cover ALL rows of the segment (recorded at write, before
    any deletes), and live rows are a subset — so the proof over all
    rows covers every live row. Returns ``(covered, rest)``."""
    import bisect

    smap = cur.get("stats") or {}
    if not smap or not keyset:
        return [], list(segs)
    dict_ok = ktype in (
        "tinyint", "smallint", "int", "bigint", "string", "boolean",
    )
    range_ok = ktype in ("tinyint", "smallint", "int", "bigint")
    if not dict_ok:
        return [], list(segs)
    kset = set(keyset)
    skeys = sorted(kset) if range_ok else None
    covered, rest = [], []
    for s in segs:
        st = smap.get(s)
        ent = (st or {}).get("cols", {}).get(k0)
        if (
            st is None
            or st.get("rows") is None
            or ent is None
            or int(ent[2]) != 0  # NULL keys would survive the merge
        ):
            rest.append(s)
            continue
        if len(ent) > 3 and set(ent[3]) <= kset:
            covered.append(s)
            continue
        mn, mx = ent[0], ent[1]
        if (
            range_ok
            and mn is not None
            and mx is not None
            and (
                bisect.bisect_right(skeys, mx)
                - bisect.bisect_left(skeys, mn)
            ) == mx - mn + 1
        ):
            covered.append(s)
            continue
        rest.append(s)
    return covered, rest


def _rooted_discovery_ok(log: dict) -> bool:
    """True when partitioned segments can share one scan relation
    rooted at the TABLE dir — partition discovery then also parses the
    ``seg=``/``fold=`` dir component as an extra column the schema
    conform drops. Refused when any head, rename-era, or partition
    column is itself named ``seg``/``fold``: discovery would shadow
    the real column with the dir component."""
    names = {n for n, _ in (log.get("schema") or [])}
    names |= set(log.get("partition_by") or [])
    for r in log.get("renames") or ():
        names.add(r.get("from"))
        names.add(r.get("to"))
    return not ({"seg", "fold"} & names)


def _partitioned_scan_groups(spark, fs: _TableFS, log: dict, segs, fmap):
    """Yield ``(aliases, df)`` scan relations covering ``segs`` of a
    PARTITIONED table. When safe, ONE discovery relation per
    (column-name era × seg/fold dir kind) rooted at the table dir with
    the era's explicit read schema — plan size, driver file listing
    and DV anti-join builds then scale with eras (a handful), never
    with segment count. The per-segment relations this replaces made a
    1000-segment partitioned read a 1000-branch union, and the
    optimizer's anti-join pushdown below that union duplicated the DV
    broadcast build once per branch (guide §2.4/§3: one scan, one
    join). The explicit schema keeps mixed physical footers exact
    (absent columns NULL-fill per file, same as the per-segment
    conform); partition columns are pinned to STRING (discovery
    inference is off) and cast by the conform, identical to the
    per-segment path. Tables with a column literally named
    ``seg``/``fold`` in any era keep the per-segment fallback."""
    schema = log.get("schema")
    pby = set(log.get("partition_by") or [])
    renames = log.get("renames") or []
    if _rooted_discovery_ok(log):
        for aliases, group in _era_groups(renames, segs, schema):
            era = [
                [aliases.get(n, n), "string" if n in pby else t]
                for n, t in schema
            ]
            by_kind: dict = {}
            for s in group:
                by_kind.setdefault(s.split("=", 1)[0], []).append(s)
            for kseg in by_kind.values():
                yield aliases, spark.read.schema(
                    _schema_ddl(era)
                ).option("basePath", fs.dir).parquet(
                    *[p for s in kseg for p in _seg_paths(fs, s, fmap)]
                )
    else:
        for s in segs:
            yield _era_aliases(renames, _seg_version(s), schema), (
                spark.read.option("basePath", fs.join(s)).parquet(
                    *_seg_paths(fs, s, fmap)
                )
            )


def _addressed_scan(spark, fs: _TableFS, log: dict, segs, fmap=None,
                    legacy: bool = False):
    """Scan ``segs`` at ``log``'s schema (rename eras aliased back to
    the head names) with the row-address columns attached and NO
    deletion vector applied — the one addressed scan behind the
    row-level write probes (:func:`_scan_with_dv`), the typed change
    feed's inserts (``_DV_SEG`` keys each row's commit version) and
    its DV read-back (semi-joined against the new addresses).
    ``legacy`` attaches the old-layout path column partitioned scans
    join legacy ``dv=`` files on. ``fmap`` (from :func:`_file_prune`)
    narrows clustered segments to the files whose recorded key ranges
    can match."""
    pby = log.get("partition_by") or []
    schema = log.get("schema")
    renames = log.get("renames") or []
    if not pby:
        parts = []
        for aliases, group in _era_groups(renames, segs, schema):
            era_schema = (
                [[aliases.get(n, n), t] for n, t in schema]
                if aliases
                else schema
            )
            part = _with_dv_meta(
                _read_parquet_at(
                    spark, era_schema,
                    *[p for s in group for p in _seg_paths(fs, s, fmap)],
                )
            )
            for head, src in aliases.items():
                part = part.withColumnRenamed(src, head)
            parts.append(part)
    else:
        conf = spark.conf
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = conf.get(key)
        conf.set(key, "false")
        try:
            ext = list(schema) + _dv_meta_cols(pby, legacy)
            parts = [
                _conform_schema(
                    _with_dv_meta(df, pby=pby, legacy=legacy),
                    ext,
                    aliases=aliases,
                )
                for aliases, df in _partitioned_scan_groups(
                    spark, fs, log, segs, fmap
                )
            ]
        finally:
            conf.set(key, prev)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _scan_with_dv(spark, fs: _TableFS, log: dict, segs, fmap=None):
    """:func:`_addressed_scan` with every EXISTING deletion vector
    already applied — the input the row-level write paths
    (:func:`delete_append_rows` / :func:`update_append_rows`) start
    from, so a second delete never re-marks rows an earlier one
    already removed (which keeps the manifest's ``delete_counts``
    exactly additive). ``fmap`` narrows the probe to file grain."""
    df = _addressed_scan(
        spark, fs, log, segs, fmap, legacy=_has_legacy_dvs(log, segs)
    )
    return _anti_dv(df, _dv_frames(spark, fs, log, segs))


def _pdir_str(v) -> str | None:
    """One partition value → the STRING Spark renders into the
    partition directory name (which is also what partition discovery
    hands back with type inference off). Python ``str()`` diverges for
    several types — ``str(True)`` is ``'True'`` but the directory says
    ``true`` — and a silently-mismatched form makes partition-scoped
    reads and row-level writes match ZERO segments instead of failing,
    so unsupported types raise loudly rather than guess."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, datetime.datetime):
        s = v.isoformat(sep=" ")
        if "." in s:  # Spark trims trailing fractional zeros
            s = s.rstrip("0").rstrip(".")
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise ValueError(
        f"partition_filter value {v!r} ({type(v).__name__}): no reliable "
        "directory-string form (float/Decimal render differently on the "
        "JVM) — pass the value as the exact partition directory string"
    )


_PRANGE_OPS = {"<", "<=", ">", ">="}
# Partition-column types whose canonical directory rendering is
# ORDER-PRESERVING in string space, making range conds sound: ISO
# dates, and strings themselves (lexicographic IS the predicate's own
# order under binary collation). Ints are NOT ("9" > "10") — they
# compare TYPED instead (directory values parse back to exact ints,
# :data:`_PRANGE_INT_TYPES` below). Timestamps render timezone- and
# fraction-dependently and still refuse loudly.
_PRANGE_TYPES = {"date", "string"}
# Integer partition columns take range conditions through TYPED
# comparison: every directory value written for an int column parses
# back to the exact int (Spark renders them as plain base-10), so
# parse-then-compare is sound where string-space comparison is not.
# year=/month=/hour= int partitions are the most common time layout
# in the wild; refusing them was the r13 gap this closes.
_PRANGE_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _normalize_pfilter(
    partition_filter: dict, types: dict | None = None
) -> dict:
    """{col: value | list-of-values | (op, value) | [(op, value), ...]}
    → {col: (eq-set-or-None, [(range-op, rendered-str, typed-int-or-
    None), ...])} — partition dir values are strings; equality
    compares in string space with each value rendered the way Spark
    writes directory names (:func:`_pdir_str`). Range ops
    (``< <= > >=``) are accepted on date/string partition columns
    (:data:`_PRANGE_TYPES` — rendering preserves value order, compare
    as strings: typed slot None) and on integer partition columns
    (:data:`_PRANGE_INT_TYPES` — "9" > "10" in string space, so the
    typed slot carries the int and directory values parse back before
    comparing). A 2-tuple whose first element is an operator name is
    a condition (a literal partition VALUE equal to an operator name
    needs the list form, same convention as ``stats_filter``)."""
    ops = _PRANGE_OPS | {"==", "in"}

    def is_cond(x):
        return isinstance(x, tuple) and len(x) == 2 and x[0] in ops

    out = {}
    for col, spec in partition_filter.items():
        if is_cond(spec):
            items = [spec]
        elif isinstance(spec, list) and spec and all(
            is_cond(x) for x in spec
        ):
            items = spec
        elif isinstance(spec, (list, tuple, set)):
            items = [("in", list(spec))]
        else:
            items = [("in", [spec])]
        eq: set | None = None
        conds: list = []
        for op, v in items:
            if op == "==" or op == "in":
                vals = {
                    _pdir_str(x)
                    for x in (
                        v if op == "in" and isinstance(v, (list, tuple, set))
                        else [v]
                    )
                }
                eq = vals if eq is None else (eq & vals)
                continue
            t = (types or {}).get(col)
            if t in _PRANGE_INT_TYPES:
                if isinstance(v, bool) or not isinstance(v, int):
                    raise ValueError(
                        f"partition_filter: range condition on int "
                        f"partition column {col!r} needs an int bound, "
                        f"got {v!r} ({type(v).__name__})"
                    )
                conds.append((op, str(v), int(v)))
                continue
            if t not in _PRANGE_TYPES:
                raise ValueError(
                    f"partition_filter: range condition on {col!r} "
                    f"(type {t!r}) — only {sorted(_PRANGE_TYPES)} "
                    "(string-ordered) and "
                    f"{sorted(_PRANGE_INT_TYPES)} (typed) partition "
                    "columns support range pruning"
                )
            import datetime

            if (
                t == "date"
                and isinstance(v, datetime.date)
                and not isinstance(v, datetime.datetime)
            ):
                rendered = v.isoformat()
            else:
                rendered = _pdir_lit(t, v)
            if rendered is _pdir_lit or rendered is None:
                raise ValueError(
                    f"partition_filter: value {v!r} has no canonical "
                    f"{t} directory rendering"
                )
            conds.append((op, rendered, None))
        out[col] = (eq, conds)
    return out


def _pf_match(vals: dict, pf: dict) -> bool:
    """Does one parsed partition-directory value dict satisfy the
    normalized filter? NULL partitions never satisfy a range. Typed
    (int) conditions parse the directory value back before comparing;
    an unparseable value on an int partition column refuses loudly —
    silently keeping OR dropping a directory the predicate cannot
    order against would be unsound either way."""
    for c, (eq, conds) in pf.items():
        v = vals.get(c)
        if eq is not None and v not in eq:
            return False
        for op, b, typed in conds:
            if v is None:
                return False
            if typed is not None:
                try:
                    cmp_v: object = int(v)
                except ValueError:
                    raise ValueError(
                        f"partition_filter: directory value {v!r} of "
                        f"int partition column {c!r} does not parse as "
                        "an integer — the typed range cannot order "
                        "against it (mixed/hand-written partition "
                        "layout?)"
                    ) from None
                b = typed
            else:
                cmp_v = v
            if op == "<" and not cmp_v < b:
                return False
            if op == "<=" and not cmp_v <= b:
                return False
            if op == ">" and not cmp_v > b:
                return False
            if op == ">=" and not cmp_v >= b:
                return False
    return True


def _pf_cond(pf: dict, col_of):
    """The normalized filter as a Spark Column predicate over
    STRING-space partition columns (``col_of(name)`` supplies the
    string-typed Column). Catalyst turns it into directory pruning on
    discovered scans; on conformed scans it is the exactness
    residual."""
    from pyspark.sql import functions as F

    cond = None
    for c, (eq, conds) in pf.items():
        col = col_of(c)
        this = None
        if eq is not None:
            nn = [v for v in eq if v is not None]
            e = col.isin(nn) if nn else F.lit(False)
            if None in eq:
                e = e | col.isNull()
            this = e
        for op, b, typed in conds:
            cc = col.cast("bigint") if typed is not None else col
            bb = typed if typed is not None else b
            e = {
                "<": cc < bb, "<=": cc <= bb,
                ">": cc > bb, ">=": cc >= bb,
            }[op]
            this = e if this is None else this & e
        if this is not None:
            cond = this if cond is None else cond & this
    return cond


def _probe_existing_keys(spark, fs: _TableFS, cur: dict, keyset, ukey,
                         segs=None):
    """The keys of ``keyset`` (already distinct, NULL-free) that exist
    in the table's live rows — the shared probe for the write-time
    UNIQUE constraint. Candidate segments prune through the full
    manifest stack (zone maps / dictionaries / blooms / file grain)
    when the single key column is stat-eligible, so on a clustered or
    bloom-equipped table the probe reads the key band's bytes, not
    the corpus. Returns ``(hits, known_bytes)``: a DataFrame of
    conflicting key tuples, plus a measured byte bound on it (the
    conflict set is a subset of the collected key set) when the prune
    pass collected one — Catalyst's estimate of a semi-join output
    over a parquet scan is garbage, and without the bound the
    caller's broadcast hint is dropped."""
    from cuplyr_spark.frame import Frame

    segs = _skip_fully_deleted(
        cur, list(cur["segments"]) if segs is None else list(segs)
    )
    fmap: dict = {}
    known_bytes = None
    types = dict(map(tuple, cur.get("schema") or []))
    if len(ukey) == 1 and _stat_eligible(types.get(ukey[0])) and segs:
        filt = join_prune_filter(Frame(keyset, ()), ukey[0])
        if filt is not None:
            cond = filt.get(ukey[0])
            if isinstance(cond, tuple) and cond[0] == "in":
                # the prune collect already holds the exact key set —
                # probe from a local relation instead of recomputing
                # the batch distinct inside the join (guide §1.2)
                kvals = list(cond[1])
                keyset = _local_relation(
                    spark, {ukey[0]: kvals},
                    schema=f"`{ukey[0]}` {types[ukey[0]]}",
                )
                w = (
                    max((len(k.encode("utf-8")) for k in kvals), default=0)
                    if types.get(ukey[0]) == "string" else None
                )
                known_bytes = len(kvals) * _est_row_bytes(
                    (types.get(ukey[0]),), widths=(w,)
                )
            segs, _, fmap = _prune_by_stats(
                spark, fs, cur, segs, filt, with_cond=False
            )
    if not segs:
        return keyset.limit(0), known_bytes
    scan = _scan_with_dv(spark, fs, cur, segs, fmap=fmap).select(*ukey)
    return keyset.join(scan, on=list(ukey), how="left_semi"), known_bytes


def _enforce_unique(spark, fs: _TableFS, cur, df, ukey, on_conflict):
    """Write-time UNIQUE-key enforcement for ``append_snapshot``:
    NULL-keyed rows are exempt (SQL UNIQUE semantics — every NULL is
    distinct), in-batch duplicates and batch-vs-table conflicts
    either reject the batch whole (``on_conflict="error"``, with an
    example key in the message) or drop to insert-ignore
    (``on_conflict="drop"``: one arbitrary in-batch winner per key,
    existing-key rows filtered out). Cost: one aggregate ∝ the batch
    plus one pruned probe of the candidate segments. Returns the
    (possibly filtered) batch."""
    from pyspark.sql import functions as F

    from cuplyr_spark.frame import broadcast_guarded

    if not set(ukey) <= set(df.columns):
        # a schema_mode="merge" batch omitting a key column appends
        # NULL keys for it — exempt rows under SQL UNIQUE semantics,
        # so there is nothing to check
        return df
    notnull = None
    for c in ukey:
        cond = F.col(c).isNotNull()
        notnull = cond if notnull is None else (notnull & cond)
    keyed, nulled = df.filter(notnull), df.filter(~notnull)
    if on_conflict == "error":
        dup = (
            keyed.groupBy(*[F.col(c) for c in ukey])
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .first()
        )
        if dup is not None:
            raise ValueError(
                f"append_snapshot: batch violates the table's UNIQUE "
                f"({', '.join(ukey)}) constraint within itself — e.g. "
                f"key {tuple(dup[c] for c in ukey)} appears "
                f"{dup['__n']} times (on_conflict='drop' keeps one "
                "arbitrary row per key instead)"
            )
    else:
        keyed = keyed.dropDuplicates(list(ukey))
    if cur and cur["segments"]:
        keyset = keyed.select(*ukey).distinct()
        hits, hit_bytes = _probe_existing_keys(spark, fs, cur, keyset, ukey)
        if on_conflict == "error":
            ex = hits.first()
            if ex is not None:
                raise ValueError(
                    f"append_snapshot: batch violates the table's "
                    f"UNIQUE ({', '.join(ukey)}) constraint — e.g. key "
                    f"{tuple(ex[c] for c in ukey)} already exists "
                    "(on_conflict='drop' skips existing keys instead; "
                    "upsert_append_rows replaces them)"
                )
        else:
            keyed = keyed.join(
                broadcast_guarded(hits, what="unique-key conflict set",
                                  known_bytes=hit_bytes),
                on=list(ukey),
                how="left_anti",
            )
    return keyed.unionByName(nulled)


def _read_segments(
    spark, fs: _TableFS, log: dict, segs, partition_filter=None,
    stats_filter=None,
):
    """The one read path every append-table reader shares. For
    unpartitioned tables: a single multi-path parquet relation (filter
    pushdown and column pruning span every segment at once). For
    hive-partitioned tables: one partition-discovered relation per
    segment, unioned by name and conformed to the manifest schema —
    discovery is forced to STRING (no type inference) and cast back to
    the recorded column type, so a value like ``"01"`` round-trips
    exactly instead of collapsing through an inferred int.

    ``partition_filter`` ({col: value-or-list}) prunes at THREE
    levels: segments whose manifest-recorded partitions all miss the
    filter are never opened (no filesystem listing at all), matching
    segments get a partition-column predicate Catalyst turns into
    directory pruning, and the residual filter guards exactness.

    ``stats_filter`` ({col: value | (op, value) | [(op, value), ...]})
    prunes on the manifest's ZONE MAPS the same way: segments whose
    recorded min/max/null-count prove no row can match are never
    opened, and the identical predicate is applied as a real filter
    over the survivors (exactness + parquet row-group pushdown).
    Returns the DataFrame."""
    from pyspark.sql import functions as F

    stats_cond = None
    fmap: dict = {}
    if stats_filter:
        sfilt = _normalize_stats_filter(stats_filter, log.get("schema"))
        smap = log.get("stats") or {}
        segs = [s for s in segs if _seg_stats_match(smap.get(s), sfilt)]
        if (log.get("sketch_spec") or {}).get("bloom"):
            segs = _bloom_prune(spark, fs, log, segs, sfilt)
        # clustered tables additionally prune at FILE grain: surviving
        # segments shrink to the files whose recorded ranges can match
        segs, fmap = _file_prune(log, segs, sfilt)
        stats_cond = _stats_filter_cond(sfilt, log.get("schema"))

    def _empty():
        return spark.createDataFrame([], _schema_ddl(log.get("schema")))

    dmap = log.get("deletes") or {}
    cmap = log.get("delete_counts") or {}
    if cmap:
        # a segment whose EXACT delete count has reached its recorded
        # zone-map row count is fully deleted: contribute nothing —
        # no listing, no DV read (counts are additive-exact because
        # the delete scan reads through existing DVs)
        smap = log.get("stats") or {}
        segs = [
            s
            for s in segs
            if not (
                s in cmap
                and (smap.get(s) or {}).get("rows") is not None
                and int(cmap[s]) >= int(smap[s]["rows"])
            )
        ]
    pby = log.get("partition_by") or []
    if not pby:
        if partition_filter:
            raise ValueError(
                "partition_filter on an unpartitioned append table "
                f"(no partition_by in the log at {fs.dir!r})"
            )
        if not segs:
            return _empty()
        # deletion vectors: segments WITHOUT deletes take the plain
        # multi-path scan untouched (the common case pays nothing);
        # segments WITH deletes are scanned position-addressed and
        # anti-joined against their DVs (equi-key broadcast-hash, no
        # data shuffle). Renamed columns read via one relation per
        # NAME ERA (scan count ∝ renames, never ∝ segments), each
        # era's physical names aliased back to the head schema.
        clean = [s for s in segs if not dmap.get(s)]
        dirty = [s for s in segs if dmap.get(s)]
        schema = log.get("schema")
        renames = log.get("renames") or []
        parts = []
        for aliases, group in _era_groups(renames, clean, schema):
            if not group:
                continue
            era_schema = (
                [[aliases.get(n, n), t] for n, t in schema]
                if aliases
                else schema
            )
            part = _read_parquet_at(
                spark, era_schema,
                *[p for s in group for p in _seg_paths(fs, s, fmap)],
            )
            if aliases:
                part = _conform_schema(part, schema, aliases)
            parts.append(part)
        for aliases, group in _era_groups(renames, dirty, schema):
            if not group:
                continue
            era_schema = (
                [[aliases.get(n, n), t] for n, t in schema]
                if aliases
                else schema
            )
            raw = _with_dv_meta(
                _read_parquet_at(
                    spark, era_schema,
                    *[p for s in group for p in _seg_paths(fs, s, fmap)],
                )
            )
            part = _anti_dv(raw, _dv_frames(spark, fs, log, group)).drop(
                _DV_SEG, _DV_FILE, _DV_POS
            )
            if aliases:
                part = _conform_schema(part, schema, aliases)
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.filter(stats_cond) if stats_cond is not None else df
    pmap = log.get("partitions") or {}
    pf = (
        _normalize_pfilter(
            partition_filter, dict(map(tuple, log.get("schema") or []))
        )
        if partition_filter
        else None
    )
    if pf:
        unknown = set(pf) - set(pby)
        if unknown:
            raise ValueError(
                f"partition_filter columns {sorted(unknown)} are not "
                f"partition columns {pby}"
            )

        def seg_matches(s):
            rels = pmap.get(s)
            if rels is None:  # legacy manifest without the map: keep
                return True
            return any(
                _pf_match(_partition_values(rel), pf) for rel in rels
            )

        segs = [s for s in segs if seg_matches(s)]
    schema = log.get("schema")
    if not segs:
        # filters pruned everything: an empty frame at the table schema
        return _empty()
    # predicate on the RAW discovered partition columns (strings,
    # inference off) — sits directly over each scan, so Catalyst
    # plans it as directory pruning (PartitionFilters), not a
    # post-cast residual filter
    conds = _pf_cond(pf, F.col) if pf else None
    conf = spark.conf
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = conf.get(key)
    conf.set(key, "false")
    dirty_segs = [s for s in segs if dmap.get(s)]
    legacy = _has_legacy_dvs(log, dirty_segs)
    meta = _dv_meta_cols(pby, legacy)
    try:
        parts, dirty_parts = [], []
        ext = list(schema) + meta
        # era×kind-grouped discovery relations (scan count ∝ renames,
        # never ∝ segments); pre-rename segments read renamed columns
        # through their era's physical name (partition columns refuse
        # renames, so the discovery/conds never need translation)
        clean_segs = [s for s in segs if not dmap.get(s)]
        for aliases, df in _partitioned_scan_groups(
            spark, fs, log, clean_segs, fmap
        ):
            if conds is not None:
                df = df.filter(conds)
            parts.append(_conform_schema(df, schema, aliases=aliases))
        for aliases, df in _partitioned_scan_groups(
            spark, fs, log, dirty_segs, fmap
        ):
            if conds is not None:
                df = df.filter(conds)
            # delete-carrying segments: conform WITH the position
            # address columns so the DV anti-join below can apply
            dirty_parts.append(
                _conform_schema(
                    _with_dv_meta(df, pby=pby, legacy=legacy), ext,
                    aliases=aliases,
                )
            )
    finally:
        conf.set(key, prev)
    if dirty_parts:
        dirty = dirty_parts[0]
        for p in dirty_parts[1:]:
            dirty = dirty.unionByName(p)
        dirty = _anti_dv(
            dirty, _dv_frames(spark, fs, log, dirty_segs)
        ).drop(*[name for name, _ in meta])
        parts.append(dirty)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    # the stats residual goes ABOVE the schema-conform cast (stats were
    # recorded at the table's column types)
    return df.filter(stats_cond) if stats_cond is not None else df


def append_snapshot(
    frame: Frame,
    table_dir: str,
    batch_id: int | None = None,
    app_id: str | None = None,
    partition_by: list[str] | str | None = None,
    collect_stats: bool = True,
    sketch_spec: dict | None = None,
    schema_mode: str = "strict",
    expectations: dict | None = None,
    cluster_by: list[str] | str | None = None,
    cluster_files: int | None = None,
    unique_key: list[str] | str | None = None,
    on_conflict: str = "error",
) -> int:
    """Append-only publish: write ONLY this batch's rows as a new
    segment directory and publish a log manifest listing every live
    segment — the jar-free Delta-log essence, for the ingest shape
    where a whole-table rewrite is wrong (a 100 TB events table must
    grow by the batch's bytes; ``write_snapshot`` would rewrite the
    table per batch).

    Commit order is crash-safe like every publish here: segment
    parquet first, then the immutable ``_LOG.<n>`` manifest, then the
    atomic ``_LATEST_LOG`` pointer swap — a crash at any point leaves
    readers on the previous complete log and at worst an orphan
    segment that vacuum removes. Segment names carry a random suffix
    so a retried crash never collides with its own orphan.

    ``batch_id`` is the exactly-once hook for streaming: the log
    carries a monotone per-writer watermark and an append whose
    ``batch_id`` is at or below it is a NO-OP returning the current
    version — a replayed microbatch (foreachBatch redelivery after a
    sink crash) cannot double-append. Compaction preserves the
    watermarks for the same reason. ``app_id`` scopes the watermark to
    one writer (Delta keys idempotent writes by txnAppId+txnVersion
    the same way): two distinct streaming queries appending to one
    table each track their own high-water mark instead of corrupting a
    shared one. Omitting ``app_id`` uses a single default slot —
    fine for the one-writer common case, but note the CHECKPOINT-RESET
    hazard: recreating a query's checkpoint restarts its batch ids at
    0, so every new batch is silently dropped as a replay until ids
    pass the old watermark. Pair a fresh checkpoint with a fresh
    ``app_id``, or clear the slot with
    :func:`reset_append_watermark`.

    Appends are fixed-schema by default (``schema_mode="strict"``),
    validated by (name, type) against the schema recorded in the log
    manifest — a batch with matching names but drifted types is
    rejected HERE rather than surfacing later as a corrupted
    multi-segment scan (Delta's write-time check). The manifest
    carries the schema, so validation costs no filesystem round-trip
    (legacy manifests without it fall back to one footer read and are
    stamped on the next publish).

    ``schema_mode="merge"`` allows ADDITIVE evolution — the normal
    life of a long-lived ingest table (Delta's mergeSchema): a batch
    may carry NEW columns (appended to the manifest schema; earlier
    segments read them as NULL — metadata-only, no rewrite, and their
    zone maps gain the exact ``[None, None, rows]`` entry so pruning
    on the new column skips pre-evolution segments arithmetically) and
    may OMIT existing non-partition columns (the segment simply lacks
    them; every read pins the manifest schema, so they come back NULL).
    Type CHANGES are still refused loudly — a widening rewrite belongs
    to ``upsert_snapshot(schema_evolution=True)``, whose every version
    rewrites the table whole.

    ``partition_by`` writes the segment hive-partitioned (the 100 TB
    event-table shape: ingest partitioned by date/type so readers
    prune directories instead of scanning the corpus). The first
    append stamps the table's partitioning in the log; later appends
    must match it (or omit it to inherit). The log also records each
    segment's partition VALUES, so a filtered read prunes whole
    segments without any filesystem listing
    (``read_append_snapshot(partition_filter=...)``).

    ``collect_stats`` (default on) additionally records per-segment
    ZONE MAPS — min/max/null-count for every stat-eligible column,
    plus the exact value set of columns with at most 32 distinct
    values — in the log manifest, from one vectorized pyarrow pass
    over the just-written segment's files (cost ∝ the batch's bytes,
    never the table's): on the driver for local tables (no Spark job),
    through one ``mapInArrow`` job for URI-scheme tables. Clustered
    tables get their per-file zone maps from the same pass.
    ``read_append_snapshot(stats_filter=...)`` /
    ``read_append_changes(stats_filter=...)`` then prune whole
    segments before any filesystem listing — the per-file stats idea
    of Delta/Iceberg, lifted to the segment grain where this
    manifest lives, which is the grain that matters when one 100 TB
    table is thousands of microbatch segments. Compaction merges the
    folded segments' stats arithmetically (no re-scan).

    ``sketch_spec`` (``{"distinct": [col, ...], "histogram": {col:
    [lo, hi, bins]}, "bloom": {col: [m_bits, k_hashes]}, "lgk": 12}``)
    turns on the SKETCH SIDECAR: each segment additionally gets one
    row of mergeable statistics — exact row count, a DataSketches HLL
    per 'distinct' column, a fixed-bin histogram per 'histogram'
    column, a bloom filter per 'bloom' column — written under
    ``_sketch/`` at ingest (cost ∝ the batch; one aggregate job plus
    one per histogram/bloom column). :func:`table_stats` folds the
    sidecar rows into whole-table statistics at cost ∝ live segments,
    never a corpus rescan; compaction merges sidecars arithmetically
    (bloom of a union = word-wise OR). Like ``partition_by``, the
    spec is stamped at table creation and inherited afterwards (pass
    it again only identically).

    ``cluster_by`` (stamped at table creation and inherited, like
    ``partition_by``) turns on KEY CLUSTERING — the liquid-clustering
    analog at this manifest's grain: each batch is range-shuffled and
    sorted on the cluster columns before it becomes a segment (one
    shuffle ∝ the batch's bytes), and the manifest records per-FILE
    zone maps for those columns. Key-addressed operations then prune
    at FILE grain inside surviving segments: ``read_append_snapshot``
    with a ``stats_filter``/``where`` on a cluster column opens only
    the files whose recorded range can match, and the row-level writes
    (``delete_append_rows``/``update_append_rows``/
    ``upsert_append_rows``) probe file-grain bytes instead of
    segment-grain — the dominant cost of a MERGE at 100 TB is the
    anti-join probe scan (measured, BENCH_DELTA r11), and clustering
    cuts exactly that. ``cluster_files`` bounds the number of files
    per segment (default: Spark's range-partition default; AQE may
    coalesce). Cluster columns must be stat-eligible non-partition
    columns; compaction re-clusters folds on the same keys.

    ``unique_key`` (stamped at table creation and inherited, like
    ``partition_by``) declares a write-time UNIQUE constraint — the
    guarantee neither Delta nor Iceberg enforces natively, and the one
    an event-id-deduped ingest actually wants: every append checks the
    batch against itself (one aggregate ∝ batch) and against the
    table (one probe of the candidate segments, pruned through zone
    maps / dictionaries / blooms / file grain — pair with
    ``cluster_by`` or a keyed bloom so the probe reads the key band,
    not the corpus). ``on_conflict="error"`` (default) rejects the
    batch whole with an example key; ``"drop"`` is insert-ignore
    (one arbitrary in-batch winner per key, existing keys skipped).
    NULL keys are exempt, SQL UNIQUE semantics. A concurrent append
    landing between probe and commit is re-probed during the rebase
    and surfaces as :class:`ConcurrentWriteError` rather than a
    silent violation. On constrained tables ``upsert_append_rows``
    requires its merge key to equal the constraint (and a key-distinct
    batch), and ``update_append_rows`` refuses assignments to
    constraint columns — the loud guards that keep the invariant.

    Bloom columns close the pruning gap zone maps leave: an equality
    lookup on a HIGH-CARDINALITY scattered key (user/doc/event ids)
    where ranges are too wide and the ≤32-value dictionary too small.
    ``stats_filter`` equality/IN reads consult the sidecar blooms in
    one segment-count-bounded scan and drop provably-miss segments —
    only false POSITIVES possible, so pruning is always sound. Size
    ``m_bits`` at ~10-13 bits per expected distinct value per segment
    (k≈7) for ~1% false-positive rate; an undersized bloom degrades
    to no pruning, never to wrong rows.

    Concurrency: the data segment's name is unique, so racing
    appenders never collide on data; the log commit is an atomic
    exclusive-create that the loser RETRIES on top of the winner's log
    (re-checking the watermark — if the same app's batch landed via
    the other writer, the retry degrades to the no-op replay path).
    Appends therefore need no external coordination on HDFS/local
    filesystems. Returns the published log version."""
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    if schema_mode not in ("strict", "merge"):
        raise ValueError(
            f"schema_mode must be 'strict' or 'merge', got {schema_mode!r}"
        )
    spark = frame.df.sparkSession
    fs = _TableFS(table_dir, spark)
    fs.mkdirs()
    key = app_id or _DEFAULT_APP
    incoming = _frame_schema_pairs(frame.df)

    def check(cur):
        """Validate against the current log; returns (schema, pby,
        sketch spec, added columns, cluster cols) or None when the
        batch is a watermark replay (no-op)."""
        wms = _log_watermarks(cur)
        if (
            batch_id is not None
            and wms.get(key) is not None
            and batch_id <= wms[key]
        ):
            return None
        if cur is None or not cur["segments"]:
            pby = list(partition_by or [])
            missing = [c for c in pby if c not in frame.df.columns]
            if missing:
                raise ValueError(
                    f"partition_by columns {missing} not in the frame"
                )
            ptypes = dict(map(tuple, incoming))
            bad_p = {
                c: ptypes[c]
                for c in pby
                if ptypes.get(c) == "binary"
                or str(ptypes.get(c, "")).startswith(
                    ("struct<", "array<", "map<")
                )
            }
            if bad_p:
                # refuse HERE with a typed message — Spark's own write
                # path answers an opaque Py4JJavaError for binary and
                # a mid-write AnalysisException for nested types
                raise ValueError(
                    "append_snapshot: partition_by columns have "
                    f"non-partitionable types {bad_p} — hive "
                    "partitioning needs atomic scalar values "
                    "(string/numeric/date/timestamp/boolean); binary "
                    "and nested (struct/array/map) columns cannot "
                    "form directory names. Partition on a derived "
                    "scalar (e.g. a metadata field projected to a "
                    "top-level column) instead"
                )
            spec = (
                _validate_sketch_spec(sketch_spec, incoming)
                if sketch_spec is not None
                else None
            )
            cby = (
                _validate_cluster_by(cluster_by, incoming, pby)
                if cluster_by is not None
                else []
            )
            ukey = []
            if unique_key is not None:
                ukey = (
                    [unique_key]
                    if isinstance(unique_key, str)
                    else list(unique_key)
                )
                if not ukey:
                    raise ValueError(
                        "unique_key must name at least one column"
                    )
                have = {n for n, _ in incoming}
                miss = [c for c in ukey if c not in have]
                if miss:
                    raise ValueError(
                        f"unique_key columns {miss} not in the frame"
                    )
            return incoming, pby, spec, [], cby, ukey, []
        table_pby = list(cur.get("partition_by") or [])
        if partition_by is not None and list(partition_by) != table_pby:
            raise ValueError(
                f"append_snapshot: partition_by {list(partition_by)} does "
                f"not match the table's {table_pby} — partitioning is "
                "fixed at table creation"
            )
        table_cby = list(cur.get("cluster_by") or [])
        if cluster_by is not None:
            want = (
                [cluster_by]
                if isinstance(cluster_by, str)
                else list(cluster_by)
            )
            if want != table_cby:
                raise ValueError(
                    f"append_snapshot: cluster_by {want} does not match "
                    f"the table's {table_cby} — clustering is fixed at "
                    "table creation"
                )
        table_ukey = list(cur.get("unique_key") or [])
        if unique_key is not None:
            want_u = (
                [unique_key]
                if isinstance(unique_key, str)
                else list(unique_key)
            )
            if want_u != table_ukey:
                raise ValueError(
                    f"append_snapshot: unique_key {want_u} does not "
                    f"match the table's {table_ukey} — the constraint "
                    "is fixed at table creation"
                )
        table = cur.get("schema")
        if table is None:  # legacy manifest: one footer read, then stamped
            table = _frame_schema_pairs(
                spark.read.parquet(
                    fs.join(cur["segments"][-1])
                )
            )
        have, got = dict(map(tuple, table)), dict(map(tuple, incoming))
        added: list = []
        if schema_mode == "merge":
            missing_pby = [c for c in table_pby if c not in got]
            if missing_pby:
                raise ValueError(
                    f"append_snapshot: partition columns {missing_pby} "
                    "missing from the batch — additive evolution never "
                    "relaxes the partition layout"
                )
            added = [
                [name, typ] for name, typ in incoming if name not in have
            ]
            retired = set(cur.get("retired_names") or ())
            clash = sorted({n for n, _ in added} & retired)
            if clash:
                raise ValueError(
                    f"append_snapshot: columns {clash} were previously "
                    "renamed away or dropped from this table — re-adding "
                    "the name would resurrect the old physical bytes in "
                    "pre-change segments (this layer has no parquet "
                    "field-id mapping); use a fresh column name"
                )
            table = list(table) + added
        elif set(got) != set(have):
            raise ValueError(
                f"append_snapshot: columns {sorted(got)} do not match "
                f"the table's {sorted(have)} — append tables are "
                "fixed-schema (pass schema_mode='merge' for additive "
                "evolution, or write_snapshot for rewrites)"
            )
        drift = {
            c: (have[c], got[c])
            for c in have
            if c in got and have[c] != got[c]
        }
        upcast_batch: list = []
        if drift and schema_mode == "merge":
            # TYPE-WIDENING evolution (the public Delta type-widening
            # set): a merge batch may WIDEN a column (int→bigint,
            # float→double, ...) — the manifest records the widened
            # type and old segments read through the widened schema
            # (Spark's parquet reader upcasts natively; zone-map
            # bounds are already ints/floats, valid as-is). A batch
            # NARROWER than the table is upcast to the table type
            # (always exact, never evolution). Anything else —
            # narrowing the table, string↔number, decimal changes —
            # still refuses loudly.
            widen, rest = {}, {}
            for c, (t, g) in drift.items():
                if _widens(t, g) and c not in (table_pby or []):
                    widen[c] = g
                elif _widens(g, t):
                    upcast_batch.append((c, t))
                else:
                    rest[c] = (t, g)
            drift = rest
            if widen:
                table = [
                    [n, widen.get(n, t)] for n, t in table
                ]
        if drift:
            raise ValueError(
                "append_snapshot: column type mismatch "
                + ", ".join(
                    f"{c}: table={t!r} vs append={g!r}"
                    for c, (t, g) in sorted(drift.items())
                )
                + " — only the safe widenings (int-chain, "
                "float→double) evolve under schema_mode='merge'; cast "
                "the batch or rewrite the table (upsert_snapshot) for other "
                "schema changes"
            )
        table_spec = cur.get("sketch_spec")
        if sketch_spec is not None:
            if _validate_sketch_spec(sketch_spec, table) != table_spec:
                raise ValueError(
                    "append_snapshot: sketch_spec does not match the "
                    f"table's {table_spec!r} — the spec is fixed at "
                    "table creation (sidecars must merge)"
                )
        return (
            table, table_pby, table_spec, added, table_cby, table_ukey,
            upcast_batch,
        )

    if on_conflict not in ("error", "drop"):
        raise ValueError(
            f"on_conflict must be 'error' or 'drop', got {on_conflict!r}"
        )
    cur = _read_log(fs)
    checked = check(cur)
    if checked is None:
        return cur["version"]
    schema, pby, spec, added, cby, ukey, upcasts = checked
    batch_df = frame.df
    if upcasts:
        from pyspark.sql import functions as F

        for c, t in upcasts:  # narrow batch → table type (exact)
            batch_df = batch_df.withColumn(c, F.col(c).cast(t))
    exps = _resolve_expectations(expectations, cur)
    out_df, exp_drops = (
        _enforce_expectations(batch_df, exps, schema)
        if exps
        else (batch_df, {})
    )
    if ukey:
        out_df = _enforce_unique(spark, fs, cur, out_df, ukey, on_conflict)
    if cby:
        # clustered table: one range shuffle of the batch so each
        # written file covers a narrow cluster-key slice
        out_df = _cluster_shape(out_df, cby, cluster_files)
    staged = _stage_segment(
        spark, fs, (cur["version"] if cur else 0) + 1, out_df, schema, pby,
        cby, collect_stats, spec,
    )

    def build(cur):
        log = _log_with_extras(cur or {})
        if batch_id is not None:
            old = log["watermarks"].get(key)
            log["watermarks"][key] = (
                batch_id if old is None else max(old, batch_id)
            )
        if added:
            _grow_log_schema(log, added, f"append to {table_dir!r}")
        log["schema"] = schema  # with this batch's widenings
        # the layout this batch was written with: the table's, or the
        # one a first append stamps
        _stamp_layout(
            log, partition_by=pby, cluster_by=cby, unique_key=ukey,
            sketch_spec=spec, expectations=exps,
        )
        _add_segment(log, staged)
        if exp_drops:  # per-version audit field, not carried forward
            log["expectation_drops"] = exp_drops
        return log

    def on_race(old, new):
        nonlocal schema, added
        checked = check(new)
        if checked is None:  # the winner WAS this batch (replay race)
            return new["version"]  # our segment is an orphan; vacuum
        # rebased upcasts are moot: the segment is already on disk
        # (narrower files read through the table schema natively)
        schema, r_pby, r_spec, added, r_cby, r_ukey, _ = checked
        for name, theirs, ours, how in (
            ("partition_by", r_pby, pby, "written with"),
            ("sketch_spec", r_spec, spec, "sketched with"),
            ("cluster_by", r_cby, cby, "clustered with"),
            ("unique_key", r_ukey, ukey, "checked against"),
        ):
            if theirs != ours:  # a first-append race decided a
                raise ValueError(  # different layout than we wrote
                    f"append_snapshot: a concurrent first append fixed "
                    f"{name}={theirs!r} but this batch was {how} "
                    f"{ours!r} — re-run the append"
                )
        prev_segs = set((old or {}).get("segments") or ())
        new_segs = [s for s in new["segments"] if s not in prev_segs]
        if ukey and new_segs:
            # the uniqueness probe ran against the snapshot we read; a
            # winner's NEW segments were never probed — a silent
            # violation would slip through the rebase
            batch_keys = (
                _read_parquet_at(spark, schema, fs.join(staged["seg"]))
                .select(*ukey)
                .na.drop()
                .distinct()
            )
            hit = _probe_existing_keys(
                spark, fs, new, batch_keys, ukey, segs=new_segs
            )[0].first()
            if hit is not None:
                raise ConcurrentWriteError(
                    f"append to {table_dir!r}: a concurrent append "
                    f"committed key {tuple(hit[c] for c in ukey)} this "
                    "batch also carries — UNIQUE constraint cannot "
                    "rebase; re-run the append (the staged segment is "
                    "an orphan vacuum sweeps)"
                )
        return None

    return _commit(fs, cur, build, on_race, f"append to {table_dir!r}")


def reset_append_watermark(
    table_dir: str, app_id: str | None = None, spark: SparkSession | None = None
) -> int:
    """Clear one writer's exactly-once watermark by publishing a new
    log version without it — the recovery hook for the checkpoint-reset
    hazard (a recreated streaming checkpoint restarts batch ids at 0,
    which the old watermark would silently swallow as replays). Same
    segments, same schema, same other apps' watermarks. Returns the
    new log version."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    # every metadata family carries through; only the one watermark
    # slot is dropped
    log = _log_with_extras(cur)
    log["watermarks"].pop(app_id or _DEFAULT_APP, None)
    return _commit(
        fs, cur, lambda _: log, None,
        f"reset_append_watermark on {table_dir!r}",
    )


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _word_in_predicates(word: str, exps) -> bool:
    """Conservative reference check: does any expectation predicate
    string mention ``word`` as a whole identifier? The log stores each
    spec as ``[predicate, action]`` (``_normalize_expectations``); a
    bare string or ``{"predicate": ...}`` dict is read too."""
    pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(word)}(?![A-Za-z0-9_`])")
    for spec in (exps or {}).values():
        if isinstance(spec, (list, tuple)):
            pred = spec[0] if spec else ""
        elif isinstance(spec, dict):
            pred = spec.get("predicate", "")
        else:
            pred = spec
        if pat.search(str(pred or "")):
            return True
    return False


def _rename_drop_guards(cur: dict, col: str, table_dir: str, what: str):
    """Shared refusals for rename/drop: the column must exist and must
    not anchor any structure whose machinery addresses it by its
    WRITE-TIME name (partition directories, cluster file stats, the
    UNIQUE constraint, bloom/histogram sidecars, expectations)."""
    schema = cur.get("schema") or []
    names = {n for n, _ in schema}
    if col not in names:
        raise ValueError(
            f"{what}: column {col!r} is not in the table schema "
            f"({sorted(names)})"
        )
    for key, label in (
        ("partition_by", "a partition column"),
        ("cluster_by", "a cluster_by column"),
        ("unique_key", "part of the UNIQUE constraint"),
    ):
        if col in (cur.get(key) or []):
            raise ValueError(
                f"{what}: {col!r} is {label} of {table_dir!r} — its "
                "directory layout / file stats / constraint machinery "
                "address it by the write-time name; use "
                "migrate_rename_append_column (rewrite-backed: one "
                "full-table rewrite, structures translated, one "
                "atomic commit) to rename it"
            )
    spec = cur.get("sketch_spec") or {}
    sketched = (
        set(spec.get("bloom") or ())
        | set(spec.get("distinct") or ())
        | set(
            (spec.get("histogram") or {}).keys()
            if isinstance(spec.get("histogram"), dict)
            else ()
        )
    )
    if col in sketched:
        raise ValueError(
            f"{what}: {col!r} carries sketch sidecars (spec {spec!r}) "
            "keyed by the write-time name — the spec is fixed at table "
            "creation; use migrate_rename_append_column (rewrite-backed) "
            "to rename it"
        )
    if _word_in_predicates(col, cur.get("expectations")):
        raise ValueError(
            f"{what}: {col!r} appears in the table's quality "
            "expectations — update the expectations first (they are "
            "predicate strings and would silently stop matching), or "
            "use migrate_rename_append_column, which rewrites them"
        )


def rename_append_column(
    table_dir: str, old: str, new: str, spark: SparkSession | None = None
) -> int:
    """RENAME a column of an append table — METADATA-ONLY (the Delta
    `ALTER TABLE RENAME COLUMN` capability, rebuilt without parquet
    field-id mapping): no data file is touched. The commit rewrites
    the manifest schema entry and records the rename ERA boundary
    ``{"at": n, "from": old, "to": new}``; reads resolve each
    segment's physical name through its creation version (encoded in
    the segment name), grouped into ONE scan relation per era — scan
    count ∝ renames, never ∝ segments.

    The old name is RETIRED: re-adding it via schema evolution
    refuses loudly (the old physical bytes in pre-rename segments
    would otherwise resurrect under the new column — exactly the
    hazard Delta's field-ids exist to prevent; retiring the name is
    the sound jar-free answer). Renaming partition / cluster /
    unique-key / sketched / expectation-referenced columns refuses —
    their machinery addresses the write-time name.

    Zone-map pruning note: per-segment stats stay keyed by write-time
    names, and missing stats always mean KEEP, so predicates on the
    new name stop pruning segments written before the rename (sound,
    never wrong) until compaction folds them into the new era.

    Incremental caveat: ``read_append_cdf`` refuses windows that
    cross a rename (a typed change feed cannot union two name eras);
    ``read_append_changes`` handles them via the same era-aware scan.

    Returns the new log version."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    if not _IDENT_RE.match(new):
        raise ValueError(
            f"rename_append_column: {new!r} is not a plain identifier"
        )
    _rename_drop_guards(cur, old, table_dir, "rename_append_column")
    names = {n for n, _ in cur.get("schema") or []}
    if new in names:
        raise ValueError(
            f"rename_append_column: {new!r} already exists in the schema"
        )
    if new in set(cur.get("retired_names") or ()):
        raise ValueError(
            f"rename_append_column: {new!r} was previously renamed away "
            "or dropped — reusing it would resurrect old physical bytes; "
            "pick a fresh name"
        )
    log = _log_with_extras(cur)
    n = log["version"]
    log["schema"] = [
        [new if c == old else c, t] for c, t in cur.get("schema") or []
    ]
    log["renames"] = list(cur.get("renames") or ()) + [
        {"at": n, "from": old, "to": new}
    ]
    log["retired_names"] = sorted(
        set(cur.get("retired_names") or ()) | {old}
    )
    return _commit(
        fs, cur, lambda _: log, None, f"rename_append_column on {table_dir!r}"
    )


def migrate_rename_append_column(
    spark: SparkSession,
    table_dir: str,
    old: str,
    new: str,
    cluster_files: int | None = None,
) -> int:
    """Rewrite-backed rename for the columns the METADATA-ONLY
    :func:`rename_append_column` refuses — partition / cluster /
    unique-key / sketched / expectation-referenced columns, whose
    machinery addresses the write-time name. The escape path a user
    who clustered on ``user_id`` and must rename it actually needs:

    - the CURRENT live rows (deletion vectors applied, every name era
      resolved) are rewritten as ONE new segment carrying the new
      physical name — data movement is the open price, one full
      table read + write, exactly a whole-table compaction;
    - every structure translates with it: partition directories are
      laid out under the new name, cluster file stats / zone maps /
      sketch sidecars are recomputed against the new segment,
      the UNIQUE constraint and expectation predicates are rewritten
      (word-boundary substitution — column names are plain
      identifiers), and pruning works under the new name immediately
      (no stale-era "missing stats ⇒ keep" window);
    - published as ONE atomic commit (the standard CAS pointer swap):
      readers see either the old table or the fully-migrated one.
      A concurrent commit surfaces as :class:`ConcurrentWriteError` —
      re-run the migration.

    The old name is retired exactly like the metadata-only path, and
    prior rename-era entries stay recorded for time travel (the new
    segment post-dates every era, so head reads alias nothing).
    Versions before the migration remain readable via ``version=`` —
    vacuum ages their files out. Returns the new log version."""
    import re as _re

    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    if not _IDENT_RE.match(new):
        raise ValueError(
            f"migrate_rename_append_column: {new!r} is not a plain "
            "identifier"
        )
    schema = cur.get("schema") or []
    names = {n for n, _ in schema}
    if old not in names:
        raise ValueError(
            f"migrate_rename_append_column: column {old!r} is not in the "
            f"table schema ({sorted(names)})"
        )
    if new in names:
        raise ValueError(
            f"migrate_rename_append_column: {new!r} already exists in "
            "the schema"
        )
    if new in set(cur.get("retired_names") or ()):
        raise ValueError(
            f"migrate_rename_append_column: {new!r} was previously "
            "renamed away or dropped — reusing it would resurrect old "
            "physical bytes; pick a fresh name"
        )
    df = read_append_snapshot(spark, table_dir).df.withColumnRenamed(
        old, new
    )
    new_schema = [[new if c == old else c, t] for c, t in schema]
    pby = [new if c == old else c for c in (cur.get("partition_by") or [])]
    cby = [new if c == old else c for c in (cur.get("cluster_by") or [])]
    ukey = [new if c == old else c for c in (cur.get("unique_key") or [])]
    spec = cur.get("sketch_spec")
    if spec:
        ren = lambda c: new if c == old else c  # noqa: E731
        spec = dict(spec)
        if spec.get("distinct"):
            spec["distinct"] = [ren(c) for c in spec["distinct"]]
        if spec.get("histogram"):
            spec["histogram"] = {
                ren(c): v for c, v in spec["histogram"].items()
            }
        if spec.get("bloom"):
            spec["bloom"] = {ren(c): v for c, v in spec["bloom"].items()}
    exps = cur.get("expectations")
    if exps:
        pat = _re.compile(rf"(?<![\w`]){_re.escape(old)}(?![\w`])")
        exps = {
            k: [pat.sub(new, v[0]), v[1]] for k, v in exps.items()
        }
    n = cur["version"] + 1
    conformed = _conform_schema(df, new_schema)
    if cby:
        # cluster_files sizes the re-clustered layout (the write-time
        # knob append_snapshot takes): the migration folds the WHOLE
        # table into one segment, so pick it ∝ table bytes / target
        # file size to keep file-grain pruning selective
        conformed = _cluster_shape(conformed, cby, cluster_files)
    staged = _stage_segment(
        spark, fs, n, conformed, new_schema, pby, cby,
        bool(cur.get("stats")), spec,
    )
    log = _log_with_extras(cur, n, [])
    log["schema"] = new_schema
    _stamp_layout(
        log, partition_by=pby, cluster_by=cby, unique_key=ukey,
        sketch_spec=spec, expectations=exps,
    )
    _add_segment(log, staged)
    log["retired_names"] = sorted(
        set(cur.get("retired_names") or ()) | {old}
    )
    return _commit(
        fs, cur, lambda _: log, None,
        f"migrate_rename_append_column on {table_dir!r}",
    )


def drop_append_column(
    table_dir: str, col: str, spark: SparkSession | None = None
) -> int:
    """DROP a column of an append table — METADATA-ONLY: the manifest
    schema loses the entry, reads stop selecting it, no data file is
    rewritten (the bytes age out through compaction/vacuum, Delta's
    drop-without-rewrite model). The name is RETIRED — re-adding it
    refuses loudly, because pre-drop segments still hold the physical
    bytes and a same-named new column would resurrect them. The same
    structural guards as :func:`rename_append_column` apply. Returns
    the new log version."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    _rename_drop_guards(cur, col, table_dir, "drop_append_column")
    schema = [p for p in (cur.get("schema") or []) if p[0] != col]
    if not schema:
        raise ValueError(
            f"drop_append_column: {col!r} is the table's only column"
        )
    log = _log_with_extras(cur)
    log["schema"] = schema
    log["retired_names"] = sorted(
        set(cur.get("retired_names") or ()) | {col}
    )
    # rename entries whose target is the dropped column stay in the
    # list: older segments' READS of other columns don't consult them,
    # and era resolution only walks entries whose "to" is still live
    return _commit(
        fs, cur, lambda _: log, None, f"drop_append_column on {table_dir!r}"
    )


def read_append_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
    where: str | None = None,
    as_of=None,
) -> Frame:
    """Read the published log version (default), a pinned earlier one
    (``version=``, time travel), or the version live at a wall-clock
    instant (``as_of=`` epoch/datetime/ISO string —
    :func:`append_version_as_of`): one multi-path parquet scan over
    the live segments —
    Spark plans it as a single datasource relation, so filter pushdown
    and column pruning apply across every segment at once (partitioned
    tables read per-segment with partition discovery and union, same
    pushdown per child). Segments were written by this layer from
    already-normalized Frames, so no re-normalization pass is needed.

    ``partition_filter`` ({col: value-or-list}, partitioned tables
    only) prunes whole segments from the MANIFEST's recorded partition
    values — zero filesystem listing for segments that cannot match —
    and directory-prunes within the segments that can. Ordinary
    ``.filter()`` on partition columns also directory-prunes (Catalyst
    partition pruning); the manifest level is what the filter argument
    adds.

    ``stats_filter`` ({col: value | (op, value) | [(op, value), ...]},
    ops ``== < <= > >= in``) prunes on the manifest's ZONE MAPS the
    same way: segments whose recorded min/max/null-count prove no row
    can match contribute no listing, no footer read, no bytes; the
    identical predicate is applied as a real filter over the
    survivors, so the result is exactly ``read + filter`` at a
    fraction of the IO when appends are range-clustered (time-ordered
    ingest, monotone ids). On a CLUSTERED table (``append_snapshot(
    cluster_by=)``) the same arithmetic additionally prunes at FILE
    grain inside surviving segments — a key probe opens only the
    files whose recorded range can match, regardless of arrival
    order.

    ``where`` (a free-form string predicate) composes both: its
    implied col-op-literal conjuncts are COMPILED into a
    ``stats_filter`` automatically (:func:`_derive_stats_filter` —
    manifest pruning with zero extra syntax) and the full predicate is
    applied over the result, so ``read_append_snapshot(spark, d,
    where="price > 100 and cat == 'a'")`` is exactly
    ``read + filter`` with the dict form's IO profile. An underivable
    predicate just reads everything and filters."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version= or as_of=, not both")
        version = append_version_as_of(table_dir, as_of, spark)
    fs = _TableFS(table_dir, spark)
    log = _require_log(fs, table_dir, version)
    if not log["segments"]:
        raise FileNotFoundError(f"log version {log['version']} has no segments")
    derived = (
        _derive_stats_filter(where, log.get("schema"))
        if where is not None
        else None
    )
    if derived and stats_filter:
        derived = None  # explicit stats_filter wins; don't merge
    dpf = (
        _derive_pfilter(where, log.get("partition_by"), log.get("schema"))
        if where is not None and partition_filter is None
        else None
    )
    try:
        out = _read_segments(
            spark, fs, log, log["segments"],
            partition_filter if partition_filter else dpf,
            stats_filter if stats_filter else derived,
        )
    except ValueError:
        if derived is None and dpf is None:
            raise
        out = _read_segments(  # derivation mismatched: full scan
            spark, fs, log, log["segments"], partition_filter, stats_filter
        )
    frame = Frame(out, ())
    return frame.filter(where) if where is not None else frame


def explain_append_scan(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
    where: str | None = None,
) -> Frame:
    """The scan-planning report for a prospective read — EXPLAIN for
    the manifest-pruning stack: one row per segment in the (pinned)
    log with the decision the reader would make for the SAME
    arguments and the reason, from PURE MANIFEST METADATA (plus one
    tiny sidecar read per surviving segment when bloom filters
    engage — exactly what the read itself would pay). Nothing is
    listed or scanned, so this is safe to run against a
    100 TB table from a notebook to answer "why is my delete slow"
    or "did my predicate actually prune" before paying for the read.

    Columns: ``segment``, ``kind`` (``seg``/``fold``), ``action``
    (``scan``/``pruned``), ``pruned_by`` (``zone_map`` — min/max or
    dictionary miss — ``bloom``, ``file_zone_map`` — every FILE of a
    clustered segment provably misses — ``fully_deleted``,
    ``partition``, or NULL for survivors), ``rows``
    (manifest-recorded, NULL when the table carries no stats),
    ``delete_count``, ``live_rows``, ``dv_files``, ``partition_dirs``,
    on clustered tables ``files_total``/``files_scan`` (the
    file-grain budget the read would actually open per segment), and
    on renamed tables ``era``/``aliases`` — how many rename
    boundaries the segment post-dates (``era == #renames`` is the
    head era) and the ``head<-physical`` column names its scan
    resolves through (NULL when none — the segment already carries
    head names).

    Decision parity is the contract (tested): a segment reported
    ``scan`` is opened by :func:`read_append_snapshot` with the same
    arguments and a segment reported ``pruned`` is not, including the
    precedence rules — an explicit ``stats_filter``/
    ``partition_filter`` beats the ``where``-derived form, and a
    ``where`` whose derivation mismatches the schema degrades to the
    full scan exactly like the read does."""
    fs = _TableFS(table_dir, spark)
    log = _require_log(fs, table_dir, version)
    schema = log.get("schema")
    pby = log.get("partition_by") or []
    if partition_filter and not pby:
        raise ValueError(
            "partition_filter on an unpartitioned append table "
            f"(no partition_by in the log at {fs.dir!r})"
        )
    derived = (
        _derive_stats_filter(where, schema) if where is not None else None
    )
    if derived and stats_filter:
        derived = None  # explicit stats_filter wins, like the read
    dpf = (
        _derive_pfilter(where, pby, schema)
        if where is not None and partition_filter is None
        else None
    )
    sf = stats_filter if stats_filter else derived
    pfil = partition_filter if partition_filter else dpf
    segs = list(log["segments"])
    reason: dict[str, str] = {}
    file_sel: dict = {}
    smap = log.get("stats") or {}
    # 1) zone maps / dictionaries, then bloom sidecars — same order as
    # _read_segments
    if sf:
        try:
            sfilt = _normalize_stats_filter(sf, schema)
        except ValueError:
            if stats_filter:
                raise  # explicit dict: surface, like the read
            sfilt = None  # derived mismatch: read degrades to full scan
        if sfilt is not None:
            survivors = []
            for s in segs:
                if _seg_stats_match(smap.get(s), sfilt):
                    survivors.append(s)
                else:
                    reason[s] = "zone_map"
            if (log.get("sketch_spec") or {}).get("bloom"):
                kept = set(_bloom_prune(spark, fs, log, survivors, sfilt))
                for s in survivors:
                    if s not in kept:
                        reason[s] = "bloom"
                survivors = [s for s in survivors if s in kept]
            # clustered tables: FILE-grain zone maps, same order as
            # the read — a fully file-pruned segment is never opened;
            # a partially pruned one reports its file budget below
            kept_f, file_sel = _file_prune(log, survivors, sfilt)
            kept_set = set(kept_f)
            for s in survivors:
                if s not in kept_set:
                    reason[s] = "file_zone_map"
            segs = kept_f
    # 2) fully-deleted segments contribute nothing
    cmap = log.get("delete_counts") or {}
    if cmap:
        left = []
        for s in segs:
            rows = (smap.get(s) or {}).get("rows")
            if s in cmap and rows is not None and int(cmap[s]) >= int(rows):
                reason[s] = "fully_deleted"
            else:
                left.append(s)
        segs = left
    # 3) manifest partition map
    if pfil:
        try:
            pf = _normalize_pfilter(
                pfil, dict(map(tuple, log.get("schema") or []))
            )
        except ValueError:
            if partition_filter:
                raise
            pf = None  # derived form never carries unrenderable values
        if pf is not None:
            unknown = set(pf) - set(pby)
            if unknown:
                raise ValueError(
                    f"partition_filter columns {sorted(unknown)} are not "
                    f"partition columns {pby}"
                )
            pmap = log.get("partitions") or {}
            left = []
            for s in segs:
                rels = pmap.get(s)
                if rels is None:
                    left.append(s)  # legacy manifest: keep, like the read
                    continue
                hit = any(
                    _pf_match(_partition_values(rel), pf)
                    for rel in rels
                )
                if hit:
                    left.append(s)
                else:
                    reason[s] = "partition"
            segs = left
    dmap = log.get("deletes") or {}
    pmap = log.get("partitions") or {}
    fsm = log.get("file_stats") or {}
    renames = log.get("renames") or []
    keep = set(segs)
    data = []
    for s in log["segments"]:
        rows = (smap.get(s) or {}).get("rows")
        dels = int(cmap.get(s, 0))
        n_files = len(fsm[s]) if s in fsm else None
        if s not in keep:
            n_scan = 0 if n_files is not None else None
        elif s in file_sel:
            n_scan = len(file_sel[s])
        else:
            n_scan = n_files
        # column-name era: which rename boundaries this segment
        # post-dates (era == len(renames) ⇒ head era, zero aliasing)
        # and the head←physical names its scan resolves through —
        # answers "why does this table read as N relations" without
        # reading the manifest by hand. Pure metadata, no read change.
        sv = _seg_version(s)
        era = sum(1 for r in renames if int(r["at"]) <= sv)
        al = _era_aliases(renames, sv, schema)
        alias_str = (
            ", ".join(f"{h}<-{p}" for h, p in sorted(al.items())) or None
        )
        data.append((
            s,
            "fold" if s.startswith("fold=") else "seg",
            "scan" if s in keep else "pruned",
            reason.get(s),
            rows,
            dels,
            None if rows is None else int(rows) - dels,
            len(dmap.get(s) or []),
            len(pmap.get(s) or []) if pby else None,
            n_files,
            n_scan,
            era,
            alias_str,
        ))
    out = spark.createDataFrame(
        data,
        "segment string, kind string, action string, pruned_by string, "
        "rows bigint, delete_count bigint, live_rows bigint, "
        "dv_files int, partition_dirs int, files_total int, "
        "files_scan int, era int, aliases string",
    )
    return Frame(out, ())


def set_append_expectations(
    spark: SparkSession, table_dir: str, expectations: dict | None
) -> int:
    """Set (or with ``None`` clear) the table's write-time
    EXPECTATIONS — named SQL predicates every future batch is
    validated against before anything lands, the jar-free analog of
    Delta's CHECK constraints / DLT expectations:
    ``{"positive_price": "price > 0"}`` (action ``fail`` — the batch
    is rejected whole), or ``{"has_id": ("id IS NOT NULL", "drop")}``
    (violating rows are filtered out and the count recorded in that
    version's ``expectation_drops``), or ``("...", "warn")``.
    Validation is ONE aggregate pass over the BATCH (cost ∝ batch,
    never the table) inside ``append_snapshot`` /
    ``update_append_rows`` / ``upsert_append_rows`` (and therefore
    every streaming sink built on them); a predicate evaluating to
    NULL passes, SQL CHECK semantics.

    This is a metadata-only versioned commit: no data is scanned or
    rewritten, EXISTING rows are not re-validated (the contract
    governs writes from this version on — Delta's ADD CONSTRAINT
    scans history, this deliberately does not), and the change feed
    sees nothing. Expectations can also be stamped at table creation
    via ``append_snapshot(..., expectations=...)``."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    norm = (
        _normalize_expectations(expectations)
        if expectations is not None
        else None
    )
    log = _log_with_extras(cur)
    if norm:
        log["expectations"] = norm
    else:
        log.pop("expectations", None)
    return _commit(
        fs, cur, lambda _: log, None,
        f"set_append_expectations on {table_dir!r}",
    )


def _log_for(log: dict, segs) -> dict:
    """``log`` cut down to ``segs``: its table-level fields (schema,
    layout, renames, specs) plus each segment-keyed family's entries
    for those segments only — what a later scan of ``segs`` reads, at
    a size ∝ ``segs`` instead of the table."""
    out = {
        k: v
        for k, v in log.items()
        if k not in _DELTA_MAP_KEYS and k != "segments"
    }
    out["segments"] = list(segs)
    for fam in _DELTA_MAP_KEYS:
        m = log.get(fam)
        sub = {s: m[s] for s in segs if s in m} if m else None
        if sub:
            out[fam] = sub
    return out


class _Step(NamedTuple):
    """One version of a change-feed window, read from the log alone."""

    version: int
    # segments whose rows the version inserts — the raw ``seg=``
    # segments it added; for a restore every segment it re-added — and
    # the version's state cut to them (their partition and zone maps
    # as added; a restore's DVs at this version)
    inserts: list
    log: dict
    # non-maintenance DV dirs the version added -> their owner
    # segments, from the log's ``deletes`` map
    dvs: dict
    # segments whose rows still live at the previous version the
    # version deleted whole — tombstoned (count rose with no new DV
    # file) or dropped by a data change (a restore, or a replacing
    # write) — and the previous state cut to them
    tombstoned: list
    prev: dict | None
    has_deletes: bool  # rows live at the previous version were deleted
    restored_from: int | None


class _Window(NamedTuple):
    """The change-feed window ``(since, end]`` as :func:`_walk_window`
    read it."""

    since: int
    cur: dict  # the state at ``end``
    steps: list
    # (version, restored_from) pairs; read off the retained records
    # when a vacuumed one stopped the walk
    restores: list
    # the vacuumed-record error that stopped the walk (steps are then
    # empty and every projection raises it), else None
    missing: FileNotFoundError | None
    renamed: bool  # the rename list differs between since and end
    # window segments dropped before ``end`` -> (DV dirs, delete
    # count) at the last version they were live, or None when a
    # restore dropped them (no row of theirs is in the table then)
    gone: dict
    # version of a fold that absorbed window segments and then took
    # deletes by ``end`` (the first such fold), else None
    fold_deleted: int | None

    @property
    def has_deletes(self) -> bool:
        return any(st.has_deletes for st in self.steps)


def _walk_window(fs: _TableFS, table_dir: str, since: int,
                 version: int | None = None) -> _Window:
    """THE change-feed walk: every reader of the log window ``(since,
    version]`` — ``read_append_changes``, ``read_append_cdf``, both
    tails and the view refresh — is a projection of this one
    metadata-only pass. It reconstructs the state at ``since`` once,
    rolls the retained ``_LOG.<k>`` records forward
    (:func:`_iter_log_states`) and diffs consecutive states into one
    :class:`_Step` per version. Compaction folds, DV maintenance
    rewrites (``dvm=``/``dvm2=``) and segment-preserving republishes
    contribute no inserts or DVs (``dataChange=false``). A version
    that adds a ``seg=`` segment or restores is a data change: the
    live segments it drops delete their rows. A restore inserts every
    segment it re-adds, at its own DVs. (A restore that changes the
    deletes of a segment live on both sides of it emits nothing for
    that segment.)

    A vacuumed record stops the roll (``missing``); the walk then still
    reads ``restored_from`` off every retained record, so a consumer
    whose partly vacuumed window crosses a retained restore takes its
    restore path instead of failing (raw records carry the field
    explicitly, see :func:`_log_delta`)."""
    if since < 0:
        raise ValueError(f"since_version {since} is negative")
    cur = _require_log(fs, table_dir, version)
    end = cur["version"]
    if since > end:
        raise ValueError(
            f"since_version {since} is past log version {end}"
        )
    steps: list = []
    gone: dict = {}
    taint: dict = {}  # fold segment -> version of the fold
    window: set = set()
    fold_deleted = None
    renamed = False
    try:
        states = _iter_log_states(fs, max(since, 1), end)
        prev = next(states)[1] if since > 0 else {}
        renamed = (prev.get("renames") or []) != (cur.get("renames") or [])
        psegs = set(prev.get("segments") or ())
        for k, log in states:
            segs = log["segments"]
            live = set(segs)
            added = [s for s in segs if s not in psegs]
            inserts = [s for s in added if s.startswith("seg=")]
            pd, sd = prev.get("deletes") or {}, log.get("deletes") or {}
            pc = prev.get("delete_counts") or {}
            sc = log.get("delete_counts") or {}
            rose = [] if sc is pc else [
                s for s, n in sc.items() if int(n) > int(pc.get(s, 0))
            ]
            dvs: dict = {}
            if sd is not pd:
                changed = [
                    s for s, ds in sd.items() if _changed(pd.get(s, _MISS), ds)
                ]
                fresh = {d for s in changed for d in sd[s]}
                if fresh:
                    fresh -= {d for ds in pd.values() for d in ds}
                for d in sorted(fresh):
                    if not _dv_is_maintenance(d):
                        dvs[d] = sorted(s for s in changed if d in sd[s])
            tomb = sorted(
                s for s in rose
                if s in psegs and sd.get(s, []) == pd.get(s, [])
            )
            rf = log.get("restored_from")
            if rf is not None:
                # a restore inserts every segment it re-adds, of any
                # kind, at the target's DVs (no DV of its own is a
                # delete event)
                inserts, dvs = added, {}
            # a data change (a restore, or a version adding raw rows)
            # deletes the rows of the live segments it drops; a fold or
            # a dead-segment drop moves or drops no live row
            data_change = rf is not None or bool(inserts)
            if data_change:
                tomb = sorted(set(tomb) | (psegs - live))
            # apply_deletes bookkeeping: a window segment's DVs as of
            # the last version it was live, and the folds that took in
            # window rows (a later delete there has no way back to them)
            absorbed = False
            for s in psegs - live:
                if s in window:
                    gone[s] = None if data_change else (
                        list(pd.get(s) or ()), int(pc.get(s, 0))
                    )
                absorbed = absorbed or s in window or s in taint
            for s in inserts:
                gone.pop(s, None)  # re-added by a restore
            window.update(inserts)
            if absorbed and rf is None:
                taint.update((s, k) for s in added if s.startswith("fold="))
            if fold_deleted is None:
                fold_deleted = min(
                    (taint[s] for s in rose if s in taint), default=None
                )
            steps.append(_Step(
                k, inserts, _log_for(log, inserts), dvs, tomb,
                _log_for(prev, tomb) if tomb else None,
                bool(tomb) or (rf is None and bool(rose)), rf,
            ))
            prev, psegs = log, live
    except FileNotFoundError as e:
        restores = []
        for k in range(since + 1, end + 1):
            try:
                rec = _read_log_rec(fs, k)
            except FileNotFoundError:
                continue
            # top-level in full form, inside "set" in delta form
            rf = rec.get("restored_from")
            if rf is None:
                rf = (rec.get("set") or {}).get("restored_from")
            if rf is not None:
                restores.append((k, rf))
        return _Window(since, cur, [], restores, e, renamed, {}, None)
    restores = [
        (st.version, st.restored_from)
        for st in steps
        if st.restored_from is not None
    ]
    return _Window(
        since, cur, steps, restores, None, renamed, gone, fold_deleted
    )


def _window_logs(win: _Window, steps) -> list[tuple[dict, list]]:
    """The inserts of ``steps`` as ``[(log, segments), ...]``, one
    pair per partition layout — one in practice; a replacing
    ``write_snapshot`` or a partition-column migration changes the
    layout mid-window. Each log is the end state's table-level fields
    with that layout and each segment's partition and zone maps from
    the version that ADDED it: a later fold drops folded segments from
    the current maps, and losing them would degrade a window spanning
    the fold from manifest-level pruning to a listing of every segment
    in the window. No deletion vectors: the rows as appended."""
    out: dict = {}
    for st in steps:
        if not st.inserts:
            continue
        pby = tuple(st.log.get("partition_by") or ())
        if pby not in out:
            log = _log_for(win.cur, ())
            _stamp_layout(log, partition_by=list(pby))
            out[pby] = (log, {})
        log, segs = out[pby]
        segs.update(dict.fromkeys(st.inserts))  # ordered, deduplicated
        for fam in ("partitions", "stats", "file_stats"):
            if st.log.get(fam):
                log[fam] = {**(log.get(fam) or {}), **st.log[fam]}
    return [(log, list(segs)) for log, segs in out.values()]


def _changes_frame(
    spark, fs: _TableFS, win: _Window, partition_filter=None,
    stats_filter=None, apply_deletes: bool = False, where=None,
) -> Frame:
    """The insert projection of a window walk — see
    :func:`read_append_changes`."""
    if win.missing is not None:
        raise win.missing
    cur = win.cur
    # a restore's inserts are its rows live at that version: one scan
    # at its own DVs per restore (apply_deletes reads every window
    # segment at the DVs of the last version it was live)
    scans = _window_logs(win, [
        st for st in win.steps if apply_deletes or st.restored_from is None
    ]) + [
        (st.log, st.inserts) for st in win.steps
        if not apply_deletes and st.restored_from is not None and st.inserts
    ]
    if not scans:
        schema = cur.get("schema")
        if schema is not None:
            return Frame(spark.createDataFrame([], _schema_ddl(schema)), ())
        return Frame(
            read_append_snapshot(spark, fs.dir, cur["version"]).df.limit(0),
            (),
        )
    derived_any = False
    if where is not None:
        # same derivation as read_append_snapshot(where=): implied
        # conjuncts prune through zone maps / the partition map, the
        # full predicate (applied below) guards exactness
        if stats_filter is None:
            stats_filter = _derive_stats_filter(where, cur.get("schema"))
            derived_any = derived_any or stats_filter is not None
        if partition_filter is None:
            partition_filter = _derive_pfilter(
                where, cur.get("partition_by"), cur.get("schema")
            )
            derived_any = derived_any or partition_filter is not None
    if apply_deletes:
        if win.fold_deleted is not None:
            raise ValueError(
                "read_append_changes(apply_deletes=True): rows of this "
                "window were folded by the compaction at version "
                f"{win.fold_deleted}, and that fold took deletes by "
                f"version {cur['version']} — the log keeps no fold "
                "lineage to map them back to the window's rows; read "
                "read_append_snapshot instead"
            )
        # each window segment's DVs as of the last version it was
        # live: the end state for live ones, the walk's record for
        # segments a fold or dead-segment drop took out; segments a
        # data change dropped hold no live row
        gone = {s: g for s, g in win.gone.items() if g is not None}
        for _, segs in scans:
            segs[:] = [s for s in segs if s not in win.gone or s in gone]
        live = _log_for(cur, [s for _, segs in scans for s in segs])
        dmap = {s: d for s, (d, _) in gone.items() if d}
        cmap = {s: c for s, (_, c) in gone.items() if c}
        dmap.update(live.get("deletes") or {})
        cmap.update(live.get("delete_counts") or {})
        for log, _ in scans:
            log["deletes"], log["delete_counts"] = dmap, cmap
        scans = [sc for sc in scans if sc[1]] or scans[:1]

    def read(*filters):
        out = None
        for log, segs in scans:
            df = _read_segments(spark, fs, log, segs, *filters)
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        if len(scans) > 1 and cur.get("schema"):
            # pin the end schema's column order across the union
            out = out.select(
                *[n for n, _ in cur["schema"] if n in out.columns]
            )
        return Frame(out, ())

    try:
        out = read(partition_filter, stats_filter)
    except ValueError:
        if not derived_any:
            raise  # explicit caller filters: surface the misuse
        out = read()  # full scan
    return out.filter(where) if where is not None else out


def read_append_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
    apply_deletes: bool = False,
    where: str | None = None,
) -> Frame:
    """Incremental read: ONLY the rows appended after log version
    ``since_version`` (exclusive) up to ``version`` (inclusive; default
    the published log) — the jar-free change-data-feed for append
    tables, and the natural feed for incremental cross-corpus dedup
    (``flag_cross_duplicates``) and streaming decontamination: the
    downstream pipeline records the version it processed and each pass
    reads bytes ∝ NEW segments, never rescanning the corpus.

    Exact across compaction, the Delta CDF way: rather than diffing
    two snapshots (which would lose a post-``since`` segment folded
    before the read, and re-surface pre-``since`` rows inside the
    fold), this is the insert projection of the window walk
    (:func:`_walk_window` over the retained ``_LOG.<k>`` manifests in
    ``(since_version, version]``): the union of each version's NEWLY
    ADDED raw ``seg=`` segments, pruned by the partition and zone maps
    recorded when each was added. Compaction rewrites are ``fold=``
    segments — the ``dataChange=false`` analog — and are skipped: their
    rows were all visible in earlier versions. A restore inserts the
    segments it re-adds, of any kind, read at its own DVs.
    ``reset_append_watermark``'s segment-preserving republish adds
    nothing and reads as empty. ``since_version`` must be ``>= 0``.

    ``apply_deletes``: by default rows come AS APPENDED — later
    row-level deletes don't rewrite change history (the Delta CDF
    model, where a delete is its own change event; see
    :func:`read_append_cdf`). ``apply_deletes=True`` returns only the
    window's rows still live at ``version``: each window segment is
    read through its deletion vectors as of the LAST version it was
    live — the end version, or the version before a compaction folded
    it (the fold kept only its live rows, so those DVs cover every row
    deleted before the fold); a segment a restore dropped contributes
    nothing. A delete that lands on such a fold afterwards cannot be
    mapped back (the log keeps no fold lineage), so that window raises
    ``ValueError`` naming the fold version — read
    ``read_append_snapshot`` instead.

    Retention contract (same as Delta CDF): the walk needs the log
    manifests in the window and the raw segments they added — run
    ``vacuum_append_snapshot`` with ``keep_last`` at least the deepest
    reader lag, or a lagging reader gets ``FileNotFoundError`` here
    instead of silently wrong rows. Returns an EMPTY frame (correct
    table schema) when no rows were appended in the window.

    ``where`` (free-form string predicate) works like
    ``read_append_snapshot(where=)``: implied col-op-literal conjuncts
    compile into ``stats_filter`` pruning and partition-column
    equality conjuncts into ``partition_filter`` pruning
    automatically, with the full predicate applied over the result —
    ``read + filter`` semantics at pruned-IO cost over just the
    window's new segments."""
    fs = _TableFS(table_dir, spark)
    return _changes_frame(
        spark, fs, _walk_window(fs, table_dir, since_version, version),
        partition_filter, stats_filter, apply_deletes, where,
    )


def join_prune_filter(
    frame,
    col: str,
    fact_col: str | None = None,
    max_keys: int = 100_000,
) -> dict | None:
    """Dynamic file skipping from a join's SMALL side — the
    manifest-level analog of Spark's dynamic partition pruning and
    runtime bloom-filter joins, built on the ``stats_filter``
    machinery: collect the DISTINCT surviving join keys of an
    already-filtered dimension (driver-side, bounded by ``max_keys``)
    and return a ``stats_filter`` IN-clause for the fact-side read, so
    zone maps, dictionary sets AND bloom sidecars all engage on the
    key set — fact segments that provably hold none of the dimension's
    keys are never listed or opened.

    The 100 TB shape: ``fact ⋈ σ(dim)`` where the filtered dim is
    thousands of keys but the fact table is thousands of segments —
    without this the join scans every fact segment and discards most
    rows at the join; with it the read itself skips non-matching
    segments, and the residual IN predicate (a semi-join by value)
    also reaches the parquet row-group stats of the survivors. The
    subsequent join keeps the result exact either way, so the filter
    is purely an IO reducer.

    Past ``max_keys`` (collecting an unbounded key set to the driver
    is the one thing this must never do) the filter degrades to the
    key RANGE — one tiny aggregate, two driver values — which still
    prunes everything outside ``[min, max]``: exactly the
    time-ordered-ingest shape where a multi-million-key corrections
    batch spans a narrow recent band of a years-deep table. The range
    residual admits non-member rows, so use this (as the docstring
    example does) with a join/semi-join that is the exact matcher —
    which every internal caller (MERGE, DELETE-by-keys, the
    uniqueness probe) is. Returns ``None`` only when even the range
    is unknowable (all-NULL keys). NULL keys are dropped (an equality
    join never matches them; use ``eqNullSafe`` joins on the unpruned
    read if you need NULL↔NULL). Usage::

        keys = join_prune_filter(small_dim, "c_custkey", "o_custkey")
        fact = read_append_snapshot(spark, d, stats_filter=keys)
        out  = fact.inner_join(small_dim, by={"o_custkey": "c_custkey"})
    """
    from pyspark.sql import functions as F

    df = frame.df if isinstance(frame, Frame) else frame
    rows = df.select(col).distinct().limit(max_keys + 1).collect()
    if len(rows) > max_keys:
        b = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
        if b["mn"] is None:
            return None  # all-NULL keys: nothing derivable
        warnings.warn(
            f"join_prune_filter: more than {max_keys} distinct keys in "
            f"{col!r} — degrading from the exact key set to the key "
            f"RANGE [{b['mn']!r}, {b['mx']!r}] (still prunes everything "
            "outside the band; the join stays the exact matcher)",
            stacklevel=2,
        )
        return {fact_col or col: [(">=", b["mn"]), ("<=", b["mx"])]}
    keys = sorted(r[0] for r in rows if r[0] is not None)
    return {fact_col or col: ("in", keys)}


def _rm(fs: _TableFS, rel: str) -> None:
    """Delete the file or directory ``rel`` (an absent one is fine: a
    racing maintainer may have swept it first)."""
    target = fs.join(rel)
    if fs.remote:
        fs._fs.delete(fs._jpath(target), True)
    elif os.path.isdir(target):
        import shutil

        shutil.rmtree(target, ignore_errors=True)
    elif os.path.exists(target):
        os.remove(target)


def _log_with_extras(cur: dict, n: int | None = None,
                     segments: list[str] | None = None) -> dict:
    """A new log version carrying every metadata family forward for the
    surviving ``segments`` — the one place the carry rules live so a
    publish path can't silently drop deletion vectors or zone maps.
    Defaults: the version after ``cur``, over ``cur``'s segments (an
    empty ``cur`` stands for a table with no log yet)."""
    if n is None:
        n = cur.get("version", 0) + 1
    if segments is None:
        segments = list(cur.get("segments") or [])
    log = {
        "version": n,
        "segments": segments,
        "watermarks": _log_watermarks(cur),
        "schema": cur.get("schema"),
    }
    live = set(segments)
    if cur.get("partition_by"):
        log["partition_by"] = cur["partition_by"]
        pmap = cur.get("partitions") or {}
        log["partitions"] = {s: pmap[s] for s in segments if s in pmap}
    smap = cur.get("stats") or {}
    kept_stats = {s: smap[s] for s in segments if s in smap}
    if kept_stats:
        log["stats"] = kept_stats
    if cur.get("cluster_by"):
        log["cluster_by"] = cur["cluster_by"]
    if cur.get("unique_key"):
        log["unique_key"] = cur["unique_key"]
    fsm = cur.get("file_stats") or {}
    kept_files = {s: fsm[s] for s in segments if s in fsm}
    if kept_files:
        log["file_stats"] = kept_files
    if cur.get("sketch_spec"):
        log["sketch_spec"] = cur["sketch_spec"]
    if cur.get("expectations"):
        log["expectations"] = cur["expectations"]
    if cur.get("renames"):
        log["renames"] = cur["renames"]
    if cur.get("retired_names"):
        log["retired_names"] = cur["retired_names"]
    dmap = {
        s: v for s, v in (cur.get("deletes") or {}).items()
        if s in live and v
    }
    if dmap:
        log["deletes"] = dmap
    cmap = {
        s: v for s, v in (cur.get("delete_counts") or {}).items()
        if s in live and v
    }
    if cmap:
        log["delete_counts"] = cmap
    return log


def _stage_segment(spark, fs: _TableFS, n: int, df, schema, pby, cby,
                   stats: bool, spec) -> dict:
    """Write ``df`` as a new segment of version ``n`` and gather what
    its log entry records: partition dirs, zone maps (per-file ones
    for the cluster columns) when ``stats``, and the sketch sidecar
    when ``spec``. The name carries a random suffix, so the write
    never collides and only the log commit ever retries."""
    import uuid

    seg = f"seg={n}-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("errorifexists")
    if pby:
        writer = writer.partitionBy(*pby)
    writer.parquet(fs.join(seg))
    staged = {
        "seg": seg,
        "partitions": _partition_dirs(fs, seg, len(pby)) if pby else None,
    }
    staged["stats"], staged["file_stats"] = (
        _segment_stats(spark, fs, seg, schema, pby, file_cols=cby)
        if stats
        else (None, None)
    )
    if spec is not None:
        _write_segment_sketch(spark, fs, seg, spec)
    return staged


def _stamp_layout(log: dict, **fields) -> None:
    """Set the table-layout fields of a log being built, dropping the
    empty ones (and the partition map of an unpartitioned layout)."""
    for k, v in fields.items():
        if v:
            log[k] = v
        else:
            log.pop(k, None)
    if not log.get("partition_by"):
        log.pop("partitions", None)


def _add_segment(log: dict, staged: dict) -> None:
    """Add a :func:`_stage_segment` result to a log being built."""
    seg = staged["seg"]
    log["segments"] = list(log["segments"]) + [seg]
    # file stats carry independently of clustering — z-ordered
    # compaction folds record them on unclustered tables too
    for fam in ("partitions", "stats", "file_stats"):
        if staged[fam] is not None:
            log[fam] = {**(log.get(fam) or {}), seg: staged[fam]}


def _add_dvs(log: dict, dv_rel, counts: dict, tombstones=None) -> None:
    """Mark rows deleted in a log being built: each segment in
    ``counts`` gains the DV directory ``dv_rel`` and its row count;
    each segment in ``tombstones`` (fully replaced, no DV file) gains
    only the count."""
    dmap = dict(log.get("deletes") or {})
    cmap = dict(log.get("delete_counts") or {})
    for s, c in sorted({**counts, **(tombstones or {})}.items()):
        if s in counts:
            dmap[s] = list(dmap.get(s, [])) + [dv_rel]
        cmap[s] = int(cmap.get(s, 0)) + int(c)
    log["deletes"], log["delete_counts"] = dmap, cmap


def _grow_log_schema(log: dict, added, what: str) -> None:
    """Additive evolution of a log being built: append the ``added``
    columns to its schema and stamp the exact all-NULL zone maps on
    the segments that predate them. Checked against the head the log
    is built on, so a concurrent writer that added the same name with
    a different type is a conflict, not a merge."""
    have = dict(map(tuple, log.get("schema") or []))
    clash = sorted(c for c, t in added if have.get(c, t) != t)
    if clash:
        raise ConcurrentWriteError(
            f"{what}: concurrent writer added {clash} with different "
            "types — re-run"
        )
    log["schema"] = list(log.get("schema") or []) + [
        [c, t] for c, t in added if c not in have
    ]
    if log.get("stats"):
        log["stats"] = _grow_schema_stats(log["stats"], added)


def _commit(fs: _TableFS, cur: dict | None, build, on_race, what: str):
    """The publish-and-rebase loop every table mutation commits
    through — the only caller of :func:`_write_log`. Each attempt
    builds the next log from the head it read (``build(cur)``) and
    publishes it (exclusive create of ``_LOG.<n>``, then the pointer
    swap). A lost race rolls ``_LATEST_LOG`` forward to the newest
    commit record — ``_LOG.<k>`` files are complete before their
    pointer swap, so this heals a winner that died mid-publish — and
    asks ``on_race(old, new)`` whether the work survives the winner:
    it raises :class:`ConcurrentWriteError` to refuse, returns None to
    rebase onto ``new``, or returns the version to report instead (an
    append's replay race). ``on_race=None`` refuses every lost race,
    for mutations computed from the head they read. Returns the
    published version."""
    for _ in range(6):
        log = build(cur)
        try:
            return _write_log(fs, log, prev=cur)
        except ConcurrentWriteError:
            m = _log_probe_committed(fs, log["version"])
            _advance_ptr(fs, m)
            new = _read_log(fs, m)
            if on_race is None:
                raise ConcurrentWriteError(
                    f"{what} lost the log-commit race to version {m} — "
                    "a writer published concurrently; re-read the table "
                    "and re-run"
                ) from None
            done = on_race(cur, new)
            if done is not None:
                return done
            cur = new
    raise ConcurrentWriteError(
        f"{what} lost 6 straight log-commit races — writer storm; "
        "nothing was published, re-run it"
    )


def _prune_by_stats(
    spark, fs: _TableFS, cur: dict, segs, stats_filter, with_cond=True
):
    """Shared candidate pruning for the row-level writes: zone maps /
    dictionary sets, then bloom sidecars, then FILE-grain zone maps on
    clustered tables. Returns (surviving segments, the exactness
    residual Column — None with ``with_cond=False``, for callers whose
    own matching already guarantees exactness, e.g. the MERGE's key
    semi-join, where building a huge IN residual would be pure
    plan-construction overhead, and the per-segment file map for
    :func:`_scan_with_dv`)."""
    sfilt = _normalize_stats_filter(stats_filter, cur.get("schema"))
    smap = cur.get("stats") or {}
    segs = [s for s in segs if _seg_stats_match(smap.get(s), sfilt)]
    if (cur.get("sketch_spec") or {}).get("bloom"):
        segs = _bloom_prune(spark, fs, cur, segs, sfilt)
    segs, fmap = _file_prune(cur, segs, sfilt)
    return segs, (
        _stats_filter_cond(sfilt, cur.get("schema")) if with_cond else None
    ), fmap


# Cap on the number of per-segment observe expressions attached to a
# DV write (one sum(seg = s) per candidate segment). Past it the
# expression list itself becomes the cost and the read-back fallback
# is cheaper; tests shrink it to exercise the fallback.
_DV_OBSERVE_MAX_SEGS = 256


def _write_dv(spark, fs: _TableFS, cur: dict, matches, pby,
              cand_segs=None):
    """Write the deletion-vector parquet addressing ``matches`` (a
    position-addressed scan from :func:`_scan_with_dv`). Partitioned
    tables get the v2 layout (seg, file-basename, part-composite,
    pos) under ``dv2=``; unpartitioned the (seg, file, pos) layout
    under ``dv=``. Returns ``(dv_rel | None, per-segment counts)`` —
    None when nothing matched (the file is removed, no version
    published).

    ``cand_segs`` (the caller's candidate segment list) lets the
    per-segment counts ride the WRITE itself as observed metrics
    (one ``sum(seg = s)`` per candidate) instead of a second job
    re-reading the just-written DV parquet — at 100 TB the DV of a
    wide delete is itself large, and the read-back was a full second
    pass over those bytes (guide §1.2: don't compute things twice).
    Falls back to the read-back when the candidate list is absent or
    too wide to expand into observe expressions."""
    import uuid

    from pyspark.sql import functions as F

    prefix = "dv2" if pby else "dv"
    dv_rel = (
        f"{_DELETE_DIR}/{prefix}={cur['version'] + 1}-{uuid.uuid4().hex[:8]}"
    )
    sel = [F.col(_DV_SEG).alias("seg"), F.col(_DV_FILE).alias("file")]
    if pby:
        sel.append(F.col(_DV_PART).alias("part"))
    sel.append(F.col(_DV_POS).alias("pos"))
    out = matches.select(*sel)
    counts: dict = {}
    if cand_segs is not None and 0 < len(cand_segs) <= _DV_OBSERVE_MAX_SEGS:
        from pyspark.sql import Observation

        obs = Observation()
        out = out.observe(
            obs,
            *[
                F.sum((F.col("seg") == F.lit(s)).cast("long")).alias(f"c{i}")
                for i, s in enumerate(cand_segs)
            ],
        )
        out.write.mode("errorifexists").parquet(fs.join(dv_rel))
        got = obs.get
        counts = {
            s: int(got[f"c{i}"])
            for i, s in enumerate(cand_segs)
            if got.get(f"c{i}")
        }
    else:
        out.write.mode("errorifexists").parquet(fs.join(dv_rel))
        counts = {
            r["seg"]: r["n"]
            for r in _read_dvs(spark, fs, [dv_rel])
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    if not counts:
        _rm(fs, dv_rel)
        return None, {}
    return dv_rel, counts


def _dv_conflict_check(cur: dict, new: dict, touched) -> None:
    """Serializable row-level semantics for the DV publish rebase: a
    concurrent APPEND only adds segments (our row addresses stay
    valid — rebase freely), but a concurrent compaction that folded a
    touched segment, or a concurrent delete/update that marked new
    rows in one, invalidates what this operation scanned — surface
    :class:`ConcurrentWriteError` so the caller re-runs against fresh
    data (Delta raises on concurrent row-level ops the same way)."""
    live = set(new["segments"])
    old_d, new_d = cur.get("deletes") or {}, new.get("deletes") or {}
    # delete_counts compared too: a full-coverage tombstone advances a
    # segment's count with NO new DV file, so the file-list diff alone
    # would miss that concurrent row-level write
    old_c = cur.get("delete_counts") or {}
    new_c = new.get("delete_counts") or {}
    gone = [s for s in touched if s not in live]
    changed = [
        s
        for s in touched
        if new_d.get(s, []) != old_d.get(s, [])
        or int(new_c.get(s, 0)) != int(old_c.get(s, 0))
    ]
    if gone or changed:
        raise ConcurrentWriteError(
            "row-level write lost a race: "
            + (f"segments {gone} were compacted away; " if gone else "")
            + (f"segments {changed} got concurrent deletes; " if changed else "")
            + "re-run the delete/update against the new log version"
        )


def _partition_scope(cur: dict, segs, partition_filter):
    """Manifest-level candidate pruning + residual condition for a
    partition-scoped row-level write: segments whose recorded
    partition values all miss the filter are dropped (zero listing),
    and the returned Column re-checks the filter over the conformed
    scan for exactness (partition values compare in their recorded
    column types)."""
    from pyspark.sql import functions as F

    if not partition_filter:
        return segs, None
    pby = cur.get("partition_by") or []
    if not pby:
        raise ValueError(
            "partition_filter on an unpartitioned append table"
        )
    pf = _normalize_pfilter(
        partition_filter, dict(map(tuple, cur.get("schema") or []))
    )
    unknown = set(pf) - set(pby)
    if unknown:
        raise ValueError(
            f"partition_filter columns {sorted(unknown)} are not "
            f"partition columns {pby}"
        )
    pmap = cur.get("partitions") or {}

    def seg_matches(seg):
        rels = pmap.get(seg)
        if rels is None:
            return True  # legacy manifest without the map: keep
        return any(_pf_match(_partition_values(rel), pf) for rel in rels)

    segs = [s for s in segs if seg_matches(s)]
    # compare in string space — partition values were recorded as
    # directory strings, and the conformed column casts back
    cond = _pf_cond(pf, lambda c: F.col(c).cast("string"))
    return segs, cond


def _match_rows(spark, fs: _TableFS, cur: dict, where, residual,
                partition_filter, verb: str):
    """The rows a row-level write (``verb``: delete/update) targets,
    with candidate segments pruned first: partition map, then zone
    maps / dictionaries / blooms / file grain for the dict form of
    ``where`` or the conjuncts a string predicate implies. Returns
    ``(candidate segments, matching rows as a position-addressed
    scan)``; the rows are None when no candidate survives."""
    if where is None and partition_filter is None:
        raise ValueError(
            f"{verb}_append_rows needs where= and/or partition_filter= "
            f"(an unconditional full-table {verb} is surely a mistake; "
            "pass where=True explicitly if you mean it)"
        )
    segs = _skip_fully_deleted(cur, list(cur["segments"]))
    segs, pcond = _partition_scope(cur, segs, partition_filter)
    fmap: dict = {}
    if isinstance(where, dict):
        segs, cond, fmap = _prune_by_stats(spark, fs, cur, segs, where)
        matcher = lambda df: df.filter(cond)  # noqa: E731
    elif where is None:
        matcher = lambda df: df  # noqa: E731  (partition-only write)
    else:
        if residual is not None:
            raise ValueError(
                "residual= requires the dict (stats_filter) form of "
                "where — fold the condition into the predicate instead"
            )
        if isinstance(where, str):
            # free-form predicate: compile its implied conjuncts into
            # the stats_filter form and prune candidates the same way —
            # the full predicate still runs over the survivors, so a
            # failed/partial derivation only costs IO, never rows
            derived = _derive_stats_filter(where, cur.get("schema"))
            if derived:
                try:
                    segs, _, fmap = _prune_by_stats(
                        spark, fs, cur, segs, derived, with_cond=False
                    )
                except ValueError:
                    pass  # stats/value mismatch: keep the full scan
            # partition-column equality conjuncts prune through the
            # manifest PARTITION map the same way (zone maps skip
            # partition columns, so stats derivation can't see them)
            dpf = _derive_pfilter(
                where, cur.get("partition_by"), cur.get("schema")
            )
            if dpf:
                segs, _ = _partition_scope(cur, segs, dpf)
        matcher = lambda df: Frame(df, ()).filter(where).df  # noqa: E731
    if not segs:
        return segs, None
    matches = matcher(_scan_with_dv(spark, fs, cur, segs, fmap=fmap))
    if pcond is not None:
        matches = matches.filter(pcond)
    if residual is not None:
        matches = Frame(matches, ()).filter(residual).df
    return segs, matches


def delete_append_rows(
    spark: SparkSession,
    table_dir: str,
    where=None,
    residual=None,
    partition_filter: dict | None = None,
) -> tuple[int, int]:
    """Row-level DELETE on an append table WITHOUT rewriting data — the
    jar-free deletion-vector (merge-on-read) analog of Delta/Iceberg
    DVs. Matching rows are addressed by (segment, file-within-segment,
    parquet row position — the scan's ``_metadata.row_index``) and the
    addresses written as a tiny ``_delete/dv=*`` parquet; a new log
    version maps each touched segment to its DV files. Readers apply
    DVs as a broadcast anti-join over ONLY the delete-carrying
    segments (clean segments scan untouched), so at 100 TB a DELETE
    costs one scan of the candidate segments plus DV bytes ∝ deleted
    rows — never a table rewrite. Compaction MATERIALIZES deletes (the
    fold reads through DVs) and drops them; vacuum sweeps DV files
    with their history.

    ``where`` is either the ``stats_filter`` dict form (``{col: value
    | (op, value) | [(op, value), ...]}``) — which prunes candidate
    segments through zone maps / dictionaries / bloom sidecars before
    any scan, the fast path for range or key deletes (GDPR id purges) —
    or any :meth:`Frame.filter` predicate (string/Column). A STRING
    predicate's implied col-op-literal conjuncts are COMPILED into the
    dict form automatically (:func:`_derive_stats_filter`), so
    ``delete_append_rows(d, "price > 100 and cat == 'a'")`` prunes
    exactly like the dict form; only genuinely underivable predicates
    (ORs, arithmetic, col-op-col) or Column objects scan every live
    segment. ``residual`` composes the two: a dict ``where``
    scopes the candidate segments through the manifest while the
    residual predicate (any filter expression) refines WITHIN them —
    ``delete_append_rows(d, {"ts": ("<", cutoff)}, residual=
    "user_id % 7 = 0")`` deletes rows matching BOTH, at the pruned
    scan's cost. ``partition_filter`` ({col: value-or-list},
    partitioned tables) additionally scopes by the manifest's
    PARTITION map — the "drop a day from the events table" shape:
    ``delete_append_rows(d, partition_filter={"day": "2024-01-07"})``
    (``where`` may then be omitted) never lists a segment whose
    recorded partition values all miss, and combines with either
    ``where`` form.

    Already-deleted rows are never re-marked (the matching scan reads
    through existing DVs), so the manifest's ``delete_counts`` stay
    exactly additive — :func:`table_stats` subtracts them for an exact
    live-row count. Time travel to pre-delete versions still sees the
    rows (the data files are untouched). Concurrency: rebases over
    concurrent APPENDS; a concurrent compaction/delete touching the
    same segments raises :class:`ConcurrentWriteError` (re-run).

    Returns ``(published_version, rows_deleted)``; a no-match delete
    publishes nothing and returns the current version."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    segs, matches = _match_rows(
        spark, fs, cur, where, residual, partition_filter, "delete"
    )
    if matches is None:
        return cur["version"], 0
    dv_rel, counts = _write_dv(
        spark, fs, cur, matches, list(cur.get("partition_by") or []),
        cand_segs=segs,
    )
    if dv_rel is None:  # nothing matched: no new version
        return cur["version"], 0
    touched = sorted(counts)

    def build(cur):
        log = _log_with_extras(cur)
        _add_dvs(log, dv_rel, counts)
        return log

    v = _commit(
        fs, cur, build,
        lambda old, new: _dv_conflict_check(old, new, touched),
        f"delete on {table_dir!r}",
    )
    return v, int(sum(counts.values()))


def update_append_rows(
    spark: SparkSession,
    table_dir: str,
    where,
    assignments: dict,
    residual=None,
    partition_filter: dict | None = None,
    schema_mode: str = "strict",
) -> tuple[int, int]:
    """Row-level UPDATE on an append table, merge-on-read style: the
    matching rows are deletion-vector-marked in place (see
    :func:`delete_append_rows` — same addressing, same candidate
    pruning through zone maps/blooms when ``where`` is the dict form)
    and their UPDATED copies appended as one new segment in the SAME
    log version — an atomic delete+insert, which is exactly how
    Delta's merge-on-read UPDATE decomposes. Cost at 100 TB: one scan
    of the candidate segments + a write ∝ updated rows; untouched
    data is never rewritten.

    ``assignments`` maps existing column names to :meth:`Frame.mutate`
    expressions (strings/Columns — they may reference other columns);
    assigning a NEW column is refused by default (append tables are
    fixed-schema) and allowed with ``schema_mode="merge"`` — the
    additive-evolution rule of :func:`append_snapshot`: the manifest
    schema grows by the assigned column (its type from the evaluated
    expression), every pre-existing segment reads it as NULL, and the
    UPDATED rows carry the computed values — the "backfill a new
    column for matching rows" shape, at merge-on-read cost.
    Updating a partition column works — the updated rows land in their
    new partition directories inside the new segment. The new segment
    gets zone maps / a sketch sidecar iff the table carries them, so
    pruning keeps working over updated data. The change feed
    (:func:`read_append_changes`) sees the updated copies as appended
    rows in this version (the delete+insert CDF decomposition).

    Returns ``(published_version, rows_updated)``; a no-match update
    publishes nothing and returns the current version."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    if schema_mode not in ("strict", "merge"):
        raise ValueError(
            f"schema_mode must be 'strict' or 'merge', got {schema_mode!r}"
        )
    schema = cur.get("schema") or []
    known = {name for name, _ in schema}
    unknown = sorted(set(assignments) - known)
    if unknown and schema_mode != "merge":
        raise ValueError(
            f"update_append_rows: columns {unknown} are not in the table "
            f"schema — append tables are fixed-schema (existing columns: "
            f"{sorted(known)}; pass schema_mode='merge' to add them)"
        )
    clash_retired = sorted(set(unknown) & set(cur.get("retired_names") or ()))
    if clash_retired:
        # same guard append_snapshot / upsert_append_rows enforce: the
        # retired name still exists as physical bytes in pre-rename/
        # pre-drop segments, so growing the schema with it would make
        # _conform_schema resurrect that old data (and alias the same
        # bytes to two logical columns through the rename era map)
        raise ValueError(
            f"update_append_rows: columns {clash_retired} were previously "
            "renamed away or dropped from this table — re-adding the name "
            "would resurrect old physical bytes in pre-change segments; "
            "use a fresh column name"
        )
    ukey_hit = sorted(set(assignments) & set(cur.get("unique_key") or []))
    if ukey_hit:
        raise ValueError(
            f"update_append_rows: columns {ukey_hit} carry the table's "
            "UNIQUE constraint — an update could collide keys silently; "
            "delete + append (or a keyed upsert) expresses a key change "
            "explicitly"
        )
    segs, matches = _match_rows(
        spark, fs, cur, where, residual, partition_filter, "update"
    )
    if matches is None:
        return cur["version"], 0
    matches.persist()  # one scan feeds BOTH the DV and the new segment
    try:
        pby = list(cur.get("partition_by") or [])
        dv_rel, counts = _write_dv(
            spark, fs, cur, matches, pby, cand_segs=segs,
        )
        if dv_rel is None:
            return cur["version"], 0
        updated = Frame(
            matches.drop(_DV_SEG, _DV_FILE, _DV_POS, _DV_PART, _DV_RELP), ()
        ).mutate(**assignments)
        exps = cur.get("expectations")
        if exps:
            # validated BEFORE the log commit: a failure here leaves
            # only an orphan DV dir no log references (vacuum sweeps
            # it); drop is refused — it would silently delete the row
            _enforce_expectations(updated.df, exps, allow_drop=False)
        added: list = []
        if unknown:  # schema_mode="merge": grow by the assigned columns
            got = dict(map(tuple, _frame_schema_pairs(updated.df)))
            added = [[c, got[c]] for c in unknown]
            schema = list(schema) + added
        conformed = _conform_schema(updated.df, schema)
        cby = list(cur.get("cluster_by") or [])
        if cby:
            # the updated copies keep the table's cluster layout, so
            # the NEXT key probe file-prunes over them too
            conformed = _cluster_shape(conformed, cby)
        staged = _stage_segment(
            spark, fs, cur["version"] + 1, conformed, schema, pby, cby,
            bool(cur.get("stats")), cur.get("sketch_spec"),
        )
    finally:
        matches.unpersist()
    touched = sorted(counts)

    def build(cur):
        log = _log_with_extras(cur)
        if added:
            _grow_log_schema(log, added, f"update on {table_dir!r}")
        _add_dvs(log, dv_rel, counts)
        _add_segment(log, staged)
        return log

    v = _commit(
        fs, cur, build,
        lambda old, new: _dv_conflict_check(old, new, touched),
        f"update on {table_dir!r}",
    )
    return v, int(sum(counts.values()))


def _cdf_frame(spark, fs: _TableFS, win: _Window) -> Frame:
    """The typed projection of a window walk — see
    :func:`read_append_cdf`."""
    from pyspark.sql import functions as F

    cur = win.cur
    if win.renamed:
        raise ValueError(
            f"read_append_cdf: the window ({win.since}, "
            f"{cur['version']}] crosses a column rename — a typed "
            "change feed cannot union two column-name eras; consumers "
            "must re-bootstrap from the snapshot at the rename "
            "boundary (read_append_changes handles renamed windows "
            "via the era-aware scan if raw inserts are enough)"
        )
    if win.missing is not None:
        raise win.missing
    meta = (_DV_SEG, _DV_FILE, _DV_POS, _DV_PART, _DV_RELP)
    parts = []

    def typed(df, change, version):
        return df.withColumn("_change_type", F.lit(change)).withColumn(
            "_commit_version", version.cast("long")
        ).drop(*meta)

    # every appended insert of the window in one addressed scan per
    # partition layout (one in practice), rows AS APPENDED (no DVs);
    # _commit_version from a segment->version map over the scan's
    # segment column (a literal when one version added them all). A
    # restore's inserts are its rows live at that version: one scan at
    # its own DVs.
    appended = [st for st in win.steps if st.restored_from is None]
    born = {s: st.version for st in appended for s in st.inserts}
    for log, segs in _window_logs(win, appended):
        tags = {born[s] for s in segs}
        v = F.lit(tags.pop()) if len(tags) == 1 else F.element_at(
            F.create_map(*[F.lit(x) for s in segs for x in (s, born[s])]),
            F.col(_DV_SEG),
        )
        parts.append(typed(_addressed_scan(spark, fs, log, segs), "insert", v))
    for st in win.steps:
        if st.restored_from is not None and st.inserts:
            parts.append(typed(
                _read_segments(spark, fs, st.log, st.inserts),
                "insert", F.lit(st.version),
            ))
    for st in win.steps:
        k = F.lit(st.version)
        for legacy in (True, False):
            dirs = [d for d in st.dvs if _dv_is_v2(d) != legacy]
            if not dirs:
                continue
            # the addressed rows, read back from their immutable owner
            # segments WITHOUT DV application (the rows being deleted
            # are by definition DV-marked at >= k)
            addr = _read_dvs(spark, fs, dirs)
            owners = sorted({s for d in dirs for s in st.dvs[d]})
            raw = _addressed_scan(spark, fs, st.log, owners, legacy=legacy)
            parts.append(typed(
                _dv_join(raw, addr, legacy, "left_semi",
                         "CDF delete addresses"),
                "delete", k,
            ))
        if st.tombstoned:
            # segments deleted whole — counts rose with no new DV file,
            # or a data change dropped them — so their deleted rows are
            # exactly the rows still live at k-1
            parts.append(typed(
                _read_segments(spark, fs, st.prev, st.tombstoned),
                "delete", k,
            ))
    if not parts:
        ddl = _schema_ddl(cur.get("schema") or [])
        ddl += ", `_change_type` string, `_commit_version` long"
        return Frame(spark.createDataFrame([], ddl), ())
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: a window spanning an additive schema
        # evolution null-fills the new column on pre-evolution rows
        out = out.unionByName(p, allowMissingColumns=True)
    schema = cur.get("schema")
    if schema is not None:
        # pin column ORDER to the end version's schema (the union
        # appends evolution columns wherever the first part left off)
        out = out.select(
            *[n for n, _ in schema if n in out.columns],
            "_change_type",
            "_commit_version",
        )
    return Frame(out, ())


def read_append_cdf(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
) -> Frame:
    """TYPED change-data-feed: every row-level change in
    ``(since_version, version]`` as rows tagged ``_change_type``
    (``insert`` | ``delete``) and ``_commit_version`` — the full Delta
    CDF surface for downstream MIRRORS (a consumer applying inserts
    and deletes in version order reproduces the table exactly), where
    :func:`read_append_changes` is the slimmer inserts-only feed.

    Per version: segments ADDED emit their rows as ``insert`` (a
    restore's re-added segments at its own DVs); the live segments a
    data change drops — a restore, or a copy-on-write version, which
    replaces every segment — emit their rows live before it as
    ``delete``;
    deletion-vector files ADDED emit the ADDRESSED rows as ``delete``
    (read back from their immutable segments by row address — cost ∝
    deleted rows, the segments were retained by the same vacuum
    contract every CDF reader relies on). An UPDATE/upsert therefore
    appears as its MoR decomposition — ``delete`` of the old copies +
    ``insert`` of the new — in one version; compaction folds and DV
    maintenance rewrites (``dvm=``/``dvm2=``) emit nothing
    (``dataChange=false``). Everything comes from the window walk
    (:func:`_walk_window`), which reads the log alone: a DV file's
    owner segments are the ones the log's ``deletes`` map lists it
    under, so building the frame launches no Spark job.

    Scan count: EVERY insert of the window, partitioned or not, is one
    addressed scan (one relation per rename era and ``seg``/``fold``
    dir kind — one in practice; ``_commit_version`` is tagged through
    a segment→version map over the scan's segment column, per-row work
    only on the window's inserted rows). Each delete-carrying version
    adds one scan of its DV owners per DV layout, each tombstoning or
    replacing version one scan of the segments it deleted whole, and
    each restore one scan of its inserts. CDF windows are
    incremental-consumer sized by construction; for a full-table
    bootstrap use ``read_append_snapshot`` instead.
    ``since_version`` must be ``>= 0``."""
    fs = _TableFS(table_dir, spark)
    return _cdf_frame(
        spark, fs, _walk_window(fs, table_dir, since_version, version)
    )


def upsert_append_rows(
    frame: Frame,
    table_dir: str,
    key: str | list[str],
    max_prune_keys: int = 100_000,
    schema_mode: str = "strict",
    _known_keys: list | None = None,
) -> tuple[int, int, int]:
    """Keyed MERGE (upsert) on an append table at merge-on-read cost —
    the Delta ``MERGE WHEN MATCHED UPDATE ALL WHEN NOT MATCHED INSERT
    ALL`` decomposition for the log-table shape: table rows whose key
    appears in the source batch are deletion-vector-marked, and the
    WHOLE source batch is appended as one new segment, both in the
    same log version. Net cost: one scan of the candidate segments
    (pruned through zone maps / dictionaries / bloom sidecars by the
    source's key set via :func:`join_prune_filter` when it fits
    ``max_prune_keys`` — keyed blooms make this the GDPR/user-profile
    upsert shape) + DV bytes ∝ matched rows + write ∝ the batch.
    :func:`upsert_snapshot` rewrites the whole table per merge; this
    rewrites NOTHING.

    Duplicate keys WITHIN the source are appended as-is (the table
    then holds both copies — dedupe the batch first if that matters);
    a source key matching several table rows marks them all, standard
    MERGE delete-all-matches semantics. NULL source keys never match
    (insert-only rows). Concurrency follows
    :func:`delete_append_rows`: rebases over concurrent appends,
    raises on concurrent folds/row-level writes over the touched
    segments.

    Returns ``(published_version, rows_replaced, rows_appended)``.

    ``_known_keys`` (private contract, single-key merges): the
    caller's COMPLETE distinct non-NULL key value list for the batch,
    when it already holds one — e.g. the view refresh collects the
    batch's group keys once for its own guards. Passing it skips this
    function's :func:`join_prune_filter` collect (one fewer driver
    job over the batch); the values must be exactly what that collect
    would have returned or pruning turns unsound."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = frame.df.sparkSession
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    schema = cur.get("schema") or []
    known = {name for name, _ in schema}
    missing = sorted(set(keys) - known)
    if missing:
        raise ValueError(
            f"upsert_append_rows: key columns {missing} are not in the "
            f"table schema ({sorted(known)})"
        )
    table_ukey = list(cur.get("unique_key") or [])
    if table_ukey:
        # constrained table: the merge key must BE the constraint (a
        # different key appends rows whose constraint keys may clash)
        # and the batch must be key-distinct (both copies would land)
        if sorted(keys) != sorted(table_ukey):
            raise ValueError(
                f"upsert_append_rows: table carries UNIQUE "
                f"({', '.join(table_ukey)}) — the merge key {keys} "
                "must equal the constraint to preserve it"
            )
        from pyspark.sql import functions as F

        dup = (
            frame.df.na.drop(subset=keys)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .first()
        )
        if dup is not None:
            raise ValueError(
                f"upsert_append_rows: batch repeats key "
                f"{tuple(dup[c] for c in keys)} {dup['__n']} times — "
                "both copies would land and violate the table's "
                "UNIQUE constraint; dedupe the batch first"
            )
    if schema_mode not in ("strict", "merge"):
        raise ValueError(
            f"schema_mode must be 'strict' or 'merge', got {schema_mode!r}"
        )
    incoming_pairs = _frame_schema_pairs(frame.df)
    incoming = {name for name, _ in incoming_pairs}
    added: list = []
    upcasts: list = []
    widened: dict = {}
    if schema_mode == "merge":
        # additive + widening evolution per append_snapshot: extra
        # batch columns grow the manifest schema, omitted columns are
        # NULL-filled by the conform below, safe widenings
        # (_WIDENINGS) update the manifest type (old segments read
        # through it natively), narrower batches upcast; anything
        # else still refuses loudly
        have = dict(map(tuple, schema))
        got = dict(incoming_pairs)
        drift = {
            c: (have[c], got[c])
            for c in have
            if c in got and have[c] != got[c]
        }
        if drift:
            rest = {}
            pby_set = set(cur.get("partition_by") or [])
            for c, (t, g) in drift.items():
                if _widens(t, g) and c not in pby_set:
                    widened[c] = g
                elif _widens(g, t):
                    upcasts.append((c, t))
                else:
                    rest[c] = (t, g)
            drift = rest
            if widened:
                schema = [[n, widened.get(n, t)] for n, t in schema]
        if drift:
            raise ValueError(
                "upsert_append_rows: column type mismatch "
                + ", ".join(
                    f"{c}: table={t!r} vs batch={g!r}"
                    for c, (t, g) in sorted(drift.items())
                )
                + " — only the safe widenings (int-chain, "
                "float→double) evolve under schema_mode='merge'"
            )
        added = [[c, t] for c, t in incoming_pairs if c not in have]
        clash_retired = sorted(
            {c for c, _ in added} & set(cur.get("retired_names") or ())
        )
        if clash_retired:
            raise ValueError(
                f"upsert_append_rows: columns {clash_retired} were "
                "previously renamed away or dropped — re-adding the "
                "name would resurrect old physical bytes; use a fresh "
                "column name"
            )
        schema = list(schema) + added
    elif incoming != known:
        raise ValueError(
            f"upsert_append_rows: batch columns {sorted(incoming)} do not "
            f"match the table's {sorted(known)} — append tables are "
            "fixed-schema (pass schema_mode='merge' for additive "
            "evolution)"
        )
    src = frame.df
    if upcasts:
        from pyspark.sql import functions as F

        for c, t in upcasts:  # narrow batch → table type (exact)
            src = src.withColumn(c, F.col(c).cast(t))
    exps = cur.get("expectations")
    exp_drops: dict = {}
    if exps:
        # dropped source rows never arrive: their keys mark nothing
        # and their values are not appended — as if the batch had
        # been pre-filtered
        src, exp_drops = _enforce_expectations(src, exps, schema)
    segs = _skip_fully_deleted(cur, list(cur["segments"]))
    # manifest-level candidate pruning by the source's key set (single
    # key only — the stats_filter grammar is per-column; multi-key
    # upserts scan all segments and let the anti-join do the work).
    # Stat-INELIGIBLE key types (decimal, binary, ...) carry no zone
    # maps, so pruning is skipped up front — _normalize_stats_filter
    # would reject them — and the plain semi-join does the matching.
    fmap: dict = {}
    filt_keys = None  # the EXACT distinct non-NULL key list when the
    # manifest prune collected one — reused below to build the probe
    # set as a local relation and to size its broadcast from real bytes
    if len(keys) == 1 and _stat_eligible(dict(map(tuple, schema)).get(keys[0])):
        if _known_keys is not None:
            # caller already collected the batch's distinct key set —
            # same filter join_prune_filter would build, zero jobs
            filt = {keys[0]: ("in", sorted(_known_keys))}
        else:
            filt = join_prune_filter(
                Frame(src, ()), keys[0], max_keys=max_prune_keys
            )
        if filt is not None:
            cond = filt.get(keys[0])
            if isinstance(cond, tuple) and cond[0] == "in":
                filt_keys = list(cond[1])
            # the key semi-join below IS the exact matcher — skip the
            # residual (a 50k-key IN Column costs ~27s of py4j literal
            # conversion alone, measured)
            segs, _, fmap = _prune_by_stats(
                spark, fs, cur, segs, filt, with_cond=False
            )
    from pyspark.sql import functions as F

    tmap = dict(map(tuple, schema))
    n_appended = None  # known up front only on the agg path below;
    # otherwise observed on the segment write itself (one less batch
    # scan — guide §1.2)
    if filt_keys is None:
        # one agg does the batch count AND measures max byte width of
        # any variable-width key column — the 64-byte string default
        # would under-size a key set of long URLs / composite hashes
        # and force-broadcast a relation well past BROADCAST_MAX_BYTES
        var_keys = [k for k in keys if tmap.get(k) in ("string", "binary")]
        _cnt = src.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.max(F.octet_length(F.col(k))).alias(f"__w{i}")
                for i, k in enumerate(var_keys)
            ],
        ).first()
        n_appended = int(_cnt["__n"])
        key_width = {k: _cnt[f"__w{i}"] for i, k in enumerate(var_keys)}
    dv_rel = None
    pby = list(cur.get("partition_by") or [])
    # full-coverage tombstones: candidate segments whose every row
    # provably carries a key in the batch's exact key set need no DV
    # scan and no DV parquet at all — their live rows are all replaced,
    # so the commit just advances delete_counts to the recorded row
    # count (the same arithmetic the fully-deleted read skip already
    # trusts). This is the steady-state materialized-view shape: every
    # refresh replaces every live state row, and without the proof it
    # paid a candidate scan + DV write ∝ the state per refresh.
    # Guarded to rename-free tables (stats are recorded under era
    # names) and stat-proof key types; everything else keeps the DV
    # path unchanged.
    full_counts: dict = {}
    if filt_keys is not None and segs and not cur.get("renames"):
        covered, segs = _provably_covered(
            cur, segs, keys[0], tmap.get(keys[0]), filt_keys
        )
        prior = cur.get("delete_counts") or {}
        smap = cur.get("stats") or {}
        full_counts = {
            s: int(smap[s]["rows"]) - int(prior.get(s, 0))
            for s in covered
        }
    if segs:
        from cuplyr_spark.frame import broadcast_guarded

        scan = _scan_with_dv(spark, fs, cur, segs, fmap=fmap)
        # plain-equality semi-join: NULL keys never match on either
        # side (insert-only rows); guarded broadcast keeps it map-side.
        # The guard is sized from EXACT counts — Catalyst's
        # analyzed-plan estimate of a distinct over a derived batch is
        # inflated by orders of magnitude and would drop the hint,
        # leaving the steady-state MERGE probe plan hanging on an AQE
        # rescue (view-refresh hit exactly this)
        if filt_keys is not None:
            # the prune pass already collected the exact distinct key
            # set (bounded by max_prune_keys): the probe side becomes
            # a local relation, so the DV job scans ONLY the candidate
            # segments instead of re-shuffling the whole batch for a
            # distinct it computed once already
            k0 = keys[0]
            keyset = _local_relation(
                spark, {k0: filt_keys}, schema=f"`{k0}` {tmap[k0]}"
            )
            w = (
                max((len(k.encode("utf-8")) for k in filt_keys), default=0)
                if tmap.get(k0) == "string" else None
            )
            kb = len(filt_keys) * _est_row_bytes((tmap.get(k0),), widths=(w,))
        else:
            keyset = src.select(*keys).distinct()
            kb = int(n_appended) * _est_row_bytes(
                (tmap.get(k) for k in keys),
                widths=(key_width.get(k) for k in keys),
            )
        matched = scan.join(
            broadcast_guarded(keyset, what="upsert_append_rows key set",
                              known_bytes=kb),
            on=keys,
            how="left_semi",
        )
    # the DV job (candidate-segment scan + DV parquet) and the segment
    # write chain below are independent until the log commit — both
    # write to fresh paths nothing references until _write_log — so
    # the DV runs on its own thread and the two jobs overlap instead
    # of serializing (measured: 0.33 s DV + 0.32 s segment chain per
    # steady-state view refresh at sf0.1 → max() of the two). Failure
    # on either side leaves only an unreferenced dir, exactly like the
    # sequential order did; InheritableThread carries the caller's job
    # group/description onto the DV job.
    dv_thread = None
    dv_out: dict = {}
    if segs:
        def _run_dv(matched=matched):
            try:
                dv_out["ok"] = _write_dv(
                    spark, fs, cur, matched, pby, cand_segs=segs,
                )
            except BaseException as e:  # re-raised on join below
                dv_out["err"] = e

        from pyspark import InheritableThread

        dv_thread = InheritableThread(target=_run_dv, daemon=True)
        dv_thread.start()
    try:
        conformed = _conform_schema(src, schema)
        cby = list(cur.get("cluster_by") or [])
        if cby:
            # the merged batch keeps the table's cluster layout, so the
            # NEXT merge's key probe file-prunes over this segment too
            conformed = _cluster_shape(conformed, cby)
        obs = None
        if n_appended is None and not cur.get("stats"):
            # no stats pass to count the rows: the count rides the write
            from pyspark.sql import Observation

            obs = Observation()
            conformed = conformed.observe(
                obs, F.count(F.lit(1)).alias("__n")
            )
        staged = _stage_segment(
            spark, fs, cur["version"] + 1, conformed, schema, pby, cby,
            bool(cur.get("stats")), cur.get("sketch_spec"),
        )
        if n_appended is None:
            # the stats pass counted the rows exactly
            n_appended = (
                int(obs.get["__n"])
                if obs is not None
                else int(staged["stats"]["rows"])
            )
    finally:
        if dv_thread is not None:
            dv_thread.join()
    dv_counts: dict = {}
    if dv_thread is not None:
        if "err" in dv_out:
            raise dv_out["err"]
        dv_rel, dv_counts = dv_out["ok"]
    # tombstoned segments advance counts with NO file reference
    counts = {**dv_counts, **full_counts}
    touched = sorted(counts)

    def build(cur):
        log = _log_with_extras(cur)
        if added:
            _grow_log_schema(log, added, f"upsert on {table_dir!r}")
        if widened:
            # stamp the widened types, re-validated against the state
            # a rebase may have refreshed (a concurrent writer widening
            # FURTHER is fine — our narrower segment reads through it)
            new_schema = []
            for c, t in log.get("schema") or []:
                g = widened.get(c)
                if g is None or t == g or _widens(g, t):
                    new_schema.append([c, t])
                elif _widens(t, g):
                    new_schema.append([c, g])
                else:
                    raise ConcurrentWriteError(
                        f"upsert on {table_dir!r}: concurrent writer "
                        f"changed {c!r} to {t!r}, incompatible with "
                        f"this batch's widening to {g!r} — re-run"
                    )
            log["schema"] = new_schema
        if touched:
            _add_dvs(log, dv_rel, dv_counts, full_counts)
        _add_segment(log, staged)
        if exp_drops:  # per-version audit field, not carried forward
            log["expectation_drops"] = exp_drops
        return log

    v = _commit(
        fs, cur, build,
        lambda old, new: _dv_conflict_check(old, new, touched),
        f"upsert on {table_dir!r}",
    )
    return v, int(sum(counts.values())), int(n_appended)


def _tail(spark, table_dir: str, cursor_dir: str, process, consumer_id: str,
          name: str, snapshot, feed, on_restore: str, what: str,
          hint: str) -> tuple[int, int]:
    """The cursor driver both tails share. Reads the consumer's cursor
    ``name`` from ``cursor_dir``, hands ``process`` the frame for the
    window up to the published version — ``snapshot(up_to)`` when there
    is no cursor yet (or the window crosses a restore and
    ``on_restore="bootstrap"``), else ``feed(window walk)`` — and
    advances the cursor only after ``process`` returns."""
    if "/" in consumer_id or not consumer_id.strip():
        raise ValueError(
            f"consumer_id {consumer_id!r} must be a non-empty name "
            "without '/' (it becomes the cursor filename)"
        )
    cfs = _TableFS(cursor_dir, spark)
    cfs.mkdirs()
    cursor_text = cfs.read_text(name)
    fs = _TableFS(table_dir, spark)
    up_to = _require_log(fs, table_dir)["version"]
    if cursor_text is None:
        start, frame = 0, snapshot(up_to)
    else:
        start = int(cursor_text)
        if up_to <= start:
            return (start, start)
        win = _walk_window(fs, table_dir, start, up_to)
        if win.restores and on_restore == "error":
            raise ValueError(
                f"{what}: the window ({start}, {up_to}] crosses "
                f"restore(s) {win.restores} — {hint}"
            )
        if win.restores and on_restore == "bootstrap":
            frame = snapshot(up_to)
        else:
            frame = feed(fs, win)
    process(frame, up_to)
    cfs.write_text_atomic(name, str(up_to), f".cur.{consumer_id}.{up_to}")
    return (start, up_to)


def tail_append_changes(
    spark: SparkSession,
    table_dir: str,
    cursor_dir: str,
    process: "Callable[[Frame, int], None]",
    consumer_id: str = "__default__",
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
    apply_deletes: bool = False,
    where: str | None = None,
    on_restore: str = "error",
) -> tuple[int, int]:
    """EXACTLY-ONCE batch-incremental consumer for an append table —
    the checkpointed driver around :func:`read_append_changes`, and
    the exact alternative to :func:`streaming.stream.stream_append_log`
    (whose file-source tail can re-deliver a crash-orphaned segment).

    Each call reads this consumer's cursor (last processed log
    version) from ``cursor_dir``, hands ``process(changes_frame,
    up_to_version)`` ONLY the rows appended since — read bytes ∝ new
    segments — and advances the cursor AFTER ``process`` returns.
    At-least-once by construction (a crash between process and cursor
    write replays the same window — same semantics as Spark's
    foreachBatch); EXACTLY-once when ``process`` is idempotent per
    ``up_to_version``, e.g. writing to another append table with
    ``batch_id=up_to_version`` whose watermark swallows the replay —
    the two watermarks compose into an end-to-end exactly-once
    table→table pipeline with no streaming machinery at all
    (availableNow economics: schedule it; each run costs ∝ the delta).

    ``consumer_id`` names the cursor slot, so several independent
    pipelines can tail one table at their own pace. Cursor publish
    reuses the table layer's atomic write (write-then-rename), so a
    torn cursor is impossible. Returns ``(from_version, up_to)`` —
    equal when there was nothing new (``process`` is then not called).

    Bootstrap: a consumer with NO cursor yet processes the PUBLISHED
    SNAPSHOT (``read_append_snapshot``) rather than walking the log
    from version 0 — exact (nothing has been processed, and the
    snapshot is by definition everything so far, folds included) and
    immune to vacuumed early history, so a new pipeline can attach to
    a years-old table. After bootstrap, keep the table's vacuum
    retention above every consumer's lag (the
    :func:`vacuum_append_snapshot` contract) — a lagging consumer
    whose window was vacuumed fails loudly in the log walk.

    ``partition_filter`` ({col: value-or-list}, partitioned tables)
    scopes the consumer to a partition slice — manifest-level segment
    pruning applies to both the bootstrap and every delta read, so a
    per-partition pipeline pays only its slice's bytes. The cursor
    still advances over the FULL log (the filter names what this
    consumer processes, not where it is). ``stats_filter`` scopes it
    by the zone maps the same way (e.g. a consumer tailing only a key
    range of a time-ordered table).

    ``on_restore`` decides what happens when the window crosses a
    :func:`restore_append_snapshot` (whose version diff re-surfaces
    segments this consumer may already have processed):
    ``"error"`` (default) raises with the restore version instead of
    silently double-delivering; ``"bootstrap"`` reprocesses the
    PUBLISHED SNAPSHOT exactly like a fresh consumer (the correct
    reset when ``process`` replaces downstream state per call);
    ``"ignore"`` reads the raw diff (only correct when the downstream
    dedupes)."""
    if on_restore not in ("error", "bootstrap", "ignore"):
        raise ValueError(
            f"on_restore must be 'error', 'bootstrap' or 'ignore', "
            f"got {on_restore!r}"
        )
    return _tail(
        spark, table_dir, cursor_dir, process, consumer_id,
        f"_CURSOR.{consumer_id}",
        lambda up_to: read_append_snapshot(
            spark, table_dir, version=up_to,
            partition_filter=partition_filter, stats_filter=stats_filter,
            where=where,
        ),
        lambda fs, win: _changes_frame(
            spark, fs, win, partition_filter, stats_filter, apply_deletes,
            where,
        ),
        on_restore, "tail_append_changes",
        "the delta may re-surface already-processed segments. Re-run "
        "with on_restore='bootstrap' to reprocess the snapshot, or "
        "'ignore' if the downstream dedupes.",
    )


def tail_append_cdf(
    spark: SparkSession,
    table_dir: str,
    cursor_dir: str,
    process: "Callable[[Frame, int], None]",
    consumer_id: str = "__default__",
) -> tuple[int, int]:
    """Checkpointed consumer of the TYPED change feed — the
    :func:`tail_append_changes` pattern over :func:`read_append_cdf`:
    each call hands ``process(cdf_frame, up_to_version)`` the
    insert/delete-tagged changes since this consumer's cursor and
    advances the cursor after ``process`` returns. THE driver loop for
    maintaining a downstream MIRROR of a table with row-level writes:
    apply deletes then inserts per ``_commit_version`` in order and
    the mirror equals the table (the replay asserted in the CDF
    tests). At-least-once alone; exactly-once when ``process`` is
    idempotent per version window (e.g. the mirror records
    ``up_to_version`` transactionally, the same sink-watermark recipe
    as the untyped tail).

    Bootstrap (no cursor yet): the published SNAPSHOT as one all-
    ``insert`` window at the current version — exact (DVs applied, so
    a new mirror never materializes already-deleted rows) and immune
    to vacuumed early history. Same retention contract afterwards:
    keep vacuum's ``keep_last`` above every consumer's lag."""
    from pyspark.sql import functions as F

    def snapshot(up_to):
        snap = read_append_snapshot(spark, table_dir, version=up_to)
        return Frame(
            snap.df.withColumn("_change_type", F.lit("insert")).withColumn(
                "_commit_version", F.lit(up_to).cast("long")
            ),
            (),
        )

    # a RESTORE in the window breaks the version diff (re-added
    # segments would re-emit as inserts this consumer already saw): a
    # mirror must reset (fresh cursor_dir or consumer_id = snapshot
    # reload)
    return _tail(
        spark, table_dir, cursor_dir, process, consumer_id,
        f"_CURSOR.cdf.{consumer_id}", snapshot,
        lambda fs, win: _cdf_frame(spark, fs, win),
        "error", "tail_append_cdf",
        "the typed diff would re-emit rows this consumer already "
        "applied. Reset the mirror: reload from the snapshot under a "
        "fresh consumer_id.",
    )


def merge_append_dvs(
    spark: SparkSession,
    table_dir: str,
    min_dvs: int = 2,
) -> int | None:
    """DELETION-VECTOR maintenance WITHOUT touching data: k row-level
    writes against one segment accrete k tiny DV parquet directories,
    each applied as a separately-unioned broadcast on every read of
    that segment. This pass unions them into ONE directory per layout
    family and republishes the map — metadata-only (no data file read
    or written; cost ∝ DV bytes), where :func:`compact_append_snapshot
    (purge_deletes=True)` is the full fold that materializes deletes
    into data. Delta's own DV model does the same: rewrite the vector,
    not the rows.

    Segments whose DV-directory count within a layout family (legacy
    ``dv=`` path-addressed vs v2 ``dv2=`` basename+partition) is below
    ``min_dvs`` are left alone — merging one file into one file is
    churn. Families are never mixed: the two layouts address rows
    differently, and a cross-family rewrite would have to re-derive
    addresses by parsing hive-escaped paths (exactly the fragile step
    the v2 layout removed); a table carrying both converges to ≤2 DV
    dirs per segment here and to zero at the next purge. All merged
    rows across segments land in ONE directory per family (readers
    scope by ``seg``) — one write job per family, not per segment.

    The merged directory is named ``dvm=``/``dvm2=`` so the change
    feed recognizes it as dataChange=false (the addressed rows were
    already emitted as deletes by their original commits) and emits
    nothing. ``delete_counts`` are untouched (the merged vector marks
    exactly the same rows). History keeps referencing the original
    directories, so time travel and in-window CDF reads are unchanged;
    vacuum sweeps the originals once no kept log references them.

    Concurrency: rebases over concurrent appends; a concurrent
    row-level write or fold touching a merged segment raises
    :class:`ConcurrentWriteError` (re-run — the merge is cheap).
    Returns the published log version, or None when no segment had
    ``min_dvs`` directories to merge."""
    import uuid

    from pyspark.sql import functions as F

    if min_dvs < 2:
        raise ValueError("min_dvs must be >= 2 (merging fewer is churn)")
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    dmap = cur.get("deletes") or {}
    # per family: the segments whose directory count warrants a merge
    plans: dict[bool, list[str]] = {}
    for is_v2 in (False, True):
        segs = [
            s
            for s, dirs in dmap.items()
            if sum(1 for d in dirs if _dv_is_v2(d) == is_v2) >= min_dvs
        ]
        if segs:
            plans[is_v2] = sorted(segs)
    if not plans:
        return None
    n = cur["version"] + 1
    merged: dict[bool, str] = {}
    for is_v2, segs in plans.items():
        dirs = sorted(
            {d for s in segs for d in dmap[s] if _dv_is_v2(d) == is_v2}
        )
        prefix = "dvm2" if is_v2 else "dvm"
        rel = f"{_DELETE_DIR}/{prefix}={n}-{uuid.uuid4().hex[:8]}"
        (
            _read_dvs(spark, fs, dirs)
            .filter(F.col("seg").isin(segs))
            .coalesce(1)
            .write.mode("errorifexists")
            .parquet(fs.join(rel))
        )
        merged[is_v2] = rel
    touched = sorted({s for segs in plans.values() for s in segs})

    def build(cur):
        log = _log_with_extras(cur)
        new_dmap = dict(log.get("deletes") or {})
        for is_v2, segs in plans.items():
            for s in segs:
                if s not in new_dmap:
                    continue
                kept = [d for d in new_dmap[s] if _dv_is_v2(d) != is_v2]
                new_dmap[s] = kept + [merged[is_v2]]
        log["deletes"] = new_dmap
        return log

    return _commit(
        fs, cur, build,
        lambda old, new: _dv_conflict_check(old, new, touched),
        f"DV merge on {table_dir!r}",
    )


def compact_append_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    max_live_segments: int | None = None,
    purge_deletes: bool = False,
    shuffle: bool = False,
) -> int | None:
    """Tiered (bin-packed) compaction for append tables — the
    OPTIMIZE pass for the log-table shape, where maintenance debt is
    SEGMENT COUNT (one directory per microbatch: a day of 5-minute
    triggers is ~288 dirs whose listing/footer overhead every reader
    pays).

    The pass folds ONLY segments that are under-sized (total bytes
    below ``target_file_bytes``) or internally fragmented (more files
    than ``ceil(bytes / target_file_bytes)``) into one new right-sized
    ``fold=`` segment; right-sized segments are REFERENCED UNTOUCHED
    by the new log — their files are never read or rewritten. That is
    what keeps the append shape's cost contract at 100 TB: maintenance
    cost is ∝ small-segment bytes, and cumulative write amplification
    of a long-lived ``stream_append_snapshot(compact_every=N)`` stays
    linear — each row is rewritten O(log) times as its fold graduates
    past the target size, never per-pass (Delta's OPTIMIZE bin-packing
    rule; the previous fold-everything design was a full-table rewrite
    per pass, quadratic over the stream's life).

    ``max_live_segments`` additionally bounds the live segment COUNT:
    when the bin-packed result would still exceed it, the smallest
    right-sized segments are pulled into the fold until it fits —
    the knob for tables whose steady state is many medium segments.

    ``zorder_by`` routes the folded segment through
    ``write_parquet_zorder`` (the OPTIMIZE ZORDER BY analog): newly
    consolidated data gets pruning layout at fold time, at the cost of
    one range shuffle over the FOLDED bytes only. Untouched right-sized
    segments keep their layout. On a hive-partitioned table the fold
    keeps the partition directories and z-orders WITHIN them (range
    partitioning on ``(partition cols…, z-key)``), so per-file footer
    min/max stay tight inside every partition — Delta's OPTIMIZE
    ZORDER semantics. Z-ordering a
    partition column itself is refused (constant per directory).

    Fully-deleted segments — EXACT delete count equal to the recorded
    row count, whether via deletion vectors or a counts-only tombstone
    (full-coverage MERGE) — are dropped from the new log outright:
    they hold zero live rows, so they contribute nothing to any fold,
    and dropping the reference is what lets a later vacuum reclaim
    their files. A compaction whose only work is dropping dead
    segments publishes a metadata-only version (no data rewritten).

    Older log versions keep referencing the original segments, so time
    travel spans the compaction until vacuum prunes it; incremental
    readers (``read_append_changes``) skip ``fold=`` segments, so a
    fold is invisible to the change feed. All per-app exactly-once
    watermarks carry over. No-op (``None``) when nothing needs folding
    (also when the only fold candidate is a lone segment that folding
    could not improve). Returns the new published log version, or
    ``None``. A concurrent append winning the log-commit race
    surfaces as :class:`ConcurrentWriteError` (the fold referenced a
    superseded segment list — just re-run; the append is intact)."""
    from pyspark.sql import functions as F

    if target_file_bytes < 1:
        raise ValueError("target_file_bytes must be >= 1")
    if max_live_segments is not None and max_live_segments < 1:
        raise ValueError("max_live_segments must be >= 1")
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    pby = list(cur.get("partition_by") or [])
    if pby and zorder_by and set(zorder_by) & set(pby):
        raise ValueError(
            f"zorder_by {sorted(set(zorder_by) & set(pby))} are partition "
            "columns — constant within every partition directory, so "
            "z-ordering them is a no-op; cluster on non-partition columns"
        )
    stats = {
        s: fs.file_sizes(s, recurse=bool(pby)) for s in cur["segments"]
    }

    def fragmented(sizes: list[int]) -> bool:
        total = sum(sizes)
        return total < target_file_bytes or len(sizes) > max(
            1, -(-total // target_file_bytes)
        )

    dmap = cur.get("deletes") or {}
    cmap = cur.get("delete_counts") or {}
    smap0 = cur.get("stats") or {}

    def fully_dead(s: str) -> bool:
        # EXACT delete count reached the recorded row count: zero live
        # rows (the read path already skips such segments —
        # _skip_fully_deleted). Compaction drops them from the new log
        # outright: they would contribute no rows to any fold, their
        # files become vacuumable once older versions age out, and
        # their dead rows must never be summed into a fold's
        # stats/sketches. Covers both DV-carrying segments whose DV
        # chain marked every row and counts-only tombstones (a
        # full-coverage MERGE advances delete_counts with no DV file).
        return (
            s in cmap
            and (smap0.get(s) or {}).get("rows") is not None
            and int(cmap[s]) >= int(smap0[s]["rows"])
        )

    dead = [s for s in cur["segments"] if fully_dead(s)]
    alive = [s for s in cur["segments"] if not fully_dead(s)]

    def needs_fold(s: str) -> bool:
        # a delete-carrying segment joins the fold when asked
        # (purge_deletes) — folding reads THROUGH its deletion vectors,
        # so the fold materializes the deletes and drops the DVs
        return fragmented(stats[s]) or (purge_deletes and bool(dmap.get(s)))

    fold = [s for s in alive if needs_fold(s)]
    keep = [s for s in alive if not needs_fold(s)]
    if max_live_segments is not None:
        # pull smallest right-sized segments into the fold until the
        # new log's live count (keep + one fold) fits the knob
        by_size = sorted(keep, key=lambda s: sum(stats[s]))
        while keep and len(keep) + (1 if fold else 0) > max_live_segments:
            victim = by_size.pop(0)
            keep.remove(victim)
            fold.append(victim)
    if not keep and not fold and dead:
        # EVERY segment is fully dead: dropping them all would publish
        # an empty segments list, which readers treat as corruption —
        # fold them into one EMPTY segment instead (the fold read
        # skips dead segments, so zero rows are written and the
        # recomputed stats record rows=0)
        fold, dead = dead, []
    fold_sizes = [b for s in fold for b in stats[s]]
    n_target = max(1, -(-sum(fold_sizes) // target_file_bytes))
    if (
        len(fold) == 1
        and len(fold_sizes) <= n_target
        and not zorder_by
        # rewriting purges its deletes: not 1:1 (counts checked too —
        # a count-carrying segment holds arithmetic tombstones)
        and not dmap.get(fold[0])
        and not cmap.get(fold[0])
    ):
        # folding a lone compact segment rewrites it 1:1; keep it
        # (the dead-segment drop below may still publish)
        keep.append(fold.pop())
    if not fold and not dead:
        return None
    import uuid

    n = cur["version"] + 1
    seg = f"fold={n}-{uuid.uuid4().hex[:8]}" if fold else None
    df = _read_segments(spark, fs, cur, fold) if fold else None
    cby = list(cur.get("cluster_by") or [])
    if not fold:
        pass  # metadata-only publish: dead segments dropped, no fold
    elif zorder_by:
        from cuplyr_spark.sources.readers import write_parquet_zorder

        write_parquet_zorder(
            Frame(df, ()),
            fs.join(seg),
            cols=list(zorder_by),
            bits=zorder_bits,
            mode="errorifexists",
            num_files=n_target,
            partition_by=pby or None,
        )
    elif cby:
        # clustered table: the fold is re-clustered on the table's
        # cluster columns (one range shuffle of the FOLDED bytes only),
        # so file-grain pruning stays tight across compactions
        shaped = _cluster_shape(df, cby, n_target)
        writer = shaped.write.mode("errorifexists")
        if pby:
            writer = writer.partitionBy(*pby)
        writer.parquet(fs.join(seg))
    elif pby:
        # partition layout carries through the fold. Default: coalesce
        # bounds the TASK count so files per partition stay <= n_target
        # with ZERO shuffle — but coalesce also pulls the whole fold
        # pipeline (scan + DV anti-join) through those few tasks, so a
        # LARGE fold (purge of a big table) serializes. shuffle=True
        # repartitions on the partition columns instead: one shuffle of
        # the folded bytes buys full write parallelism (measured 160 s
        # -> task-parallel on the 8M partitioned purge rehearsal).
        shaped = (
            df.repartition(n_target, *[F.col(c) for c in pby])
            if shuffle
            else df.coalesce(n_target)
        )
        shaped.write.mode("errorifexists").partitionBy(*pby).parquet(
            fs.join(seg)
        )
    else:
        shaped = (
            df.repartition(n_target) if shuffle else df.coalesce(n_target)
        )
        shaped.write.mode("errorifexists").parquet(fs.join(seg))
    ordered = [s for s in cur["segments"] if s in set(keep)] + (
        [seg] if seg else []
    )
    # count-carrying fold members are delete-carrying too: a segment
    # whose delete_counts advanced holds rows the fold data does NOT
    # contain, so its recorded stats/sketch must not be summed into
    # the fold's — recompute from the written fold instead
    fold_has_dv = any(dmap.get(s) or cmap.get(s) for s in fold)
    # _log_with_extras restricts every metadata family to the surviving
    # segments: kept segments keep their deletion vectors, while the
    # folded segments' DVs are DROPPED — the fold read them through
    # _read_segments, so the deletes are now materialized in the data
    log = _log_with_extras(cur, n, ordered)
    what = f"compaction of {table_dir!r}"
    if seg is None:
        return _commit(fs, cur, lambda _: log, None, what)
    if pby:
        log["partitions"] = {
            **(log.get("partitions") or {}),
            seg: _partition_dirs(fs, seg, len(pby)),
        }
    # zone maps: merge the folded segments' stats arithmetically (min
    # of mins / max of maxes / summed nulls — exact, zero extra IO).
    # A fold that materialized deletes instead RECOMPUTES from the new
    # segment (cost ∝ fold bytes): the merged bounds would still be
    # sound (superset) but the null counts would include deleted rows.
    # Same for a fold containing a legacy no-stats segment.
    cur_smap = cur.get("stats") or {}
    fold_stats = (
        None
        if fold_has_dv
        else _merge_segment_stats([cur_smap.get(s) for s in fold])
    )
    # file-grain zone maps for the fold (cost ∝ fold bytes, which the
    # fold just paid anyway): the cluster columns on a clustered
    # table, else the z-order columns — the fold's per-file ranges on
    # them are tight by construction, so key probes file-prune
    # z-ordered tables exactly like clustered ones. Folded segments'
    # entries were already dropped by _log_with_extras. Both grains
    # come from one stats pass over the fold.
    types = dict(map(tuple, cur.get("schema") or []))
    fcols = cby or [
        c
        for c in (zorder_by or [])
        if types.get(c) in _STAT_TYPES and c not in pby
    ]
    want_seg = fold_stats is None and bool(cur_smap)
    want_files = bool(fcols) and bool(
        cur.get("file_stats") or cby or zorder_by
    )
    f_stats = None
    if cur.get("schema") and (want_seg or want_files):
        seg_stats, f_stats = _segment_stats(
            spark, fs, seg, cur["schema"], pby,
            file_cols=fcols if want_files else (), segment=want_seg,
        )
        if want_seg:
            fold_stats = seg_stats
    if fold_stats is not None:
        log["stats"] = {**(log.get("stats") or {}), seg: fold_stats}
    if f_stats is not None:
        log["file_stats"] = {**(log.get("file_stats") or {}), seg: f_stats}
    spec = cur.get("sketch_spec")
    if spec is not None:
        if fold_has_dv:
            # sidecars can't subtract (HLL/histograms are add-only):
            # re-sketch the fold from its materialized data
            _write_segment_sketch(spark, fs, seg, spec)
        else:
            # fold the folded segments' sidecar rows arithmetically
            # (HLL union + histogram sum + bloom word-OR + exact
            # row-count sum); any segment missing its sidecar is
            # sketched from its data on the fly
            from pyspark.sql import functions as F

            _merged_sketch_df(spark, fs, fold, spec).withColumn(
                "seg", F.lit(seg)
            ).coalesce(1).write.mode("errorifexists").parquet(
                fs.join(f"{_SKETCH_DIR}/{seg}")
            )
    return _commit(fs, cur, lambda _: log, None, what)


def restore_append_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int,
    keep_watermarks: bool = False,
) -> int:
    """RESTORE an append table to an earlier log version (the Delta
    ``RESTORE TABLE ... TO VERSION AS OF`` analog): publishes a NEW
    log version whose content — segments, partition map, zone maps,
    file stats, deletion vectors, delete counts, schema, cluster/
    sketch/expectation specs — is the target version's, METADATA-ONLY
    (no data read or written; the referenced directories are
    immutable and still on disk until vacuum). History stays linear:
    time travel to the in-between versions keeps working, the new
    version carries ``restored_from`` for audit
    (:func:`append_history`), and a later vacuum keeps the restored
    segments because the new head references them.

    Before publishing, every segment and DV directory the target
    references is checked to still exist — restoring past a vacuum
    raises :class:`FileNotFoundError` instead of publishing a
    manifest whose reads would die (or, worse for DVs, silently
    resurrect deleted rows).

    Watermarks (the per-writer exactly-once batch ids): by default
    the TARGET's are restored too — the true state restore, so the
    fixed pipeline can re-process the batches the restore dropped
    (their ids are above the restored watermark again).
    ``keep_watermarks=True`` instead keeps the CURRENT high-water
    marks: replayed batches from the bad window stay swallowed, for
    the "drop the data but hold the stream position" shape.

    INCREMENTAL-CONSUMER HAZARD (document before you restore, same as
    Delta CDF + RESTORE): the restore version inserts every segment
    it re-adds (at the target's DVs) and ``read_append_cdf`` deletes
    the rows of the segments it drops — but rows it un-deletes in a
    segment live on both sides are not emitted; the insert-only ``read_append_changes`` / ``tail_append_changes``
    re-surface rows a consumer already saw (e.g. restoring past a
    compaction fold) as new in the window that crosses the restore.
    Reset lagging cursors to the restore's published version.
    Materialized views handle this themselves: ``refresh_append_view``
    detects a restore in its window and takes the full-rebuild path
    for that one refresh.

    A concurrent writer winning the log-commit race surfaces as
    :class:`ConcurrentWriteError` — a restore must never silently
    clobber a commit it did not see; re-check the table state and
    re-run. Returns the published version (current version when
    ``version`` already is the head — nothing to do)."""
    fs = _TableFS(table_dir, spark)
    cur = _require_log(fs, table_dir)
    if version == cur["version"]:
        return cur["version"]
    if version > cur["version"]:
        raise ValueError(
            f"restore target {version} is ahead of the published "
            f"version {cur['version']}"
        )
    try:
        target = _read_log(fs, version)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"log version {version} not found at {table_dir!r} — "
            "vacuumed past the restore point"
        ) from None
    missing = [s for s in target["segments"] if not fs.exists(s)]
    missing += [
        d
        for d in sorted(
            {dv for dvs in (target.get("deletes") or {}).values() for dv in dvs}
        )
        if not fs.exists(d)
    ]
    if missing:
        raise FileNotFoundError(
            f"restore to version {version} references reclaimed paths "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} — "
            "vacuum already swept the restore point"
        )
    log = {
        k: v
        for k, v in target.items()
        # per-version audit fields describe the TARGET's own commit,
        # not this restore
        if k not in ("version", "watermarks", "expectation_drops")
    }
    log["version"] = cur["version"] + 1
    log["watermarks"] = _log_watermarks(cur if keep_watermarks else target)
    log["restored_from"] = version
    what = f"restore of {table_dir!r}"
    n = _commit(fs, cur, lambda _: log, None, what)
    # TOCTOU re-verify: a vacuum that was already running against the
    # PRE-restore head can sweep target-only paths between the
    # existence check above and the publish (it never saw this head).
    # Re-check after winning the commit; on loss, roll the table
    # forward to the pre-restore content (whose paths that vacuum
    # honored) and fail loudly, instead of leaving a published head
    # whose reads die — or whose vanished DVs silently resurrect
    # deleted rows.
    gone = [s for s in target["segments"] if not fs.exists(s)]
    gone += [
        d
        for d in sorted(
            {dv for dvs in (target.get("deletes") or {}).values() for dv in dvs}
        )
        if not fs.exists(d)
    ]
    if gone:
        redo = {
            k: v
            for k, v in cur.items()
            if k not in ("version", "expectation_drops")
        }
        redo["version"] = n + 1
        redo["restored_from"] = cur["version"]
        _commit(fs, log, lambda _: redo, None, what)
        raise FileNotFoundError(
            f"restore to version {version} raced a concurrent vacuum — "
            f"paths {gone[:5]}{'...' if len(gone) > 5 else ''} were "
            f"reclaimed after the pre-publish check; the table was "
            f"rolled forward to the pre-restore content (version "
            f"{redo['version']})"
        )
    return n


def append_quick_stats(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
) -> dict:
    """METADATA-ONLY table statistics — the optimized-metadata-query
    analog (Delta answers ``SELECT count(*)``/``min``/``max`` from the
    log the same way): everything here comes from the manifest alone —
    zero filesystem listing, zero data IO — so it is safe to call
    against a 100 TB table from a notebook, per dashboard refresh.

    Returns ``{"version": v, "segments": n, "rows": exact-live-count,
    "cols": {col: {"min": lo, "max": hi, "null_count": n-or-None,
    "exact": bool}}}``:

    - ``rows`` is EXACT under merge-on-read deletes: per-segment
      counts are recorded at append time and the manifest's delete
      counts are exactly additive (a delete scan reads through
      existing DVs, so a row is never marked twice) — live rows =
      Σ rows − Σ deletes. ``None`` when any live segment predates
      stats collection (fall back to ``read_append_snapshot(...)
      .count()``).
    - per-column ``min``/``max`` are merged zone maps: always SOUND
      bounds, and flagged ``exact`` when they are the true extremes —
      which requires a delete-free table (a delete may have removed
      the extreme row; bounds stay sound, exactness is lost until a
      purge compaction) and, for strings, bounds short enough to be
      untruncated. ``null_count`` follows the same rule (``None``
      under deletes — deleted rows may have been NULL).
    - values are in the zone maps' JSON domain (dates/timestamps as
      zero-padded ISO strings; see ``_stat_json``).

    Partition columns carry no zone maps (their values live in the
    manifest partition map) and are omitted from ``cols``."""
    fs = _TableFS(table_dir, spark)
    log = _require_log(fs, table_dir, version)
    segs = list(log["segments"])
    smap = log.get("stats") or {}
    cmap = log.get("delete_counts") or {}
    deleted = sum(int(cmap.get(s, 0)) for s in segs)
    merged = _merge_segment_stats([smap.get(s) for s in segs])
    out: dict = {
        "version": log["version"],
        "segments": len(segs),
        "rows": None if merged is None else int(merged["rows"]) - deleted,
        "cols": {},
    }
    if merged is None:
        return out
    types = dict(map(tuple, log.get("schema") or []))
    for c, entry in sorted(merged["cols"].items()):
        mn, mx, nulls = entry[0], entry[1], entry[2]
        exact = deleted == 0 and mn is not None and mx is not None
        if exact and types.get(c) == "string":
            # a 64-char bound may be a truncated prefix (min) or a
            # bumped prefix (max) — indistinguishable post-hoc, so
            # only shorter bounds are provably the real extremes
            exact = len(mn) < _STAT_STR_CAP and len(mx) < _STAT_STR_CAP
        t = types.get(c) or ""
        if t.startswith("decimal("):
            # bounds are recorded as unscaled ints; report in value
            # space (string form keeps the JSON exact)
            sc = _dec_scale(t)
            import decimal

            mn = None if mn is None else str(
                decimal.Decimal(mn).scaleb(-sc)
            )
            mx = None if mx is None else str(
                decimal.Decimal(mx).scaleb(-sc)
            )
        out["cols"][c] = {
            "min": mn,
            "max": mx,
            "null_count": int(nulls) if deleted == 0 else None,
            "exact": bool(exact),
        }
    return out


def append_history(
    table_dir: str, spark: SparkSession | None = None
) -> list[dict]:
    """Log-version-level metadata — the DESCRIBE HISTORY analog: one
    dict per retained ``_LOG.<v>``, ascending, with
    ``version``, ``n_segments``, ``n_new_segments`` (segments this
    version added — 0 for watermark-reset/compaction-only publishes),
    ``compacted`` (this version folded segments away), ``watermarks``
    (per-app exactly-once high-water marks), ``partition_by`` and
    ``published``. Pure manifest metadata — no data files are read or
    listed, so it is safe on a 100 TB table; feeds compaction/vacuum
    scheduling (e.g. compact when n_segments drifts high) and
    consumer-lag dashboards (cursor version vs published version)."""
    fs = _TableFS(table_dir, spark)
    versions = _log_versions(fs)
    published = max(versions, default=None)
    out = []
    prev: set | None = None
    for v, log in _log_states_for(fs, versions):
        segs = log["segments"]
        new = [s for s in segs if prev is None or s not in prev]
        out.append(
            {
                "version": v,
                "n_segments": len(segs),
                "n_new_segments": len(new),
                "compacted": prev is not None and bool(prev - set(segs)),
                "watermarks": _log_watermarks(log),
                "partition_by": list(log.get("partition_by") or []),
                "published": v == published,
                "rows_deleted": sum(
                    int(c) for c in (log.get("delete_counts") or {}).values()
                ),
                "restored_from": log.get("restored_from"),
                "ts": log.get("ts"),
            }
        )
        prev = set(segs)
    return out


def vacuum_append_snapshot(
    table_dir: str,
    keep_last: int = 2,
    spark: SparkSession | None = None,
    orphan_grace_hours: float = 24.0,
    dry_run: bool = False,
) -> list[str] | dict:
    """Prune append-table history: keep the newest ``keep_last`` log
    versions plus (always) the published one, delete every other
    ``_LOG.*`` file and every segment directory no kept log references
    (raw ``seg=`` and compaction ``fold=`` alike). Returns the deleted
    segment dirs, ascending. ``dry_run=True`` deletes NOTHING and
    returns the full would-delete report instead — ``{"segments":
    [...], "dvs": [...], "log_versions": [...], "checkpoints": [...],
    "keep_versions": [...]}`` — the operator's pre-flight check before
    committing to a retention change.

    NEVER-LOGGED segments (referenced by NO log still on disk) are
    either crash debris or — now that appends are concurrency-safe —
    a racing appender's data written but not yet committed; the two
    are indistinguishable from the filesystem, so such orphans are
    only deleted once older than ``orphan_grace_hours`` (Delta's
    VACUUM retention answer to the identical hazard; pass ``0`` to
    reap crash debris immediately in a known-quiet table). Aged
    HISTORY segments (referenced by a log being pruned) are a
    deliberate retention choice and go immediately.

    Retention interacts with incremental readers: keep
    ``keep_last`` at least the deepest ``read_append_changes`` /
    ``stream_append_log`` reader lag, or the lagging reader loses the
    window (it fails loudly, never silently skips)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs = _TableFS(table_dir, spark)
    versions = _log_versions(fs)
    published = max(versions, default=None)
    keep = set(versions[-keep_last:])
    if published is not None:
        keep.add(published)
    # Delta-chain retention: every KEPT version must stay
    # reconstructible after the logs below it are swept, so any kept
    # version whose walk would cross a doomed version gets its state
    # folded into an immutable _CHECKPOINT first (written BEFORE any
    # deletion — a crash between the two leaves extra files, never a
    # broken chain).
    for v in sorted(keep):
        if v - 1 in keep or v not in versions:
            continue  # predecessor retained: chain continues through it
        if fs.read_text(f"_CHECKPOINT.{v}") is not None:
            continue
        if not dry_run and _read_log_rec(fs, v).get("delta"):
            _write_checkpoint(fs, _reconstruct_log(fs, v))
            if fs.read_text(f"_CHECKPOINT.{v}") is None:
                # The retention fold is NOT best-effort like the
                # cadence checkpoints in _write_log: sweeping the
                # records below v without a VERIFIED base would make
                # the kept version unreconstructible (every read of it
                # would raise FileNotFoundError). A failed — not just
                # crashed — checkpoint write (transient object-store
                # error; _write_checkpoint swallows it by design) must
                # therefore keep v's whole delta chain alive instead.
                k = v
                while (
                    k >= 1
                    and fs.read_text(f"_CHECKPOINT.{k}") is None
                    and _read_log_rec(fs, k).get("delta")
                ):
                    keep.add(k)
                    k -= 1
                if k >= 1:
                    keep.add(k)  # the full-form / checkpointed base
                warnings.warn(
                    f"vacuum_append_snapshot: checkpoint write for kept "
                    f"version {v} at {table_dir!r} did not land — "
                    f"retaining its delta chain down to version "
                    f"{max(k, 1)} instead of sweeping it (re-run vacuum "
                    "once the store accepts writes to fold it away)",
                    stacklevel=2,
                )
    referenced: set = set()
    ever_logged: set = set()
    referenced_dv: set = set()
    ever_logged_dv: set = set()
    for v, log_v in _log_states_for(fs, versions):
        segs = log_v["segments"]
        dvs = {d for files in (log_v.get("deletes") or {}).values() for d in files}
        ever_logged.update(segs)
        ever_logged_dv.update(dvs)
        if v in keep:
            referenced.update(segs)
            referenced_dv.update(dvs)

    def ripe(rel: str, logged: set) -> bool:
        if rel in logged or orphan_grace_hours <= 0:
            return True
        import time as _time

        if fs.remote:
            mtime = (
                fs._fs.getFileStatus(fs._jpath(fs.join(rel)))
                .getModificationTime() / 1000.0
            )
        else:
            mtime = os.path.getmtime(fs.join(rel))
        return _time.time() - mtime > orphan_grace_hours * 3600.0

    doomed_segs = sorted(
        name
        for name in fs.listdir()
        if name.startswith(("seg=", "fold="))
        and name not in referenced
        and ripe(name, ever_logged)
    )
    if dry_run:
        doomed_dvs = []
        if fs.exists(_DELETE_DIR):
            doomed_dvs = sorted(
                f"{_DELETE_DIR}/{name}"
                for name in fs.subdirs(_DELETE_DIR)
                if f"{_DELETE_DIR}/{name}" not in referenced_dv
                and ripe(f"{_DELETE_DIR}/{name}", ever_logged_dv)
            )
        doomed_ckpts = sorted(
            name
            for name in fs.listdir()
            if _ckpt_version(name) is not None
            and _ckpt_version(name) not in keep
        )
        return {
            "segments": doomed_segs,
            "dvs": doomed_dvs,
            "log_versions": sorted(v for v in versions if v not in keep),
            "checkpoints": doomed_ckpts,
            "keep_versions": sorted(keep),
        }
    for seg in doomed_segs:
        _rm(fs, seg)
        _rm(fs, f"{_SKETCH_DIR}/{seg}")
    # deletion-vector files: same rule as segments — swept once no kept
    # log references them; a never-logged DV is an in-flight or crashed
    # delete's, so it ages through the orphan grace window first
    if fs.exists(_DELETE_DIR):
        for name in fs.subdirs(_DELETE_DIR):
            rel = f"{_DELETE_DIR}/{name}"
            if rel not in referenced_dv and ripe(rel, ever_logged_dv):
                _rm(fs, rel)
    for v in versions:
        if v not in keep:
            _rm(fs, f"_LOG.{v}")
    # checkpoints are derived data: sweep the ones whose version is no
    # longer retained (their base role is taken by a kept checkpoint).
    # Family shards (_CHECKPOINT.<n>.<family>) sweep with their index
    # as one unit — a kept index must always find its shards; orphan
    # shards from a crashed sharded write sweep once their version
    # ages out of retention like any other checkpoint.
    for name in fs.listdir():
        v = _ckpt_version(name)
        if v is not None and v not in keep:
            _rm(fs, name)
    return doomed_segs


# -- copy-on-write snapshot tables ----------------------------------------
#
# A copy-on-write table is an append table whose every version replaces
# all segments — the Delta log writes an overwrite the same way, as
# "remove every file, add the new ones" — so its API is a set of thin
# wrappers over the log: one commit loop, one pointer, one vacuum.


def write_snapshot(
    frame: Frame, table_dir: str, expected_base: int | None = None
) -> int:
    """Publish the frame as the table's next version: the WHOLE table,
    one fresh segment replacing every segment and the schema,
    committed through :func:`_commit` — readers see the previous
    complete version or the new one, a writer crash leaves an orphan
    segment vacuum reclaims, and earlier versions stay readable (time
    travel). Returns the published version.

    A blind write that loses the commit race rebases after the winner
    (last writer wins, as for any overwrite). ``expected_base`` is the
    hook for frames DERIVED from a version the caller read (``0``: the
    table has no version yet): when another writer published past it,
    the write publishes nothing and raises
    :class:`ConcurrentWriteError` instead of a lost update."""
    spark = frame.df.sparkSession
    fs = _TableFS(table_dir, spark)
    fs.mkdirs()
    cur = _read_log(fs)
    head = cur["version"] if cur else 0

    def conflict(v):
        return ConcurrentWriteError(
            f"table {table_dir!r} moved from v{expected_base} to v{v} "
            "since this operation read it — re-read and re-run the "
            "operation"
        )

    if expected_base is not None and head != expected_base:
        raise conflict(head)  # cheap pre-check before the data write
    schema = _frame_schema_pairs(frame.df)
    staged = _stage_segment(
        spark, fs, head + 1, frame.df, schema, [], [], False, None
    )

    def build(cur):
        log = _log_with_extras(cur or {}, segments=[])
        log["schema"] = schema
        # the new segment is written unpartitioned, unclustered and
        # unsketched, whatever layout the replaced segments had
        _stamp_layout(log, partition_by=None, cluster_by=None,
                      sketch_spec=None)
        _add_segment(log, staged)
        return log

    def on_race(old, new):
        if expected_base is not None:
            raise conflict(new["version"])

    return _commit(fs, cur, build, on_race, f"write_snapshot to {table_dir!r}")


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> Frame:
    """The published version (default) or a pinned earlier one —
    :func:`read_append_snapshot`."""
    return read_append_snapshot(spark, table_dir, version=version)


def latest_snapshot_version(table_dir: str) -> int | None:
    """The published version (the log head), or None."""
    return _log_head_version(_TableFS(table_dir)) or None


def snapshot_versions(table_dir: str) -> list[int]:
    """The retained versions, ascending."""
    return _log_versions(_TableFS(table_dir))


def snapshot_history(
    table_dir: str, spark: SparkSession | None = None
) -> list[dict]:
    """DESCRIBE HISTORY analog: one dict per retained version,
    ascending, with ``version``, ``n_files`` and ``bytes`` (data files
    of its segments), ``complete`` (always True: a retained version is
    a finished commit) and ``published`` — from the log and a listing
    of the segments, no data read."""
    fs = _TableFS(table_dir, spark)
    versions = _log_versions(fs)
    out = []
    for v, log in _log_states_for(fs, versions):
        deep = bool(log.get("partition_by"))
        sizes = [b for s in log["segments"] for b in fs.file_sizes(s, deep)]
        out.append({
            "version": v,
            "n_files": len(sizes),
            "bytes": sum(sizes),
            "complete": True,
            "published": v == versions[-1],
        })
    return out


def upsert_snapshot(
    spark: SparkSession,
    frame: Frame,
    table_dir: str,
    key: str | list[str],
    delete_filter: str | None = None,
    schema_evolution: bool = False,
) -> int:
    """Keyed merge (upsert) into a snapshot table: rows in ``frame``
    REPLACE current rows with the same key; all other current rows
    carry over; ``delete_filter`` (a SQL predicate over the CURRENT
    version, e.g. ``"expired = true"``) drops matching carried-over
    rows — the three clauses of a lakehouse MERGE, without jars.

    Copy-on-write at table grain: the next version (current ▷
    anti-join on key ∪ new; one key shuffle, a broadcast anti-join
    when ``frame`` is small) is published by
    ``write_snapshot(expected_base=)`` — readers never see a
    half-merged table, pre-merge versions stay readable, and a
    concurrent publish surfaces as :class:`ConcurrentWriteError`
    (re-run the upsert), never a lost update.
    :func:`upsert_append_rows` is the merge-on-read MERGE that
    rewrites nothing. Returns the published version; the first upsert
    into an empty table publishes ``frame`` as v1.

    ``schema_evolution=True`` is the Delta ``mergeSchema`` analog:
    instead of rejecting a schema mismatch, the next version is
    written at the UNIFIED schema — table columns first in table
    order, new upsert columns appended; a column missing on either
    side is NULL-filled there, and a column typed differently widens
    through the same promotion lattice as ``bind_rows``
    (``cuplyr_spark.schema``: bool < ints < floats, anything+string →
    string, date < timestamp — one lattice for every schema-merge
    surface). Incompatible pairs (numeric vs timestamp) still raise.
    Copy-on-write makes this safe: every published version is
    self-consistent at its own schema, and time travel to
    pre-evolution versions returns the OLD schema unchanged.
    """
    keys = [key] if isinstance(key, str) else list(key)
    base = _log_head_version(_TableFS(table_dir, spark))
    if not base:
        return write_snapshot(frame, table_dir, expected_base=0)
    current = read_snapshot(spark, table_dir, version=base)
    missing = [k for k in keys if k not in current.df.columns]
    if missing or [k for k in keys if k not in frame.df.columns]:
        raise ValueError(f"merge key {keys} not present in both sides")
    cur_df, new_df = current.df, frame.df
    if schema_evolution:
        from cuplyr_spark.schema import unify_schemas

        unified = unify_schemas([cur_df.schema, new_df.schema])
        cur_df = _conform_schema(cur_df, unified)
        new_df = _conform_schema(new_df, unified)
    elif sorted(cur_df.columns) != sorted(new_df.columns):
        raise ValueError(
            f"schema mismatch: table has {sorted(cur_df.columns)}, "
            f"upsert has {sorted(new_df.columns)} "
            "(pass schema_evolution=True to merge schemas)"
        )
    kept = cur_df.join(new_df.select(*keys), on=keys, how="left_anti")
    if delete_filter is not None:
        kept = kept.filter(f"NOT ({delete_filter})")
    merged = kept.select(*cur_df.columns).unionByName(
        new_df.select(*cur_df.columns)
    )
    return write_snapshot(Frame(merged, ()), table_dir, expected_base=base)


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
) -> int | None:
    """Small-file compaction (Delta ``OPTIMIZE`` analog) —
    :func:`compact_append_snapshot`: the published version's rows are
    rewritten at ``ceil(bytes / target_file_bytes)`` files as a new
    version (``coalesce``; ``shuffle=True`` repartitions;
    ``zorder_by`` lays out ``OPTIMIZE ZORDER BY``). Returns it, or
    ``None`` when the version already is one right-sized segment. A
    concurrent merge surfaces as :class:`ConcurrentWriteError`."""
    return compact_append_snapshot(
        spark, table_dir, target_file_bytes, zorder_by=zorder_by,
        zorder_bits=zorder_bits, shuffle=shuffle,
    )


def rollback_snapshot(
    table_dir: str, version: int, spark: SparkSession | None = None
) -> int:
    """Operational rollback — :func:`restore_append_snapshot`: a NEW
    version whose content is ``version``'s (history stays linear).
    Returns the published version."""
    return restore_append_snapshot(spark, table_dir, version)


def vacuum_snapshots(
    table_dir: str,
    keep_last: int = 2,
    spark: SparkSession | None = None,
    orphan_grace_hours: float = 24.0,
) -> list[int]:
    """Garbage-collect old versions — :func:`vacuum_append_snapshot`
    (keep the newest ``keep_last`` plus the published one; never-logged
    segments wait out ``orphan_grace_hours``). Returns the versions
    removed, ascending."""
    fs = _TableFS(table_dir, spark)
    before = _log_versions(fs)
    vacuum_append_snapshot(table_dir, keep_last, spark, orphan_grace_hours)
    kept = set(_log_versions(fs))
    return [v for v in before if v not in kept]
