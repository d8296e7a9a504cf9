"""Snapshot table format — a transaction-log ACID layer over parquet.

``Table`` (tables.py) covers the reference's BigQuery surface with
rename-based swaps; its docstrings say the honest thing: on an object
store, renames are not a commit protocol. This module supplies the
format-level answer those docstrings point at — the missing
"transactional table format" story for the engine — built the way
Delta Lake / Iceberg build it (public designs), sized for 100 TB:

- **Commit = one atomically-created log file.** Data files are written
  first (immutable, never renamed, never overwritten); the commit is a
  single ``O_CREAT|O_EXCL`` create of ``_log/<version>.json`` listing
  added/removed files. Losers of a race get ``FileExistsError``, not a
  corrupted table. No directory renames anywhere, so the protocol
  translates directly to an object store's put-if-absent.
- **Snapshot isolation + time travel.** A reader resolves a version's
  file list from the log and reads exactly those files; concurrent
  commits can't change what it sees. ``read(version=N)`` /
  ``read(asof_ts=...)`` replay history.
- **Optimistic concurrency, one commit funnel.** Every commit goes
  through ``SnapshotTable._commit``; a lost race falls in one of three
  classes. (1) The new head already holds this commit's
  ``txn_app``/``txn_version``: the racer was our own replay, so the call
  is a no-op. (2) Commuting appends (``append``, ``copy_into``, the
  datasource append and stream-sink epoch) rebase onto the new head and
  retry, with jittered backoff, up to ``COMMIT_ATTEMPTS`` tries. (3)
  Everything else (create, overwrite, merge, delete, update, compaction,
  restore, DDL) raises ``CommitConflictError`` — the caller decides,
  nothing is clobbered.
- **File-level column stats → copy-on-write at file granularity.**
  Each added file records min/max/null-count per column from parquet
  FOOTERS (pyarrow metadata — no data read). ``merge_into``/``delete_where``
  use key-range stats to skip files that cannot contain affected keys,
  then an ``input_file_name()`` probe to rewrite ONLY files that
  actually do: every other file is untouched bytes. O(affected files),
  not O(table) — the property BigQuery partition loads gave the
  reference (custom_search_extraction.py:215-218), generalized beyond
  one partition column.
- **Deletion vectors (merge-on-read).** ``delete_where(mode="dv")``
  commits a parquet of (file basename, ``_metadata.row_index``) pairs
  instead of rewriting data files — at 100 TB a 3-row delete must not
  rewrite a 1 GB file (the Delta/Iceberg-v2 position-delete design).
  Readers anti-join masks over MASKED files only; clean files scan
  untouched. Any rewrite of a masked file (merge/compact/zorder/cow
  delete) reads through the mask, materializes the delete, and retires
  the mask with the file. Stacked dv deletes compose (each dv scan is
  itself dv-applied); CDF emits masked rows as deletes at their dv
  commit; vacuum retires mask parquets with the versions referencing
  them.
- **Log checkpoints.** Every ``CHECKPOINT_EVERY`` commits the full file
  manifest is rolled up into ``<version>.checkpoint.json``; state
  resolution replays O(commits since last checkpoint), not O(history).
- **Vacuum.** Data files referenced by no retained version are deleted;
  time travel within the retention window keeps working.

Partitioning: partition values stay as ordinary columns; ``cluster_by``
repartitions on write so each file covers a narrow key range and the
min==max stats make file skipping as sharp as hive-dir pruning — while
also pruning on ANY stats column, which hive layouts cannot.
"""

from __future__ import annotations

import io
import itertools
import json
import logging
import os
import random
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from decimal import Decimal
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wopen_spark.localframe import DRIVER_MAX_BYTES, DRIVER_MAX_ROWS, local_df

CHECKPOINT_EVERY = 10
# tries one commit gets before a commuting write gives up on a
# contended head (the table funnel and the catalog registry alike)
COMMIT_ATTEMPTS = 5

_log = logging.getLogger(__name__)

# the state a create commits on top of: version 1 is the first commit
_NO_TABLE = {"version": 0}

# Reserved row-identity column names for deletion-vector plumbing; the
# __sn_ prefix keeps them out of any plausible user schema.
_DV_FILE = "__sn_dv_file"
_DV_ROW = "__sn_dv_row"

_DUP_MSG = (
    "merge_into: a target row is matched by multiple source "
    "rows — deduplicate the source on the merge key first"
)


def _commit_backoff(lost: int) -> None:
    """Sleep after the ``lost``-th lost commit race: full jitter,
    uniform in [0, 50 ms·lost], so N contending writers do not
    lock-step through their budgets re-reading the same head."""
    time.sleep(random.uniform(0, 0.05 * lost))


class CommitConflictError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class VacuumedVersionError(RuntimeError):
    """Time travel target references files removed by vacuum."""


class ConstraintViolationError(RuntimeError):
    """Incoming rows violate a CHECK constraint (write rejected whole)."""


def uri_to_path(uri: str) -> str:
    """Normalize a *local* Spark ``input_file_name()`` URI (``file:/…``,
    ``file:///…``) or a bare path to a plain filesystem path for
    relpath arithmetic. THE single copy of this parsing — the
    datasource's local store spec and the registry's footer-bound probe
    route through it, so a future scheme fix lands everywhere at once.

    Non-file schemes (``s3a://bucket/key``, ``gs://…``) are REJECTED:
    ``urlparse().path`` would drop the netloc (bucket), so two buckets'
    keys would collide and relpath arithmetic would mis-relativize.
    Remote stores own their own URI->relative-key inversion (see
    ``HadoopFsDataStore.relativize``)."""
    if "://" in uri:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            raise ValueError(
                f"uri_to_path only handles file:/bare paths; got scheme "
                f"{parsed.scheme!r} in {uri!r} — remote stores must "
                f"relativize their own URIs (netloc would be dropped)"
            )
        return unquote(parsed.path)
    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return uri


def _json_safe(v):
    """Parquet footer stat -> JSON-storable value that compares the same
    way the column does (ISO dates/timestamps sort lexicographically;
    bytes decode best-effort)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _same_family(a, b) -> bool:
    """Do two JSON-safe stat values order the way the column does: both
    numbers, both strings, or both bools (bool is an int in Python, so
    it is told apart first)? None belongs to no family."""
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool)
    return (
        isinstance(a, (int, float)) and isinstance(b, (int, float))
    ) or (isinstance(a, str) and isinstance(b, str))


_BLOOM_MAX_ROWS = 1_000_000  # past this, range stats dominate; no bloom
_BLOOM_K = 7
_U64 = (1 << 64) - 1


def _bloom_params(n_rows: int) -> int:
    """Bits sized ~13 per key (fp ~0.5% at k=7), power of two. Blooms
    live as SIDECAR objects next to their data file (never in the JSON
    log), so the cap is generous: 16 Mbit = 2 MB raw at the 1M-row
    ceiling."""
    m = 1 << 13
    while m < 13 * max(n_rows, 1) and m < (1 << 24):
        m <<= 1
    return m


def _mix64(x: int) -> int:
    """splitmix64 finalizer — deterministic across processes, and the
    scalar twin of the vectorized numpy build below (MUST stay in
    lockstep with it)."""
    x = (x + 0x9E3779B97F4A7C15) & _U64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _U64
    return x ^ (x >> 31)


def _bloom_hashes_int(value: int, m: int) -> list[int]:
    v = value & _U64
    h1 = _mix64(v)
    h2 = _mix64(v ^ 0xA5A5A5A5A5A5A5A5) | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_hashes_md5(value: str, m: int) -> list[int]:
    """Kirsch-Mitzenmacher double hashing off one md5: k positions from
    h1 + i*h2 — deterministic across processes (no PYTHONHASHSEED)."""
    import hashlib

    d = hashlib.md5(value.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build_ints(values, m: int) -> bytes:
    """Vectorized integer bloom: numpy splitmix64 double-hash over the
    whole column at once — ~100x the throughput of per-value md5, which
    is what makes write-time blooms affordable on million-row files."""
    import numpy as np

    v = np.asarray(values, dtype=np.uint64)
    with np.errstate(over="ignore"):
        def mix(x):
            x = x + np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return x ^ (x >> np.uint64(31))

        h1 = mix(v)
        h2 = mix(v ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    bits = np.zeros(m // 8, dtype=np.uint8)
    mm = np.uint64(m)
    for i in range(_BLOOM_K):
        pos = (h1 + np.uint64(i) * h2) % mm
        np.bitwise_or.at(
            bits, (pos >> np.uint64(3)).astype(np.int64),
            np.left_shift(
                np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
            ),
        )
    return bits.tobytes()


def _bloom_build_strs(values, m: int) -> bytes:
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        for pos in _bloom_hashes_md5(str(v), m):
            bits[pos >> 3] |= 1 << (pos & 7)
    return bytes(bits)


def _bloom_test(blob: bytes, value, kind: str) -> bool:
    m = len(blob) * 8
    positions = (
        _bloom_hashes_int(int(value), m)
        if kind == "i64"
        else _bloom_hashes_md5(str(value), m)
    )
    return all(blob[pos >> 3] & (1 << (pos & 7)) for pos in positions)


def _scan_file_metas_distributed(spark, root: str, rels: list[str]) -> list[dict]:
    """Footer-stats derivation fanned out to executors: one Arrow batch
    of relative paths per task, each worker opening its files' FOOTERS
    only (O(row groups), never O(data)). This is what keeps
    ``convert_from_parquet`` on a million-file directory from becoming
    a serial driver loop; results come back as one small JSON row per
    file. Local-filesystem roots only (executors open ``root/rel``
    directly)."""

    def scan(batches):
        import pandas as _pd

        for pdf in batches:
            out = []
            for rel in pdf["rel"]:
                p = os.path.join(root, rel)
                with open(p, "rb") as src:
                    out.append(
                        json.dumps(_file_meta(src, rel, os.path.getsize(p)))
                    )
            yield _pd.DataFrame({"meta": out})

    n = max(1, min(len(rels) // 16, 256))
    df = local_df(spark, [(r,) for r in rels], "rel string").repartition(n)
    rows = df.mapInPandas(scan, "meta string").collect()
    by_path = {m["path"]: m for m in (json.loads(r.meta) for r in rows)}
    return [by_path[r] for r in rels]


def _file_meta(source, rel_path: str, nbytes: int) -> dict:
    """Footer-only add-action metadata: rows, bytes, per-column
    min/max/nulls. Footer reads are O(row groups), never O(data).
    ``source`` is anything ``pyarrow.parquet.ParquetFile`` accepts — a
    path or a seekable binary handle from ``DataStore.open_input``."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(source).metadata
    stats: dict[str, dict] = {}
    # Columns where ANY non-empty row group lacks min/max (writers omit
    # stats e.g. for oversized string values). Partial bounds UNDERSTATE
    # the file's true range, and _candidate_files would then wrongly
    # stats-skip a file that does contain affected keys — silent merge
    # corruption. Such columns get NO file-level stats (= never skipped).
    partial: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        if g.num_rows == 0:
            continue
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested field — no file-skip stats
                continue
            try:
                s = col.statistics
            except Exception:
                # pyarrow cannot materialize stats for every physical
                # type (e.g. decimal raises ArrowNotImplementedError) —
                # treat exactly like absent stats: the column is never
                # file-skipped, pruning stays false-positive-only
                partial.add(name)
                continue
            if s is None:
                partial.add(name)
                continue
            if not s.has_min_max:
                # benign ONLY when the row group is PROVABLY all-null for
                # this column (null_count covers every row — nulls never
                # participate in range pruning). Anything weaker (falsy
                # num_values, missing null_count) must be treated as real
                # values left unstated -> drop the column's file stats.
                if s.null_count is not None and s.null_count == g.num_rows:
                    cur = stats.setdefault(
                        name, {"min": None, "max": None, "nulls": 0}
                    )
                    cur["nulls"] += s.null_count
                else:
                    partial.add(name)
                continue
            try:
                mn_raw, mx_raw = s.min, s.max
            except Exception:
                # materializing min/max raises for physical types
                # pyarrow has no statistics cast for (e.g. some decimal
                # widths: ArrowNotImplementedError) — same policy as
                # absent stats: never file-skipped.
                partial.add(name)
                continue
            if isinstance(mn_raw, Decimal) or isinstance(mx_raw, Decimal):
                # decimal is not in _PRUNABLE_TYPES (no faithful JSON
                # comparator) and Decimal isn't JSON-storable — same
                # policy as nested fields: no file-level stats, never
                # skipped.
                partial.add(name)
                continue
            cur = stats.setdefault(name, {"min": None, "max": None, "nulls": 0})
            mn, mx = _json_safe(mn_raw), _json_safe(mx_raw)
            if cur["min"] is None or mn < cur["min"]:
                cur["min"] = mn
            if cur["max"] is None or mx > cur["max"]:
                cur["max"] = mx
            cur["nulls"] += s.null_count or 0
    for name in partial:
        stats.pop(name, None)
    return {
        "path": rel_path,
        "rows": md.num_rows,
        "bytes": nbytes,
        "stats": stats,
    }


def _entry_batches(store, entries, schema: T.StructType, mapping: dict | None):
    """Read data files through the logical ``schema`` with pyarrow, apply
    deletion-vector masks by row position and tag change rows; yields
    RecordBatches matching ``schema``. The one file reader of the
    driver-side snapshot reads and the ``wopen_snapshot`` executor tasks.

    ``entries`` holds one ``(file_rel, dv_rels, semi_rels, change_type,
    commit_version)`` tuple per data file: ``dv_rels`` are masks whose
    rows are dropped, ``semi_rels`` masks whose rows are the only ones
    kept (the rows a dv commit deleted); a ``_change_type`` /
    ``_commit_version`` field in ``schema`` takes the entry's tag.
    ``mapping`` is logical -> physical column names. All bytes come
    through ``store`` (a DataStore: a POSIX handle for local roots, an
    object GET for s3)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    mapping = mapping or {}
    target = to_arrow_schema(schema)
    logical_names = [f.name for f in schema.fields]

    for file_rel, dv_rel, semi_rel, change_type, commit_version in entries:
        pf = pq.ParquetFile(store.open_input(file_rel))
        present = set(pf.schema_arrow.names)
        want_phys = [
            mapping.get(f.name, f.name)
            for f in schema.fields
            if mapping.get(f.name, f.name) in present
        ]
        tbl = pf.read(columns=want_phys)

        mask_rows: set[int] | None = None
        base = os.path.basename(file_rel)
        for kind, paths in (("anti", dv_rel), ("semi", semi_rel)):
            if not paths:
                continue
            hit: set[int] = set()
            for p in paths:
                # row-group/page-predicated read: a mask covering 100
                # files must not materialize all its rows for every file
                mt = pq.read_table(
                    store.open_input(p), filters=[(_DV_FILE, "=", base)]
                )
                hit.update(mt.column(_DV_ROW).to_pylist())
            if kind == "anti":
                mask_rows = hit if mask_rows is None else mask_rows | hit
            else:
                # semi: keep exactly the newly-masked rows
                keep = hit - (mask_rows or set())
                sel = sorted(i for i in keep if i < tbl.num_rows)
                tbl = tbl.take(pa.array(sel, type=pa.int64()))
                mask_rows = None
                break
        if mask_rows:
            keep = np.ones(tbl.num_rows, dtype=bool)
            idx = [i for i in mask_rows if i < tbl.num_rows]
            keep[idx] = False
            tbl = tbl.filter(pa.array(keep))

        # physical -> logical names, null-fill absent (pre-widening)
        # columns, cast to the EXACT arrow schema the Spark schema implies
        out_cols, n = [], tbl.num_rows
        for f in schema.fields:
            if f.name in ("_change_type", "_commit_version"):
                val = change_type if f.name == "_change_type" else commit_version
                out_cols.append(pa.repeat(val, n))
                continue
            p = mapping.get(f.name, f.name)
            if p in present:
                out_cols.append(tbl.column(p))
            else:
                out_cols.append(pa.nulls(n))
        result = pa.table(out_cols, names=logical_names).cast(target, safe=False)
        yield from result.to_batches(max_chunksize=1 << 16)


class LogStore:
    """Control-plane storage contract for the transaction log.

    Four blob-atomic primitives, NONE involving rename — the whole point
    of the commit protocol is that it survives object stores, where
    rename is a copy, not a commit:

    - ``put_if_absent(name, data)``: publish a blob only if ``name`` does
      not exist, content-atomic (a reader never sees a partial blob).
      Raises ``FileExistsError`` on a lost race. This IS the commit
      protocol — POSIX ``O_EXCL``+hardlink locally, conditional PUT
      (``If-None-Match: *``) on S3/GCS/ABFS.
    - ``put(name, data)``: atomic replace. Only for REBUILDABLE advisory
      blobs (checkpoints) — never the source of truth.
    - ``read(name) -> bytes`` / ``list() -> [names]`` / ``exists(name)``.

    Data files do NOT go through this interface: Spark reads and writes
    them through its Hadoop filesystem layer, which already speaks
    object stores; data files are immutable and never renamed, so they
    need no protocol beyond "write once, read many".
    """

    def put_if_absent(self, name: str, data: bytes) -> None:
        raise NotImplementedError

    def put(self, name: str, data: bytes) -> None:
        raise NotImplementedError

    def read(self, name: str) -> bytes:
        raise NotImplementedError

    def list(self) -> list[str]:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        raise NotImplementedError


class LocalLogStore(LogStore):
    """POSIX implementation: publish = one hard link (atomic for CONTENT
    as well as existence — an O_EXCL create-then-write would expose an
    empty/partial log file to concurrent readers); EEXIST is the
    lost-race signal."""

    def __init__(self, root: str):
        self.root = root

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def put_if_absent(self, name: str, data: bytes) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._p(f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._p(name))  # FileExistsError = lost race
        finally:
            os.unlink(tmp)

    def put(self, name: str, data: bytes) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._p(f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        # atomic replace: a reader never sees a half-written checkpoint
        os.replace(tmp, self._p(name))

    def read(self, name: str) -> bytes:
        with open(self._p(name), "rb") as f:
            return f.read()

    def list(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(os.listdir(self.root))

    def exists(self, name: str) -> bool:
        return os.path.exists(self._p(name))


class InMemoryLogStore(LogStore):
    """Object-store fake for tests: whole-blob atomic puts guarded by a
    mutex, conditional create via the same lock — and, crucially, NO
    rename in its vocabulary at all, so any protocol code that silently
    depended on rename atomicity cannot pass against it."""

    def __init__(self):
        import threading

        self._blobs: dict[str, bytes] = {}
        self._mu = threading.Lock()

    def put_if_absent(self, name: str, data: bytes) -> None:
        with self._mu:
            if name in self._blobs:
                raise FileExistsError(name)
            self._blobs[name] = bytes(data)

    def put(self, name: str, data: bytes) -> None:
        with self._mu:
            self._blobs[name] = bytes(data)

    def read(self, name: str) -> bytes:
        with self._mu:
            if name not in self._blobs:
                raise FileNotFoundError(name)
            return self._blobs[name]

    def list(self) -> list[str]:
        with self._mu:
            return sorted(self._blobs)

    def exists(self, name: str) -> bool:
        with self._mu:
            return name in self._blobs


class HadoopFsLogStore(LogStore):
    """Control plane over Spark's Hadoop filesystem layer for
    RENAME-ATOMIC filesystems — HDFS, ABFS, and local ``file://`` (the
    public Delta ``HDFSLogStore`` design). Publish = write a temp blob,
    fsync-equivalent close, then ``FileContext.rename`` with the default
    ``Rename.NONE`` semantics: the rename FAILS with
    ``FileAlreadyExistsException`` when the destination exists, which is
    simultaneously the lost-race signal and the content-atomicity
    guarantee (a reader never sees a partial commit blob, only the
    complete renamed one).

    Deployment boundary, stated loudly: this store is NOT safe on plain
    S3A — S3 rename is copy+delete and checks nothing atomically. S3
    needs a conditional-PUT (``If-None-Match: *``) LogStore, which the
    generic Hadoop FS vocabulary cannot express; ``InMemoryLogStore``
    models those semantics for tests, and a boto-backed store would
    implement them in deployment. HDFS/ABFS/file get the real protocol
    from this class."""

    def __init__(self, spark: SparkSession, root_uri: str):
        self.root = root_uri.rstrip("/")
        sc = spark.sparkContext
        jvm = sc._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        jroot = self._Path(self.root)
        conf = spark._jsc.hadoopConfiguration()
        self._fs = jroot.getFileSystem(conf)
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jroot.toUri(), conf
        )
        rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
        self._no_overwrite = sc._gateway.new_array(rename_cls, 0)
        self._overwrite = sc._gateway.new_array(rename_cls, 1)
        self._overwrite[0] = rename_cls.OVERWRITE

    def _jp(self, name: str):
        return self._Path(f"{self.root}/{name}")

    def _write_tmp(self, data: bytes):
        tmp = self._jp(f".tmp-{uuid.uuid4().hex}.json")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return tmp

    def _rename(self, tmp, name: str, options) -> None:
        try:
            self._fc.rename(tmp, self._jp(name), options)
        except Exception as exc:  # noqa: BLE001 — py4j-wrapped Java error
            self._fs.delete(tmp, False)
            je = getattr(exc, "java_exception", None)
            if je is not None and "FileAlreadyExists" in je.getClass().getName():
                raise FileExistsError(name) from None
            raise

    def put_if_absent(self, name: str, data: bytes) -> None:
        self._fs.mkdirs(self._Path(self.root))
        self._rename(self._write_tmp(data), name, self._no_overwrite)

    def put(self, name: str, data: bytes) -> None:
        self._fs.mkdirs(self._Path(self.root))
        # atomic replace — rebuildable advisory blobs (checkpoints) only
        self._rename(self._write_tmp(data), name, self._overwrite)

    def read(self, name: str) -> bytes:
        try:
            stream = self._fs.open(self._jp(name))
        except Exception as exc:  # noqa: BLE001
            je = getattr(exc, "java_exception", None)
            if je is not None and "FileNotFoundException" in je.getClass().getName():
                raise FileNotFoundError(name) from None
            raise
        try:
            return bytes(stream.readAllBytes())
        finally:
            stream.close()

    def list(self) -> list[str]:
        try:
            stats = self._fs.listStatus(self._Path(self.root))
        except Exception as exc:  # noqa: BLE001 — no log dir yet
            je = getattr(exc, "java_exception", None)
            if je is not None and "FileNotFoundException" in je.getClass().getName():
                return []
            raise
        return sorted(st.getPath().getName() for st in stats)

    def exists(self, name: str) -> bool:
        return bool(self._fs.exists(self._jp(name)))


class S3ConditionalPutLogStore(LogStore):
    """Control plane for S3, where rename cannot commit (it is a copy +
    delete that checks nothing): publish is ONE conditional PUT with
    ``If-None-Match: *`` — S3 evaluates the precondition atomically
    against the key's existence, so exactly one racing writer wins, and
    because an S3 PUT is all-or-nothing a GET can only ever return the
    complete winning object (there is no partial-blob read to guard
    against). HTTP 412 ``PreconditionFailed`` is the lost-race signal;
    409 ``ConditionalRequestConflict`` (another conditional PUT in
    flight on the same key) also means THIS writer did not commit, so
    both map to the protocol's ``FileExistsError``.

    Takes an ``s3://``/``s3a://`` URI. The boto3 client is created
    lazily — constructing a table must not require credentials — and is
    injectable for tests (moto) and for S3-compatible endpoints (MinIO,
    R2, GCS's XML interop layer). Pairs with ``HadoopFsDataStore`` for
    the data plane: data files are immutable write-once objects, which
    plain S3 already serves safely; only the LOG needs the conditional
    primitive."""

    def __init__(self, uri: str, client=None):
        rest = uri.split("://", 1)[1] if "://" in uri else uri
        bucket, _, prefix = rest.partition("/")
        if not bucket:
            raise ValueError(f"no bucket in {uri!r}")
        self.bucket = bucket
        self.prefix = prefix.strip("/") + "/" if prefix.strip("/") else ""
        self._client = client

    @property
    def _s3(self):
        if self._client is None:
            import boto3

            self._client = boto3.client("s3")
        return self._client

    def _key(self, name: str) -> str:
        return f"{self.prefix}{name}"

    def put_if_absent(self, name: str, data: bytes) -> None:
        from botocore.exceptions import ClientError

        try:
            self._s3.put_object(
                Bucket=self.bucket,
                Key=self._key(name),
                Body=data,
                IfNoneMatch="*",
            )
        except ClientError as exc:
            code = exc.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "ConditionalRequestConflict"):
                raise FileExistsError(name) from None
            raise

    def put(self, name: str, data: bytes) -> None:
        # unconditional PUT is an atomic replace on S3 — rebuildable
        # advisory blobs (checkpoints) only, never the source of truth
        self._s3.put_object(Bucket=self.bucket, Key=self._key(name), Body=data)

    def read(self, name: str) -> bytes:
        from botocore.exceptions import ClientError

        try:
            obj = self._s3.get_object(Bucket=self.bucket, Key=self._key(name))
        except ClientError as exc:
            if exc.response.get("Error", {}).get("Code") == "NoSuchKey":
                raise FileNotFoundError(name) from None
            raise
        return obj["Body"].read()

    def list(self) -> list[str]:
        names = []
        for page in self._s3.get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=self.prefix
        ):
            for obj in page.get("Contents", []):
                names.append(obj["Key"][len(self.prefix):])
        return sorted(names)

    def exists(self, name: str) -> bool:
        from botocore.exceptions import ClientError

        try:
            self._s3.head_object(Bucket=self.bucket, Key=self._key(name))
        except ClientError as exc:
            status = exc.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
            if status == 404:
                return False
            raise
        return True


class DataStore:
    """Data-plane storage contract — the LogStore pattern applied to the
    table's parquet files, so the object-store claim is a tested property
    rather than a docstring. Bulk bytes still flow through Spark's Hadoop
    filesystem layer (which already speaks s3a/gs/abfs): the store's job
    is to hand Spark the right URIs and to own every METADATA operation
    the table protocol needs — list, exists, delete, mtime, footer reads.
    Nothing in the vocabulary renames or mutates a published file:

    - ``write_uri(rel_dir)``: URI Spark writes a fresh parquet directory
      to (one immutable directory per commit attempt).
    - ``publish_dir(rel_dir) -> [names]``: finalize the directory Spark
      just wrote, returning its ``*.parquet`` file names. A staging
      store uploads here; a direct store just lists.
    - ``open_input(rel)``: seekable binary handle for parquet FOOTER
      reads (pyarrow) — an object store serves this with ranged GETs.
    - ``scan_uris(rels)``: URIs for ``spark.read.parquet`` over
      committed files.
    - ``size`` / ``exists`` / ``delete`` / ``mtime`` /
      ``list_data_files`` / ``list_data_dirs`` / ``cleanup_dir``: the
      vacuum + manifest surface. ``mtime`` raises ``FileNotFoundError``
      for a missing key on EVERY store — vacuum's orphan-grace guard
      catches exactly that type, so a store that raised anything else
      would abort a vacuum mid-delete on a concurrent-writer race.
      ``cleanup_dir`` / ``list_data_dirs`` are advisory (object stores
      have no directories; they may no-op / return []).
    """

    def write_uri(self, rel_dir: str) -> str:
        raise NotImplementedError

    def publish_dir(self, rel_dir: str) -> list[str]:
        raise NotImplementedError

    def open_input(self, rel: str):
        raise NotImplementedError

    def size(self, rel: str) -> int:
        raise NotImplementedError

    def scan_uris(self, rels: list[str]) -> list[str]:
        raise NotImplementedError

    def exists(self, rel: str) -> bool:
        raise NotImplementedError

    def delete(self, rel: str) -> None:
        raise NotImplementedError

    def mtime(self, rel: str) -> float:
        raise NotImplementedError

    def put_bytes(self, rel: str, data: bytes) -> None:
        """Publish a small auxiliary object (e.g. a bloom sidecar) at
        ``rel``. Whole-object write, no rename required."""
        raise NotImplementedError

    def put_file(self, rel: str, local_path: str) -> None:
        """Publish a locally-written file at ``rel`` (a data shard an
        executor spooled to scratch). Default streams through
        ``put_bytes``; stores with a streaming upload override it so a
        large shard never sits whole in memory. The local file is
        CONSUMED (moved or deleted) on success."""
        with open(local_path, "rb") as f:
            self.put_bytes(rel, f.read())
        os.unlink(local_path)

    def list_data_files(self) -> list[str]:
        raise NotImplementedError

    def list_data_dirs(self) -> list[str]:
        raise NotImplementedError

    def cleanup_dir(self, rel_dir: str) -> None:
        raise NotImplementedError


class LocalDataStore(DataStore):
    """POSIX data plane: Spark writes directly to the final location
    (publish is just a listing — local directory writes are already
    all-or-nothing per file, and the commit protocol never trusts
    un-manifested files anyway)."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def _p(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def write_uri(self, rel_dir: str) -> str:
        return self._p(rel_dir)

    def publish_dir(self, rel_dir: str) -> list[str]:
        return sorted(
            n for n in os.listdir(self._p(rel_dir)) if n.endswith(".parquet")
        )

    def open_input(self, rel: str):
        return open(self._p(rel), "rb")

    def size(self, rel: str) -> int:
        return os.path.getsize(self._p(rel))

    def scan_uris(self, rels: list[str]) -> list[str]:
        return [self._p(r) for r in rels]

    def exists(self, rel: str) -> bool:
        return os.path.exists(self._p(rel))

    def delete(self, rel: str) -> None:
        os.unlink(self._p(rel))

    def mtime(self, rel: str) -> float:
        return os.path.getmtime(self._p(rel))

    def put_bytes(self, rel: str, data: bytes) -> None:
        path = self._p(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)

    def put_file(self, rel: str, local_path: str) -> None:
        path = self._p(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.move(local_path, path)

    def list_data_files(self) -> list[str]:
        data_root = self._p("data")
        if not os.path.isdir(data_root):
            return []
        out = []
        for sub in sorted(os.listdir(data_root)):
            subdir = os.path.join(data_root, sub)
            if not os.path.isdir(subdir):
                continue
            out.extend(
                f"data/{sub}/{n}"
                for n in sorted(os.listdir(subdir))
                # .bloom too: vacuum sweeps orphaned sidecars, and the
                # blob/S3 stores already list every data/ key
                if n.endswith((".parquet", ".bloom"))
            )
        return out

    def list_data_dirs(self) -> list[str]:
        data_root = self._p("data")
        if not os.path.isdir(data_root):
            return []
        return sorted(
            f"data/{sub}"
            for sub in os.listdir(data_root)
            if os.path.isdir(os.path.join(data_root, sub))
        )

    def cleanup_dir(self, rel_dir: str) -> None:
        d = self._p(rel_dir)
        if os.path.isdir(d) and not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            shutil.rmtree(d, ignore_errors=True)


class BlobDataStore(DataStore):
    """Object-store fake for tests: published data lives as whole blobs
    in a flat key -> bytes namespace — no directories, no rename, no
    in-place mutation, so table code that silently leaned on POSIX
    semantics cannot pass against it. Spark still needs real files to
    scan, so the store stages writes in a scratch directory, INGESTS the
    bytes into the blob map at publish (deleting the staging files), and
    materializes blobs back to a scratch read-cache on demand — the
    local mirror of an object store's upload/download boundary."""

    def __init__(self, scratch_dir: str):
        import threading

        self._blobs: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._mu = threading.Lock()
        self._staging = os.path.join(os.path.abspath(scratch_dir), "staging")
        self._cache = os.path.join(os.path.abspath(scratch_dir), "cache")

    def write_uri(self, rel_dir: str) -> str:
        return os.path.join(self._staging, rel_dir)

    def publish_dir(self, rel_dir: str) -> list[str]:
        src = os.path.join(self._staging, rel_dir)
        names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
        with self._mu:
            for n in names:
                with open(os.path.join(src, n), "rb") as f:
                    self._blobs[f"{rel_dir}/{n}"] = f.read()
                self._mtimes[f"{rel_dir}/{n}"] = time.time()
        shutil.rmtree(src, ignore_errors=True)
        return names

    def open_input(self, rel: str):
        import io

        with self._mu:
            if rel not in self._blobs:
                raise FileNotFoundError(rel)
            return io.BytesIO(self._blobs[rel])

    def size(self, rel: str) -> int:
        with self._mu:
            return len(self._blobs[rel])

    def scan_uris(self, rels: list[str]) -> list[str]:
        out = []
        for r in rels:
            local = os.path.join(self._cache, r)
            if not os.path.exists(local):
                with self._mu:
                    data = self._blobs[r]
                os.makedirs(os.path.dirname(local), exist_ok=True)
                tmp = f"{local}.tmp-{uuid.uuid4().hex}"
                with open(tmp, "wb") as f:
                    f.write(data)
                os.replace(tmp, local)  # cache-internal, not table protocol
            out.append(local)
        return out

    def exists(self, rel: str) -> bool:
        with self._mu:
            return rel in self._blobs

    def delete(self, rel: str) -> None:
        with self._mu:
            self._blobs.pop(rel, None)
            self._mtimes.pop(rel, None)
        local = os.path.join(self._cache, rel)
        if os.path.exists(local):
            os.unlink(local)

    def mtime(self, rel: str) -> float:
        with self._mu:
            try:
                return self._mtimes[rel]
            except KeyError:
                # the DataStore contract: missing key -> FileNotFoundError,
                # the one type vacuum's orphan-grace guard skips — a bare
                # KeyError would abort a vacuum racing a concurrent delete
                raise FileNotFoundError(rel) from None

    def put_bytes(self, rel: str, data: bytes) -> None:
        with self._mu:
            self._blobs[rel] = data
            self._mtimes[rel] = time.time()

    def list_data_files(self) -> list[str]:
        with self._mu:
            return sorted(k for k in self._blobs if k.startswith("data/"))

    def list_data_dirs(self) -> list[str]:
        return []  # no directories in a blob namespace

    def cleanup_dir(self, rel_dir: str) -> None:
        pass  # no directories in a blob namespace



class S3DataStore(DataStore):
    """Data plane on REAL S3 semantics through boto3 — the deployable
    counterpart of BlobDataStore (same staging-upload shape: Spark
    writes parquet to a local scratch dir, publish uploads the bytes as
    objects and deletes the staging files; reads materialize objects to
    a local cache for the scan and stream footers straight from
    get_object Range requests). Pairs with S3ConditionalPutLogStore for
    an all-S3 table. No rename, no directories, no in-place mutation —
    every operation is a whole-object PUT/GET/DELETE/LIST.

    Footer reads: pyarrow needs a seekable handle; objects are fetched
    whole only when small, else ranged (parquet footers are tail reads,
    one Range request)."""

    def __init__(self, uri: str, scratch_dir: str, client=None):
        from urllib.parse import urlparse

        p = urlparse(uri)
        if p.scheme not in ("s3", "s3a"):
            raise ValueError(f"S3DataStore needs an s3:// root, got {uri}")
        self.bucket = p.netloc
        self.prefix = p.path.strip("/")
        self._client = client
        self._client_lock = threading.Lock()
        self._staging = os.path.join(os.path.abspath(scratch_dir), "staging")
        self._cache = os.path.join(os.path.abspath(scratch_dir), "cache")

    def _s3(self):
        # double-checked under a lock: _add_actions drives this from a
        # thread pool, and botocore's default-session loaders are not
        # safe to race during client construction (the built client IS
        # thread-safe for use)
        if self._client is None:
            with self._client_lock:
                if self._client is None:
                    import boto3  # deferred: only S3 deployments need it

                    self._client = boto3.client("s3")
        return self._client

    def _key(self, rel: str) -> str:
        return f"{self.prefix}/{rel}" if self.prefix else rel

    @staticmethod
    def _is_missing(exc) -> bool:
        code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
        return code in ("404", "NoSuchKey", "NotFound")

    def write_uri(self, rel_dir: str) -> str:
        return os.path.join(self._staging, rel_dir)

    def publish_dir(self, rel_dir: str) -> list[str]:
        src = os.path.join(self._staging, rel_dir)
        names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
        for n in names:
            path = os.path.join(src, n)
            with open(path, "rb") as f:
                self._s3().put_object(
                    Bucket=self.bucket,
                    Key=self._key(f"{rel_dir}/{n}"),
                    Body=f.read(),
                )
            # the staged bytes ARE the published object: seed the read
            # cache instead of deleting them, so the immediate footer +
            # bloom reads (and the first scan) cost zero GETs instead of
            # re-downloading every file the writer just uploaded
            local = os.path.join(self._cache, rel_dir, n)
            os.makedirs(os.path.dirname(local), exist_ok=True)
            os.replace(path, local)
        shutil.rmtree(src, ignore_errors=True)
        return names

    def open_input(self, rel: str):
        import botocore.exceptions

        local = os.path.join(self._cache, rel)
        if os.path.exists(local):
            return open(local, "rb")
        try:
            body = self._s3().get_object(
                Bucket=self.bucket, Key=self._key(rel)
            )["Body"].read()
        except botocore.exceptions.ClientError as e:
            if self._is_missing(e):
                raise FileNotFoundError(rel) from None
            raise
        return io.BytesIO(body)

    def size(self, rel: str) -> int:
        import botocore.exceptions

        try:
            return self._s3().head_object(
                Bucket=self.bucket, Key=self._key(rel)
            )["ContentLength"]
        except botocore.exceptions.ClientError as e:
            if self._is_missing(e):
                raise FileNotFoundError(rel) from None
            raise

    def scan_uris(self, rels: list[str]) -> list[str]:
        out = []
        for r in rels:
            local = os.path.join(self._cache, r)
            if not os.path.exists(local):
                os.makedirs(os.path.dirname(local), exist_ok=True)
                tmp = f"{local}.tmp-{uuid.uuid4().hex}"
                self._s3().download_file(self.bucket, self._key(r), tmp)
                os.replace(tmp, local)  # cache-internal, not table protocol
            out.append(local)
        return out

    def exists(self, rel: str) -> bool:
        try:
            self.size(rel)
            return True
        except FileNotFoundError:
            return False

    def delete(self, rel: str) -> None:
        # S3 DELETE is idempotent (204 on missing); the DataStore
        # contract wants FileNotFoundError, so probe first
        self.size(rel)
        self._s3().delete_object(Bucket=self.bucket, Key=self._key(rel))
        local = os.path.join(self._cache, rel)
        if os.path.exists(local):
            os.unlink(local)

    def mtime(self, rel: str) -> float:
        import botocore.exceptions

        try:
            lm = self._s3().head_object(
                Bucket=self.bucket, Key=self._key(rel)
            )["LastModified"]
        except botocore.exceptions.ClientError as e:
            if self._is_missing(e):
                raise FileNotFoundError(rel) from None
            raise
        return lm.timestamp()

    def _list_keys(self) -> list[str]:
        keys, token = [], None
        prefix = self._key("data/")
        while True:
            kw = {"Bucket": self.bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self._s3().list_objects_v2(**kw)
            keys.extend(o["Key"] for o in resp.get("Contents", []))
            if not resp.get("IsTruncated"):
                return keys
            token = resp.get("NextContinuationToken")

    def put_bytes(self, rel: str, data: bytes) -> None:
        self._s3().put_object(
            Bucket=self.bucket, Key=self._key(rel), Body=data
        )

    def put_file(self, rel: str, local_path: str) -> None:
        # multipart streaming upload: a multi-GB shard never sits whole
        # in executor memory
        self._s3().upload_file(local_path, self.bucket, self._key(rel))
        local = os.path.join(self._cache, rel)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        # seed the read cache, like publish_dir; shutil.move (not
        # os.replace) because the shard comes from caller-chosen scratch
        # that may sit on a different filesystem (os.replace -> EXDEV)
        shutil.move(local_path, local)

    def list_data_files(self) -> list[str]:
        strip = len(self.prefix) + 1 if self.prefix else 0
        return sorted(k[strip:] for k in self._list_keys())

    def list_data_dirs(self) -> list[str]:
        return []  # no directories in an object namespace

    def cleanup_dir(self, rel_dir: str) -> None:
        pass  # no directories in an object namespace


class _HadoopInputHandle(io.RawIOBase):
    """Seekable Python file over a Hadoop ``FSDataInputStream`` — the
    ranged-read bridge that lets pyarrow read a parquet FOOTER from any
    Hadoop filesystem (s3a/gs/abfs/file) without downloading the file.
    Reads go ``seek(pos)`` + ``readNBytes(n)`` (Java 11+), so each call
    is one bounded ranged fetch; py4j returns the byte[] as bytes."""

    def __init__(self, jstream, size: int):
        self._s = jstream
        self._size = size
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == io.SEEK_SET:
            self._pos = pos
        elif whence == io.SEEK_CUR:
            self._pos += pos
        elif whence == io.SEEK_END:
            self._pos = self._size + pos
        else:
            raise ValueError(f"bad whence {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        self._s.seek(self._pos)
        data = bytes(self._s.readNBytes(n))
        self._pos += len(data)
        return data

    def readinto(self, b) -> int:
        data = self.read(len(b))
        b[: len(data)] = data
        return len(data)

    def close(self) -> None:
        if not self.closed:
            try:
                self._s.close()
            finally:
                super().close()


class HadoopFsDataStore(DataStore):
    """Data plane over Spark's own Hadoop ``FileSystem`` API — the
    deployable counterpart of ``BlobDataStore``'s in-memory fake. One
    class serves every scheme the cluster's Hadoop conf speaks
    (``s3a://``, ``gs://``, ``abfs://``, ``hdfs://``, ``file://``):
    bulk bytes flow through Spark's readers/writers on the root URI,
    and every metadata operation the table protocol needs (list,
    exists, delete, mtime, ranged footer reads) goes through the same
    ``FileSystem`` handle Spark itself uses, so there is no second
    credential/config path to keep in sync.

    Object-store semantics notes:
    - Spark writes each commit attempt into a FRESH ``data/<uuid>``
      directory (never renamed, never mutated), so the store needs no
      rename atomicity — matching the LogStore design.
    - Listing does its own scheme-aware relativization
      (``relativize``); it must NOT use ``uri_to_path``, which rejects
      remote schemes precisely because dropping the netloc would
      collide buckets.
    - No ``os.path`` anywhere: all path arithmetic is on URIs.
    """

    def __init__(self, spark: SparkSession, root_uri: str):
        self.root = root_uri.rstrip("/")
        self._spark = spark
        self._fs_handle = None

    # ------------------------------------------------------------ helpers

    @property
    def _Path(self):
        return self._spark._jvm.org.apache.hadoop.fs.Path

    @property
    def _fs(self):
        # resolved lazily: constructing a store must not require the
        # scheme's FS impl/credentials to be loadable — only USING it
        if self._fs_handle is None:
            self._fs_handle = self._Path(self.root).getFileSystem(
                self._spark._jsc.hadoopConfiguration()
            )
        return self._fs_handle

    def _jp(self, rel: str):
        return self._Path(f"{self.root}/{rel}")

    @staticmethod
    def _is_fnf(exc) -> bool:
        je = getattr(exc, "java_exception", None)
        return je is not None and "FileNotFoundException" in je.getClass().getName()

    def relativize(self, uri: str) -> str:
        """Invert a fully-qualified URI (``input_file_name()``, Hadoop
        ``FileStatus`` paths) to a root-relative key. Scheme-aware: for
        remote schemes the (scheme, netloc) must match the root's —
        never drop the netloc (that is the bucket). ``file:`` URIs
        compare by path alone (Hadoop renders them ``file:/p``,
        ``file:///p`` interchangeably)."""
        pu, pr = urlparse(uri), urlparse(self.root)
        local = {"", "file"}
        if pr.scheme in local:
            if pu.scheme not in local:
                raise ValueError(f"{uri!r} is not under local root {self.root!r}")
            upath = unquote(pu.path) if pu.scheme else uri
            rpath = unquote(pr.path) if pr.scheme else self.root
        else:
            if (pu.scheme, pu.netloc) != (pr.scheme, pr.netloc):
                raise ValueError(f"{uri!r} is not under root {self.root!r}")
            upath, rpath = unquote(pu.path), unquote(pr.path)
        rpath = rpath.rstrip("/")
        if not upath.startswith(rpath + "/"):
            raise ValueError(f"{uri!r} is not under root {self.root!r}")
        return upath[len(rpath) + 1 :]

    # ----------------------------------------------------------- contract

    def write_uri(self, rel_dir: str) -> str:
        return f"{self.root}/{rel_dir}"

    def publish_dir(self, rel_dir: str) -> list[str]:
        # direct-write store: Spark's committer already finalized the
        # directory; publish is just the authoritative listing
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._jp(rel_dir))
            if st.getPath().getName().endswith(".parquet")
        )

    def open_input(self, rel: str):
        jp = self._jp(rel)
        try:
            size = int(self._fs.getFileStatus(jp).getLen())
            return io.BufferedReader(
                _HadoopInputHandle(self._fs.open(jp), size)
            )
        except Exception as exc:  # noqa: BLE001 — py4j-wrapped Java FNF
            if self._is_fnf(exc):
                raise FileNotFoundError(rel) from None
            raise

    def size(self, rel: str) -> int:
        try:
            return int(self._fs.getFileStatus(self._jp(rel)).getLen())
        except Exception as exc:  # noqa: BLE001
            if self._is_fnf(exc):
                raise FileNotFoundError(rel) from None
            raise

    def scan_uris(self, rels: list[str]) -> list[str]:
        return [f"{self.root}/{r}" for r in rels]

    def exists(self, rel: str) -> bool:
        return bool(self._fs.exists(self._jp(rel)))

    def delete(self, rel: str) -> None:
        # Hadoop delete() returns false for a missing path — map to the
        # same FileNotFoundError the POSIX store raises
        if not self._fs.delete(self._jp(rel), False):
            raise FileNotFoundError(rel)

    def mtime(self, rel: str) -> float:
        try:
            return self._fs.getFileStatus(self._jp(rel)).getModificationTime() / 1000.0
        except Exception as exc:  # noqa: BLE001 — contract: missing -> FNF
            if self._is_fnf(exc):
                raise FileNotFoundError(rel) from None
            raise

    def put_bytes(self, rel: str, data: bytes) -> None:
        out = self._fs.create(self._jp(rel), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def list_data_files(self) -> list[str]:
        try:
            it = self._fs.listFiles(self._jp("data"), True)
        except Exception as exc:  # noqa: BLE001 — no data/ yet
            if self._is_fnf(exc):
                return []
            raise
        out = []
        while it.hasNext():
            p = it.next().getPath().toString()
            if p.endswith(".parquet") or p.endswith(".bloom"):
                out.append(self.relativize(p))
        return sorted(out)

    def list_data_dirs(self) -> list[str]:
        try:
            stats = self._fs.listStatus(self._jp("data"))
        except Exception as exc:  # noqa: BLE001 — no data/ yet
            if self._is_fnf(exc):
                return []
            raise
        return sorted(
            f"data/{st.getPath().getName()}" for st in stats if st.isDirectory()
        )

    def cleanup_dir(self, rel_dir: str) -> None:
        jp = self._jp(rel_dir)
        try:
            stats = self._fs.listStatus(jp)
        except Exception as exc:  # noqa: BLE001 — already gone
            if self._is_fnf(exc):
                return
            raise
        if not any(st.getPath().getName().endswith(".parquet") for st in stats):
            self._fs.delete(jp, True)


@dataclass
class SnapshotTable:
    spark: SparkSession
    path: str
    # control-plane override (object-store adapters, test fakes)
    log_store: LogStore | None = None
    # data-plane override; default is POSIX under ``path``
    data_store: DataStore | None = None

    def __post_init__(self) -> None:
        # Scheme URIs auto-route to the Hadoop-FS planes so
        # ``SnapshotTable(spark, "hdfs://nn/tables/t")`` (or abfs/file)
        # works end-to-end with no store wiring. S3A data is fine
        # (immutable writes, no rename), but the LOG protocol needs
        # rename atomicity Hadoop can't give on S3 — so s3a/s3/gs
        # require an explicit conditional-PUT log_store and we refuse
        # loudly instead of silently running an unsafe commit protocol.
        remote = "://" in self.path
        if remote:
            scheme = self.path.split("://", 1)[0]
            if self.log_store is None and scheme in ("s3", "s3a", "s3n", "gs"):
                raise ValueError(
                    f"{scheme}:// tables need an explicit conditional-PUT "
                    "log_store (rename is not atomic there): pass "
                    f"log_store=S3ConditionalPutLogStore('{self.path}/_log')"
                    " — kept explicit rather than auto-wired so the log's "
                    "boto3 credentials are a visible choice instead of "
                    "silently diverging from the Hadoop credentials the "
                    "data plane uses — or use hdfs/abfs/file where "
                    "HadoopFsLogStore is safe"
                )
        self._store: LogStore = (
            self.log_store if self.log_store is not None
            else HadoopFsLogStore(self.spark, f"{self.path}/_log") if remote
            else LocalLogStore(self._log_dir)
        )
        self._data: DataStore = (
            self.data_store if self.data_store is not None
            else HadoopFsDataStore(self.spark, self.path) if remote
            else LocalDataStore(self.path)
        )
        # bloom sidecars are immutable once published: memoize per handle
        self._bloom_cache: dict[str, bytes] = {}

    # ----------------------------------------------------------- log layer

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_log")

    def _commit_name(self, version: int) -> str:
        return f"{version:08d}.json"

    def _checkpoint_name(self, version: int) -> str:
        return f"{version:08d}.checkpoint.json"

    def _versions(self) -> list[int]:
        # strict 8-digit name match: in-flight .tmp-*.json staging files
        # (and anything else a crashed writer leaves) must never parse as
        # a version, or one leaked temp file bricks every read
        return sorted(
            int(f[:8])
            for f in self._store.list()
            if len(f) == 13 and f.endswith(".json") and f[:8].isdigit()
        )

    def _read_commit(self, version: int) -> dict:
        return json.loads(self._store.read(self._commit_name(version)))

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _state(self, version: int | None = None) -> dict:
        """Resolve {files: {rel_path: meta}, schema, cluster_by, version}
        at ``version`` (default: latest). Starts from the newest
        checkpoint <= version, replays commits after it."""
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot table at {self.path}")
        target = vs[-1] if version is None else version
        if target not in vs:
            raise ValueError(f"version {target} not in log (have {vs[0]}..{vs[-1]})")
        files: dict[str, dict] = {}
        dvs: dict[str, list[str]] = {}
        state = {
            "schema": None,
            "cluster_by": None,
            "column_mapping": None,
            "retired_phys": [],
        }
        constraints: dict[str, str] = {}
        generated: dict[str, dict] = {}
        txns: dict[str, int] = {}
        copy_files: set[str] = set()
        identity: dict[str, dict] = {}
        start_idx = 0
        for i in range(len(vs) - 1, -1, -1):  # newest checkpoint <= target
            if vs[i] <= target and self._store.exists(self._checkpoint_name(vs[i])):
                cp = json.loads(self._store.read(self._checkpoint_name(vs[i])))
                files = {m["path"]: m for m in cp["files"]}
                dvs = {k: list(v) for k, v in cp.get("dvs", {}).items()}
                state["schema"] = cp["schema"]
                state["cluster_by"] = cp.get("cluster_by")
                state["column_mapping"] = cp.get("column_mapping")
                state["retired_phys"] = cp.get("retired_phys", [])
                constraints = dict(cp.get("constraints", {}))
                generated = dict(cp.get("generated", {}))
                txns = dict(cp.get("txns", {}))
                copy_files = set(cp.get("copy_files", []))
                identity = {
                    k: dict(v) for k, v in cp.get("identity", {}).items()
                }
                start_idx = i + 1
                break
        for v in vs[start_idx:]:
            if v > target:
                break
            c = self._read_commit(v)
            for rel in c.get("remove", []):
                files.pop(rel, None)
                # a removed file's mask dies with it: the rewrite that
                # removed the file read it THROUGH the mask, so the new
                # files already exclude the deleted rows
                dvs.pop(rel, None)
            for m in c.get("add", []):
                files[m["path"]] = m
            for e in c.get("dv_add", []):
                for rel in e["for"]:
                    cur = dvs.setdefault(rel, [])
                    cur.extend(p for p in e["paths"] if p not in cur)
            if c.get("schema") is not None:
                state["schema"] = c["schema"]
            if c.get("cluster_by") is not None:
                state["cluster_by"] = c["cluster_by"]
            if c.get("column_mapping") is not None:
                state["column_mapping"] = c["column_mapping"]
            if c.get("retired_phys") is not None:
                state["retired_phys"] = c["retired_phys"]
            if c.get("constraint_add"):
                constraints.update(c["constraint_add"])
            if c.get("constraint_drop"):
                constraints.pop(c["constraint_drop"], None)
            if c.get("generated_add"):
                generated.update(c["generated_add"])
            if c.get("generated_drop"):
                generated.pop(c["generated_drop"], None)
            if c.get("txn_app") is not None:
                txns[c["txn_app"]] = max(
                    txns.get(c["txn_app"], -1), c.get("txn_version", -1)
                )
            if c.get("copy_add"):
                copy_files.update(c["copy_add"])
            if c.get("identity_set"):
                identity.update(
                    {k: dict(v) for k, v in c["identity_set"].items()}
                )
            if c.get("identity_high"):
                for k, hi in c["identity_high"].items():
                    cur = identity.setdefault(
                        k, {"start": 1, "step": 1, "high": None}
                    )
                    cur["high"] = (
                        hi if cur["high"] is None else max(cur["high"], hi)
                    )
        return {
            "files": files, "dvs": dvs, "version": target, "txns": txns,
            "constraints": constraints, "generated": generated,
            "copy_files": copy_files, "identity": identity, **state,
        }

    def _commit(self, state: dict, record: dict, rebase=None) -> int | None:
        """Publish ``record`` as the version after ``state["version"]``
        with one put-if-absent on the log (rolling up a checkpoint every
        ``CHECKPOINT_EVERY`` versions), and return that version; every
        table commit goes through here. The first try uses the caller's
        ``state``, so an uncontended commit reads nothing more. A lost
        race re-reads the head, then:

        - the head holds this record's ``txn_app`` at or past its
          ``txn_version`` (our own replay won): return None, no commit;
        - ``rebase`` is None (non-commuting operations): raise
          ``CommitConflictError``;
        - else (commuting appends) retry ``rebase(head)``'s record after
          a jittered backoff, up to ``COMMIT_ATTEMPTS`` tries; a None
          record means the head already holds this write: return None.

        Data files written before a commit that raises are orphans
        vacuum's grace window handles."""
        op, app = record["operation"], record.get("txn_app")
        for attempt in range(1, COMMIT_ATTEMPTS + 1):
            version = state["version"] + 1
            blob = {"version": version, "ts_unix": time.time(), **record}
            try:
                self._store.put_if_absent(
                    self._commit_name(version), json.dumps(blob).encode()
                )
            except FileExistsError:
                _log.info(
                    "commit %s of %s lost the race for version %d (attempt %d)",
                    op, self.path, version, attempt,
                )
            else:
                if version % CHECKPOINT_EVERY == 0:
                    self._checkpoint(version)
                return version
            if rebase is not None and attempt < COMMIT_ATTEMPTS:
                _commit_backoff(attempt)
            state = self._state()
            if app is not None and self._txn_seen(app, record["txn_version"], state):
                return None
            if rebase is None:
                raise CommitConflictError(
                    f"{op} on {self.path}: version {version} was committed "
                    "by another writer"
                )
            if attempt == COMMIT_ATTEMPTS:
                break
            record = rebase(state)
            if record is None:
                return None
            _log.info(
                "commit %s of %s rebased to version %d (attempt %d)",
                op, self.path, state["version"] + 1, attempt + 1,
            )
        _log.warning(
            "commit %s of %s gave up after losing %d races, the last for "
            "version %d", op, self.path, COMMIT_ATTEMPTS, version,
        )
        raise CommitConflictError(
            f"{op} on {self.path} lost {COMMIT_ATTEMPTS} commit races"
        )

    def _commit_metadata(self, state: dict, op: str, **fields) -> int:
        """Commit a metadata-only (``dataChange: false``) record."""
        return self._commit(
            state,
            {"operation": op, **fields, "add": [], "remove": [], "dataChange": False},
        )

    def _checkpoint(self, version: int) -> None:
        """Roll the manifest at ``version`` up into its checkpoint blob.
        Checkpoints are REBUILDABLE rollups (never the source of truth),
        and the commit has already been PUBLISHED, so a failure here must
        not escape: the caller would believe a landed write failed and
        re-run it (duplicating rows for non-txn appends). Best-effort,
        warn, move on — state resolution just replays more commits until
        the next rollup succeeds."""
        try:
            st = self._state(version)
            self._store.put(
                self._checkpoint_name(version),
                json.dumps(
                    {
                        "version": version,
                        "files": list(st["files"].values()),
                        "dvs": st["dvs"],
                        "schema": st["schema"],
                        "cluster_by": st["cluster_by"],
                        "column_mapping": st["column_mapping"],
                        "retired_phys": st["retired_phys"],
                        "constraints": st["constraints"],
                        "generated": st["generated"],
                        "txns": st["txns"],
                        "copy_files": sorted(st["copy_files"]),
                        "identity": st["identity"],
                    }
                ).encode(),
            )
        except Exception as e:  # noqa: BLE001 — advisory blob only
            _log.warning(
                "checkpoint %d of %s not written (%s); log replay "
                "continues from the previous checkpoint",
                version, self.path, e,
            )

    # ---------------------------------------------------------- data layer

    @staticmethod
    def _phys(mapping: dict | None, col: str) -> str:
        """Logical -> physical column name. Data files ALWAYS store
        physical names (fixed at column creation, the Delta column-mapping
        design); renames change only the logical name in the table
        schema, so no data file is ever rewritten for a rename."""
        return (mapping or {}).get(col, col)

    def _write_files(
        self,
        df: DataFrame,
        cluster_by: list[str] | None,
        mapping: dict | None = None,
        adaptive: bool = False,
    ) -> list[dict]:
        """Write immutable data files for one commit into a fresh subdir;
        return their add-action metadata. Clustering narrows per-file key
        ranges so stats-based file skipping stays sharp. ``df`` arrives
        with LOGICAL column names; physical names go to disk.

        ``adaptive=True`` (engine-internal batches — merge images and
        incoming merge rows, update/delete survivors) lets the range
        exchange size itself from runtime stats (AQE partition
        coalescing, guide §6 output-file sizing) instead of pinning one
        output file per input partition: those batches arrive with
        shuffle-artifact partitioning (cores-many slivers at ANY scale),
        so pinning writes one tiny file per sliver — table bloat plus a
        wide exchange for rows that fit in one file. Caller-shaped
        writes (create / append / overwrite) keep the explicit layout
        the caller partitioned for; a merge's incoming rows count as
        engine-internal (the engine owns merge output layout, as Delta
        does), so callers cannot pin merge file counts.

        A clustered write persists ``df`` for the length of the write and
        counts it once, which also skips the write of a 0-row batch.
        Unclustered writes have no count probe at all (the write is their
        single pass, and an engine-internal batch arrives AQE-coalesced
        from its producing exchange), so a 0-row unclustered batch still
        runs one small write job whose 0-row part files _add_action
        discards."""
        if _DV_FILE in df.columns or _DV_ROW in df.columns:
            raise ValueError(
                f"{_DV_FILE}/{_DV_ROW} are reserved for deletion-vector "
                "row identity and cannot be table columns"
            )
        # a subset-schema append (legal: missing columns null-fill on
        # read) may omit cluster columns — cluster on what's present
        cluster_cols = [c for c in (cluster_by or []) if c in df.columns]
        cached = None
        if cluster_cols:
            # The clustered path re-reads the incoming frame (range
            # sampler + write, and the partition probe on the pinned
            # path). Persist once so the count fills the cache and the
            # sampler + writer read it back — the incoming batch is
            # computed exactly once however expensive its lineage
            # (guide §2.4: one pass, not three). Engine-internal rewrites
            # go to DISK_ONLY: a cow UPDATE's survivor set approaches
            # table size, and a deserialized heap cache of that would
            # churn executor memory before spilling (guide §5);
            # caller-shaped batches keep the default level. The cache is
            # scoped to this write and released in the finally below.
            from pyspark.storagelevel import StorageLevel

            df = cached = df.persist(
                StorageLevel.DISK_ONLY if adaptive else StorageLevel.MEMORY_AND_DISK
            )
            if cached.count() == 0:  # fills the cache
                # nothing to write: a 0-row batch produces only 0-row
                # part files, every one of which _add_action deletes —
                # skip the write job (and its range exchange) outright.
                # Empty creates / no-op merge legs hit this constantly.
                cached.unpersist()
                return []
            if adaptive:
                # Always through the coalescible range exchange, no
                # partition-count probe (df.rdd under AQE materializes
                # the plan just to count partitions): AQE coalesces the
                # exchange to advisory-sized partitions — a bounded
                # changed-row batch lands as ONE file, a large rewrite
                # (even one arriving as a single oversized partition) as
                # ~advisory-sized range files with disjoint key ranges
                # (adjacent-merge keeps min/max stats sharp).
                df = df.repartitionByRange(*[F.col(c) for c in cluster_cols])
            else:
                # explicit partition count: carries the incoming
                # parallelism through the range exchange AND pins it
                # against AQE coalesce, which would otherwise fold small
                # writes into one wide-range file and blunt the per-file
                # min/max stats
                n = max(1, df.rdd.getNumPartitions())
                # a single-partition input yields a single file whether
                # or not it goes through a range exchange — skip the
                # exchange (and its sampling pass) outright
                if n > 1:
                    df = df.repartitionByRange(
                        n, *[F.col(c) for c in cluster_cols]
                    )
        if mapping:
            df = df.select(
                *[F.col(c).alias(self._phys(mapping, c)) for c in df.columns]
            )
        commit_dir = f"data/{uuid.uuid4().hex}"
        try:
            df.write.mode("overwrite").parquet(self._data.write_uri(commit_dir))
        finally:
            if cached is not None:
                cached.unpersist()
        # per-file bloom on the LEADING cluster column: clustering
        # declares the table's access key, and a point probe on a key
        # whose per-file RANGES overlap (uniform keys, multi-append
        # layouts) is exactly where min/max cannot skip but a bloom can.
        bloom_phys = (
            self._phys(mapping, cluster_cols[0]) if cluster_cols else None
        )
        return self._add_actions(
            [f"{commit_dir}/{name}" for name in self._data.publish_dir(commit_dir)],
            bloom_phys,
        )

    def _add_actions(self, rels: list[str], bloom_phys: str | None) -> list[dict]:
        """_add_action over many just-written files, results in input
        order with 0-row entries dropped. Footer stats + bloom sidecars
        are driver-side I/O — one or two file opens per file — and a
        large rewrite commit adds thousands of files, which makes a
        sequential loop the commit's single-threaded tail (guide §7.3,
        named in the r11 sf10 scaling notes). A small thread pool
        overlaps the opens (files are independent; pyarrow releases the
        GIL on reads); the tiny-commit path stays sequential."""
        if len(rels) < 4:
            metas = [self._add_action(r, bloom_phys) for r in rels]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(rels))) as pool:
                metas = list(
                    pool.map(lambda r: self._add_action(r, bloom_phys), rels)
                )
        return [m for m in metas if m is not None]

    def _add_action(self, rel: str, bloom_phys: str | None) -> dict | None:
        """Footer stats + optional bloom sidecar for one just-written
        data file -> its add-action metadata (None for a 0-row file,
        which is deleted). Shared by _write_files and the wopen_snapshot
        DataSourceWriter commit path."""
        with self._data.open_input(rel) as src:
            meta = _file_meta(src, rel, self._data.size(rel))
        if meta["rows"] == 0:  # empty-partition task output: not
            self._data.delete(rel)  # worth a manifest entry
            return None
        if bloom_phys is not None and meta["rows"] <= _BLOOM_MAX_ROWS:
            import pyarrow.parquet as _pq

            with self._data.open_input(rel) as src:
                try:
                    col = _pq.ParquetFile(src).read(
                        columns=[bloom_phys]
                    )[bloom_phys]
                except KeyError:   # subset-schema append w/o the col
                    col = None
            if col is not None:
                import pyarrow as _pa

                m = _bloom_params(meta["rows"])
                arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
                # ONLY integer and string columns get blooms: any
                # type with more than one textual rendering of the
                # same logical value (float 150.0 vs probe 150,
                # dates, decimals) would hash differently on the
                # probe side and SKIP A FILE THAT MATCHES — a bloom
                # must be false-positive-only, never false-negative
                if _pa.types.is_integer(arr.type):
                    kind = "i64"
                    vals = arr.drop_null().to_numpy(zero_copy_only=False)
                    blob = _bloom_build_ints(vals, m)
                elif _pa.types.is_string(arr.type) or _pa.types.is_large_string(arr.type):
                    kind = "md5"
                    blob = _bloom_build_strs(arr.to_pylist(), m)
                else:
                    kind = None
                    blob = None
                if blob is not None:
                    side = f"{rel}.bloom"
                    self._data.put_bytes(side, blob)
                    # SIDECAR, not inline: the JSON log stays
                    # O(files), never O(bloom bits); the sidecar
                    # lives and dies with its data file (vacuum
                    # deletes them together)
                    meta["bloom"] = {
                        "col": bloom_phys, "path": side, "h": kind,
                    }
        return meta

    # Lossless widenings the parquet reader performs transparently when
    # old (narrow) files are read through the widened table schema —
    # verified against Spark 4's vectorized reader. Anything else (string
    # <-> number, narrowing, decimal scale changes) raises: silent
    # coercion is how long-lived tables corrupt.
    _WIDEN = frozenset(
        [
            ("byte", "short"), ("byte", "integer"), ("byte", "long"),
            ("short", "integer"), ("short", "long"),
            ("integer", "long"),
            ("float", "double"),
        ]
    )

    def _merged_schema(
        self, state: dict, df: DataFrame, prefer_mapping: dict | None = None
    ) -> tuple[dict, dict | None]:
        """Schema evolution on write. Returns (schema_json, mapping):

        - **Additive**: new columns append as nullable; their PHYSICAL
          name is the logical name unless a past rename left that
          physical name occupied in old data files (then a unique
          suffixed physical is minted and recorded in the mapping).
        - **Type widening**: an incoming wider type on the lossless
          ladder (byte<short<int<long, float<double) widens the TABLE
          type — old narrow files keep reading through the widened
          schema. An incoming NARROWER type keeps the table type; the
          incoming rows are cast up at write (``_conform``).
        - Anything else raises TypeError.

        ``mapping`` is the (possibly extended) column mapping when it
        changed, else None (commit omits it). ``prefer_mapping`` carries
        the physical names a retrying writer ALREADY WROTE its files
        with: a re-merge reuses them when still unoccupied, so a lost
        commit race doesn't re-mint fresh uuids and spuriously trip the
        physical-name guard — appends keep commuting.

        ``df`` may be a DataFrame or a bare StructType — the datasource
        writer merges from a plan-time schema with no frame in hand."""
        in_schema = df if isinstance(df, T.StructType) else df.schema
        current = T.StructType.fromJson(state["schema"])
        by_name = {f.name: f for f in current.fields}
        mapping = dict(state.get("column_mapping") or {})
        used_phys = {self._phys(mapping, f.name) for f in current.fields}
        # physical names retired by renames still live in old data files
        used_phys.update(mapping.values())
        # ...and so do the physicals of DROPPED columns: re-adding a
        # dropped logical name must mint a fresh physical, or old files
        # would resurrect the dropped column's values into the new one
        used_phys.update(state.get("retired_phys", []))
        changed_mapping = False
        out = list(current.fields)
        for f in in_schema.fields:
            if f.name not in by_name:
                if f.name in used_phys:
                    pref = (prefer_mapping or {}).get(f.name)
                    phys = (
                        pref
                        if pref is not None and pref not in used_phys
                        else f"{f.name}__p{uuid.uuid4().hex[:8]}"
                    )
                    mapping[f.name] = phys
                    used_phys.add(phys)
                    changed_mapping = True
                else:
                    used_phys.add(f.name)
                out.append(T.StructField(f.name, f.dataType, True))
                continue
            have, want = by_name[f.name].dataType, f.dataType
            if have == want:
                continue
            pair = (have.typeName(), want.typeName())
            if pair in self._WIDEN:  # widen the table type
                i = next(j for j, g in enumerate(out) if g.name == f.name)
                out[i] = T.StructField(f.name, want, out[i].nullable)
            elif (pair[1], pair[0]) in self._WIDEN:
                pass  # narrower incoming: cast up at write (_conform)
            else:
                raise TypeError(
                    f"column {f.name}: incompatible type "
                    f"{want.simpleString()} vs existing "
                    f"{have.simpleString()}"
                )
        return (
            T.StructType(out).jsonValue(),
            mapping if changed_mapping else None,
        )

    def _conform(self, df: DataFrame, schema_json: dict) -> DataFrame:
        """Cast any df column whose type differs from the (merged) table
        schema — the narrower-incoming half of type widening."""
        types = {
            f.name: f.dataType for f in T.StructType.fromJson(schema_json).fields
        }
        cols = [
            F.col(c).cast(types[c]).alias(c)
            if c in types and dict(df.dtypes)[c] != types[c].simpleString()
            else F.col(c)
            for c in df.columns
        ]
        return df.select(*cols)

    # ------------------------------------------------------------- writes

    # Above this many files, convert derives footer stats on executors
    # (mapInPandas over the path list) instead of a driver loop.
    _CONVERT_DISTRIBUTE_MIN_FILES = 64

    def convert_from_parquet(self, cluster_by: list[str] | None = None) -> int:
        """Adopt an existing directory of parquet files as a snapshot
        table IN PLACE (the ``CONVERT TO DELTA`` analog): version 1's
        add actions reference the files where they sit — zero bytes
        copied or rewritten, so converting a 100 TB directory costs
        O(files) footer reads and one log write. Footer stats (and
        therefore file skipping) come for free; past
        ``_CONVERT_DISTRIBUTE_MIN_FILES`` files the footer reads fan
        out to executors so the driver never serially opens a
        million-file directory. After conversion every engine feature
        applies — dv deletes, MERGE, time travel, OPTIMIZE (which
        migrates adopted files into the managed ``data/`` layout);
        :meth:`vacuum` knows how to sweep superseded adopted files even
        though they live outside ``data/``.

        Refuses: an existing table at the root, a Hive-partitioned
        layout (``key=value`` path segments carry data this conversion
        would silently drop), a directory that already has ``data/`` or
        ``_log/`` content, and non-local stores (object-store adoption
        needs a server-side listing+copy contract ``DataStore`` does
        not promise)."""
        if self.latest_version() is not None:
            raise FileExistsError(f"snapshot table already exists at {self.path}")
        if not isinstance(self._data, LocalDataStore):
            raise NotImplementedError(
                "convert_from_parquet adopts files in place on a local "
                "filesystem root; for object stores, write through "
                "create()/append() instead"
            )
        root = self._data.root
        rels: list[str] = []
        for dirpath, dirnames, filenames in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            parts = [] if rel_dir == "." else rel_dir.split(os.sep)
            if parts and parts[0] == "_log":
                dirnames.clear()
                continue
            for seg in parts:
                if "=" in seg:
                    raise ValueError(
                        f"Hive-partitioned layout ({seg!r}): partition "
                        "values live in directory names, not file bytes — "
                        "read it with spark.read.parquet and create() a "
                        "table instead"
                    )
            for n in sorted(filenames):
                if n.endswith(".parquet"):
                    rels.append("/".join(parts + [n]) if parts else n)
        if not rels:
            raise ValueError(f"no parquet files under {root!r}")
        if any(r.split("/", 1)[0] == "data" for r in rels):
            raise ValueError(
                "directory already has a data/ subtree — that namespace "
                "is reserved for managed commits"
            )
        paths = self._data.scan_uris(rels)
        schema = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .schema
        )
        if len(rels) >= self._CONVERT_DISTRIBUTE_MIN_FILES and self.spark:
            metas = _scan_file_metas_distributed(self.spark, root, rels)
        else:
            metas = []
            for rel in rels:
                with self._data.open_input(rel) as src:
                    metas.append(_file_meta(src, rel, self._data.size(rel)))
        adds = [m for m in metas if m["rows"] > 0]
        if cluster_by:
            names = schema.fieldNames()
            unknown = [c for c in cluster_by if c not in names]
            if unknown:
                raise ValueError(
                    f"cluster_by references unknown column(s): {unknown}"
                )
        return self._commit(
            _NO_TABLE,
            {
                "operation": "convert",
                "schema": schema.jsonValue(),
                "cluster_by": list(cluster_by) if cluster_by else None,
                "add": adds,
                "remove": [],
            },
        )

    def create(self, df: DataFrame, cluster_by: list[str] | None = None) -> int:
        """Create the table at version 1 from ``df`` (may be empty — an
        empty create registers just the schema)."""
        if self.latest_version() is not None:
            raise FileExistsError(f"snapshot table already exists at {self.path}")
        # no isEmpty probe: an empty frame writes 0-row part files that
        # _add_action discards, committing adds=[] — same outcome, one
        # fewer full computation of the incoming plan (isEmpty under a
        # shuffle runs every upstream map stage)
        adds = self._write_files(df, cluster_by)
        return self._commit(
            _NO_TABLE,
            {
                "operation": "create",
                "schema": df.schema.jsonValue(),
                "cluster_by": cluster_by,
                "add": adds,
                "remove": [],
            },
        )

    def append(
        self,
        df: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Blind append: add-only, so conflicting appends commute — on a
        lost race the commit rebases onto the new head and retries
        (files are already written; only the log create repeats).

        ``txn_app``/``txn_version`` make the append IDEMPOTENT for
        exactly-once streaming sinks (the Delta ``txnAppId/txnVersion``
        pattern): if a commit from the same app with an equal-or-newer
        version is already in the log, the append is a no-op — so a
        ``foreachBatch`` writer that passes the epoch id can replay a
        failed micro-batch without duplicating rows."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be passed together")
        state = self._state()
        if txn_app is not None and self._txn_seen(txn_app, txn_version, state):
            return state["version"]  # replayed batch: already committed
        txn = {"txn_app": txn_app, "txn_version": txn_version} if txn_app else {}
        v = self._append(state, df, {"operation": "append", **txn})
        return self.latest_version() if v is None else v  # None: replay won

    def _append(
        self, state: dict, df: DataFrame, base: dict, recheck=None
    ) -> int | None:
        """Write ``df``'s files once and commit them as ``base`` plus the
        add actions on top of ``state`` (``_commit``'s return). A lost
        race rebases the record onto the new head; ``recheck(head)``
        runs first and returns False when the head already holds this
        write (nothing to commit)."""
        df = self._apply_generated(df, state)
        df, id_bases = self._apply_identity(df, state)
        self._enforce(df, state["constraints"], state["schema"])
        schema, mapping = self._merged_schema(state, df)
        write_mapping = mapping if mapping is not None else state["column_mapping"]
        df = self._conform(df, schema)
        adds = self._write_files(df, state["cluster_by"], write_mapping)
        if id_bases:
            hi = self._identity_high_from_adds(id_bases, adds, write_mapping)
            if hi:
                base = {**base, "identity_high": hi}
        seen = {k: state[k] for k in ("constraints", "generated")}

        def record(fields: dict) -> dict:
            return {**base, **fields, "add": adds, "remove": []}

        def rebase(head: dict) -> dict | None:
            if recheck is not None and not recheck(head):
                return None
            # a racer ADVANCED an identity high-water mark we allocated
            # from: our written ids may collide with theirs — committing
            # would duplicate identity values (the caller re-runs)
            for c, b in id_bases.items():
                spec = head["identity"][c]
                high = spec["high"]
                if high is None:
                    high = spec["start"] - spec["step"]
                if high != b:
                    raise CommitConflictError(
                        f"append to {self.path} raced an identity "
                        f"allocation on {c!r} — re-run the append"
                    )
            # a racer CHANGED the generated-column rules: our files were
            # computed under the old rules and cannot be re-derived in
            # place (constraints below only re-VALIDATE, so they rebase)
            if head["generated"] != seen["generated"]:
                raise CommitConflictError(
                    f"append to {self.path} raced a generated-column "
                    f"definition change - re-run the append"
                )
            # a racer ADDED a constraint: re-enforce (Delta fails such
            # txns outright; an add-only append can re-validate)
            if head["constraints"] != seen["constraints"]:
                self._enforce(df, head["constraints"], head["schema"])
                seen["constraints"] = head["constraints"]
            return record(self._remerge(head, df, write_mapping))

        mp = {"column_mapping": mapping} if mapping is not None else {}
        return self._commit(state, record({"schema": schema, **mp}), rebase)

    def _remerge(self, head: dict, written, write_mapping: dict | None) -> dict:
        """The ``schema``/``column_mapping`` record fields for files
        already written with ``write_mapping``, re-merged against a new
        ``head`` (``written``: the frame or its StructType). The files
        stay valid under a racer's widening, and the physicals they were
        written with are reused, so a plain racing append rebases
        cleanly. A racer's rename or mint that moves any written
        column's physical name would read those bytes as null: that
        raises, and the caller re-runs the write."""
        schema, mapping = self._merged_schema(
            head, written, prefer_mapping=write_mapping
        )
        eff = mapping if mapping is not None else head["column_mapping"]
        names = (
            written.fieldNames()
            if isinstance(written, T.StructType)
            else written.columns
        )
        if any(self._phys(write_mapping, c) != self._phys(eff, c) for c in names):
            raise CommitConflictError(
                f"write to {self.path} raced a column rename: physical "
                f"names changed under the written files — re-run the write"
            )
        mp = {"column_mapping": mapping} if mapping is not None else {}
        return {"schema": schema, **mp}

    def set_identity_column(self, name: str, start: int = 1, step: int = 1) -> int:
        """Declare ``name`` a GENERATED ALWAYS AS IDENTITY column (the
        Delta identity contract): values are engine-assigned on every
        append-family write (append / INSERT / COPY INTO), callers may
        never supply them, and the per-column high-water mark rides
        commits and checkpoints. Only declarable while the table is
        EMPTY (Delta allows identity at CREATE only — backfilling
        existing rows would be a table rewrite, not a declaration).

        Allocation is gap-tolerant, exactly as Delta's: each write
        assigns ``high + step * (monotonically_increasing_id() + 1)``
        map-side (no shuffle, no driver round-trip) and advances the
        high-water mark to the written files' FOOTER max — so ids are
        unique and ascending across commits but not dense. Two writers
        racing an identity allocation cannot both win: the loser's ids
        may overlap, so the conflict surfaces for a re-run instead of
        committing duplicates."""
        state = self._state()
        schema = T.StructType.fromJson(state["schema"])
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise ValueError(f"no column {name!r} (have {schema.fieldNames()})")
        if by_name[name].dataType.typeName() != "long":
            raise ValueError(
                f"identity column {name!r} must be BIGINT, is "
                f"{by_name[name].dataType.simpleString()}"
            )
        if state["files"]:
            raise ValueError(
                "identity can only be declared on an empty table "
                "(declare it at CREATE)"
            )
        if name in state["identity"]:
            raise ValueError(f"column {name!r} is already an identity column")
        if name in state["generated"]:
            raise ValueError(f"column {name!r} already has a generation rule")
        if step == 0:
            raise ValueError("identity step must be non-zero")
        spec = {"start": int(start), "step": int(step), "high": None}
        return self._commit_metadata(
            state, "set_identity", identity_set={name: spec}
        )

    def _apply_identity(
        self, df: DataFrame, state: dict
    ) -> tuple[DataFrame, dict]:
        """Assign identity values map-side; returns (df, {col: base}).
        Caller-supplied identity values refuse (GENERATED ALWAYS)."""
        ident = state["identity"]
        if not ident:
            return df, {}
        bases = {}
        for col, spec in ident.items():
            if col in df.columns:
                raise ValueError(
                    f"column {col!r} is GENERATED ALWAYS AS IDENTITY — "
                    "remove it from the input (values are engine-assigned)"
                )
            base = (
                spec["high"]
                if spec["high"] is not None
                else spec["start"] - spec["step"]
            )
            bases[col] = base
            df = df.withColumn(
                col,
                (
                    F.lit(base)
                    + F.lit(spec["step"])
                    * (F.monotonically_increasing_id() + F.lit(1))
                ).cast("long"),
            )
        return df, bases

    def _identity_high_from_adds(
        self, bases: dict, adds: list[dict], write_mapping: dict | None
    ) -> dict:
        """New per-column high-water marks, read from the written files'
        FOOTER stats (free — no extra scan); falls back to a scan of
        just the written files if a footer lacked the stat."""
        out = {}
        for col, spec_base in bases.items():
            phys = self._phys(write_mapping, col)
            mx = None
            ok = True
            for m in adds:
                s = m.get("stats", {}).get(phys)
                if s is None or s.get("max") is None:
                    ok = False
                    break
                mx = s["max"] if mx is None else max(mx, s["max"])
            if not ok and adds:
                mx = (
                    self.spark.read.parquet(
                        *self._data.scan_uris([m["path"] for m in adds])
                    )
                    .agg(F.max(phys))
                    .collect()[0][0]
                )
            if mx is not None:
                out[col] = int(mx)
        return out

    def copy_into(
        self,
        source: str,
        file_format: str = "parquet",
        pattern: str | None = None,
        options: dict | None = None,
    ) -> dict:
        """Idempotent file-level ingestion (the Delta ``COPY INTO``
        contract): load files under ``source`` that have NOT been loaded
        into this table before, as one append commit that also records
        their identities — so re-running after a crash, a scheduler
        retry, or simply on a directory that keeps growing loads each
        file EXACTLY ONCE. Identity is path + size + mtime: an
        in-place-modified file counts as new (it IS new bytes — the
        Delta modificationTime rule). The loaded-file set folds into
        state and checkpoints like the txn high-water marks, so N
        nightly copies cost a dict diff, never a log scan.

        ``pattern`` is a glob over the source dir (default: every
        ``*.<ext>`` at the top level); ``options`` passes through to the
        Spark reader (e.g. ``{"header": "true"}`` for csv). Schema flows
        through the same evolution rules as any append."""
        import glob as _glob

        if file_format not in ("parquet", "csv", "json"):
            raise ValueError(
                f"unsupported FILEFORMAT {file_format!r} "
                "(parquet | csv | json)"
            )
        src = os.path.abspath(source)
        if not os.path.isdir(src):
            raise ValueError(f"COPY INTO source is not a directory: {source!r}")
        ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json"}[file_format]
        paths = sorted(
            p
            for p in _glob.glob(os.path.join(src, pattern or f"*{ext}"))
            if os.path.isfile(p)
        )
        state = self._state()
        seen = state["copy_files"]

        def ident(p: str) -> str:
            st = os.stat(p)
            return f"{p}:{st.st_size}:{st.st_mtime_ns}"

        fresh = [(p, ident(p)) for p in paths]
        new = [(p, i) for p, i in fresh if i not in seen]
        skipped = len(fresh) - len(new)
        if not new:
            return {
                "version": state["version"],
                "files_loaded": 0,
                "files_skipped": skipped,
            }
        ids = {i for _, i in new}

        def recheck(head: dict) -> bool:
            # a lost race checks the loaded-file set FIRST: a concurrent
            # copy of all of our files makes this one a skip (exactly
            # once), an unrelated append just a rebase
            loaded = ids & head["copy_files"]
            if loaded == ids:
                return False
            if loaded:
                raise CommitConflictError(
                    f"copy_into {self.path} raced a copy of "
                    f"{len(loaded)} of its {len(ids)} files — re-run "
                    "copy_into"
                )
            return True

        reader = self.spark.read.format(file_format).options(**(options or {}))
        df = reader.load([p for p, _ in new])
        v = self._append(
            state, df,
            {"operation": "copy_into", "copy_add": [i for _, i in new]},
            recheck,
        )
        if v is None:  # a racing copy loaded every one of our files
            return {
                "version": self.latest_version(),
                "files_loaded": 0,
                "files_skipped": len(fresh),
            }
        return {"version": v, "files_loaded": len(new), "files_skipped": skipped}

    def _txn_seen(self, app: str, version: int, state: dict) -> bool:
        """Has ``app`` already committed transaction ``version`` (or
        newer) at or before ``state['version']``? The per-app high-water
        mark is folded into state (and into checkpoints, like the file
        manifest), so this is a dict lookup — NOT a log scan, which would
        make N streaming micro-batches cost O(N²) commit parses."""
        return state["txns"].get(app, -1) >= version

    # -------------------------------------------------------- constraints

    _CONSTRAINT_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

    @staticmethod
    def _null_extend(df: DataFrame, schema_json: dict | None) -> DataFrame:
        """Add NULL columns for table-schema fields absent from a
        subset-schema batch, so constraint/generation expressions that
        reference them analyze and see NULL — the same value those rows
        read back with (SQL CHECK: NULL passes)."""
        if schema_json is None:
            return df
        have = set(df.columns)
        for f in T.StructType.fromJson(schema_json).fields:
            if f.name not in have:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def _enforce(
        self,
        df: DataFrame,
        constraints: dict[str, str],
        schema_json: dict | None = None,
    ) -> None:
        """Reject the batch if ANY row violates ANY CHECK constraint —
        one aggregate pass over the incoming rows counting violations
        per constraint (SQL CHECK semantics: NULL passes — including
        table columns a legal subset-schema batch omits entirely). Runs
        on the LOGICAL frame, before physical-name conform. Cost at
        scale: one columnar scan of the batch being written, never of
        the table."""
        if not constraints:
            return
        df = self._null_extend(df, schema_json)
        names = sorted(constraints)
        counts = df.agg(
            *[
                F.count(
                    F.when(
                        ~F.coalesce(
                            F.expr(constraints[n]).cast("boolean"), F.lit(True)
                        ),
                        1,
                    )
                ).alias(f"c{i}")
                for i, n in enumerate(names)
            ]
        ).collect()[0]
        bad = {n: counts[f"c{i}"] for i, n in enumerate(names) if counts[f"c{i}"]}
        if bad:
            detail = ", ".join(
                f"{n} ({constraints[n]!r}): {c} row(s)" for n, c in bad.items()
            )
            raise ConstraintViolationError(
                f"write to {self.path} rejected - CHECK violated: {detail}"
            )

    def add_constraint(self, name: str, expr_sql: str) -> int:
        """ADD CONSTRAINT name CHECK (expr): validates the CURRENT table
        first (every existing row must satisfy the constraint - the
        Delta contract), then commits a dataChange=false metadata record.
        Every later append/overwrite/merge/update enforces it on the
        incoming rows and rejects the whole batch on violation."""
        if not self._CONSTRAINT_NAME.match(name):
            raise ValueError(f"constraint name must be an identifier: {name!r}")
        state = self._state()
        if name in state["constraints"]:
            raise ValueError(f"constraint {name} already exists")
        if state["files"]:
            self._enforce(self._read_snapshot(state), {name: expr_sql})
        return self._commit_metadata(
            state, "add_constraint", constraint_add={name: expr_sql}
        )

    def drop_constraint(self, name: str) -> int:
        state = self._state()
        if name not in state["constraints"]:
            raise ValueError(f"no constraint named {name}")
        return self._commit_metadata(state, "drop_constraint", constraint_drop=name)

    def set_cluster_by(self, cluster_by: list[str] | None) -> int:
        """Clustering evolution (the Iceberg partition-evolution analog
        for a stats-pruned layout): FUTURE writes range-cluster on the
        new columns; existing files keep their old layout and their
        per-file stats stay valid, so reads and pruning are unaffected
        the moment this commits. optimize_small_files / zorder / compact
        migrate old files into the new layout incrementally — evolution
        never forces a table rewrite (the property that makes changing a
        100 TB table's layout an O(metadata) decision). ``None``/empty
        clears clustering."""
        state = self._state()
        cols = list(cluster_by or [])
        names = T.StructType.fromJson(state["schema"]).fieldNames()
        unknown = [c for c in cols if c not in names]
        if unknown:
            raise ValueError(f"cluster_by references unknown column(s): {unknown}")
        return self._commit_metadata(state, "set_cluster_by", cluster_by=cols)

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: {name: sql_expr}."""
        return dict(self._state()["constraints"])

    # --------------------------------------------------- generated columns

    def add_generated_column(
        self, name: str, expr_sql: str, dtype_ddl: str
    ) -> int:
        """ALWAYS GENERATED AS (expr): the column is computed from the
        row at WRITE time. Incoming batches that omit it get it computed;
        batches that supply it are VALIDATED (null-safe col <=> expr, one
        aggregate pass — Delta enforces generation expressions as exactly
        this CHECK). Updates recompute it from the updated row, and
        assigning it directly in update_where is rejected. The column
        materializes in the table schema at the FIRST write after this
        commit (schema evolution's additive path — one divergence from
        Delta, which only allows generation expressions at CREATE);
        rows written before the add read as NULL until rewritten."""
        if not self._CONSTRAINT_NAME.match(name):
            raise ValueError(f"column name must be an identifier: {name!r}")
        state = self._state()
        names = T.StructType.fromJson(state["schema"]).fieldNames()
        if name in names:
            raise ValueError(
                f"column {name!r} already exists; generated columns must "
                f"be new"
            )
        if name in state["generated"]:
            raise ValueError(f"generated column {name} already defined")
        # the expression must analyze against the CURRENT schema
        probe = local_df(
            self.spark, [], T.StructType.fromJson(state["schema"])
        )
        probe.select(F.expr(expr_sql).cast(dtype_ddl)).schema  # analyzes
        return self._commit_metadata(
            state, "add_generated_column",
            generated_add={name: {"expr": expr_sql, "type": dtype_ddl}},
        )

    def drop_generated_column(self, name: str) -> int:
        """Drop just the GENERATION RULE; the column itself stays (drop
        it separately with drop_column, which is blocked only while the
        rule exists)."""
        state = self._state()
        if name not in state["generated"]:
            raise ValueError(f"no generated column named {name}")
        return self._commit_metadata(
            state, "drop_generated_column", generated_drop=name
        )

    def generated_columns(self) -> dict[str, dict]:
        return dict(self._state()["generated"])

    def _apply_generated(self, df: DataFrame, state: dict) -> DataFrame:
        """Compute absent generated columns; validate supplied ones
        (null-safe equality, whole batch rejected on any mismatch).
        Subset-schema batches see NULL for table columns they omit (the
        value those rows read back with), so generation expressions
        referencing them analyze instead of crashing."""
        gen = state["generated"]
        if not gen:
            return df
        orig_cols = list(df.columns)
        ext = self._null_extend(df, state["schema"])
        supplied = []
        out = ext
        computed = []
        for name, spec in sorted(gen.items()):
            if name in orig_cols:
                supplied.append(name)
            else:
                out = out.withColumn(
                    name, F.expr(spec["expr"]).cast(spec["type"])
                )
                computed.append(name)
        # the batch keeps ITS columns (+ computed generated ones); the
        # null helper columns were for expression analysis only
        out = out.select(*orig_cols, *[c for c in computed if c not in orig_cols])
        if supplied:
            counts = ext.agg(
                *[
                    F.count(
                        F.when(
                            ~F.col(n).eqNullSafe(
                                F.expr(gen[n]["expr"]).cast(gen[n]["type"])
                            ),
                            1,
                        )
                    ).alias(f"g{i}")
                    for i, n in enumerate(supplied)
                ]
            ).collect()[0]
            bad = {
                n: counts[f"g{i}"]
                for i, n in enumerate(supplied)
                if counts[f"g{i}"]
            }
            if bad:
                detail = ", ".join(
                    f"{n} != {gen[n]['expr']!r}: {c} row(s)"
                    for n, c in bad.items()
                )
                raise ConstraintViolationError(
                    f"write to {self.path} rejected - generated-column "
                    f"mismatch: {detail}"
                )
        return out

    def _regen(self, df: DataFrame, state: dict) -> DataFrame:
        """Recompute generated columns from the (possibly updated) row —
        used by rewrite paths; only columns already in the frame."""
        gen = {
            n: spec
            for n, spec in state["generated"].items()
            if n in df.columns
        }
        if not gen:
            return df
        return df.select(
            *[
                F.expr(gen[c]["expr"]).cast(gen[c]["type"]).alias(c)
                if c in gen
                else F.col(c)
                for c in df.columns
            ]
        )

    def streaming_sink(self, txn_app: str):
        """A ``foreachBatch`` callable with exactly-once semantics: the
        micro-batch epoch id becomes the transaction version, so replayed
        epochs (post-crash re-delivery) commit nothing.

        Usage::

            q = (df.writeStream.foreachBatch(table.streaming_sink("job1"))
                   .option("checkpointLocation", ...).start())
        """

        def _sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.append(batch_df, txn_app=txn_app, txn_version=epoch_id)

        return _sink

    def overwrite(
        self,
        df: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Replace the table contents. Non-commuting: a lost race raises
        rather than silently dropping the other writer's commit.

        ``txn_app``/``txn_version`` make the overwrite IDEMPOTENT, same
        contract as :meth:`append` — the replace and the watermark land
        in ONE commit, which is what lets a change-feed consumer
        bootstrap from a full snapshot atomically (ChangeFeedLoader's
        vacuum resync).

        Column mapping across an overwrite: surviving columns keep their
        physical names (log history stays coherent); columns the
        overwrite DROPS retire their physicals (old files still carry
        them, and read_changes/time travel must never resurrect them
        into a later same-named column); columns the overwrite ADDS mint
        a fresh physical when their name is occupied by any old file's
        physical (e.g. re-introducing a name a rename freed)."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be passed together")
        state = self._state()
        if txn_app is not None and self._txn_seen(txn_app, txn_version, state):
            return state["version"]  # replayed overwrite: already committed
        if state["identity"]:
            raise NotImplementedError(
                "overwrite on a table with identity columns is not "
                "supported (identity values are engine-assigned; use "
                "delete + append)"
            )
        df = self._apply_generated(df, state)
        self._enforce(df, state["constraints"], state["schema"])
        old_mapping = state["column_mapping"] or {}
        old_fields = (
            T.StructType.fromJson(state["schema"]).fieldNames()
            if state["schema"] is not None
            else []
        )
        retired = list(state.get("retired_phys", []))
        # every physical any historical file may carry
        occupied = (
            {self._phys(old_mapping, f) for f in old_fields}
            | set(old_mapping.values())
            | set(retired)
        )
        mapping: dict = {}
        for c in df.columns:
            if c in old_fields:  # survivor: keep its physical
                p = self._phys(old_mapping, c)
            elif c in occupied:  # new logical colliding with an old physical
                p = f"{c}__p{uuid.uuid4().hex[:8]}"
            else:
                p = c
            if p != c:
                mapping[c] = p
        surviving = set(df.columns)
        for f in old_fields:
            if f not in surviving:
                p = self._phys(old_mapping, f)
                if p not in retired:
                    retired.append(p)
        adds = self._write_files(df, state["cluster_by"], mapping)
        v = self._commit(
            state,
            {
                "operation": "overwrite",
                "schema": df.schema.jsonValue(),
                "column_mapping": mapping,
                "retired_phys": retired,
                "add": adds,
                "remove": sorted(state["files"]),
                **(
                    {"txn_app": txn_app, "txn_version": txn_version}
                    if txn_app
                    else {}
                ),
            },
        )
        return self.latest_version() if v is None else v  # None: replay won

    @staticmethod
    def _constraints_referencing(constraints: dict[str, str], col: str) -> list[str]:
        """Conservative identifier match: constraint names whose CHECK
        expression mentions ``col`` as a word. Used to block rename/drop
        of a constrained column (the Delta rule) — a stale name in a
        stored expression would fail analysis on the NEXT write, far
        from the schema change that broke it."""
        pat = re.compile(rf"\b{re.escape(col)}\b")
        return sorted(n for n, e in constraints.items() if pat.search(e))

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename: data files keep the column's
        PHYSICAL name (fixed at creation); only the logical name in the
        table schema changes, recorded in the column mapping — so a
        rename never rewrites a byte of data, at any table size. Old
        versions time-travel with their old names; ``read()`` (and every
        merge/delete/scan) transparently maps logical to physical."""
        state = self._state()
        schema = T.StructType.fromJson(state["schema"])
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        refs = self._constraints_referencing(state["constraints"], old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) "
                f"{refs}; drop them first"
            )
        grefs = self._constraints_referencing(
            {n: g["expr"] for n, g in state["generated"].items()}, old
        )
        if grefs or old in state["generated"]:
            raise ValueError(
                f"column {old!r} is a generated column or a generation "
                f"dependency of {grefs}; drop the generation rule first"
            )
        mapping = dict(state["column_mapping"] or {})
        mapping[new] = mapping.pop(old, old)
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
        cluster = state["cluster_by"]
        if cluster:
            cluster = [new if c == old else c for c in cluster]
        return self._commit_metadata(
            state, "rename", schema=T.StructType(fields).jsonValue(),
            column_mapping=mapping, cluster_by=cluster,
        )

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop: the field leaves the schema (and
        the cluster spec, if present); data files are untouched — the
        physical column simply stops being read. The physical name is
        recorded as RETIRED so a later re-add of the same logical name
        mints a fresh physical instead of resurrecting the dropped
        values from old files. Time travel before the drop still reads
        the column."""
        state = self._state()
        schema = T.StructType.fromJson(state["schema"])
        names = schema.fieldNames()
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        refs = self._constraints_referencing(state["constraints"], name)
        if refs:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) "
                f"{refs}; drop them first"
            )
        grefs = self._constraints_referencing(
            {n: g["expr"] for n, g in state["generated"].items()}, name
        )
        if grefs or name in state["generated"]:
            raise ValueError(
                f"column {name!r} is a generated column or a generation "
                f"dependency of {grefs}; drop the generation rule first"
            )
        mapping = dict(state["column_mapping"] or {})
        retired = list(state.get("retired_phys", []))
        retired.append(mapping.pop(name, name))
        fields = [f for f in schema.fields if f.name != name]
        cluster = state["cluster_by"]
        if cluster:
            cluster = [c for c in cluster if c != name]
        return self._commit_metadata(
            state, "drop", schema=T.StructType(fields).jsonValue(),
            column_mapping=mapping, retired_phys=retired, cluster_by=cluster,
        )

    def add_columns(self, cols: list[tuple[str, str]]) -> int:
        """Metadata-only column add: each ``(name, type_ddl)`` joins the
        schema as a NULLABLE field; no data file is touched — rows in
        existing files read the new column as NULL (the parquet reader
        fills absent columns), so adding a column to a 100 TB table is
        an O(metadata) commit. If the logical name collides with a
        physical name still living in old files (a past rename's
        retired physical, or a previously dropped column), a fresh
        mapped physical is minted so old bytes never resurrect into the
        new column — the same rule as write-time schema evolution
        (:meth:`_merged_schema`)."""
        if not cols:
            raise ValueError("add_columns needs at least one (name, type)")
        state = self._state()
        names = set(T.StructType.fromJson(state["schema"]).fieldNames())
        add = T.StructType()
        for name, ddl in cols:
            if name in names:
                raise ValueError(f"column {name!r} already exists")
            if name in add.fieldNames():
                raise ValueError(f"duplicate new column {name!r}")
            add = add.add(name, T.StructType.fromDDL(f"x {ddl}")[0].dataType, True)
        schema_json, mapping = self._merged_schema(state, add)
        mp = {"column_mapping": mapping} if mapping is not None else {}
        return self._commit_metadata(state, "add_columns", schema=schema_json, **mp)

    def widen_column(self, name: str, type_ddl: str) -> int:
        """Metadata-only lossless type widening (byte<short<int<long,
        float<double): the TABLE type widens; existing narrow files keep
        reading through the widened schema (Spark 4's parquet reader
        upcasts — the same property write-time widening relies on).
        Narrowing or cross-family changes refuse: they would need a full
        rewrite, which is :meth:`overwrite`'s job, not ALTER's."""
        state = self._state()
        schema = T.StructType.fromJson(state["schema"])
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise ValueError(f"no column {name!r} (have {schema.fieldNames()})")
        want = T.StructType.fromDDL(f"x {type_ddl}")[0].dataType
        have = by_name[name].dataType
        if have == want:
            return state["version"]  # no-op, no commit
        if (have.typeName(), want.typeName()) not in self._WIDEN:
            raise TypeError(
                f"cannot ALTER {name!r} from {have.simpleString()} to "
                f"{want.simpleString()}: only lossless widening "
                f"(byte<short<int<long, float<double) is metadata-only"
            )
        fields = [
            T.StructField(f.name, want if f.name == name else f.dataType, f.nullable)
            for f in schema.fields
        ]
        return self._commit_metadata(
            state, "widen_column", schema=T.StructType(fields).jsonValue()
        )

    # Types whose footer stats compare faithfully against Spark-collected
    # bounds after _json_safe. Timestamps are EXCLUDED: parquet footers
    # store UTC-adjusted instants (pyarrow yields tz-aware datetimes)
    # while df.collect() yields naive session-local ones — lexicographic
    # comparison of the mismatched ISO forms would mis-skip files and
    # silently corrupt a merge. Binary likewise (utf-8/hex fallback mixes
    # representations). Those columns read as "no stats" = never skipped.
    _PRUNABLE_TYPES = {
        "long", "integer", "short", "byte", "double", "float",
        "string", "date", "boolean",
    }

    def _prunable_cols(self, state: dict, cols: list[str]) -> set[str]:
        types = {f["name"]: f["type"] for f in state["schema"]["fields"]}
        return {c for c in cols if types.get(c) in self._PRUNABLE_TYPES}

    def _candidate_files(
        self,
        state: dict,
        keys: list[str],
        key_df: DataFrame | None = None,
        bounds: dict | None = None,
    ) -> tuple[list[str], list[str]]:
        """Stats pruning: files whose per-column [min,max] ranges overlap
        the incoming keys' ranges. Returns (candidates, skipped). Only
        types with a faithful footer-vs-engine comparator participate —
        a wrong skip here is silent merge corruption, so anything
        doubtful (timestamps, binary) is simply never skipped. Footer
        stats are keyed by PHYSICAL column names.

        The incoming key ranges come either from ``bounds`` (column ->
        (min, max), already computed by a caller that folded the
        aggregate into another job — min/max over the raw batch equals
        min/max over its distinct keys) or, when only ``key_df`` is
        given, from one aggregate job over it."""
        prunable = self._prunable_cols(state, keys)
        mapping = state["column_mapping"]
        if bounds is None:
            row = key_df.agg(
                *[F.min(k).alias(f"mn_{k}") for k in keys],
                *[F.max(k).alias(f"mx_{k}") for k in keys],
            ).collect()[0]
            bounds = {k: (row[f"mn_{k}"], row[f"mx_{k}"]) for k in keys}
        candidates, skipped = [], []
        for rel, meta in state["files"].items():
            overlap = True
            for k in keys:
                if k not in prunable:
                    continue
                s = meta.get("stats", {}).get(self._phys(mapping, k))
                mn, mx = bounds[k]
                if s is None or s["min"] is None or mn is None:
                    continue  # no stats -> cannot skip
                mn, mx = _json_safe(mn), _json_safe(mx)
                if s["max"] < mn or s["min"] > mx:
                    overlap = False
                    break
            (candidates if overlap else skipped).append(rel)
        return candidates, skipped

    def _read_files(
        self,
        rels: list[str],
        schema_json: dict,
        mapping: dict | None = None,
        lineage: bool = False,
    ) -> DataFrame:
        """Read data files through the LOGICAL schema: the scan uses
        physical names (what parquet stores), then one zero-cost
        projection aliases back to logical. Old narrow files read
        transparently through a widened schema (verified: Spark 4's
        reader upcasts byte/short/int->long and float->double).

        ``lineage=True`` appends the two row-identity columns deletion
        vectors key on — the scan's ``_metadata.file_name`` (part-file
        names carry a write-job uuid, so the basename is globally
        unique) and ``_metadata.row_index`` (the row's position in its
        file — the reader computes it pre-filter, so it is stable
        across scans). Costs nothing when the reader prunes them."""
        schema = T.StructType.fromJson(schema_json)
        paths = self._data.scan_uris(rels)
        lin_fields = [(_DV_FILE, T.StringType()), (_DV_ROW, T.LongType())]
        if not paths:
            empty = schema
            if lineage:
                for n, t in lin_fields:
                    empty = empty.add(n, t)
            return local_df(self.spark, [], empty)
        lin_cols = (
            [
                F.col("_metadata.file_name").alias(_DV_FILE),
                F.col("_metadata.row_index").alias(_DV_ROW),
            ]
            if lineage
            else []
        )
        if not mapping:
            scan = self.spark.read.schema(schema).parquet(*paths)
            return scan.select("*", *lin_cols) if lineage else scan
        phys = T.StructType(
            [
                T.StructField(self._phys(mapping, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return self.spark.read.schema(phys).parquet(*paths).select(
            *[
                F.col(self._phys(mapping, f.name)).alias(f.name)
                for f in schema.fields
            ],
            *lin_cols,
        )

    # ----------------------------------------------------- deletion vectors

    def _dv_frame(self, dv_rels: list[str]) -> DataFrame:
        """Union scan of deletion-vector parquets: (file basename,
        row index) pairs naming masked rows."""
        return self.spark.read.schema(
            T.StructType(
                [
                    T.StructField(_DV_FILE, T.StringType()),
                    T.StructField(_DV_ROW, T.LongType()),
                ]
            )
        ).parquet(*self._data.scan_uris(sorted(dv_rels)))

    def _read_snapshot(
        self,
        state: dict,
        rels: list[str] | None = None,
        keep_lineage: bool = False,
        schema_json: dict | None = None,
        dvs: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """The LIVE rows of ``rels`` (default: every file) at ``state``:
        files without deletion vectors scan straight through; masked
        files scan with row identity and anti-join their DV union —
        merge-on-read, cost proportional to the MASKED files only, zero
        touch on clean ones. ``keep_lineage`` keeps the row-identity
        columns in the output (probes); ``schema_json``/``dvs`` override
        the state's (CDF reads removed files through the target schema
        but the PRE-removal masks)."""
        schema_json = state["schema"] if schema_json is None else schema_json
        dvs = state["dvs"] if dvs is None else dvs
        mapping = state["column_mapping"]
        rels = sorted(state["files"] if rels is None else rels)
        masked = [r for r in rels if dvs.get(r)]
        clean = [r for r in rels if not dvs.get(r)]
        parts: list[DataFrame] = []
        if clean or not masked:  # empty-rels case still yields a frame
            parts.append(
                self._read_files(clean, schema_json, mapping, lineage=keep_lineage)
            )
        if masked:
            dv_rels = sorted({p for r in masked for p in dvs[r]})
            dvf = self._dv_frame(dv_rels)
            # broadcast the mask side when its parquet bytes say it fits:
            # a shuffle anti-join repartitions the ENTIRE masked scan on
            # (file, row) string keys — at 100 TB that shuffle dwarfs the
            # masks themselves. Size gate on on-disk bytes (known from
            # the data plane, no scan) against the driver byte budget:
            # past it, fall back to the shuffle join rather than OOM the
            # executors.
            dv_bytes = sum(self._data.size(r) for r in dv_rels)
            if dv_bytes <= DRIVER_MAX_BYTES:
                dvf = F.broadcast(dvf)
            live = self._read_files(
                masked, schema_json, mapping, lineage=True
            ).join(dvf, [_DV_FILE, _DV_ROW], "left_anti")
            parts.append(live if keep_lineage else live.drop(_DV_FILE, _DV_ROW))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _rels_by_basename(self, state: dict) -> dict[str, str]:
        """Basename -> log-relative path for the state's data files (DV
        probes identify files by ``_metadata.file_name``)."""
        return {rel.rsplit("/", 1)[-1]: rel for rel in state["files"]}

    def _write_dv(
        self, state: dict, matches: DataFrame, dup_guard: bool = False
    ) -> tuple[list[dict], list[str], int]:
        """Write ``matches`` — a (_DV_FILE, _DV_ROW) frame of rows to
        mask — as deletion-vector parquet(s) in the data plane. Returns
        (dv_add commit entries, masked data rels, rows masked). This is
        the Spark-written mask of the distributed merge, delete and
        update paths; a bounded dv ``merge_into`` writes its single mask
        file from the driver instead (``_merge_into_driver``).

        ``dup_guard=True`` additionally enforces merge_into's
        multiple-match rule in the SAME job: the mask is pre-aggregated
        per (file, row) and ``max(count)`` rides the write's Observation
        next to the masked-file set. On every merge that does not raise,
        all counts are 1, so the grouped mask is byte-identical to the
        raw one — the guard costs one in-job exchange of the bounded
        claimed set instead of a whole separate probe job."""
        from pyspark.sql import Observation

        # the distinct masked-file set rides the write job as an observed
        # metric (collect_set is bounded by the table's file count), so
        # deriving the commit's "for" list costs zero extra passes — it
        # used to be a second Spark job re-reading the masks just written
        obs = Observation()
        if dup_guard:
            matches = (
                matches.select(_DV_FILE, _DV_ROW)
                .groupBy(_DV_FILE, _DV_ROW)
                .agg(F.count(F.lit(1)).alias("__sn_dup_n"))
                .observe(
                    obs,
                    F.collect_set(F.col(_DV_FILE)).alias("files"),
                    F.max("__sn_dup_n").alias("mx"),
                )
                .select(_DV_FILE, _DV_ROW)
            )
        else:
            # cluster masks by their target file through a coalescible
            # exchange (no explicit n -> AQE folds a bounded changed-row
            # set into ONE mask file; a large one lands file-clustered,
            # keeping each mask file's footer min/max on _DV_FILE tight —
            # today's reader unions all masks of the touched files, so
            # the clustering buys file-count hygiene now and makes
            # per-target-file mask pruning possible later, not yet
            # implemented). The exchange carries (file, row) pairs only —
            # never payload.
            matches = (
                matches.select(_DV_FILE, _DV_ROW)
                .repartition(F.col(_DV_FILE))
                .observe(obs, F.collect_set(F.col(_DV_FILE)).alias("files"))
            )
        dv_dir = f"data/{uuid.uuid4().hex}"
        matches.write.mode("overwrite").parquet(self._data.write_uri(dv_dir))
        if dup_guard and (obs.get.get("mx") or 0) > 1:
            # a target row claimed >1 times: unwind the just-written
            # masks (nothing was committed) and surface Delta's error
            for name in self._data.publish_dir(dv_dir):
                self._data.delete(f"{dv_dir}/{name}")
            raise ValueError(_DUP_MSG)
        dv_rels, n_rows = [], 0
        for name in self._data.publish_dir(dv_dir):
            rel = f"{dv_dir}/{name}"
            with self._data.open_input(rel) as src:
                meta = _file_meta(src, rel, self._data.size(rel))
            if meta["rows"] == 0:
                self._data.delete(rel)
                continue
            dv_rels.append(rel)
            n_rows += meta["rows"]
        if not dv_rels:
            return [], [], 0
        by_base = self._rels_by_basename(state)
        masked_rels = sorted(by_base[b] for b in obs.get["files"])
        return [{"paths": dv_rels, "for": masked_rels, "rows": n_rows}], masked_rels, n_rows

    _MRG_ACT = "__sn_mrg_act"

    def merge_into(
        self,
        source: DataFrame,
        key: str | list[str],
        *,
        matched: list[dict] | None = None,
        not_matched: list[dict] | None = None,
        not_matched_by_source: list[dict] | None = None,
        mode: str = "cow",
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Multi-clause MERGE (the full ANSI / Delta surface — conditional
        matched UPDATE/DELETE, NOT MATCHED INSERT, NOT MATCHED BY SOURCE
        UPDATE/DELETE), and the table's only keyed upsert: a plain upsert
        is an update of every source column plus an ``INSERT *``. This
        is the CDC-apply primitive: one call replays a change batch of
        inserts + updates + deletes, or syncs a target to a source
        snapshot (``not_matched_by_source`` delete).

        Each clause is a dict: ``{"action": "update", "cond": sql|None,
        "set": {col: sql}}``, ``{"action": "delete", "cond": sql|None}``,
        or ``{"action": "insert", "cond": sql|None}`` (``INSERT *``
        semantics; add ``"values": {col: sql}`` for the explicit-column
        ``INSERT (cols) VALUES (exprs)`` form — expressions see ``s.*``,
        unmentioned columns insert NULL). Conditions and
        ``set`` expressions see the target row as ``t.*`` and the source
        row as ``s.*`` (``not_matched`` conds see only ``s.*``,
        ``not_matched_by_source`` only ``t.*``). Within each clause list,
        the FIRST clause whose condition holds wins for a row; a row no
        clause claims is left untouched. An insert's row image is the
        source row conformed to the table schema (absent columns NULL,
        generated columns computed).

        ``mode="cow"`` rewrites only the files that contain a claimed
        row; ``mode="dv"`` masks claimed rows with a deletion vector and
        appends the updated images + inserts — write cost O(changed
        rows), zero data files rewritten (the low-shuffle CDC-apply
        shape that survives 100 TB). CDF emits delete(old) + insert(new)
        either way.

        Bounded dv merges run on the driver: a source of at most
        ``DRIVER_MAX_ROWS`` rows (the engine's driver row budget) is
        fetched once as Arrow, the candidate-target classification is
        fetched once, and the commit lands at most one data file and one
        mask file, written with pyarrow. Everything else takes the
        distributed path (persisted source, Spark-written files): cow
        mode, a larger source or classification, ``not_matched_by_source``
        clauses, a conditional or explicit-value insert, a table with
        generated or identity columns, CHECK constraints or column
        mapping, a floating-point key, and any source or table column
        whose type the Arrow round trip could change (timestamp,
        decimal, binary, nested, collated string, or a date while the
        session reads parquet dates in a legacy rebase mode). Both paths
        give the same table, history and change feed; the choice and its
        reason are logged at DEBUG on ``wopen_spark.snapshot_table``.

        Scale note: without ``not_matched_by_source`` clauses the target
        read is stats-pruned to the files whose [min,max] key ranges
        overlap the source keys; WITH them every live file must be
        probed (full-sync semantics are inherently full-scan).

        ``txn_app``/``txn_version`` make the merge idempotent for
        exactly-once streaming upsert sinks, same contract as
        :meth:`append`. Like Delta, raises if a target row would be
        updated/deleted by more than one source row (multiple matches are
        legal as long as at most one pair is claimed by a matched
        clause's condition — only an AMBIGUOUS modification is an
        error). Reference parity: the reference's
        pandas pipelines express upsert-then-prune as full-frame
        rewrites; this is the keyed, file-pruned equivalent."""
        if mode not in ("cow", "dv"):
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be passed together")
        keys = [key] if isinstance(key, str) else list(key)
        matched = list(matched or [])
        not_matched = list(not_matched or [])
        by_source = list(not_matched_by_source or [])
        if not (matched or not_matched or by_source):
            raise ValueError("merge_into needs at least one clause")
        for cl, allowed in (
            *[(c, ("update", "delete")) for c in matched],
            *[(c, ("insert",)) for c in not_matched],
            *[(c, ("update", "delete")) for c in by_source],
        ):
            if cl.get("action") not in allowed:
                raise ValueError(
                    f"clause action {cl.get('action')!r} not in {allowed}"
                )
            if cl["action"] == "update" and not cl.get("set"):
                raise ValueError("update clause requires a non-empty 'set'")
            if cl["action"] == "insert" and cl.get("values") is not None and not cl["values"]:
                raise ValueError(
                    "explicit-column insert requires a non-empty 'values'"
                )

        state = self._state()
        if txn_app is not None and self._txn_seen(txn_app, txn_version, state):
            return {"version": state["version"], "replayed": True}
        schema = T.StructType.fromJson(state["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        missing_keys = [k for k in keys if k not in source.columns]
        if missing_keys:
            raise ValueError(f"source lacks merge key column(s): {missing_keys}")
        gen_cols = [c for c in source.columns if c in state["generated"]]
        if gen_cols:
            raise ValueError(
                f"source column(s) {gen_cols} are GENERATED table columns — "
                f"they are computed at write, never supplied"
            )
        # extra non-schema source columns (a CDC batch's op/ts metadata)
        # are legal: conditions read them as s.<col>; insert images take
        # only the schema-named columns (merge_into never evolves schemas)
        ident_cols = set(state["identity"])
        for cl in (*matched, *by_source, *not_matched):
            assigned = cl.get("set") or cl.get("values") or {}
            gen = [c for c in assigned if c in state["generated"]]
            if gen:
                raise ValueError(
                    f"column(s) {gen} are GENERATED and recomputed from the "
                    f"updated row; they cannot be assigned directly"
                )
            idc = [c for c in assigned if c in ident_cols]
            if idc:
                raise ValueError(
                    f"column(s) {idc} are GENERATED ALWAYS AS IDENTITY — "
                    f"they can never be an UPDATE/INSERT target"
                )
            bad = [c for c in assigned if c not in types]
            if bad:
                raise ValueError(f"update/insert of unknown column(s): {bad}")
        # identity in the SOURCE is fine as a join key (CDC keyed on id),
        # but an ``INSERT *`` image would copy the source's value into a
        # GENERATED ALWAYS column — require explicit-column inserts then
        if ident_cols & set(source.columns) and any(
            cl.get("values") is None for cl in not_matched
        ):
            raise ValueError(
                f"source carries identity column(s) "
                f"{sorted(ident_cols & set(source.columns))} and the merge "
                "has an INSERT * clause — identity values are "
                "engine-assigned; use explicit-column INSERT without them"
            )

        conformed = self._conform(source, state["schema"])
        why = self._driver_merge_blocker(
            state, conformed.schema, keys, types, mode, not_matched, by_source
        )
        if why is None:
            # one fetch both sizes and materializes the source
            fetched = conformed.limit(DRIVER_MAX_ROWS + 1).toArrow()
            if fetched.num_rows > DRIVER_MAX_ROWS:
                why = f"source above {DRIVER_MAX_ROWS} rows"
            else:
                out = self._merge_into_driver(
                    fetched, conformed.schema, state, keys, matched,
                    not_matched, txn_app, txn_version, schema, types,
                )
                if out is not None:
                    return out
                why = f"classification above {DRIVER_MAX_ROWS} rows"
        _log.debug("merge_into %s: distributed path (%s)", self.path, why)
        # persist the conformed source: it feeds the pruning-bounds
        # aggregate, the target-side classification join, and the insert
        # anti-join — three consumers that would otherwise EACH recompute
        # the full source lineage (for a streaming upsert batch that is a
        # scan + window dedup, re-run per consumer). A CDC/merge batch is
        # bounded by construction, so the cache is too.
        src = conformed.alias("s").persist()
        try:
            return self._merge_into_apply(
                src, state, keys, matched, not_matched, by_source,
                mode, txn_app, txn_version, schema, types,
            )
        finally:
            src.unpersist()

    # Spark types whose values survive Spark <-> Arrow <-> parquet
    # unchanged, so the driver paths may read and write them with
    # pyarrow. Timestamps (session-zone localization), decimals, binary,
    # nested and collated strings stay on Spark's reader and writer.
    _DRIVER_TYPES = frozenset(
        ["tinyint", "smallint", "int", "bigint", "float", "double",
         "string", "boolean", "date"]
    )
    _SRC_ROW = "__sn_src_row"

    def _driver_type_blocker(self, cols) -> str | None:
        """Why the ``(name, Spark type)`` columns ``cols`` cannot cross a
        driver path's pyarrow reader or writer (None: they can). The one
        type check of the bounded merge and the bounded reads."""
        for name, dt in cols:
            if dt.simpleString() not in self._DRIVER_TYPES:
                return f"column {name} of type {dt.simpleString()}"
            if isinstance(dt, T.DateType) and self.spark.conf.get(
                "spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED"
            ) != "CORRECTED":
                # pyarrow writes proleptic dates with no rebase metadata
                # and reads them back raw; only CORRECTED agrees
                return f"date column {name} under a legacy rebase mode"
        return None

    def _driver_merge_blocker(
        self,
        state: dict,
        src_schema,
        keys: list[str],
        types: dict,
        mode: str,
        not_matched: list[dict],
        by_source: list[dict],
    ) -> str | None:
        """Why a merge_into cannot take the driver path (None: it can).
        The driver path reproduces exactly the plain dv shape: matched
        update/delete clauses, at most an unconditional ``INSERT *``,
        on a table with no rule that rewrites or checks rows and no
        physical column names of its own (a ``cluster_by`` table is
        fine: one file per batch is what its range write produces for a
        bounded batch)."""
        if mode != "dv":
            return "cow mode"
        if by_source:
            return "not_matched_by_source clauses"
        for what in ("generated", "identity", "constraints", "column_mapping"):
            if state[what]:
                return f"table has {what}"
        first = not_matched[0] if not_matched else {}
        if first.get("cond") is not None or first.get("values") is not None:
            return "conditional or explicit-value insert"
        src_cols = [(f.name, f.dataType) for f in src_schema.fields]
        why = self._driver_type_blocker([*src_cols, *types.items()])
        if why is not None:
            return why
        for k in keys:
            if isinstance(types.get(k), (T.FloatType, T.DoubleType)):
                return f"floating-point key {k}"
        return None

    def _merge_into_driver(
        self,
        fetched,
        src_schema,
        state: dict,
        keys: list[str],
        matched: list[dict],
        not_matched: list[dict],
        txn_app: str | None,
        txn_version: int | None,
        schema,
        types: dict,
    ) -> dict | None:
        """The bounded dv merge: ``fetched`` is the whole conformed
        source as an Arrow table (at most ``DRIVER_MAX_ROWS`` rows). Its
        key bounds prune the target files; ONE more fetch then returns
        every (source row, target file, target row, action, new image)
        pair of the candidate files joined with the source, broadcast
        from a JVM-side local relation built from ``fetched``.
        The multiple-match guard runs on the driver before anything is
        written; then the new rows (update images + inserts, the source
        rows whose key matched nothing) land as one parquet file and the
        mask as one parquet file, and one commit publishes both. Returns
        None, having written nothing, when the classification holds more
        than ``DRIVER_MAX_ROWS`` pairs."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_type

        n_src = fetched.num_rows
        bounds = {}
        for k in keys:
            mm = pc.min_max(fetched.column(k)).as_py() if n_src else {}
            bounds[k] = (mm.get("min"), mm.get("max"))
        cand, skipped = self._candidate_files(state, keys, bounds=bounds)
        arrow_schema = pa.schema(
            [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
        )
        mask_schema = pa.schema([(_DV_FILE, pa.string()), (_DV_ROW, pa.int64())])
        mask = mask_schema.empty_table()
        parts, hit, n_pairs = [], set(), 0
        if cand and n_src:
            act_col, upd_sets, _ = self._clause_actions(keys, matched, [])
            src_local = self.spark.createDataFrame(
                fetched.append_column(
                    self._SRC_ROW, pa.array(range(n_src), pa.int64())
                ),
                T.StructType(
                    [*src_schema.fields, T.StructField(self._SRC_ROW, T.LongType())]
                ),
            ).alias("s")
            tgt = self._read_snapshot(state, cand, keep_lineage=True).alias("t")
            cls = (
                tgt.join(
                    F.broadcast(src_local),
                    [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
                    "inner",
                )
                .withColumn(self._MRG_ACT, act_col)
                .select(
                    F.col(f"s.{self._SRC_ROW}"),
                    F.col(f"t.{_DV_FILE}"),
                    F.col(f"t.{_DV_ROW}"),
                    F.col(self._MRG_ACT),
                    *self._image_cols(schema, types, upd_sets),
                )
                .limit(DRIVER_MAX_ROWS + 1)
                .toArrow()
            )
            n_pairs = cls.num_rows
            if n_pairs > DRIVER_MAX_ROWS:
                return None
            acts = cls.column(self._MRG_ACT).to_pylist()
            claimed = [i for i, a in enumerate(acts) if a is not None]
            mask = cls.select([_DV_FILE, _DV_ROW]).take(
                pa.array(claimed, pa.int64())
            ).cast(mask_schema)
            pairs = zip(*(mask.column(c).to_pylist() for c in mask_schema.names))
            if len(set(pairs)) < mask.num_rows:
                # Delta semantics: a target row claimed by two source rows
                raise ValueError(_DUP_MSG)
            upd = cls.take(
                pa.array([i for i in claimed if acts[i] in upd_sets], pa.int64())
            )
            parts.append(upd.select(schema.fieldNames()).cast(arrow_schema))
            hit = set(cls.column(self._SRC_ROW).to_pylist())
        if not_matched:
            ins = fetched.take(
                pa.array([i for i in range(n_src) if i not in hit], pa.int64())
            )
            parts.append(
                pa.table(
                    [
                        ins.column(f.name).cast(f.type)
                        if f.name in ins.column_names
                        else pa.nulls(ins.num_rows, f.type)
                        for f in arrow_schema
                    ],
                    schema=arrow_schema,
                )
            )
        new_rows = pa.concat_tables(parts) if parts else arrow_schema.empty_table()
        commit_dir = f"data/{uuid.uuid4().hex}"
        adds, dv_add, masked_rels = [], [], []
        if new_rows.num_rows:
            # one file holds the whole batch, so it is as clustered as a
            # range-partitioned write; the bloom goes on the leading
            # cluster column, as _write_files puts it
            cluster = state["cluster_by"] or [None]
            adds = self._add_actions(
                [self._put_parquet(commit_dir, new_rows)], cluster[0]
            )
        if mask.num_rows:
            by_base = self._rels_by_basename(state)
            masked_rels = sorted(
                {by_base[b] for b in mask.column(_DV_FILE).to_pylist()}
            )
            order = [(_DV_FILE, "ascending"), (_DV_ROW, "ascending")]
            dv_rel = self._put_parquet(commit_dir, mask.sort_by(order))
            dv_add = [{"paths": [dv_rel], "for": masked_rels, "rows": mask.num_rows}]
        _log.debug(
            "merge_into %s: driver path (%d source rows, %d classified "
            "pairs, %d claimed)", self.path, n_src, n_pairs, mask.num_rows,
        )
        report = {
            "files_total": len(state["files"]),
            "files_skipped_by_stats": len(skipped),
            "files_probed": len(cand),
            "files_rewritten": 0,
        }
        if not adds and not dv_add and txn_app is None:
            return {
                "version": state["version"], **report, "files_masked": 0, "noop": True,
            }
        return self._commit_merge(
            state,
            {"add": adds, "dv_add": dv_add, "schema": state["schema"]},
            txn_app, txn_version,
            {**report, "files_masked": len(masked_rels), "rows_claimed": mask.num_rows},
        )

    def _commit_merge(
        self, state: dict, record: dict, txn_app, txn_version, report: dict
    ) -> dict:
        """Commit one merge and return its report; a racer that already
        committed this merge's txn makes it a replay."""
        txn = {"txn_app": txn_app, "txn_version": txn_version} if txn_app else {}
        v = self._commit(state, {"operation": "merge", **record, **txn})
        if v is None:
            return {"version": self.latest_version(), "replayed": True}
        return {"version": v, **report}

    def _put_parquet(self, rel_dir: str, table) -> str:
        """Write one Arrow table as one parquet file under ``rel_dir``
        through the data plane, compressed with the session's parquet
        codec; returns its log-relative path. The ``part-…-<uuid>``
        basename is globally unique, as Spark's part files are: deletion
        vectors key rows on ``_metadata.file_name``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        codec = self.spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
        codec = {"uncompressed": "none", "lz4raw": "lz4", "lz4_raw": "lz4"}.get(
            codec, codec
        )
        if codec not in ("none", "snappy", "gzip", "brotli", "lz4", "zstd"):
            codec = "snappy"
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression=codec)
        rel = f"{rel_dir}/part-00000-{uuid.uuid4()}-c000.parquet"
        self._data.put_bytes(rel, sink.getvalue().to_pybytes())
        return rel

    @classmethod
    def _clause_actions(
        cls, keys: list[str], matched: list[dict], by_source: list[dict]
    ):
        """The action a (t, s) pair of the classification join takes: one
        first-match-wins CASE over the matched clauses (labels ``m<i>``)
        and the not-matched-by-source clauses (``b<i>``), NULL when no
        clause claims the pair. Returns (action column, {update label:
        its ``set``}, delete labels)."""
        # a left-joined source row is present iff its key columns came
        # through non-null; key equality already excludes null keys, so
        # any one key being non-null on the s side marks a match
        is_matched = F.col(f"s.{keys[0]}").isNotNull()
        chain = None
        upd_sets: dict[str, dict[str, str]] = {}
        del_labels: list[str] = []
        for prefix, flag, clauses in (
            ("m", is_matched, matched),
            ("b", ~is_matched, by_source),
        ):
            for i, cl in enumerate(clauses):
                label = f"{prefix}{i}"
                cond = flag if cl.get("cond") is None else flag & F.expr(cl["cond"])
                chain = (
                    F.when(cond, F.lit(label))
                    if chain is None
                    else chain.when(cond, F.lit(label))
                )
                if cl["action"] == "update":
                    upd_sets[label] = cl["set"]
                else:
                    del_labels.append(label)
        act_col = chain.otherwise(F.lit(None)) if chain is not None else F.lit(None)
        return act_col, upd_sets, del_labels

    @classmethod
    def _image_cols(cls, schema, types: dict, upd_sets: dict) -> list:
        """New row image under first-match-wins clause semantics: every
        set expression sees the OLD t row + its s row (one select —
        assignments cannot leak into each other)."""
        cols = []
        for f in schema.fields:
            col = F.col(f"t.{f.name}")
            for label, assignments in upd_sets.items():
                if f.name in assignments:
                    col = F.when(
                        F.col(cls._MRG_ACT) == label,
                        F.expr(assignments[f.name]).cast(types[f.name]),
                    ).otherwise(col)
            cols.append(col.alias(f.name))
        return cols

    def _merge_into_apply(
        self,
        src: DataFrame,
        state: dict,
        keys: list[str],
        matched: list[dict],
        not_matched: list[dict],
        by_source: list[dict],
        mode: str,
        txn_app: str | None,
        txn_version: int | None,
        schema,
        types: dict,
    ) -> dict:
        """merge_into body, split out so the caller can scope the source
        cache with try/finally around the whole pipeline."""
        key_df = src.select(*keys).distinct()
        if by_source:
            # full-sync semantics probe every file — no bounds job at all
            cand, skipped = sorted(state["files"]), []
        else:
            # the pruning bounds ride the source cache-fill count as an
            # Observation (min/max over the raw batch equals min/max over
            # its distinct keys): one exchange-free job instead of a
            # distinct + aggregate pass (guide §2.4)
            from pyspark.sql import Observation

            obs = Observation()
            src.observe(
                obs,
                *[
                    a
                    for i, k in enumerate(keys)
                    for a in (F.min(k).alias(f"mn_{i}"), F.max(k).alias(f"mx_{i}"))
                ],
            ).count()
            got = obs.get
            bounds = {
                k: (got[f"mn_{i}"], got[f"mx_{i}"]) for i, k in enumerate(keys)
            }
            cand, skipped = self._candidate_files(state, keys, bounds=bounds)

        # ---- classify target-side rows: first-matching clause wins
        # Without matched clauses the target side needs the source ONLY
        # as a key-existence marker (is_matched for the by-source flag);
        # joining the FULL source there would duplicate every target row
        # a dup-keyed source matches (legal input when no matched clause
        # exists) straight into the rewrite — silent row duplication.
        join_src = (
            src
            if matched
            else key_df.withColumn("__sn_mrg_present", F.lit(True)).alias("s")
        )
        tgt = self._read_snapshot(state, cand, keep_lineage=True).alias("t")
        joined = tgt.join(
            join_src, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys], "left"
        )
        act_col, upd_sets, del_labels = self._clause_actions(
            keys, matched, by_source
        )
        joined = joined.withColumn(self._MRG_ACT, act_col)

        # Delta semantics for the multiple-match guard: error only when a
        # target row would actually be UPDATED/DELETED by more than one
        # source row (the action column claimed it >1 times) — multiple
        # matches where at most one pair satisfies a clause condition are
        # deterministic and legal. The probe itself is mode-specific: the
        # dv branch fuses it into the mask write (_write_dv dup_guard),
        # the cow branch into the touched-file probe — either way one
        # pass over the classification join, never a separate job.

        def _image(frame: DataFrame) -> DataFrame:
            return frame.select(
                *self._image_cols(schema, types, upd_sets), F.col(self._MRG_ACT)
            )

        # ---- inserts: source rows with no target match, FIRST insert
        # clause (conds see s.* only) claiming them. An ``INSERT *``
        # clause's image is the source row conformed to the table schema;
        # an explicit-column clause (``values``: col -> SQL expr, the
        # Delta INSERT (cols) VALUES (exprs) surface) evaluates its
        # expressions against s.* and NULLs every unmentioned column.
        # Generated columns are computed later in _finalize either way.
        # Anti-join against the candidate files' keys is complete:
        # stats-skipped files provably contain no source key.
        inserts = None
        id_bases: dict[str, int] = {}
        if not_matched:
            unmatched = src.join(
                tgt.select(*[F.col(f"t.{k}").alias(k) for k in keys]),
                keys,
                "left_anti",
            ).alias("s")
            ichain = None
            for i, cl in enumerate(not_matched):
                cond = (
                    F.lit(True) if cl.get("cond") is None else F.expr(cl["cond"])
                )
                ichain = (
                    F.when(cond, F.lit(f"i{i}"))
                    if ichain is None
                    else ichain.when(cond, F.lit(f"i{i}"))
                )
            claimed_ins = (
                unmatched.withColumn(self._MRG_ACT, ichain.otherwise(F.lit(None)))
                .filter(F.col(self._MRG_ACT).isNotNull())
                .alias("s")
            )
            base = self._null_extend(claimed_ins, state["schema"]).alias("s")
            ins_cols = []
            for f in schema.fields:
                if f.name in state["generated"]:
                    continue
                col = F.col(f.name)
                for i, cl in enumerate(not_matched):
                    vals = cl.get("values")
                    if vals is None:
                        continue  # INSERT *: keep the source value
                    expr = (
                        F.expr(vals[f.name]).cast(types[f.name])
                        if f.name in vals
                        else F.lit(None).cast(types[f.name])
                    )
                    col = F.when(
                        F.col(self._MRG_ACT) == f"i{i}", expr
                    ).otherwise(col)
                ins_cols.append(col.alias(f.name))
            inserts = base.select(*ins_cols)
            # inserted rows get engine-assigned identity values, exactly
            # as append assigns them: map-side from the committed
            # high-water mark. Rewritten/surviving rows keep their t-side
            # ids; the commit's high-water advance reads footer stats.
            for col, spec in state["identity"].items():
                base_v = (
                    spec["high"]
                    if spec["high"] is not None
                    else spec["start"] - spec["step"]
                )
                id_bases[col] = base_v
                inserts = inserts.withColumn(
                    col,
                    (
                        F.lit(base_v)
                        + F.lit(spec["step"])
                        * (F.monotonically_increasing_id() + F.lit(1))
                    ).cast("long"),
                )

        def _finalize(frame: DataFrame) -> tuple[DataFrame, list[dict], dict, dict | None]:
            """Rows being physically written: recompute generated columns
            from scratch (a rewrite re-derives, same contract as
            update_where), fold any materializing generated column into
            the schema (append's _merged_schema path), write files."""
            plain = [c for c in frame.columns if c not in state["generated"]]
            frame = self._apply_generated(frame.select(*plain), state)
            self._enforce(frame, state["constraints"], state["schema"])
            schema_j, mapping2 = self._merged_schema(state, frame)
            eff = mapping2 if mapping2 is not None else state["column_mapping"]
            adds = self._write_files(
                self._conform(frame, schema_j), state["cluster_by"], eff,
                adaptive=True,
            )
            extras = {"schema": schema_j}
            if mapping2 is not None:
                extras["column_mapping"] = mapping2
            if id_bases:
                hi = self._identity_high_from_adds(id_bases, adds, eff)
                if hi:
                    extras["identity_high"] = hi
            return frame, adds, extras, mapping2

        is_update = (
            F.col(self._MRG_ACT).isin(*upd_sets) if upd_sets else F.lit(False)
        )
        if mode == "dv":
            # claimed rows (the changed-row set, bounded by the batch) are
            # read by the dv mask write and the new-image write — persist
            # so the classification join runs once, not twice. The
            # multiple-match guard rides the mask write itself
            # (dup_guard): a by_source-claimed row joins exactly once, so
            # any (file,row) counted >1 must come from matched clauses.
            claimed = joined.filter(F.col(self._MRG_ACT).isNotNull()).persist()
            try:
                dv_add, masked_rels, n_rows = self._write_dv(
                    state,
                    claimed.select(
                        F.col(f"t.{_DV_FILE}").alias(_DV_FILE),
                        F.col(f"t.{_DV_ROW}").alias(_DV_ROW),
                    ),
                    dup_guard=bool(matched),
                )
                new_rows = _image(claimed.filter(is_update)).drop(self._MRG_ACT)
                if inserts is not None:
                    new_rows = new_rows.unionByName(
                        inserts, allowMissingColumns=True
                    )
                _, adds, extras, _ = _finalize(new_rows)
            finally:
                claimed.unpersist()
            if not adds and not dv_add and txn_app is None:
                return {
                    "version": state["version"],
                    "files_total": len(state["files"]),
                    "files_skipped_by_stats": len(skipped),
                    "files_probed": len(cand),
                    "files_rewritten": 0,
                    "files_masked": 0,
                    "noop": True,
                }
            return self._commit_merge(
                state, {"add": adds, "dv_add": dv_add, **extras},
                txn_app, txn_version,
                {
                    "files_total": len(state["files"]),
                    "files_skipped_by_stats": len(skipped),
                    "files_probed": len(cand),
                    "files_rewritten": 0,
                    "files_masked": len(masked_rels),
                    "rows_claimed": n_rows,
                },
            )

        by_base = self._rels_by_basename(state)
        # fused probe: per-file max claim count yields the touched-file
        # list AND the multiple-match guard in ONE pass over the
        # classification join (a (file,row) pair counted >1 means a
        # target row claimed by two source rows — only possible with
        # matched clauses, since without them the join side is the
        # distinct key frame)
        per_file = (
            joined.filter(F.col(self._MRG_ACT).isNotNull())
            .groupBy(
                F.col(f"t.{_DV_FILE}").alias(_DV_FILE),
                F.col(f"t.{_DV_ROW}").alias(_DV_ROW),
            )
            .count()
            .groupBy(_DV_FILE)
            .agg(F.max("count").alias("__mx"))
            .collect()
        )
        if matched and any(r["__mx"] > 1 for r in per_file):
            raise ValueError(_DUP_MSG)
        touched = sorted(by_base[r[_DV_FILE]] for r in per_file)
        survivors = None
        if touched:
            # re-read restricted to the touched files and re-derive the
            # action column — the same two-phase probe/rewrite shape as
            # update_where's and delete_where's cow paths
            t2 = self._read_snapshot(state, touched, keep_lineage=True).alias("t")
            j2 = t2.join(
                join_src, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys], "left"
            ).withColumn(self._MRG_ACT, act_col)
            if matched:
                # A target row left-joined against a dup-keyed source
                # appears once per matching source row; at most one pair
                # is claimed (the multi-match probe above errors
                # otherwise), and that pair alone decides the row's fate.
                # Keep exactly one survivor per lineage key, claimed
                # preferred — without this, a row matched by two source
                # rows with one claimed would be written twice (old image
                # from the unclaimed pair + new image from the claimed).
                from pyspark.sql.window import Window

                w = Window.partitionBy(
                    F.col(f"t.{_DV_FILE}"), F.col(f"t.{_DV_ROW}")
                ).orderBy(F.col(self._MRG_ACT).isNull())
                j2 = (
                    j2.withColumn("__sn_mrg_rn", F.row_number().over(w))
                    .filter(F.col("__sn_mrg_rn") == 1)
                    .drop("__sn_mrg_rn")
                )
            # drop exactly the delete-labeled rows; unclaimed rows and
            # update-labeled rows (their image is rewritten) survive
            keep = (
                F.col(self._MRG_ACT).isNull()
                | ~F.col(self._MRG_ACT).isin(*del_labels)
                if del_labels
                else F.lit(True)
            )
            survivors = _image(j2.filter(keep)).drop(self._MRG_ACT)
        new_rows = survivors
        if inserts is not None:
            new_rows = (
                inserts
                if new_rows is None
                else new_rows.unionByName(inserts, allowMissingColumns=True)
            )
        adds, extras = [], {}
        if new_rows is not None:
            _, adds, extras, _ = _finalize(new_rows)
        if not adds and not touched and txn_app is None:
            return {
                "version": state["version"],
                "files_total": len(state["files"]),
                "files_skipped_by_stats": len(skipped),
                "files_probed": len(cand),
                "files_rewritten": 0,
                "noop": True,
            }
        return self._commit_merge(
            state, {"add": adds, "remove": touched, **extras},
            txn_app, txn_version,
            {
                "files_total": len(state["files"]),
                "files_skipped_by_stats": len(skipped),
                "files_probed": len(cand),
                "files_rewritten": len(touched),
            },
        )

    def delete_where(self, predicate_sql: str, mode: str = "cow") -> dict:
        """Delete rows matching the predicate.

        ``mode="cow"`` (copy-on-write): probe files for matching rows,
        rewrite only those files without them — read-optimal, but a
        3-row delete rewrites a whole file.

        ``mode="dv"`` (merge-on-read deletion vectors): write a parquet
        of (file basename, row index) pairs naming the matched rows and
        commit only that reference — NO data file is rewritten, which is
        the only delete that scales when files are GBs and deletes are
        rows (the Delta/Iceberg v2 deletion-vector design). Readers
        anti-join the masks of masked files only; compaction or any
        rewrite of a masked file materializes the delete and retires the
        mask. Both modes stack: a dv-delete over dv-masked files matches
        only still-live rows."""
        if mode not in ("cow", "dv"):
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        state = self._state()
        mapping = state["column_mapping"]
        all_files = sorted(state["files"])
        if mode == "dv":
            matches = self._read_snapshot(state, keep_lineage=True).filter(
                F.expr(predicate_sql)
            )
            dv_add, masked_rels, n_rows = self._write_dv(state, matches)
            v = self._commit(state, {"operation": "delete", "dv_add": dv_add})
            return {
                "version": v,
                "files_total": len(all_files),
                "files_rewritten": 0,
                "files_masked": len(masked_rels),
                "rows_masked": n_rows,
            }
        probe = (
            self._read_snapshot(state, keep_lineage=True)
            .filter(F.expr(predicate_sql))
            .select(_DV_FILE)
            .distinct()
        )
        by_base = self._rels_by_basename(state)
        touched = sorted(by_base[r[_DV_FILE]] for r in probe.collect())
        adds = []
        if touched:
            # snapshot read: existing DV masks apply, so the rewrite
            # cannot resurrect previously dv-deleted rows
            kept = self._read_snapshot(state, touched).filter(
                ~F.expr(predicate_sql)
            )
            adds = self._write_files(
                kept, state["cluster_by"], mapping, adaptive=True
            )
        v = self._commit(state, {"operation": "delete", "add": adds, "remove": touched})
        return {
            "version": v,
            "files_total": len(all_files),
            "files_rewritten": len(touched),
        }

    def update_where(
        self,
        predicate_sql: str,
        assignments: dict[str, str],
        mode: str = "cow",
    ) -> dict:
        """UPDATE ... SET: ``assignments`` maps column -> SQL expression
        (evaluated against the matching row, cast back to the column's
        type — updates never mutate the schema).

        ``mode="cow"``: stats-agnostic probe for matching rows, rewrite
        only the files containing them — one pass per touched file with
        a CASE projection (no union of matched and unmatched arms).

        ``mode="dv"``: mask the matched rows with a deletion vector and
        append their updated images as new files — an update writes
        O(matched rows), not O(touched files). Same shape as the dv
        merge; CDF emits delete(old) + insert(new) either way."""
        if mode not in ("cow", "dv"):
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        state = self._state()
        schema = T.StructType.fromJson(state["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        unknown = [c for c in assignments if c not in types]
        if unknown:
            raise ValueError(f"update of unknown column(s): {unknown}")
        direct = [c for c in assignments if c in state["generated"]]
        if direct:
            raise ValueError(
                f"column(s) {direct} are GENERATED and recomputed from "
                f"the updated row; they cannot be assigned directly"
            )

        def _apply(df: DataFrame) -> DataFrame:
            # ONE select: every assignment expression sees the OLD row
            # (sequential withColumn would leak earlier assignments into
            # later expressions — not UPDATE semantics)
            return df.select(
                *[
                    F.expr(assignments[f.name]).cast(types[f.name]).alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )

        if mode == "dv":
            # the matched rows feed BOTH the mask write and the updated-
            # image write — persist so the table scan + predicate runs
            # once, not twice (at scale the scan dominates; guide §2.4)
            matched = (
                self._read_snapshot(state, keep_lineage=True)
                .filter(F.expr(predicate_sql))
                .persist()
            )
            try:
                dv_add, masked_rels, n_rows = self._write_dv(state, matched)
                adds = []
                if dv_add:
                    updated = self._regen(
                        _apply(matched.drop(_DV_FILE, _DV_ROW)), state
                    )
                    self._enforce(updated, state["constraints"])
                    adds = self._write_files(
                        updated,
                        state["cluster_by"],
                        state["column_mapping"],
                        adaptive=True,
                    )
            finally:
                matched.unpersist()
            v = self._commit(
                state,
                {"operation": "update", "add": adds, "dv_add": dv_add},
            )
            return {
                "version": v,
                "files_total": len(state["files"]),
                "files_rewritten": 0,
                "files_masked": len(masked_rels),
                "rows_updated": n_rows,
            }
        probe = (
            self._read_snapshot(state, keep_lineage=True)
            .filter(F.expr(predicate_sql))
            .select(_DV_FILE)
            .distinct()
        )
        by_base = self._rels_by_basename(state)
        touched = sorted(by_base[r[_DV_FILE]] for r in probe.collect())
        adds = []
        if touched:
            kept = self._read_snapshot(state, touched)
            cond = F.expr(predicate_sql)
            # ONE select, same old-row semantics as the dv path
            kept = kept.select(
                *[
                    F.when(cond, F.expr(assignments[f.name]).cast(types[f.name]))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            kept = self._regen(kept, state)
            self._enforce(kept, state["constraints"])
            adds = self._write_files(
                kept, state["cluster_by"], state["column_mapping"],
                adaptive=True,
            )
        v = self._commit(state, {"operation": "update", "add": adds, "remove": touched})
        return {
            "version": v,
            "files_total": len(state["files"]),
            "files_rewritten": len(touched),
        }

    # -------------------------------------------------------------- reads

    def read(self, version: int | None = None, asof_ts: float | None = None) -> DataFrame:
        """Snapshot read; ``version``/``asof_ts`` time-travel. The file
        list is resolved once from the log — concurrent commits cannot
        change what this DataFrame sees. A snapshot whose files fit the
        driver budget (``DRIVER_MAX_ROWS`` rows and ``DRIVER_MAX_BYTES``
        on-disk bytes by the log's counts, every column of a driver type)
        is read on the driver and returned as a local relation; a larger
        one is a Spark scan that anti-joins its deletion-vector masks.
        Raises VacuumedVersionError when the version's files are gone."""
        if asof_ts is not None:
            version = self._version_asof(asof_ts)
        state = self._state(version)
        self._require_retained(state)
        return self._public_read("read", state, sorted(state["files"]))

    def read_where(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> tuple[DataFrame, dict]:
        """Stats-pruned scan: ``ranges`` maps column -> (lo, hi) bounds
        (either side None for open). Files whose footer min/max cannot
        intersect every bound are never opened — the same file skipping
        merge/delete use, exposed to readers. The residual filter is
        still applied, so the result is exact regardless of stats.
        The kept files are read as ``read`` reads a snapshot: on the
        driver when they fit its budget, where Spark folds the filter
        into the local relation and a ``collect()`` runs no job.
        Returns (DataFrame, report) — the report says what was skipped,
        because a silent cap looks like full coverage."""
        state = self._state(version)
        self._require_retained(state)
        keep, skipped, bloom_skipped = [], 0, 0
        for rel, meta in state["files"].items():
            why = self._refuted_by(state, meta, ranges)
            if why is None:
                keep.append(rel)
            else:
                skipped += 1
                bloom_skipped += why == "bloom"
        df = self._public_read("read_where", state, sorted(keep))
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df, {
            "files_total": len(state["files"]),
            "files_read": len(keep),
            "files_skipped_by_stats": skipped - bloom_skipped,
            "files_skipped_by_bloom": bloom_skipped,
        }

    def _require_retained(self, state: dict) -> None:
        """Raise VacuumedVersionError when a data or mask file of
        ``state`` is gone: the one vacuum check of the snapshot reads,
        made before any file (or bloom sidecar) is opened."""
        referenced = list(state["files"]) + [
            p for rels in state["dvs"].values() for p in rels
        ]
        missing = [r for r in referenced if not self._data.exists(r)]
        if missing:
            raise VacuumedVersionError(
                f"version {state['version']} references {len(missing)} vacuumed "
                f"file(s); earliest retained version is newer"
            )

    @staticmethod
    def _live_entries(
        state: dict, rels: list[str], change_type: str = "", version: int = 0
    ) -> list[tuple]:
        """Reader entries (see ``_entry_batches``) for the live rows of
        the data files ``rels`` at ``state``: each file with its masks."""
        return [
            (rel, tuple(state["dvs"].get(rel, [])), (), change_type, version)
            for rel in rels
        ]

    def _change_entries(self, lo: int, hi: int) -> tuple[dict, list[tuple], list[dict]]:
        """The change feed of the commits in ``(lo, hi]`` as reader
        entries (see ``_entry_batches``), in commit order: a commit's
        added files as ``insert``, its removed files as ``delete``
        through their masks as of the commit before, and the rows its
        deletion vectors masked as ``delete``. Maintenance commits
        (``dataChange: false``) contribute nothing. Returns (state at
        ``hi``, entries, the log metadata of each entry's data file);
        raises VacuumedVersionError when a file the feed needs is gone."""
        state = self._state(hi)
        known = dict(state["files"])  # file metadata never changes
        entries: list[tuple] = []
        metas: list[dict] = []
        for v in self._versions():
            if not (lo < v <= hi):
                continue
            c = self._read_commit(v)
            if not c.get("dataChange", True):
                continue
            for m in c.get("add", []):
                entries.append((m["path"], (), (), "insert", v))
                metas.append(m)
            prev_dvs = None
            for rel in c.get("remove", []):
                # a removed file's rows were live MINUS its masks as of
                # v-1 — dv-deleted rows were already emitted as deletes
                # by their own dv commit
                if prev_dvs is None:
                    prev = self._state(v - 1)
                    prev_dvs = prev["dvs"]
                    known.update(prev["files"])
                entries.append((rel, tuple(prev_dvs.get(rel, [])), (), "delete", v))
                metas.append(known.get(rel, {}))
            for e in c.get("dv_add", []):
                # exactly the NEW masks' rows (stacked older masks cannot
                # overlap — the scan that produced this mask was itself
                # dv-applied)
                if any(rel not in known for rel in e["for"]):
                    known.update(self._state(v)["files"])
                for rel in e["for"]:
                    entries.append((rel, (), tuple(e["paths"]), "delete", v))
                    metas.append(known.get(rel, {}))
        missing = {
            p
            for rel, dv, semi, _, _ in entries
            for p in (rel, *dv, *semi)
            if not self._data.exists(p)
        }
        if missing:
            raise VacuumedVersionError(
                f"change feed over ({lo}, {hi}] references "
                f"{len(missing)} vacuumed file(s)"
            )
        return state, entries, metas

    def _on_driver(self, op: str, schema: T.StructType, metas: list[dict]) -> bool:
        """Whether the public read ``op`` of the data files ``metas``
        (their log metadata) resolves on the driver: the log's row and
        byte counts fit ``DRIVER_MAX_ROWS`` and ``DRIVER_MAX_BYTES`` and
        every column is of a driver type. Answered with no job; the
        decision is logged on ``wopen_spark.snapshot_table``."""
        why = self._driver_type_blocker((f.name, f.dataType) for f in schema.fields)
        rows = nbytes = 0
        if why is None:
            if any("rows" not in m or "bytes" not in m for m in metas):
                why = "a file without row or byte counts"
            else:
                rows = sum(m["rows"] for m in metas)
                nbytes = sum(m["bytes"] for m in metas)
                if rows > DRIVER_MAX_ROWS:
                    why = f"{rows} rows above {DRIVER_MAX_ROWS}"
                elif nbytes > DRIVER_MAX_BYTES:
                    why = f"{nbytes} bytes above {DRIVER_MAX_BYTES}"
        if why is not None:
            _log.debug("%s %s: distributed path (%s)", op, self.path, why)
            return False
        _log.debug(
            "%s %s: driver path (%d rows, %d bytes)", op, self.path, rows, nbytes
        )
        return True

    def _driver_frame(
        self, schema: T.StructType, entries: list[tuple], mapping: dict | None
    ) -> DataFrame:
        """The rows of reader ``entries`` read on the driver, as a local
        relation of ``schema`` with every column nullable, as a Spark
        file scan returns it."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
        )
        batches = _entry_batches(self._data, entries, schema, mapping)
        table = pa.Table.from_batches(list(batches), schema=to_arrow_schema(schema))
        return self.spark.createDataFrame(table, schema)

    def _public_read(self, op: str, state: dict, rels: list[str]) -> DataFrame:
        """The live rows of the data files ``rels`` at ``state`` for the
        public read ``op``: on the driver within its budget, else the
        Spark scan with the mask anti-join."""
        schema = T.StructType.fromJson(state["schema"])
        if self._on_driver(op, schema, [state["files"][r] for r in rels]):
            return self._driver_frame(
                schema, self._live_entries(state, rels), state["column_mapping"]
            )
        return self._read_snapshot(state, rels)

    def _refuted_by(self, state: dict, meta: dict, ranges: dict) -> str | None:
        """Why the file ``meta`` cannot hold a row inside every
        ``ranges`` bound (column -> (lo, hi), either side None for open):
        ``"stats"`` when its footer min/max excludes a bound, ``"bloom"``
        when its bloom sidecar refutes a point probe (lo == hi), None
        when it must be read. The one skip predicate of ``read_where``
        and the ``wopen_snapshot`` pushdown reader, so both skip the
        same files.

        A bound is compared with a stat only within one type family
        (number with number, string with string, bool with bool): Spark
        coerces a cross-type probe like ``id = '5'`` and can match, so
        such a file is kept. The bloom is probed only with a value of
        its own hash domain (an ``int`` on an integer column, a ``str``
        on a string one) for the same reason: a bloom must be
        false-positive-only."""
        mapping = state["column_mapping"]
        for c in self._prunable_cols(state, list(ranges)):
            lo, hi = ranges[c]
            phys = self._phys(mapping, c)
            s = (meta.get("stats") or {}).get(phys)
            if s is not None and s["min"] is not None:
                hi_j = None if hi is None else _json_safe(hi)
                lo_j = None if lo is None else _json_safe(lo)
                if (_same_family(hi_j, s["min"]) and s["min"] > hi_j) or (
                    _same_family(lo_j, s["max"]) and s["max"] < lo_j
                ):
                    return "stats"
            bl = meta.get("bloom")
            if lo is None or lo != hi or bl is None or bl["col"] != phys:
                continue
            kind = bl.get("h")
            probe_ok = type(lo) is int if kind == "i64" else isinstance(lo, str)
            if probe_ok and not _bloom_test(self._bloom_blob(bl["path"]), lo, kind):
                return "bloom"
        return None

    def _bloom_blob(self, rel: str) -> bytes:
        """A bloom sidecar's bytes, read once per handle: data files are
        immutable, so sidecars are too, and without the cache a
        10k-file table pays 10k serial object reads per point query."""
        blob = self._bloom_cache.get(rel)
        if blob is None:
            with self._data.open_input(rel) as bf:
                blob = bf.read()
            self._bloom_cache[rel] = blob
        return blob

    def _version_asof(self, ts: float) -> int:
        best = None
        for v in self._versions():
            if self._read_commit(v)["ts_unix"] <= ts:
                best = v
        if best is None:
            raise ValueError(f"no commit at or before ts {ts}")
        return best

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed over ``(from_version, to_version]``: every row
        added by a commit in the range appears with ``_change_type =
        'insert'``, every row whose file a commit removed appears as
        ``'delete'``, each tagged with ``_commit_version``. A merge's
        rewritten rows therefore show as delete + insert (standard CDF
        semantics — downstream consumers fold them by key).

        Maintenance rewrites (compact / zorder) change no logical rows;
        their commits carry ``dataChange: false`` and are skipped here —
        matching Delta CDF, where OPTIMIZE emits no changes. Without the
        skip, every maintenance pass would show the whole table as
        delete + insert churn and trigger spurious downstream work.

        This is how an incremental pipeline consumes the table without
        rescanning it: O(files changed in the range), never O(table).
        The rows come from the same entry list the ``wopen_snapshot``
        change feed reads (``_change_entries``); when the range's files
        fit the driver budget, as ``read`` sizes it, they are read on the
        driver and returned as a local relation. Requires the range's
        files to not be vacuumed."""
        head = self.latest_version()
        to_version = head if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(f"empty change range ({from_version}, {to_version}]")
        state, entries, metas = self._change_entries(from_version, to_version)
        schema = state["schema"]  # the latest schema covers all files
        mapping = state["column_mapping"]
        out_schema = T.StructType.fromJson(schema)
        on_driver = self._on_driver("read_changes", out_schema, metas)
        out_schema.add("_change_type", T.StringType()).add(
            "_commit_version", T.IntegerType()
        )
        if on_driver:
            return self._driver_frame(out_schema, entries, mapping)
        parts: list[DataFrame] = []
        # one scan per (commit, change type, mask set) run of entries
        for (change_type, v, semi), run in itertools.groupby(
            entries, key=lambda e: (e[3], e[4], e[2])
        ):
            run = list(run)
            rels = [e[0] for e in run]
            if semi:
                df = (
                    self._read_files(rels, schema, mapping, lineage=True)
                    .join(self._dv_frame(list(semi)), [_DV_FILE, _DV_ROW], "left_semi")
                    .drop(_DV_FILE, _DV_ROW)
                )
            else:
                df = self._read_snapshot(
                    {"files": {}, "column_mapping": mapping},
                    rels,
                    schema_json=schema,
                    dvs={e[0]: list(e[1]) for e in run},
                )
            parts.append(
                df.withColumn("_change_type", F.lit(change_type))
                .withColumn("_commit_version", F.lit(v))
            )
        if not parts:
            return local_df(self.spark, [], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION — roll the table's state back to an
        old version AS A NEW COMMIT (history stays linear and append-only;
        nothing is rewritten, the old files are simply referenced again).
        Restores files, deletion-vector masks, schema, clustering, and
        column mapping as of ``version``; CHECK constraints stay at their
        CURRENT definitions (they are governance, not data — the Delta
        choice). Requires the target version's files to not be vacuumed.
        The change feed sees a restore as delete(current) + insert(old) —
        it IS a data change and downstream consumers must react."""
        cur = self._state()
        old = self._state(version)
        # constraints / generation rules stay CURRENT across a restore,
        # so any rule referencing a column the restored schema lacks
        # would poison every later write far from this call - block it
        # here, same policy as rename_column/drop_column
        cur_names = set(T.StructType.fromJson(cur["schema"]).fieldNames())
        old_names = set(T.StructType.fromJson(old["schema"]).fieldNames())
        rules = dict(cur["constraints"])
        rules.update(
            {n: g["expr"] for n, g in cur["generated"].items()}
        )
        for col in sorted(cur_names - old_names):
            # a restored-away GENERATED column itself is fine (the rule
            # re-materializes it at the next write); only rules whose
            # EXPRESSIONS reference a vanishing column are poisoned
            refs = self._constraints_referencing(rules, col)
            if refs:
                raise ValueError(
                    f"restore to version {version} drops column {col!r}, "
                    f"which constraint/generation rule(s) {sorted(set(refs))} "
                    f"reference; drop them first"
                )
        missing = [r for r in old["files"] if not self._data.exists(r)]
        missing += [
            r
            for rels in old["dvs"].values()
            for r in rels
            if not self._data.exists(r)
        ]
        if missing:
            raise VacuumedVersionError(
                f"restore to version {version} references {len(missing)} "
                f"vacuumed file(s)"
            )
        dv_add = [
            {"paths": rels, "for": [rel]}  # no "rows": original dv row
            for rel, rels in sorted(old["dvs"].items())  # counts are not
        ]  # tracked per file in state; history shows 0 masked for restores
        return self._commit(
            cur,
            {
                "operation": "restore",
                "restore_of": version,
                "schema": old["schema"],
                "cluster_by": old["cluster_by"] or [],
                "column_mapping": old["column_mapping"] or {},
                "retired_phys": old["retired_phys"],
                "add": [m for _, m in sorted(old["files"].items())],
                "remove": sorted(cur["files"]),
                "dv_add": dv_add,
            },
        )

    def history(self) -> list[dict]:
        out = []
        for v in self._versions():
            c = self._read_commit(v)
            out.append(
                {
                    "version": v,
                    "ts_unix": c["ts_unix"],
                    "operation": c.get("operation"),
                    "n_added": len(c.get("add", [])),
                    "n_removed": len(c.get("remove", [])),
                    "n_rows_dv_masked": sum(
                        e.get("rows", 0) for e in c.get("dv_add", [])
                    ),
                }
            )
        return out

    # -------------------------------------------------------- maintenance

    def maintain(
        self,
        *,
        small_file_bytes: int = 128 << 20,
        min_small_files: int = 8,
        vacuum_retain_last: int | None = None,
        orphan_grace_s: float = 3600.0,
    ) -> dict:
        """The nightly table-service pass as one policy call (Delta's
        auto-compaction shape): bin-pack ONLY when enough sub-threshold
        files (or dv-masked files) have accumulated to be worth a
        rewrite, then optionally vacuum. A table under the thresholds is
        untouched — zero commits, zero reads — so the call is safe to
        run after every ingest batch; the thresholds are what keep a
        streaming sink's many small epoch commits from turning into a
        compaction after each one. Returns what ran and why."""
        state = self._state()
        small = [
            rel
            for rel, meta in state["files"].items()
            if meta.get("bytes", 0) < small_file_bytes
        ]
        masked = [rel for rel in state["files"] if state["dvs"].get(rel)]
        due = len(small) >= min_small_files or bool(masked)
        report: dict = {
            "small_files": len(small),
            "masked_files": len(masked),
            "binpacked": False,
        }
        if due:
            r = self.optimize_small_files(max_file_bytes=small_file_bytes)
            report["binpacked"] = "version" in r
            report["binpack"] = r
        if vacuum_retain_last is not None:
            report["vacuum_removed"] = self.vacuum(
                retain_last=vacuum_retain_last, orphan_grace_s=orphan_grace_s
            )
        return report

    def compact(self, target_files: int = 1) -> dict:
        """Rewrite the current snapshot into ``target_files`` files — a
        normal commit, so time travel to pre-compaction versions still
        works until vacuum."""
        state = self._state()
        # snapshot read: compaction MATERIALIZES deletion vectors — the
        # rewritten files hold only live rows, and the masks retire with
        # the removed files they covered
        df = self._read_snapshot(state)
        adds = self._write_files(
            df.coalesce(target_files), state["cluster_by"], state["column_mapping"]
        )
        v = self._commit(
            state,
            {"operation": "compact", "add": adds, "remove": sorted(state["files"]),
             "dataChange": False},
        )
        return {
            "version": v,
            "files_before": len(state["files"]),
            "files_after": len(adds),
        }

    def optimize_small_files(
        self,
        max_file_bytes: int = 128 << 20,
        target_file_bytes: int | None = None,
        where_ranges: dict | None = None,
    ) -> dict:
        """Incremental bin-packing — the compaction that actually runs at
        100 TB, where ``compact()``'s full-table rewrite is impossible.
        Selects only files smaller than ``max_file_bytes`` PLUS any file
        carrying a deletion-vector mask (rewriting it purges the mask),
        rewrites just that set sized to ``target_file_bytes`` (default:
        ``max_file_bytes``), and leaves every other file as untouched
        bytes. A no-op (no commit) when fewer than two files qualify and
        none is masked.

        ``where_ranges`` (``{col: (lo, hi)}``, either side None for
        open) restricts the pass to files whose FOOTER stats overlap
        every bound — the Delta ``OPTIMIZE ... WHERE`` analog on a
        stats-clustered layout: compact the hot key range, leave the
        other 99% of a 100 TB table untouched. Files with no usable
        stats for a bound column stay IN scope (inclusion is always
        semantics-preserving; exclusion on missing stats could strand
        exactly the files the caller wants packed)."""
        state = self._state()
        in_scope = set(state["files"])
        if where_ranges:
            prunable = self._prunable_cols(state, list(where_ranges))
            mapping = state["column_mapping"]
            in_scope = set()
            for rel, meta in state["files"].items():
                keep = True
                for c, (lo, hi) in where_ranges.items():
                    if c not in prunable:
                        continue
                    s = meta.get("stats", {}).get(self._phys(mapping, c))
                    if s is None or s["min"] is None:
                        continue
                    if hi is not None and s["min"] > _json_safe(hi):
                        keep = False
                        break
                    if lo is not None and s["max"] < _json_safe(lo):
                        keep = False
                        break
                if keep:
                    in_scope.add(rel)
        qualify = sorted(
            r
            for r, m in state["files"].items()
            if r in in_scope
            and (m["bytes"] < max_file_bytes or state["dvs"].get(r))
        )
        masked = [r for r in qualify if state["dvs"].get(r)]
        if len(qualify) < 2 and not masked:
            return {
                "version": state["version"],
                "files_before": len(state["files"]),
                "files_in_scope": len(in_scope),
                "files_selected": len(qualify),
                "files_after": len(qualify),
                "noop": True,
            }
        total = sum(state["files"][r]["bytes"] for r in qualify)
        n_out = max(1, -(-total // (target_file_bytes or max_file_bytes)))
        df = self._read_snapshot(state, qualify)  # materializes masks
        adds = self._write_files(
            df.coalesce(int(n_out)), state["cluster_by"], state["column_mapping"]
        )
        v = self._commit(
            state,
            {
                "operation": "compact",
                "add": adds,
                "remove": qualify,
                "dataChange": False,
            },
        )
        return {
            "version": v,
            "files_before": len(state["files"]),
            "files_in_scope": len(in_scope),
            "files_selected": len(qualify),
            "files_masked_purged": len(masked),
            "files_after": len(state["files"]) - len(qualify) + len(adds),
            "noop": False,
        }

    def optimize_zorder(
        self, cols: list[str], target_files: int = 8, bits_per_col: int = 8
    ) -> dict:
        """Z-order rewrite: re-cluster the current snapshot so per-file
        min/max footer stats are tight on EVERY listed column at once —
        single-column range clustering can only serve one key; Z-ordering
        serves merge/delete/scan pruning on any of them (the public
        Delta/Iceberg OPTIMIZE ZORDER design).

        Scale shape: per-column bucket boundaries come from
        ``approxQuantile`` (sampled, one pass, driver gets only
        2^bits_per_col numbers per column); rows map to buckets with a
        binary-search expression, bucket ids bit-interleave into the
        z-value, and ONE range exchange on the z-value lays files out.
        No global window, no driver materialization — O(n) map work plus
        the same shuffle a plain compaction would pay."""
        from pyspark.ml.feature import Bucketizer

        state = self._state()
        df = self._read_snapshot(state)  # materializes deletion vectors
        n_buckets = 1 << bits_per_col
        # one double-valued shadow column per z-column (strings hash
        # first); ONE sampled approxQuantile pass covers all of them
        dtypes = dict(df.dtypes)
        work = df
        for c in cols:
            if dtypes[c] in ("string", "binary"):
                src = F.xxhash64(F.col(c))  # no order to preserve: hash
            elif dtypes[c] == "date":
                # date does not cast to double; epoch-day keeps the order
                src = F.datediff(F.col(c), F.lit("1970-01-01"))
            elif dtypes[c].startswith("timestamp"):
                src = F.unix_timestamp(F.col(c))  # epoch seconds, ordered
            else:
                src = F.col(c)
            work = work.withColumn(f"_v_{c}", src.cast("double"))
        probs = [i / n_buckets for i in range(1, n_buckets)]
        quantiles = work.approxQuantile([f"_v_{c}" for c in cols], probs, 0.01)
        for c, qs in zip(cols, quantiles):
            splits = [float("-inf"), *sorted(set(qs)), float("inf")]
            work = Bucketizer(  # JVM binary search per row — O(log buckets)
                splits=splits,
                inputCol=f"_v_{c}",
                outputCol=f"_b_{c}",
                handleInvalid="keep",  # nulls -> overflow bucket, clamped below
            ).transform(work)
            work = work.withColumn(
                f"_b_{c}",
                F.least(F.col(f"_b_{c}").cast("int"), F.lit(n_buckets - 1)),
            )
        # interleave the bucket bits, most significant first
        z = F.lit(0).cast("long")
        for bit in range(bits_per_col - 1, -1, -1):
            for c in cols:
                z = (z * 2) + F.shiftright(F.col(f"_b_{c}"), bit).bitwiseAND(1)
        clustered = (
            work.withColumn("_z", z)
            .repartitionByRange(target_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .select(*df.columns)
        )
        adds = self._write_files(clustered, None, state["column_mapping"])
        v = self._commit(
            state,
            {"operation": "zorder", "add": adds, "remove": sorted(state["files"]),
             "dataChange": False},
        )
        return {
            "version": v,
            "files_before": len(state["files"]),
            "files_after": len(adds),
            "zorder_by": cols,
        }

    def vacuum(self, retain_last: int = 1, orphan_grace_s: float = 3600.0) -> int:
        """Delete data files referenced by none of the last
        ``retain_last`` versions; returns the number deleted. Time
        travel inside the retention window keeps working; older
        versions raise VacuumedVersionError on read.

        Files referenced by NO commit at all are either a concurrent
        writer's in-flight (pre-commit) output or a crashed writer's
        leftovers — deleting the former loses the write it is about to
        commit, so never-referenced files are only removed once older
        than ``orphan_grace_s`` (the Delta-style retention guard).
        Superseded files (referenced by an old commit, outside the
        retention window) delete immediately."""
        vs = self._versions()
        retained: set[str] = set()
        ever_referenced: set[str] = set()
        for v in vs:
            c = self._read_commit(v)
            ever_referenced.update(m["path"] for m in c.get("add", []))
            for e in c.get("dv_add", []):
                ever_referenced.update(e["paths"])
        for v in vs[-retain_last:]:
            st = self._state(v)
            retained.update(st["files"])
            for rels in st["dvs"].values():
                retained.update(rels)
        removed = 0
        now = time.time()
        touched_dirs: set[str] = set()
        listed = self._data.list_data_files()
        present = set(listed)
        for rel in listed:
            if rel.endswith(".bloom"):
                # sidecars live and die with their data file — but a
                # sidecar whose data file is GONE (a crashed/aborted
                # writer cleaned the shard without its bloom) is pure
                # garbage; sweep it under the same grace window so an
                # in-flight writer's fresh sidecar is never raced
                data_rel = rel[: -len(".bloom")]
                if data_rel in present or data_rel in retained:
                    continue
                try:
                    if now - self._data.mtime(rel) <= orphan_grace_s:
                        continue
                except FileNotFoundError:
                    continue
                self._data.delete(rel)
                removed += 1
                touched_dirs.add(rel.rsplit("/", 1)[0])
                continue
            if rel in retained:
                continue
            if rel not in ever_referenced:
                try:
                    if now - self._data.mtime(rel) <= orphan_grace_s:
                        continue  # possibly an in-flight write
                except FileNotFoundError:
                    continue
            self._data.delete(rel)
            try:
                self._data.delete(f"{rel}.bloom")
            except FileNotFoundError:
                pass  # not every file carries a bloom
            touched_dirs.add(rel.rsplit("/", 1)[0])
            removed += 1
        # Adopted (convert_from_parquet) files live OUTSIDE data/ and are
        # invisible to list_data_files; once superseded (referenced by an
        # old commit only) they must still be sweepable or conversion
        # leaks the original directory forever. Referenced-but-unlisted
        # is exactly that set — managed data/ paths are always listed
        # while present, so this touches only adopted files.
        for rel in sorted(ever_referenced - retained - present):
            if rel.split("/", 1)[0] == "data":
                continue  # managed layout: absent-from-listing = gone
            try:
                self._data.delete(rel)
            except FileNotFoundError:
                continue
            removed += 1
            # no cleanup_dir here: the adopted directory is the USER'S
            # directory — sweeping the files we referenced is our job,
            # rmtree'ing their folder (which may hold _SUCCESS markers
            # or unrelated content) is not
        for d in touched_dirs:
            self._data.cleanup_dir(d)
        # Commit dirs that never held a parquet file (a zero-row append
        # deletes its empty part at write time, leaving _SUCCESS only)
        # are invisible to list_data_files, so sweep the directory
        # listing too — gated by the same grace window as orphan files
        # so a writer's in-flight output dir (pre-commit, no published
        # parquet yet) is never rmtree'd from under it.
        for d in self._data.list_data_dirs():
            if d in touched_dirs:
                continue
            try:
                if now - self._data.mtime(d) <= orphan_grace_s:
                    continue
            except FileNotFoundError:
                continue
            self._data.cleanup_dir(d)
        return removed
