"""Named-table catalog for the snapshot table format.

The reference addresses every table by a stable two-level name —
``BigqueryTable(dataset_id, table_id)``
(/root/reference/custom_search_extraction.py:35-42) and ``crm.
custom_search`` in its SQL entry points (/root/reference/sql/
get_custom_search_data.sql:2) — while the rebuild's surfaces were all
path-shaped. :class:`Catalog` closes that gap: a PERSISTED registry
mapping ``dataset.table`` names to table roots (+ store options), so

- SQL statements resolve targets by name:
  ``execute_sql(spark, "UPDATE crm.events SET ...", catalog=cat)``;
- the standard datasource resolves names:
  ``spark.read.format("wopen_snapshot").option("catalogRoot", root)
  .load("wopen://crm.events")`` (and ``df.write`` the same way);
- ``sql_frontdoor.register_catalog_views`` turns every registered
  table into a SQL view in one call.

Durability and concurrency ride the SAME log machinery as the table
format itself: each mutation commits the full registry snapshot as a
new ``%08d.json`` version through a :class:`LogStore` ``put_if_absent``
(POSIX hard-link locally, conditional PUT on s3) — multi-process
registrations serialize into a linear history and losers retry against
the new head, exactly like table commits. The registry is tiny (one
JSON row per table), so full-snapshot-per-version costs KBs and resolve
is one read of the head version, never a log fold.

Scale note: the catalog is a METADATA object — it never touches data
bytes. A 100 TB deployment resolves a name once on the driver and every
executor task still reads data through the table's own store spec; the
catalog adds zero per-task cost.
"""

from __future__ import annotations

import json
import os
import re

from wopen_spark.snapshot_table import (
    COMMIT_ATTEMPTS,
    CommitConflictError,
    LocalLogStore,
    LogStore,
    S3ConditionalPutLogStore,
    S3DataStore,
    SnapshotTable,
    _commit_backoff,
)

_NAME_RE = re.compile(r"^[A-Za-z_]\w*(\.[A-Za-z_]\w*){0,2}$")


def _check_name(name: str) -> str:
    if not _NAME_RE.match(name or ""):
        raise ValueError(
            f"bad table name {name!r}: 1-3 dot-separated identifiers "
            "(e.g. 'events' or 'crm.events')"
        )
    return name


def _s3_client(options: dict):
    import boto3

    kw = {}
    if options.get("s3_endpoint"):
        kw["endpoint_url"] = options["s3_endpoint"]
    if options.get("s3_region"):
        kw["region_name"] = options["s3_region"]
    return boto3.client("s3", **kw)


def build_handle(spark, path: str, options: dict | None = None) -> SnapshotTable:
    """A SnapshotTable handle for ``path`` with the right stores wired:
    local paths / file:// / hdfs / abfs use the engine's defaults;
    s3:// gets the conditional-PUT log store + boto3 data store the
    scheme requires (``options``: ``s3_endpoint`` / ``s3_region``).
    Shared by :meth:`Catalog.handle` and the SQL front-door so every
    by-name consumer builds tables one way."""
    options = options or {}
    scheme = path.split("://", 1)[0].lower() if "://" in path else ""
    if scheme in ("s3", "s3a"):
        import tempfile

        uri = f"s3://{path.split('://', 1)[1]}"
        client = _s3_client(options)
        return SnapshotTable(
            spark,
            uri,
            log_store=S3ConditionalPutLogStore(f"{uri}/_log", client=client),
            data_store=S3DataStore(
                uri, tempfile.mkdtemp(prefix="wopen-cat-"), client=client
            ),
        )
    return SnapshotTable(spark, path)


class Catalog:
    """A persisted name -> (path, store options) registry.

    ``root`` is where the registry itself lives: a local directory,
    ``file://`` URI, or ``s3://`` URI (pass ``s3_endpoint`` /
    ``s3_region`` for non-default endpoints; the registry log rides a
    conditional-PUT store there). Registered tables may live anywhere
    the engine reads — their roots are independent of the catalog root.
    """

    _LOG_SUBDIR = "_catalog"

    def __init__(
        self,
        root: str,
        s3_endpoint: str | None = None,
        s3_region: str | None = None,
        log_store: LogStore | None = None,
    ):
        self.root = root
        if log_store is not None:
            self._store = log_store
        elif root.startswith(("s3://", "s3a://")):
            uri = f"s3://{root.split('://', 1)[1]}"
            self._store = S3ConditionalPutLogStore(
                f"{uri}/{self._LOG_SUBDIR}",
                client=_s3_client(
                    {"s3_endpoint": s3_endpoint, "s3_region": s3_region}
                ),
            )
        elif "://" in root and not root.startswith("file://"):
            raise ValueError(
                f"catalog roots support local paths, file:// and s3:// "
                f"(got {root!r}); for other schemes pass an explicit "
                f"log_store"
            )
        else:
            local = root.split("://", 1)[1] if "://" in root else root
            self._store = LocalLogStore(os.path.join(local, self._LOG_SUBDIR))
        self._handles: dict[str, SnapshotTable] = {}

    # ------------------------------------------------------------ registry

    def _versions(self) -> list[int]:
        return sorted(
            int(f[:8])
            for f in self._store.list()
            if len(f) == 13 and f.endswith(".json") and f[:8].isdigit()
        )

    def _head(self) -> tuple[int, dict]:
        """(version, {name: entry}) — version 0 / empty for a fresh
        catalog. One read of the newest snapshot, never a fold."""
        vs = self._versions()
        if not vs:
            return 0, {}
        blob = json.loads(self._store.read(f"{vs[-1]:08d}.json"))
        return vs[-1], blob["tables"]

    def _commit(self, mutate) -> int:
        """Apply ``mutate(tables) -> tables`` against the head and publish
        the result as the next version; on a lost put-if-absent race,
        re-read and re-apply (the mutation revalidates against the new
        head, so e.g. a duplicate register surfaces instead of
        clobbering). Bounded retries with jitter, on the table log's
        budget and backoff — registry churn is rare, contention resolves
        in one or two rounds."""
        for attempt in range(1, COMMIT_ATTEMPTS + 1):
            version, tables = self._head()
            new_tables = mutate(dict(tables))
            blob = json.dumps(
                {"version": version + 1, "tables": new_tables}, sort_keys=True
            ).encode()
            try:
                self._store.put_if_absent(f"{version + 1:08d}.json", blob)
                return version + 1
            except FileExistsError:
                if attempt < COMMIT_ATTEMPTS:
                    _commit_backoff(attempt)
        raise CommitConflictError(
            f"catalog at {self.root} lost {COMMIT_ATTEMPTS} registry commit races"
        )

    def register(
        self,
        name: str,
        path: str,
        options: dict | None = None,
        replace: bool = False,
    ) -> int:
        """Register ``name`` -> ``path``. ``options`` are store options
        the path needs (``s3_endpoint``, ``s3_region``). ``replace=False``
        (default) refuses an existing name — including one a concurrent
        registrar just won — so two jobs cannot silently fight over a
        name. Returns the new registry version."""
        _check_name(name)
        opts = {str(k).lower(): v for k, v in (options or {}).items()}
        entry = {"path": path, "options": opts}

        def mutate(tables: dict) -> dict:
            if name in tables and not replace and tables[name] != entry:
                raise ValueError(
                    f"table {name!r} is already registered (at "
                    f"{tables[name]['path']!r}); pass replace=True to "
                    f"repoint it"
                )
            tables[name] = entry
            return tables

        return self._commit(mutate)

    def unregister(self, name: str) -> int:
        """Drop ``name`` from the registry (the table's files are
        untouched — this is a metadata unlink, like DROP TABLE on an
        external table). Missing names raise KeyError."""

        def mutate(tables: dict) -> dict:
            if name not in tables:
                raise KeyError(f"table {name!r} is not registered")
            del tables[name]
            return tables

        return self._commit(mutate)

    def rename(self, old: str, new: str) -> int:
        """Atomically rename a registry entry (one commit: the old name
        disappears and the new appears together — no window where the
        table is addressable by both or neither)."""
        _check_name(new)

        def mutate(tables: dict) -> dict:
            if old not in tables:
                raise KeyError(f"table {old!r} is not registered")
            if new in tables:
                raise ValueError(f"table {new!r} already exists")
            tables[new] = tables.pop(old)
            return tables

        return self._commit(mutate)

    def tables(self) -> list[str]:
        """Registered names, sorted."""
        return sorted(self._head()[1])

    def resolve(self, name: str) -> dict:
        """The registered entry: ``{"path": ..., "options": {...}}``.
        KeyError for unknown names (callers render their own message
        with the registered list)."""
        _, tables = self._head()
        if name not in tables:
            raise KeyError(name)
        e = tables[name]
        return {"path": e["path"], "options": dict(e.get("options") or {})}

    def handle(self, spark, name: str) -> SnapshotTable:
        """A SnapshotTable for the registered name, stores wired per its
        entry. Memoized per (name, entry, session): repeated SQL
        statements against one name reuse the handle (and its bloom /
        checkpoint caches) instead of rebuilding per statement."""
        e = self.resolve(name)
        key = json.dumps([name, e, id(spark)], sort_keys=True)
        t = self._handles.get(key)
        if t is None:
            t = build_handle(spark, e["path"], e["options"])
            self._handles[key] = t
        return t
