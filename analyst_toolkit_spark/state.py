"""Session state — named-dataset registry (S6).

Reference semantics (mcp_server/state.py:19-20, 68-81, 213-327, 612-646):
dict of ``session_id → DataFrame`` + metadata, bounded to ``max_entries``
(default 32) with TTL (default 3600 s) and LRU eviction; optional durable
backend (reference uses sqlite pickles — here: parquet, the only sane
serialization for distributed data).

Spark mapping: a session in memory is a ``cache()``d DataFrame + temp
view named ``session_<id>`` so the SQL surface can query it.

With ``persist_dir`` the pointer file is the session. Each save writes a
versioned parquet dir ``<id>.v-<hex>.parquet`` (``sources.io.cut``), then
atomically swaps ``<id>.current`` onto a JSON manifest::

    {"version": "<id>.v-<hex>.parquet", "schema": <read-back schema JSON>,
     "metadata": {...}, "configs": {module: yaml}}

The pointer's mtime is the session's last use: ``save`` and
``save_config`` rewrite it and every ``get`` touches it, so a TTL judged
at restore sees the reads of an earlier store too. A restore is
``spark.read.schema(schema).parquet(version)``: it runs no Spark job, and
metadata and configs come back with the frame, also in a new store. A
plain-text pointer (the version name alone) and a bare ``<id>.parquet``
still restore, with one schema-inference job.

LRU eviction drops only the in-memory entry; the next ``get`` restores it.
``delete`` and TTL expiry (in memory, or judged from the pointer's mtime
at restore or save) also remove the pointer and every version, so the
session stays gone.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from analyst_toolkit_spark.sources import io as S_io

_ID_RE = re.compile(r"^[A-Za-z0-9_\-]{1,128}$")


@dataclass
class SessionEntry:
    df: DataFrame
    metadata: dict = field(default_factory=dict)
    configs: dict = field(default_factory=dict)  # module -> yaml str (infer_configs persistence)
    created_at: float = 0.0
    last_used: float = 0.0
    version: str | None = None  # durable store: the parquet dir ``df`` scans


class SessionStore:
    def __init__(
        self,
        spark: SparkSession,
        max_entries: int = 32,
        ttl_sec: float = 3600.0,
        persist_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.max_entries = max_entries
        self.ttl_sec = ttl_sec
        self.persist_dir = persist_dir
        self._entries: dict[str, SessionEntry] = {}
        # One re-entrant lock for registry + persist mutations: the MCP HTTP
        # transport is a ThreadingHTTPServer, so two tool calls can save the
        # same session concurrently; unserialized rmtree/rename interleavings
        # lose writes or crash mid-swap.
        self._lock = threading.RLock()

    @staticmethod
    def _check_id(session_id: str) -> str:
        if not _ID_RE.match(session_id or ""):
            raise ValueError(f"invalid session id {session_id!r}")
        return session_id

    def _view(self, session_id: str) -> str:
        return f"session_{session_id}"

    def _register(self, session_id: str, entry: SessionEntry) -> DataFrame:
        with self._lock:
            self._drop(session_id)
            self._evict()
            entry.df = entry.df.cache()
            entry.df.createOrReplaceTempView(self._view(session_id))
            self._entries[session_id] = entry
            return entry.df

    def _drop(self, session_id: str) -> SessionEntry | None:
        """Remove the in-memory entry and its view; the disk is untouched."""
        entry = self._entries.pop(session_id, None)
        if entry is not None:
            entry.df.unpersist()
            self.spark.catalog.dropTempView(self._view(session_id))
        return entry

    # -- persistence layout ---------------------------------------------------
    # Versioned directories + atomic pointer swap (never delete the live read
    # path): readers resolve the pointer at restore time, so a Spark job
    # mid-scan of the previous version keeps its directory — only versions at
    # least two saves old are garbage-collected.

    def _pointer_path(self, session_id: str) -> str:
        return os.path.join(self.persist_dir, f"{session_id}.current")

    def _write_manifest(self, session_id: str, entry: SessionEntry) -> None:
        ptr = self._pointer_path(session_id)
        tmp_ptr = f"{ptr}.tmp-{uuid.uuid4().hex[:8]}"
        manifest = {
            "version": entry.version,
            "schema": entry.df.schema.jsonValue(),
            "metadata": entry.metadata,
            "configs": entry.configs,
        }
        with open(tmp_ptr, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, default=str)
        os.replace(tmp_ptr, ptr)  # atomic pointer swap

    def _read_manifest(self, session_id: str) -> dict | None:
        """The session's manifest with its ``last_used`` (the pointer's
        mtime), or None when no version is on disk."""
        try:
            with open(self._pointer_path(session_id), encoding="utf-8") as fh:
                text = fh.read().strip()
                last_used = os.fstat(fh.fileno()).st_mtime
            manifest = json.loads(text) if text.startswith("{") else {"version": text}
        except FileNotFoundError:
            # pre-versioning layout: no record of its last use
            manifest, last_used = {"version": f"{session_id}.parquet"}, time.time()
        manifest["last_used"] = last_used
        return manifest if os.path.exists(os.path.join(self.persist_dir, manifest["version"])) else None

    def _restore(self, session_id: str) -> SessionEntry | None:
        manifest = self._read_manifest(session_id)
        if manifest is None:
            return None
        reader = self.spark.read
        if manifest.get("schema"):
            reader = reader.schema(StructType.fromJson(manifest["schema"]))  # no inference job
        return SessionEntry(
            df=reader.parquet(os.path.join(self.persist_dir, manifest["version"])),
            metadata=manifest.get("metadata") or {},
            configs=manifest.get("configs") or {},
            created_at=time.time(),
            last_used=manifest["last_used"],
            version=manifest["version"],
        )

    def _remove_files(self, session_id: str, keep: set[str | None]) -> None:
        """Remove every ``<id>.*`` name in ``persist_dir`` not in ``keep``,
        the pointer first: without it the session is gone."""
        names = [n for n in os.listdir(self.persist_dir) if n.startswith(f"{session_id}.") and n not in keep]
        for name in sorted(names, key=lambda n: not n.endswith(".current")):
            path = os.path.join(self.persist_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass

    def save(self, session_id: str, df: DataFrame, metadata: dict | None = None) -> None:
        """Store ``df`` as the session's frame. ``metadata=None`` keeps the
        session's current metadata; configs are always kept."""
        session_id = self._check_id(session_id)
        with self._lock:
            # the session's current state: its in-memory entry, else its manifest
            old = self._entries.get(session_id)
            prior = vars(old) if old else (self.persist_dir and self._read_manifest(session_id)) or {}
            if prior and self._expired(prior["last_used"]):
                self.delete(session_id)
                prior = {}
            now = time.time()
            entry = SessionEntry(
                df=df,
                metadata=(prior.get("metadata") or {}) if metadata is None else metadata,
                configs=prior.get("configs") or {},
                created_at=now,
                last_used=now,
            )
            if self.persist_dir:
                entry.version = f"{session_id}.v-{uuid.uuid4().hex[:8]}.parquet"
                # the stored frame scans the new version: truncated lineage,
                # no DataFrame left referencing a GC-able directory
                entry.df = S_io.cut(df, durable_dir=self.persist_dir, name=entry.version)
                self._write_manifest(session_id, entry)
                # the prior version survives one more save: in-flight scans
                self._remove_files(session_id, keep={entry.version, prior.get("version"), f"{session_id}.current"})
            self._register(session_id, entry)

    def _lookup(self, session_id: str) -> SessionEntry:
        session_id = self._check_id(session_id)
        with self._lock:
            entry = self._entries.get(session_id)
            restored = entry is None and self.persist_dir is not None
            if restored:
                entry = self._restore(session_id)
            if entry is None:
                raise KeyError(f"no session {session_id!r}")
            if self._expired(entry.last_used):
                self.delete(session_id)
                raise KeyError(f"session {session_id!r} expired")
            entry.last_used = time.time()
            if entry.version is not None:
                try:
                    os.utime(self._pointer_path(session_id), (entry.last_used, entry.last_used))
                except FileNotFoundError:
                    pass  # a bare pre-versioning <id>.parquet has no pointer
            if restored:
                self._register(session_id, entry)
            return entry

    def get(self, session_id: str) -> DataFrame:
        return self._lookup(session_id).df

    def save_config(self, session_id: str, module: str, config_yaml: str) -> None:
        """Persist an inferred module config on the session
        (reference state.py:414-441)."""
        with self._lock:
            entry = self._lookup(session_id)
            entry.configs[module] = config_yaml
            if entry.version is not None:
                self._write_manifest(session_id, entry)

    def get_config(self, session_id: str, module: str) -> str | None:
        try:
            return self._lookup(session_id).configs.get(module)
        except KeyError:
            return None

    def delete(self, session_id: str) -> None:
        with self._lock:
            self._drop(session_id)
            if self.persist_dir and _ID_RE.match(session_id or ""):
                self._remove_files(session_id, keep=set())

    def list_sessions(self) -> list[dict[str, Any]]:
        return [
            {
                "session_id": sid,
                "created_at": e.created_at,
                "last_used": e.last_used,
                "metadata": e.metadata,
            }
            for sid, e in self._entries.items()
        ]

    def _expired(self, last_used: float) -> bool:
        return bool(self.ttl_sec) and time.time() - last_used > self.ttl_sec

    def _evict(self) -> None:
        """TTL expiry then LRU down to max_entries-1 (room for the new save)."""
        for sid in [s for s, e in self._entries.items() if self._expired(e.last_used)]:
            self.delete(sid)
        while len(self._entries) >= self.max_entries:
            self._drop(min(self._entries, key=lambda s: self._entries[s].last_used))
