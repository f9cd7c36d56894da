"""CollectionEngine — the Spark-native analogue of the reference ``Api`` +
``VectorDatabase`` protocol (``vector_mcp/vector_api.py:195``,
``vector_mcp/vectordb/base.py:78-253``).

Collections are Parquet tables under ``root/collections/<physical>`` plus a
``_catalog`` Parquet table mirroring ``vector_mcp_collections``
(``vector_mcp/vectordb/postgres.py:30-35,106-115``): one row per collection
with the physical table name (``vm_`` + sha256(name)[:24], same scheme as
``postgres.py:33-35``) and the locked embedding dimension
(dimension-drift rejection per ``postgres.py:164-172``).

Multi-tenancy: logical name → physical ``t_<sha256(tenant)[:16]>_<name>``
(``vector_mcp/vector_api.py:216-223``); listing filters and strips the
prefix (``vector_api.py:455-476``).

Every mutation is a bulk DataFrame write (the reference asserts 1 bulk write
per ingest, ``tests/test_secure_backends.py:177-196``). Tables are
hive-partitioned on the first 2 hex chars of the content-hash id; upsert /
delete / point-lookup read and rewrite ONLY the partitions the batch's ids
hash into — O(batch) i/o per mutation instead of O(table), the Parquet
stand-in for Delta MERGE file pruning (SURVEY §7 risk 3).
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import shutil
import threading
import time
import uuid
import weakref
from collections.abc import Callable, Mapping, Sequence
from datetime import datetime, timezone
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.sanitize import sanitize_metadata_py, sanitize_text_py
from vector_mcp_spark.schema import DOCUMENT_SCHEMA
from vector_mcp_spark.validation import (
    EngineError,
    default_beam_width,
    validate_collection_name,
    validate_delete_confirm,
    validate_ingest_bounds,
    validate_metric,
    validate_number_results,
    validate_query_vector,
    validate_sparse_weights,
    validate_stored_vector,
)

if TYPE_CHECKING:
    from vector_mcp_spark.operators.driver_table import DriverTable
    from vector_mcp_spark.operators.graph_ann import DriverServeSet, ServeSet


class _GraphServe:
    """One cached graph serve set (see ``CollectionEngine._graph_serve_set``):
    the driver-resident copy, or None when the set is over the bound, and
    the published set the SQL descent reads, published on first use."""

    __slots__ = ("driver", "_publish", "_sql", "_lock")

    def __init__(self, driver: DriverServeSet | None, publish: Callable[[], ServeSet]):
        self.driver, self._publish, self._sql = driver, publish, None
        self._lock = threading.Lock()

    @property
    def sql(self) -> ServeSet:
        with self._lock:
            if self._sql is None:
                self._sql = self._publish()
            return self._sql

    def drop(self) -> None:
        """Unregister the published set's views, if it was published."""
        with self._lock:
            if self._sql is not None:
                self._sql.drop()


#: a listed version whose driver copy has not been sized yet
_COLD = object()


class _Listed:
    """One listed table version (see ``CollectionEngine._listing``): the
    fingerprint it was listed under, the frame, and its driver copy —
    ``_COLD`` until first asked for, then the :class:`DriverTable` or
    ``None`` when the version is over the driver bound or refused."""

    __slots__ = ("fingerprint", "frame", "driver")

    def __init__(self, fingerprint: str, frame: DataFrame):
        self.fingerprint, self.frame, self.driver = fingerprint, frame, _COLD


def _embed_batch(model, dim: int | None, texts: Sequence[str]) -> list[list[float]]:
    """The vectors for ``texts`` under one collection's embedding config —
    the body of :meth:`CollectionEngine.embed_texts`, kept free of the
    engine so ``update_documents`` can ship it to executors.
    No model: the deterministic hash embedder at the locked dimension (64
    when none is locked). A model embeds at its own width; its output is
    refused with ``collection_vector_schema_mismatch`` when a vector is
    non-finite, the widths disagree, or they differ from a locked
    dimension, and with ``embedding_batch_invalid`` when the count does."""
    from vector_mcp_spark.functions.embedder import hash_embed

    if model is None:
        return [hash_embed(t, dim or 64) for t in texts]
    vecs = [validate_stored_vector(v) for v in model(list(texts))]
    if len(vecs) != len(texts):
        raise EngineError("embedding_batch_invalid")
    widths = {len(v) for v in vecs} | ({dim} if dim is not None and vecs else set())
    if len(widths) > 1 or 0 in widths:
        raise EngineError(
            "collection_vector_schema_mismatch", detail=f"model widths {sorted(widths)}"
        )
    return vecs


def _drop_serve_sets(sets: dict) -> None:
    """Drop the global views of every published serve set (an engine's
    finalizer: the views would otherwise outlive it for the life of the
    Spark application)."""
    for serve in sets.values():
        serve.drop()


#: the (id, content, score) frame every single-question search returns
HIT_COLUMNS = "id STRING, content STRING, score DOUBLE"


def hit_rows(df: DataFrame) -> list:
    """``df.collect()`` of a search's answer frame; for a frame
    :meth:`CollectionEngine._local_hits` rendered, the rows it kept, with
    no JVM round trip (planning and collecting a local relation costs a
    few milliseconds per request). ``vars`` because a DataFrame resolves
    a missing attribute as a column, through the JVM."""
    rows = vars(df).get("_hit_rows")
    return df.collect() if rows is None else rows


def _physical_name(logical: str) -> str:
    # postgres.py:33-35 — "vm_" + sha256(name)[:24]
    return "vm_" + hashlib.sha256(logical.encode("utf-8")).hexdigest()[:24]


# Collection tables are hive-partitioned on the first 2 hex chars of the
# content-hash id (256 uniform buckets). Ingest/delete/point-lookup batches
# touch only the partitions their ids hash into, so a mutation rewrites
# O(batch) partitions instead of O(table) — the Parquet stand-in for Delta
# MERGE file pruning (SURVEY §7 risk 3). At 100 TB each bucket is ~0.4% of
# the table; a 1000-doc batch rewrites at most 256 buckets but reads/writes
# only their bytes, never the full table.
_PART_COL = "_p"
_PART_LEN = 2


def _prefix_of(id_col) -> "F.Column":
    return F.substring(id_col, 1, _PART_LEN)


#: the (id, vector) rows of one named vector's sidecar, as the engine writes them
_NAMED_SCHEMA = "id string, vector array<float>"
#: the index families as the build writes them (the schemas parquet
#: inference gives a non-empty index; supplying them skips the inference
#: job, and an empty collection's family, only ``_SUCCESS`` markers, reads
#: as empty)
_POSTINGS_SCHEMA = "term string, id string, tf bigint, term_bucket string"
_DOCLEN_SCHEMA = "id string, dlen int"
_IDS_SCHEMA = "id string, rowhash bigint"
_GRAPH_SCHEMA = "layer int, src string, dst string"


def _files_fingerprint(root: Path) -> str:
    """A table version: sha256 over the relative path and mtime of every
    ``*.parquet`` file under ``root`` ("empty" when there is no ``root``).
    A driver-side walk, no Spark job."""
    if not root.exists():
        return "empty"
    stamps = sorted(
        f"{p.relative_to(root)}:{p.stat().st_mtime_ns}" for p in root.rglob("*.parquet")
    )
    return hashlib.sha256("\n".join(stamps).encode()).hexdigest()


def _tenant_prefix(tenant: str) -> str:
    # vector_api.py:216-223 — "t_" + sha256(tenant)[:16] + "_"
    return "t_" + hashlib.sha256(tenant.encode("utf-8")).hexdigest()[:16] + "_"


# Thread-local alias pins: while a serialized mutation runs, every
# _resolve_scoped of its logical name inside the body returns the SAME
# target the lock was taken for, even if another thread re-points the alias
# mid-flight (the blue-green switch must not swing a running mutation onto
# a table whose lock it doesn't hold).
_ALIAS_PIN = threading.local()


def _serialized_mutation(fn):
    """Serialize table mutations per collection (ADVICE r7, high): the SSE
    transport dispatches each tools/call on its own thread and the HTTP
    transport uses ThreadingHTTPServer, so two pipelined mutations of the
    same collection would otherwise interleave partition rewrites and
    changelog seq assignment. The lock is process-wide (class-level, keyed
    by resolved root + scoped name) so engine instances sharing a warehouse
    root in one process serialize too; cross-process writers are covered by
    the writer-unique stage dirs and the O_EXCL seq claims below.

    Aliases resolve BEFORE the lock (a mutation through an alias must
    contend with one through the target's real name), are re-checked under
    it (retry if a re-point won the race), and stay PINNED for the body so
    its own _require calls land on the locked table."""

    @functools.wraps(fn)
    def wrapper(self, name: str, *args, **kwargs):
        scoped = self._resolve_scoped(name)
        while True:
            with self._mutation_lock(scoped):
                current = self._resolve_scoped(name)
                if current != scoped:
                    scoped = current  # alias re-pointed before we locked
                    continue
                pins = getattr(_ALIAS_PIN, "pins", None)
                if pins is None:
                    pins = _ALIAS_PIN.pins = {}
                key = (str(self.root), self._scoped(name))
                prev = pins.get(key)
                pins[key] = scoped
                try:
                    return fn(self, name, *args, **kwargs)
                finally:
                    if prev is None:
                        pins.pop(key, None)
                    else:
                        pins[key] = prev

    return wrapper


class CollectionEngine:
    # Process-wide mutation locks: (resolved root, scoped name) → RLock.
    # Class-level so two engine instances over the same warehouse root in
    # one process contend on the same lock (the transports construct one
    # engine, but tests and embedded users construct several).
    _MUTATION_LOCKS: dict[tuple[str, str], threading.RLock] = {}
    _LOCKS_GUARD = threading.Lock()

    def _mutation_lock(self, scoped: str) -> threading.RLock:
        key = (str(self.root.resolve()), scoped)
        with self._LOCKS_GUARD:
            lock = self._MUTATION_LOCKS.get(key)
            if lock is None:
                lock = self._MUTATION_LOCKS[key] = threading.RLock()
            return lock

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tenant: str | None = None,
        embed_model: Callable[[Sequence[str]], Sequence[Sequence[float]]] | None = None,
    ):
        """``embed_model`` is the batched real-model seam (texts → vectors):
        every row is embedded with it when written, and every text query
        with it when searched — the reference's one-model-for-both contract
        (``vectordb/base.py:34-75``). When omitted, the
        ``VECTOR_MCP_SPARK_EMBED_ENDPOINT`` env gate may supply a
        ``RemoteEmbeddingClient``; otherwise the deterministic hash embedder
        keeps everything oracle-checkable offline."""
        from vector_mcp_spark.functions.embedding_client import RemoteEmbeddingClient
        from vector_mcp_spark.operators.transactional import transactional_format

        self.spark = spark
        self.root = Path(root)
        self.tenant = tenant
        self._embed_model = (
            embed_model if embed_model is not None else RemoteEmbeddingClient.from_env()
        )
        # VECTOR_MCP_SPARK_TABLE_FORMAT=delta|iceberg routes T7/T9 mutations
        # through transactional MERGE/DELETE (operators/transactional.py);
        # unset keeps the partition-pruned parquet rewrite path
        self._table_format = transactional_format()
        # Beam-serve working sets per graph index build: (index root,
        # manifest mtime_ns, metric) → materialized (nodes, edges) and,
        # when it fits, their driver-resident copy. The mtime key makes any
        # rebuild a miss, and staleness REFUSAL (index_not_fresh) runs
        # before this cache is consulted, so a stale index can never be
        # served from here (r13, guide §1.2).
        self._graph_serve_sets: dict[tuple, _GraphServe] = {}
        # the sets' global views are application-wide: drop them when the
        # engine is collected (not at interpreter exit, when the JVM may
        # already be gone)
        weakref.finalize(self, _drop_serve_sets, self._graph_serve_sets).atexit = False
        # Listed versions: (scoped, vector name or None for the document
        # table) → the version's frame and driver copy, see _listing
        self._frames: dict[tuple[str, str | None], _Listed] = {}
        (self.root / "collections").mkdir(parents=True, exist_ok=True)

    def _graph_serve_set(
        self,
        index_root: Path,
        metric: str,
        source: Callable[[], tuple[DataFrame, DriverTable | None]],
        edges: Sequence[tuple] | None = None,
    ) -> _GraphServe:
        """The warm working set for one graph index build — what a vector
        DB keeps open next to its persisted graph: when it fits the
        broadcast bound, a driver-resident set the descent runs on
        in-process with no Spark job, and the published set the SQL
        descent reads (views, sizes and broadcast gate, from
        :func:`~vector_mcp_spark.operators.graph_ann.publish_serve_set`),
        published only when a descent reads it. Built once per (build,
        metric) and per engine; evicts prior builds of the same root (and
        drops their views) so a rebuild does not pin dead checkpoint
        blocks. On a miss ``source()`` gives the (id, embedding[, content])
        frame the build serves and that version's :class:`DriverTable` (or
        None); ``edges`` are the build's (layer, src, dst) rows when the
        caller has them, else the graph family is collected for the
        driver set."""
        from vector_mcp_spark.operators.graph_ann import driver_serve_set, publish_serve_set
        from vector_mcp_spark.operators.partition import fits_broadcast

        st = (index_root / "manifest.json").stat()
        key = (str(index_root), st.st_mtime_ns, metric)
        hit = self._graph_serve_sets.get(key)
        if hit is not None:
            return hit
        for old in [k for k in self._graph_serve_sets if k[0] == key[0]]:
            self._graph_serve_sets.pop(old).drop()
        corpus, local = source()
        spark, graph = self.spark, str(index_root / "graph")

        def publish() -> ServeSet:
            # no reference to the engine: its finalizer holds this cache,
            # so a closure over the engine would keep the engine alive
            return publish_serve_set(
                corpus, spark.read.schema(_GRAPH_SCHEMA).parquet(graph),
                id_col="id", emb_col="embedding", metric=metric,
            )

        # the driver set is the table's driver copy — its rows, vectors
        # and content, not a second collect — plus the adjacency, when the
        # copy's estimate plus edges × 64 fits the broadcast bound (a
        # broadcast is a driver-side collect of that size already). Over
        # the bound, or with the bound at −1, the SQL descent serves.
        driver = None
        if local is not None:
            if edges is None:
                edges = self._read_family(index_root / "graph", _GRAPH_SCHEMA).collect()
            nbytes = local.nbytes + len(edges) * 64
            if fits_broadcast(self.spark, nbytes):
                driver = driver_serve_set(local, edges, metric, nbytes)
        serve = self._graph_serve_sets[key] = _GraphServe(driver, publish)
        return serve

    # -- catalog ------------------------------------------------------------
    #
    # The catalog is DRIVER-SIDE metadata (one row per collection — the
    # reference keeps it in an indexed SQL table, postgres.py:30-35). It is
    # read/written with pyarrow directly: a catalog lookup must never cost a
    # Spark job. A (mtime, rows) cache makes repeat lookups free while
    # staying coherent across engine instances sharing a root.

    @property
    def _catalog_path(self) -> str:
        return str(self.root / "_catalog.parquet")

    def _catalog_rows(self) -> list[tuple]:
        import pyarrow.parquet as pq

        path = Path(self._catalog_path)
        if not path.exists():
            return []
        mtime = path.stat().st_mtime_ns
        cached = getattr(self, "_cat_cache", None)
        if cached and cached[0] == mtime:
            return cached[1]
        tbl = pq.read_table(path)
        rows = [
            (
                r["collection_name"],
                r["table_name"],
                r["dimension"],
                r["created_at"],
                # catalogs that predate the flag may hold rows without
                # vectors: read() upgrades them once (see needs_embed)
                bool(r.get("needs_embed", True)),
                # legacy catalogs predate the per-collection distance
                # config: every pre-r12 collection was served under cosine
                (r.get("distance") or "cosine"),
            )
            for r in tbl.to_pylist()
        ]
        self._cat_cache = (mtime, rows)
        return rows

    def _write_catalog(self, rows: list[tuple]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("collection_name", pa.string()),
                ("table_name", pa.string()),
                ("dimension", pa.int32()),
                ("created_at", pa.timestamp("us", tz="UTC")),
                ("needs_embed", pa.bool_()),
                ("distance", pa.string()),
            ]
        )
        cols = (
            "collection_name", "table_name", "dimension", "created_at",
            "needs_embed", "distance",
        )
        # Pad legacy rows positionally by missing field, not by blind append:
        # a 4-tuple (pre-needs_embed) gets (True, "cosine"), a 5-tuple
        # (pre-distance) gets ("cosine",); anything else is malformed and
        # must fail loudly rather than write a boolean into `distance`.
        defaults = (True, "cosine")
        padded = []
        for r in rows:
            if len(r) not in (4, 5, 6):
                raise EngineError("catalog_row_malformed")
            padded.append(tuple(r) + defaults[len(r) - 4 :])
        tbl = pa.Table.from_pylist(
            [dict(zip(cols, r)) for r in padded],
            schema=schema,
        )
        # Catalog writes are read-modify-write over a shared file; serialize
        # them with an O_EXCL lock file and compare-and-swap on the mtime the
        # modification was based on, so two engine instances mutating the same
        # root fail loudly ("catalog_conflict") instead of silently dropping
        # one instance's row. Readers need no lock (tmp+replace is atomic).
        lock = Path(self._catalog_path + ".lock")
        fd = self._acquire_file_lock(lock)
        try:
            path = Path(self._catalog_path)
            expected = getattr(self, "_cat_cache", (None, None))[0]
            current = path.stat().st_mtime_ns if path.exists() else None
            if expected is not None and current is not None and current != expected:
                raise EngineError("catalog_conflict")
            tmp = Path(self._catalog_path + ".tmp")
            pq.write_table(tbl, tmp)
            tmp.replace(self._catalog_path)
            self._cat_cache = (path.stat().st_mtime_ns, padded)
        finally:
            os.close(fd)
            lock.unlink(missing_ok=True)

    @classmethod
    def _acquire_file_lock(cls, lock: Path) -> int:
        """O_EXCL-create ``lock`` and return the fd; the caller must close
        the fd and unlink the lock in its finally block.

        Stale-lock recovery (ADVICE r6): a holder killed between os.open and
        its finally block would brick every future write. Break the lock
        when its pid is provably dead or the file is older than the TTL
        (covers unreadable/foreign-host pids); otherwise fail with the lock
        path so an operator can recover. The break is an atomic RENAME of
        the stale file, not unlink: two writers may both judge it stale, but
        only one rename wins, so the loser can never delete the winner's
        fresh lock (TOCTOU)."""
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if not cls._lock_is_stale(lock):
                raise EngineError("catalog_locked", detail=str(lock)) from None
            broken = Path(f"{lock}.broken.{os.getpid()}")
            try:
                lock.rename(broken)
            except OSError:  # another breaker won the rename race
                raise EngineError("catalog_locked", detail=str(lock)) from None
            broken.unlink(missing_ok=True)
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:  # lost the re-acquire race
                raise EngineError("catalog_locked", detail=str(lock)) from None
        try:
            os.write(fd, f"{os.getpid()} {time.time():.3f}".encode())
        except OSError:
            pass  # lock metadata is best-effort; TTL still applies
        return fd

    # A lock this old is presumed orphaned even when its pid can't be probed
    # (pid unreadable, or reused by an unrelated process).
    _LOCK_TTL_S = 60.0

    @classmethod
    def _lock_is_stale(cls, lock: Path) -> bool:
        import os

        pid = None
        try:
            first = lock.read_text().split()
            if first:
                pid = int(first[0])
        except (OSError, ValueError):
            pid = None
        if pid is not None:
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
            except ProcessLookupError:
                return True  # holder is provably dead
            except PermissionError:
                # signal 0 reached a process we may not signal: either the
                # real holder running under another uid (never break a live
                # writer's lock — ADVICE r7), or the holder died and its pid
                # was REUSED by an unrelated foreign-uid process (eternal
                # brick unless broken). Disambiguate by owner: a genuine
                # foreign holder created the lock file, so the lock's owner
                # uid matches the process's uid; a reused pid won't.
                try:
                    proc_uid = os.stat(f"/proc/{pid}").st_uid
                    if proc_uid == lock.stat().st_uid:
                        return False  # same owner: genuinely alive holder
                except OSError:
                    pass  # no /proc or vanished — fall through to TTL
            else:
                # provably ALIVE same-uid holder: never break, however old —
                # a >TTL hold is a stall (GC pause, slow fs), not a leak
                return False
        try:
            age = time.time() - lock.stat().st_mtime
        except OSError:
            return False  # vanished — the holder released it; retry normally
        return age > cls._LOCK_TTL_S

    def _scoped(self, name: str) -> str:
        validate_collection_name(name)
        if self.tenant:
            return _tenant_prefix(self.tenant) + name
        return name

    def _table_path(self, scoped_name: str) -> str:
        return str(self.root / "collections" / _physical_name(scoped_name))

    # -- S1-S4: collection DDL (base.py:88-137) -----------------------------

    def create_collection(
        self,
        name: str,
        dimension: int | None = None,
        overwrite: bool = False,
        get_or_create: bool = True,
        distance: str | None = None,
        vectors_config: Mapping[str, Mapping] | None = None,
    ) -> str:
        """S1 — ``distance`` is the per-collection scoring convention
        (qdrant locks ``Distance`` in the collection config at create,
        ``qdrant.py:122-127``; pgvector picks it per index opclass): every
        search and index family on this collection builds and serves under
        it. Switch later with :meth:`set_collection_distance` (the index
        goes stale and a rebuild re-derives every family). ``None`` means
        UNSPECIFIED — a new collection gets cosine, and get-or-create of an
        existing one accepts whatever is locked (the same sentinel contract
        as ``dimension``); only an EXPLICIT conflicting distance drifts.

        ``vectors_config`` declares NAMED vectors next to the default one
        (the qdrant named-vectors map ``{name: {dimension, distance}}``):
        each name gets its own sidecar storage, its own metric, and its own
        graph index family (:meth:`put_named_vectors`,
        :meth:`build_named_vector_index`, :meth:`named_vector_search`).
        Locked at create like the rest of the config — a get-or-create
        that requests a different map refuses."""
        if distance is not None:
            validate_metric(distance)
        vectors_config = self._validate_vectors_config(vectors_config)
        scoped = self._scoped(name)
        # a live alias owns its name: a collection created over it would
        # shadow it (listings inconsistent) and dropping that collection
        # would silently resurrect the stale alias
        if any(a == scoped for a, _ in self._alias_rows()):
            raise EngineError("collection_conflicts_with_alias", detail=name)
        exists = any(r[0] == scoped for r in self._catalog_rows())
        if exists and not overwrite:
            if not get_or_create:
                raise EngineError("collection_exists")  # base.py:96-99
            # dimension-drift rejection (postgres.py:161-172): get-or-create
            # of an existing collection must request the locked dimension
            if dimension is not None and self._locked_dimension(scoped) != dimension:
                raise EngineError("collection_vector_schema_mismatch")
            # distance-drift rejection, same shape: get-or-create must not
            # silently hand back a collection scored under another metric
            if distance is not None and distance != self._locked_distance(scoped):
                raise EngineError(
                    "collection_distance_mismatch",
                    detail=f"locked {self._locked_distance(scoped)!r}, requested {distance!r}",
                )
            if vectors_config is not None and vectors_config != self.named_vectors_config(name):
                raise EngineError(
                    "named_vectors_config_mismatch",
                    detail=f"locked {sorted(self.named_vectors_config(name))}",
                )
            return scoped
        if exists and overwrite:
            # outside the catalog lock: delete takes the collection lock
            # first (consistent collection → catalog ordering, no cycles)
            self.delete_collection(name, confirm=True)
        # catalog read-modify-writes serialize in-process (engine instances
        # SHARE _cat_cache semantics per instance, so the on-disk mtime CAS
        # alone can't catch two threads of one engine racing — the second
        # write would silently drop the first's row)
        with self._mutation_lock("__catalog__"):
            rows = self._catalog_rows()
            if any(r[0] == scoped for r in rows):  # lost a create race
                if get_or_create or overwrite:
                    return scoped
                raise EngineError("collection_exists")
            # re-check the alias conflict INSIDE the catalog lock: a
            # concurrent create_alias serializes on this same lock (lock
            # order __catalog__ → __aliases__), so both guards passing at
            # once — collection silently shadowing a just-created alias —
            # can no longer happen (ADVICE r8)
            if any(a == scoped for a, _ in self._alias_rows()):
                raise EngineError("collection_conflicts_with_alias", detail=name)
            self._write_catalog(
                [
                    *rows,
                    (
                        scoped,
                        _physical_name(scoped),
                        dimension,
                        datetime.now(timezone.utc),
                        False,
                        distance or "cosine",
                    ),
                ]
            )
        if vectors_config:
            root = self._named_root(scoped)
            root.mkdir(parents=True, exist_ok=True)
            (root / "config.json").write_text(
                __import__("json").dumps(vectors_config, sort_keys=True)
            )
        # table dir materializes lazily on first write — an empty collection
        # is just a catalog row (no Spark job on create)
        return scoped

    def get_collections(self) -> list[str]:
        # vector_api.py:455-476 — tenant filter + strip prefix + sort + dedup
        names = [r[0] for r in self._catalog_rows()]
        if self.tenant:
            pfx = _tenant_prefix(self.tenant)
            names = [n[len(pfx):] for n in names if n.startswith(pfx)]
        return sorted(set(names))

    def collection_exists(self, name: str) -> bool:
        scoped = self._scoped(name)
        return any(r[0] == scoped for r in self._catalog_rows())

    def _locked_dimension(self, scoped: str) -> int | None:
        for r in self._catalog_rows():
            if r[0] == scoped:
                return r[2]
        return None

    def _locked_distance(self, scoped: str) -> str:
        for r in self._catalog_rows():
            if r[0] == scoped:
                return r[5] if len(r) > 5 else "cosine"
        return "cosine"

    def collection_distance(self, name: str) -> str:
        """The distance convention the collection is scored under —
        catalog-only, no Spark job (like :meth:`needs_embed`)."""
        return self._locked_distance(self._resolve_scoped(name))

    def set_collection_distance(self, name: str, distance: str) -> None:
        """Switch the collection's distance config. The persisted index
        was built under the OLD metric, so :meth:`index_status` reports
        ``stale`` until a rebuild: serving refuses rather than answering
        under the wrong geometry, and the rebuild re-derives every family
        under the new metric."""
        validate_metric(distance)
        scoped = self._require(name)
        with self._mutation_lock("__catalog__"):  # serialized RMW
            rows = self._catalog_rows()
            self._write_catalog(
                [(r[:5] + (distance,)) if r[0] == scoped else r for r in rows]
            )

    def needs_embed(self, name: str) -> bool:
        """True while the collection is LEGACY: written by an engine that
        stored content-only rows without vectors, so it may still hold
        NULL embeddings. This engine embeds every row at insert; the first
        :meth:`read` of a legacy collection upgrades it once and clears the
        flag. Driver-side catalog lookup, never a Spark job. Resolves
        aliases, and missing collections raise the same stable
        ``collection_not_found`` as every other name-gated surface (the
        tenant-matrix contract: tenant B probing A's name learns nothing a
        nonexistent name wouldn't tell it)."""
        scoped = self._resolve_scoped(name)
        for r in self._catalog_rows():
            if r[0] == scoped:
                return bool(r[4])
        raise EngineError("collection_not_found")

    def _upgrade_legacy(self, name: str, scoped: str) -> None:
        """Embed a legacy collection's NULL-embedding rows through
        :meth:`embed_texts`' seam and rewrite them (one upsert, under the
        collection's mutation lock, logged like any other), then clear the
        flag. A collection without a table just has its flag cleared."""
        with self._mutation_lock(scoped):
            if not any(r[0] == scoped and r[4] for r in self._catalog_rows()):
                return  # another reader upgraded it first
            if Path(self._table_path(scoped)).exists():
                legacy = self._table_listing(scoped).frame.where(F.col("embedding").isNull())
                self.update_documents(name, legacy)
            with self._mutation_lock("__catalog__"):  # serialized RMW
                rows = self._catalog_rows()
                self._write_catalog(
                    [(r[:4] + (False,) + r[5:]) if r[0] == scoped else r for r in rows]
                )

    def embed_texts(self, name: str, texts: Sequence[str]) -> list[list[float]]:
        """The one embedding seam: the vectors the collection stores for
        (and searches with) ``texts`` — one batched model call, driver-side.
        See :func:`_embed_batch` for the width and refusal rules."""
        scoped = self._require(name)
        return _embed_batch(self._embed_model, self._locked_dimension(scoped), texts)

    def _check_dimension(self, scoped: str, df: DataFrame, emb_col: str = "embedding") -> None:
        """Reject wrong-size vectors before they reach the table
        (postgres.py:164-172 — pgvector's VECTOR(dim) enforces this in-DDL;
        parquet has no typed vector width, so it's an explicit gate)."""
        dim = self._locked_dimension(scoped)
        if dim is None:
            return
        bad = df.where(F.col(emb_col).isNotNull() & (F.size(F.col(emb_col)) != F.lit(dim)))
        if bad.limit(1).count() > 0:
            raise EngineError("collection_vector_schema_mismatch")

    def _require(self, name: str) -> str:
        scoped = self._resolve_scoped(name)
        if not any(r[0] == scoped for r in self._catalog_rows()):
            raise EngineError("collection_not_found")  # base.py:107-117
        return scoped

    # -- collection aliases ---------------------------------------------------
    #
    # Qdrant-parity alias surface (update_collection_aliases): an alias is a
    # second name every read/search/mutation resolves through, and
    # re-pointing it is the atomic blue-green switch (index into
    # "docs_green", re-point "prod" at it, drop "docs_blue" — queries never
    # see a half-built table). Aliases live in a driver-side sidecar
    # (_aliases.parquet) under the same tenant scoping as collections; a
    # real collection name always wins over an alias with the same name.

    @property
    def _aliases_path(self) -> str:
        return str(self.root / "_aliases.parquet")

    def _alias_rows(self) -> list[tuple[str, str]]:
        import pyarrow.parquet as pq

        path = Path(self._aliases_path)
        if not path.exists():
            return []
        mtime = path.stat().st_mtime_ns
        cached = getattr(self, "_alias_cache", None)
        if cached and cached[0] == mtime:
            return cached[1]
        rows = [
            (r["alias"], r["target"]) for r in pq.read_table(path).to_pylist()
        ]
        self._alias_cache = (mtime, rows)
        return rows

    def _mutate_aliases(self, update) -> None:
        """Serialized read-modify-write of the alias sidecar: the current
        rows are read INSIDE both the process-wide lock (threads) and the
        on-disk O_EXCL lock (processes), so two concurrent alias ops can
        never silently drop each other's update. ``update`` maps current
        rows → new rows, or returns None for a no-op (nothing written)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self._mutation_lock("__aliases__"):
            lock = Path(self._aliases_path + ".lock")
            fd = self._acquire_file_lock(lock)
            try:
                rows = update(self._alias_rows())
                if rows is None:
                    return
                tbl = pa.Table.from_pylist(
                    [{"alias": a, "target": t} for a, t in sorted(rows)],
                    schema=pa.schema([("alias", pa.string()), ("target", pa.string())]),
                )
                tmp = Path(self._aliases_path + ".tmp")
                pq.write_table(tbl, tmp)
                tmp.replace(self._aliases_path)
            finally:
                os.close(fd)
                lock.unlink(missing_ok=True)

    def _resolve_scoped(self, name: str) -> str:
        """Logical name → scoped physical name, following one alias hop.
        A real collection shadows an alias of the same name. A running
        serialized mutation's resolution is PINNED (thread-local) so its
        body can't be swung onto an unlocked table by a concurrent alias
        re-point."""
        scoped = self._scoped(name)
        pinned = getattr(_ALIAS_PIN, "pins", {}).get((str(self.root), scoped))
        if pinned is not None:
            return pinned
        if any(r[0] == scoped for r in self._catalog_rows()):
            return scoped
        return dict(self._alias_rows()).get(scoped, scoped)

    def create_alias(self, alias: str, collection: str) -> None:
        """Point ``alias`` at ``collection``; re-pointing an existing alias
        is the atomic blue-green switch. Rejects an alias that names a real
        collection (it could never be resolved)."""
        validate_collection_name(alias)
        target = self._require(collection)
        scoped_alias = self._scoped(alias)
        # the collection-conflict guard runs under the __catalog__ lock so
        # it serializes against create_collection's alias-conflict guard
        # (consistent lock order __catalog__ → __aliases__; ADVICE r8) —
        # without it, a concurrent create_collection(alias) and this call
        # could both pass their checks and produce a collection silently
        # shadowing the new alias
        with self._mutation_lock("__catalog__"):
            if self.collection_exists(alias):
                raise EngineError("alias_conflicts_with_collection", detail=alias)
            self._mutate_aliases(
                lambda rows: [*(r for r in rows if r[0] != scoped_alias), (scoped_alias, target)]
            )

    def delete_alias(self, alias: str) -> None:
        scoped_alias = self._scoped(alias)

        def drop(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
            if all(a != scoped_alias for a, _ in rows):
                raise EngineError("alias_not_found", detail=alias)
            return [(a, t) for a, t in rows if a != scoped_alias]

        self._mutate_aliases(drop)

    def list_aliases(self, collection: str | None = None) -> list[tuple[str, str]]:
        """(alias, collection) pairs in this tenant's scope, unscoped names,
        sorted; optionally filtered to one target collection."""
        target = self._require(collection) if collection is not None else None
        pfx = _tenant_prefix(self.tenant) if self.tenant else ""
        out = []
        for a, t in self._alias_rows():
            if target is not None and t != target:
                continue
            if pfx and not (a.startswith(pfx) and t.startswith(pfx)):
                continue
            out.append((a[len(pfx):], t[len(pfx):]))
        return sorted(out)

    @_serialized_mutation
    def delete_collection(self, name: str, confirm: bool = False) -> None:
        validate_delete_confirm(confirm)  # vector_api.py:448-449
        # DDL never follows aliases (qdrant parity): dropping "prod" must
        # not cascade through an alias to the real table behind it
        scoped = self._scoped(name)
        if not any(r[0] == scoped for r in self._catalog_rows()):
            raise EngineError("collection_not_found")
        with self._mutation_lock("__catalog__"):  # serialized RMW
            self._write_catalog([r for r in self._catalog_rows() if r[0] != scoped])
        # the table's and its named vectors' listed frames die with it
        for key in [k for k in list(self._frames) if k[0] == scoped]:
            self._frames.pop(key, None)
        for suffix in ("", "_index", "_changelog", "_named"):  # table + sidecars
            path = Path(self._table_path(scoped) + suffix)
            if path.exists():
                shutil.rmtree(path)
        # orphaned stage dirs from a crashed writer (writer-unique names)
        base = Path(self._table_path(scoped))
        for stale in base.parent.glob(base.name + "_stage-*"):
            shutil.rmtree(stale, ignore_errors=True)
        # aliases pointing at the dropped collection die with it
        self._mutate_aliases(
            lambda rows: [(a, t) for a, t in rows if t != scoped]
            if any(t == scoped for _, t in rows)
            else None
        )

    # -- documents ----------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        """The collection's rows, every one with its stored vector (a
        legacy collection is upgraded first, see :meth:`needs_embed`)."""
        return self._listed_table(name).frame

    def scan_table(self, name: str) -> tuple[DataFrame, DriverTable | None]:
        """:meth:`read`'s frame and the same version's driver copy (see
        :meth:`_driver_table`): None when the version is over the driver
        bound or refused, and the scans then run on the frame."""
        listed = self._listed_table(name)
        return listed.frame, self._driver_table(listed, "embedding", "content")

    def _listed_table(self, name: str) -> _Listed:
        scoped = self._require(name)
        if self.needs_embed(name):
            self._upgrade_legacy(name, scoped)
        return self._table_listing(scoped)

    def _listing(
        self, key: tuple[str, str | None], fingerprint: str, read: Callable[[], DataFrame]
    ) -> _Listed:
        """The version listed for ``key`` while its files had
        ``fingerprint``, else a fresh ``read()`` that replaces it (and with
        it the old version's driver copy). A frame's analyzed plan holds
        the file listing Spark made when it was built, so a hit runs no
        listing job. The caller takes the fingerprint BEFORE the read: a
        write racing the listing can then only cause a later miss, never a
        stale hit. Every writer renames in new files under new names, so
        any write — by any engine or process sharing the root — changes
        the fingerprint. Threads racing on a miss each store a version
        that matches the fingerprint stored with it, so the worst case is
        one extra listing."""
        hit = self._frames.get(key)
        if hit is not None and hit.fingerprint == fingerprint:
            return hit
        listed = self._frames[key] = _Listed(fingerprint, read())
        return listed

    def _driver_table(
        self, listed: _Listed, emb_col: str, content_col: str | None
    ) -> DriverTable | None:
        """The listed version's driver copy, sized on first use by one
        aggregate job and collected only when the estimate fits the
        broadcast bound. The verdict — copy, over the bound, or refused by
        :func:`collect_driver_table` — is kept with the version, so a
        large table pays the aggregate once, not per request. Threads
        racing on a cold version each collect it; either copy is that
        version's, so the worst case is one extra collect."""
        from vector_mcp_spark.operators.driver_table import (
            collect_driver_table,
            driver_table_bytes,
        )
        from vector_mcp_spark.operators.partition import fits_broadcast

        if listed.driver is _COLD:
            nbytes = driver_table_bytes(listed.frame, emb_col, content_col)
            listed.driver = (
                collect_driver_table(listed.frame, emb_col, content_col, nbytes)
                if fits_broadcast(self.spark, nbytes)
                else None
            )
        return listed.driver

    def _table_listing(self, scoped: str) -> _Listed:
        def read() -> DataFrame:
            if not Path(self._table_path(scoped)).exists():
                # cataloged but never written to — empty collection
                return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
            df = self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self._table_path(scoped))
            # partition discovery appends _p; project back to the document shape
            return df.select(*DOCUMENT_SCHEMA.fieldNames())

        return self._listing((scoped, None), self._table_fingerprint(scoped), read)

    def _read_family(self, path: Path, schema: str) -> DataFrame:
        """One index family, read with the schema the build writes."""
        return self.spark.read.schema(schema).parquet(str(path))

    def _write_partitioned(self, path: str, df: DataFrame) -> None:
        (
            df.withColumn(_PART_COL, _prefix_of(F.col("id")))
            .write.partitionBy(_PART_COL)
            .mode("overwrite")
            .parquet(path)
        )

    @staticmethod
    def _stage_dir(table: str | Path) -> Path:
        # Writer-unique stage dir (ADVICE r7, high): a fixed "<table>_stage"
        # let one writer rmtree another's staged rows. pid+uuid suffix makes
        # concurrent stagers (threads or processes) collision-free.
        return Path(f"{table}_stage-{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def _read_partitions(self, scoped: str, prefixes: Sequence[str]) -> DataFrame:
        """Read ONLY the partition directories the given id prefixes touch —
        the table's other bytes are never opened."""
        table = Path(self._table_path(scoped))
        dirs = [str(table / f"{_PART_COL}={p}") for p in sorted(set(prefixes))
                if (table / f"{_PART_COL}={p}").exists()]
        if not dirs:
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        df = (
            self.spark.read.schema(DOCUMENT_SCHEMA)
            .option("basePath", str(table))
            .parquet(*dirs)
        )
        return df.select(*DOCUMENT_SCHEMA.fieldNames())

    def _rewrite_partitions(self, scoped: str, prefixes: Sequence[str], out: DataFrame) -> None:
        """Swap in new contents for exactly the given partitions. ``out``
        must contain only rows whose id prefix is in ``prefixes`` (true for
        every caller: merges/deletes over rows read from those partitions).
        Untouched partition directories are not read, written, or moved."""
        table = Path(self._table_path(scoped))
        table.mkdir(parents=True, exist_ok=True)
        stage = self._stage_dir(table)
        try:
            self._write_partitioned(str(stage), out)
            for p in sorted(set(prefixes)):
                dst = table / f"{_PART_COL}={p}"
                src = stage / f"{_PART_COL}={p}"
                if dst.exists():
                    shutil.rmtree(dst)
                if src.exists():
                    src.rename(dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    @_serialized_mutation
    def add_documents(
        self,
        name: str,
        contents: Sequence[str],
        metadatas: Sequence[Mapping[str, str] | None] | None = None,
        embeddings: Sequence[Sequence[float] | None] | None = None,
        upsert: bool = True,
    ) -> int:
        """Bounded ingest: sanitize → content-hash id → dedup → upsert.

        The reference pipeline at ``vector_api.py:413-439`` + ``303-317``
        (sanitize, sha256→id, in-batch last-writer-wins dedup) and
        ``base.py:139-172`` (upsert)."""
        validate_ingest_bounds(contents)
        scoped = self._require(name)
        n = len(contents)
        metadatas = metadatas if metadatas is not None else [None] * n
        embeddings = embeddings if embeddings is not None else [None] * n
        # The batch is driver-bounded (≤1000 docs, validate_ingest_bounds),
        # so sanitize → sha256 id → last-writer-wins dedup run driver-side
        # via the Column twins' Python counterparts (sanitize_text_py /
        # sanitize_metadata_py, parity-tested) — the table-side merge below
        # stays distributed. This removes an entire Spark job per ingest
        # (the old batch-prep collect): the batch never needs a cluster.
        prepped: dict[str, tuple] = {}
        for c, m, e in zip(contents, metadatas, embeddings):
            content = sanitize_text_py(c)
            meta = sanitize_metadata_py(dict(m)) if m else None
            emb = validate_stored_vector(e) if e is not None else None
            # T2 in-batch dedup, last-writer-wins (vector_api.py:363-366):
            # dict assignment keeps the final writer's row per content id
            prepped[hashlib.sha256(content.encode("utf-8")).hexdigest()] = (content, meta, emb)
        dim = self._locked_dimension(scoped)
        if dim is not None and any(e is not None and len(e) != dim for _, _, e in prepped.values()):
            # postgres.py:164-172 — pgvector's VECTOR(dim) enforces this
            # in-DDL; parquet has no typed vector width, so explicit gate
            raise EngineError("collection_vector_schema_mismatch")
        # rows without a vector get one now, in one batched call, before
        # anything is written — a refused model output writes nothing
        missing = [i for i, (_, _, e) in prepped.items() if e is None]
        if missing:
            vecs = self.embed_texts(name, [prepped[i][0] for i in missing])
            for i, v in zip(missing, vecs):
                prepped[i] = prepped[i][:2] + (v,)
        self._seed_changelog_if_legacy(scoped)
        ids = list(prepped)
        # plain createDataFrame keeps the batch a LocalRelation →
        # LocalTableScan (no parallelize slices, no coalesce barrier)
        new = self.spark.createDataFrame(
            [(i, c, m, e) for i, (c, m, e) in prepped.items()], DOCUMENT_SCHEMA
        )
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        # First-write fast path (r13): when none of the touched partition
        # dirs exist yet there is nothing to merge against — planning the
        # anti-join + dup-guard against a provably-empty frame cost ~0.5 s
        # of pure overhead per fresh-collection ingest. Existence is the
        # same driver-side check _read_partitions performs.
        table = Path(self._table_path(scoped))
        existing = [p for p in prefixes if (table / f"{_PART_COL}={p}").exists()]
        if not existing:
            self._rewrite_partitions(scoped, prefixes, new)
        else:
            touched = self._read_partitions(scoped, existing)
            if not upsert:
                # T8 duplicate guard (qdrant.py:176-189) — only touched
                # partitions can hold a colliding content-hash id
                if touched.join(F.broadcast(new), "id", "left_semi").count() > 0:
                    raise EngineError("document_exists")
            merged = touched.join(F.broadcast(new), "id", "left_anti").unionByName(new)
            self._rewrite_partitions(scoped, prefixes, merged)
        self._log_mutation_rows(
            scoped, "upsert", [(i, c, m, e) for i, (c, m, e) in prepped.items()]
        )
        return len(ids)

    @staticmethod
    def _row_fingerprint(_df: DataFrame) -> F.Column:
        """Served-representation row fingerprint for the index ``ids``
        sidecar: id + content + embedding (the embedding participates —
        an in-place vector swap with unchanged text still invalidates
        incremental repair). NULLs hash stably."""
        return F.xxhash64("id", "content", "embedding")

    # -- persistent search index (build offline / serve online) -------------
    #
    # The reference's engines keep server-side text/vector indexes (pg GIN,
    # pgvector HNSW); the Spark analogue is a MATERIALIZED index the engine
    # builds offline and queries prune into: a postings table partitioned by
    # term-hash bucket (sparse search) and a layered graph (dense search).
    # Freshness is tracked against a table fingerprint so mutations flip the
    # status to stale instead of silently serving old results.

    #: families earlier builds wrote and nothing serves any more; a build
    #: removes them so a rebuilt sidecar holds only what a request reads
    _RETIRED_FAMILIES = ("vectors", "signs", "int8q", "ivfpq")

    def _index_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_index")

    def _table_fingerprint(self, scoped: str) -> str:
        return _files_fingerprint(Path(self._table_path(scoped)))

    def build_search_index(self, name: str) -> dict:
        """Materialize the search index families for a collection: the
        term postings and per-document lengths that sparse search reads,
        the HNSW-style graph that dense search descends, and the ``ids``
        sidecar that repair proves append-only growth against. Returns
        {"n_terms", "n_vectors", "fingerprint"}."""
        import json

        from vector_mcp_spark.operators.lexical import build_postings, term_bucket

        scoped = self._require(name)
        distance = self._locked_distance(scoped)
        # every index family derives from one materialized corpus (the
        # eager checkpoint), never a rescan of the table per family; the
        # version's driver copy, when it has one, builds the graph
        frame, table = self.scan_table(name)
        df = frame.localCheckpoint(eager=True)
        root = self._index_root(scoped)
        for family in self._RETIRED_FAMILIES:
            shutil.rmtree(root / family, ignore_errors=True)
        postings = build_postings(df.select("id", "content"), "id", "content").withColumn(
            "term_bucket", term_bucket("term")
        )
        postings.write.mode("overwrite").partitionBy("term_bucket").parquet(
            str(root / "postings")
        )
        # named-sparse family: the (id, dlen) L1 norms that turn the tf
        # postings into SPLADE-style sparse vectors — one tokenizer pass,
        # serve time never re-tokenizes
        from vector_mcp_spark.functions.text import tokens as _tokens

        df.select("id", F.size(_tokens(F.col("content"))).alias("dlen")).write.mode(
            "overwrite"
        ).parquet(str(root / "doclen"))
        vec_rows = df.where(F.col("embedding").isNotNull())
        # membership + per-row change sidecar: lets repair_search_index
        # prove the growth was append-only (old rows present AND unchanged
        # in their SERVED representation) without any full re-index
        df.select("id", self._row_fingerprint(df).alias("rowhash")).write.mode(
            "overwrite"
        ).parquet(str(root / "ids"))
        # counts come from the driver copy (every row has a vector and
        # content there) or the source plans, not a read-back: an EMPTY
        # collection writes only _SUCCESS markers, which parquet cannot
        # re-read without a schema
        if table is not None:
            n_terms, n_vectors = len(table.postings), len(table.ids)
            width = table.vecs.shape[1] if n_vectors else None
        else:
            n_terms = postings.select("term").distinct().count()
            n_vectors = vec_rows.count()
            width = (
                int(vec_rows.select(F.size("embedding").alias("d")).first().d)
                if n_vectors else None
            )
        # the vector width this index serves — stamped into the manifest so
        # NO serve path ever needs a per-query Spark job to learn it; the
        # catalog lock is authoritative when set, measured from the data
        # otherwise (content-only collections)
        dim_indexed: int | None = self._locked_dimension(scoped)
        if n_vectors and (dim_indexed is None or n_vectors >= 2):
            dim_indexed = width
        # the dense family: the HNSW-style layered graph (the engine-side
        # analogue of pgvector `USING hnsw`, postgres.py:182-188), served
        # by indexed_graph_search
        graph_meta, edges = self._build_graph(
            root, vec_rows.select("id", "embedding"), table, n_vectors,
            n_centroids=min(16, n_vectors), metric=distance,
        )
        fp = self._table_fingerprint(scoped)
        (root / "manifest.json").write_text(
            json.dumps(
                {
                    "fingerprint": fp,
                    "n_terms": n_terms,
                    "n_vectors": n_vectors,
                    "graph": graph_meta,
                    "distance": distance,
                    # content-only collections never lock a dimension in the
                    # catalog; serve paths fall back to this for the
                    # mis-sized-query refusal
                    "dimension": dim_indexed,
                    "build": "spark" if table is None else "driver",
                }
            )
        )
        if edges is not None:
            # the first graph query finds its serve set warm
            self._collection_graph_serve(name, scoped, distance, edges)
        return {"n_terms": n_terms, "n_vectors": n_vectors, "fingerprint": fp}

    def _build_graph(
        self,
        root: Path,
        vectors: DataFrame,
        table: DriverTable | None,
        n: int,
        n_centroids: int,
        metric: str,
    ) -> tuple[dict, list[tuple] | None]:
        """Write the graph family of an index over ``n`` vectors: an ivf
        coarse quantizer under ``metric`` (dot shares the cosine clustering;
        the graph's exact scores restore order), then the layered graph
        over it. With ``table``, the version's driver copy, both run in
        numpy (:func:`~vector_mcp_spark.operators.similarity.ivf_build_local`,
        :func:`~vector_mcp_spark.operators.graph_ann.hnsw_build_local`) and
        the family is written from the driver with no Spark job; without
        it Spark's ``ivf_build`` and ``hnsw_build`` run over the (id,
        embedding) frame ``vectors``. Both give the same edges. Returns the
        graph meta and the driver build's (layer, src, dst) rows (None for
        a Spark build). Under 2 vectors there is no graph to build."""
        if n < 2:
            return {"entry": None, "top_layer": 0}, None
        from vector_mcp_spark.operators.graph_ann import hnsw_build, hnsw_build_local
        from vector_mcp_spark.operators.similarity import ivf_build, ivf_build_local

        ivf_metric = "l2" if metric == "l2" else "cosine"
        # size the hash-bucket family to the collection: a tiny corpus
        # spread over 16 buckets yields singleton blocks → no candidate
        # pairs → a disconnected graph the beam can't traverse; ~128 rows
        # per bucket keeps small collections fully connected and large
        # ones capped (the sliver inside the build takes over past 2048
        # vectors)
        n_hash_buckets = min(16, max(1, n // 128))
        if table is None:
            assigned, _ = ivf_build(
                vectors, n_centroids=n_centroids, id_col="id", max_iter=2, metric=ivf_metric
            )
            edges, meta = hnsw_build(
                assigned, id_col="id", n_hash_buckets=n_hash_buckets, metric=metric
            )
            edges.write.mode("overwrite").parquet(str(root / "graph"))
            return meta, None
        import pyarrow as pa
        import pyarrow.parquet as pq

        cluster, _ = ivf_build_local(table, n_centroids=n_centroids, max_iter=2, metric=ivf_metric)
        at, meta = hnsw_build_local(table, cluster, n_hash_buckets=n_hash_buckets, metric=metric)
        layer = at[:, 0].tolist()
        src, dst = ([table.ids[i] for i in at[:, c].tolist()] for c in (1, 2))
        graph = root / "graph"
        shutil.rmtree(graph, ignore_errors=True)
        graph.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "layer": pa.array(layer, pa.int32()),
                "src": pa.array(src, pa.string()),
                "dst": pa.array(dst, pa.string()),
            }),
            str(graph / "part-00000.parquet"),
        )
        (graph / "_SUCCESS").touch()
        return meta, list(zip(layer, src, dst))

    def index_status(self, name: str) -> str:
        """'absent' | 'fresh' | 'repaired' | 'stale' — stale when the table
        changed after the index was built (any mutation rewrites partition
        files); 'repaired' when the change was covered by an incremental
        :meth:`repair_search_index` instead of a full rebuild (every family
        serves, but a rebuild restores the build-quality graph)."""
        scoped = self._require(name)
        manifest = self._index_root(scoped) / "manifest.json"
        if not manifest.exists():
            return "absent"
        import json

        meta = json.loads(manifest.read_text())
        if "graph" not in meta:
            # a pre-graph index can't serve dense search — report stale so
            # status-polling automation rebuilds it. Keys of families that
            # are no longer built (``ivfpq``, ``quantization``) are ignored,
            # so an index written before their removal stays servable.
            return "stale"
        if (meta.get("distance") or "cosine") != self._locked_distance(scoped):
            # set_collection_distance switched the geometry out from under
            # the built families — the data didn't change but every score
            # did; refuse to serve until a rebuild re-derives the index
            return "stale"
        fp = self._table_fingerprint(scoped)
        if meta["fingerprint"] == fp:
            return "fresh"
        if meta.get("repaired_fingerprint") == fp:
            return "repaired"
        return "stale"

    @_serialized_mutation
    def repair_search_index(self, name: str) -> dict:
        """Incrementally extend the index families after APPEND-ONLY growth
        — the alternative to a full :meth:`build_search_index` when a batch
        landed on an indexed collection: new postings and document lengths
        are appended, and the graph gets the batch HNSW-insert repair
        (:func:`~vector_mcp_spark.operators.graph_ann.hnsw_repair` — layer
        draws + beam-searched top-M links against the frozen graph).

        Cost, honestly: the append-only PROOF is one verification pass over
        the table + sidecar (two equi-joins and a postings re-count — linear
        scans, embarrassingly parallel); the INDEX work after it is bounded
        by the batch. What never reruns is the expensive part of a rebuild —
        corpus-wide candidate pair generation and NN-descent.

        Refuses with ``index_repair_requires_rebuild`` when the growth was
        NOT append-only (an indexed row vanished or changed its served
        representation — detected against the ``ids`` sidecar) or when the
        index predates the sidecar / has no graph family. A fresh index is
        a no-op. After repair :meth:`index_status` reports ``'repaired'``
        (serving resumes; a rebuild restores build-quality edge lists).

        Serialized with the table mutations: the repair reads the table and
        stamps the covering fingerprint, so a mutation interleaving between
        the two would stamp coverage it never indexed."""
        import json

        from vector_mcp_spark.operators.graph_ann import hnsw_repair
        from vector_mcp_spark.operators.lexical import build_postings, term_bucket

        scoped = self._require(name)
        root = self._index_root(scoped)
        manifest_path = root / "manifest.json"
        if not manifest_path.exists():
            raise EngineError(
                "index_not_fresh", detail="no index to repair — build_search_index first"
            )
        manifest = json.loads(manifest_path.read_text())
        status = self.index_status(name)
        if status in ("fresh", "repaired"):
            return {"repaired": 0, "n_vectors": manifest.get("n_vectors", 0)}
        graph_meta = manifest.get("graph") or {}
        if "graph" not in manifest or not (root / "ids").exists():
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="index predates incremental repair; rebuild",
            )
        distance = manifest.get("distance") or "cosine"
        if distance != self._locked_distance(scoped):
            # repair extends families; it cannot re-derive them under a new
            # geometry — that is exactly what a rebuild is for
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="collection distance switched since build; rebuild",
            )
        if graph_meta.get("entry") is None:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="collection had <2 vectors at build; rebuild",
            )
        df = self.read(name).localCheckpoint(eager=True)  # membership + both phases
        indexed = self._read_family(root / "ids", _IDS_SCHEMA)
        removed = indexed.join(df.select("id"), "id", "left_anti").count()
        if removed:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail=f"{removed} indexed row(s) deleted since build",
            )
        fingerprinted = df.select("id", self._row_fingerprint(df).alias("rowhash"))
        changed = (
            fingerprinted.join(indexed, "id")
            .where(fingerprinted["rowhash"] != indexed["rowhash"])
            .count()
        )
        if changed:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail=f"{changed} indexed row(s) changed since build",
            )
        new = df.join(indexed, "id", "left_anti").localCheckpoint(eager=True)
        n_new = new.count()
        if n_new == 0:
            # logically identical table in rewritten files (e.g. a no-op
            # upsert): stamp coverage, nothing to index
            manifest["repaired_fingerprint"] = self._table_fingerprint(scoped)
            manifest_path.write_text(json.dumps(manifest))
            return {"repaired": 0, "n_vectors": manifest.get("n_vectors", 0)}

        new_postings = build_postings(new.select("id", "content"), "id", "content").withColumn(
            "term_bucket", term_bucket("term")
        )
        new_postings.write.mode("append").partitionBy("term_bucket").parquet(
            str(root / "postings")
        )
        if (root / "doclen").exists():
            # sparse-family twin of the postings append; a pre-family index
            # skips it (indexed_sparse_search refuses until a rebuild, so a
            # partial doclen table can never serve)
            from vector_mcp_spark.functions.text import tokens as _tokens

            new.select("id", F.size(_tokens(F.col("content"))).alias("dlen")).write.mode(
                "append"
            ).parquet(str(root / "doclen"))
        new_emb = new.where(F.col("embedding").isNotNull())
        n_new_vecs = new_emb.count()
        if n_new_vecs:
            old_vecs = (
                df.join(indexed.select("id"), "id", "left_semi")
                .where(F.col("embedding").isNotNull())
                .select("id", "embedding")
            )
            new_edges, graph_meta = hnsw_repair(
                new_emb.select("id", "embedding"),
                old_vecs,
                self._read_family(root / "graph", _GRAPH_SCHEMA),
                graph_meta["entry"],
                int(graph_meta.get("top_layer", 0)),
                id_col="id",
                metric=distance,
            )
            new_edges.write.mode("append").parquet(str(root / "graph"))
        fingerprinted.join(indexed.select("id"), "id", "left_anti").write.mode(
            "append"
        ).parquet(str(root / "ids"))
        # n_terms is a distinct over the merged postings — a linear scan of
        # the postings index (its OUTPUT is vocabulary-bounded, the scan is
        # not)
        n_terms = (
            self._read_family(root / "postings", _POSTINGS_SCHEMA)
            .select("term")
            .distinct()
            .count()
        )
        manifest.update(
            {
                "n_terms": n_terms,
                "n_vectors": int(manifest.get("n_vectors", 0)) + n_new_vecs,
                "graph": graph_meta,
                "repaired_fingerprint": self._table_fingerprint(scoped),
            }
        )
        manifest_path.write_text(json.dumps(manifest))
        return {
            "repaired": n_new,
            "n_vectors": int(manifest["n_vectors"]),
            "n_terms": n_terms,
        }

    @staticmethod
    def _metric_order(metric: str, score, tie) -> list:
        """Best-first ordering under the collection's distance config:
        cosine/dot desc, l2 asc with NULLs last (a NULL score must never
        outrank a real one — ADVICE r11)."""
        if metric == "l2":
            return [score.asc_nulls_last(), tie.asc()]
        return [score.desc(), tie.asc()]

    # -- named multi-vector collections (qdrant named-vectors parity) -------
    #
    # A point can carry several NAMED dense vectors next to the default
    # embedding column ("text" + "image" towers, a Matryoshka head, a
    # reranker vector), each with its own dimension and distance and its
    # own graph index family. qdrant declares these as the vectors_config
    # map at create (qdrant.py:122-127 pins one; the client API takes the
    # map) and searches with using=<name>. Storage here is one (id, vector)
    # parquet sidecar per name under <table>_named/ — the document table
    # never widens, and a name's index/search touch only its sidecar.

    _NAMED_RE = __import__("re").compile(r"^[A-Za-z0-9_]{1,64}$")

    def _named_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_named")

    @classmethod
    def _validate_vectors_config(cls, vectors_config):
        if vectors_config is None:
            return None
        if not isinstance(vectors_config, Mapping) or not vectors_config:
            raise EngineError(
                "named_vectors_config_invalid",
                detail="need a non-empty {name: {dimension?, distance?}} map",
            )
        out = {}
        for vname, cfg in vectors_config.items():
            if not isinstance(vname, str) or not cls._NAMED_RE.match(vname):
                raise EngineError(
                    "named_vectors_config_invalid", detail=f"bad vector name {vname!r}"
                )
            cfg = dict(cfg or {})
            dim = cfg.get("dimension")
            if dim is not None and (not isinstance(dim, int) or dim <= 0):
                raise EngineError(
                    "named_vectors_config_invalid", detail=f"bad dimension for {vname!r}"
                )
            out[vname] = {
                "dimension": dim,
                "distance": validate_metric(cfg.get("distance", "cosine")),
            }
        return out

    def named_vectors_config(self, name: str) -> dict:
        """The locked named-vectors map (empty when none was declared)."""
        scoped = self._require(name)
        cfg_path = self._named_root(scoped) / "config.json"
        if not cfg_path.exists():
            return {}
        import json

        return json.loads(cfg_path.read_text())

    def _named_cfg(self, scoped: str, vector_name: str) -> dict:
        import json

        cfg_path = self._named_root(scoped) / "config.json"
        cfg = json.loads(cfg_path.read_text()) if cfg_path.exists() else {}
        if vector_name not in cfg:
            raise EngineError(
                "named_vector_unknown",
                detail=f"{vector_name!r} not declared; have {sorted(cfg)}",
            )
        return cfg[vector_name]

    @_serialized_mutation
    def put_named_vectors(self, name: str, vector_name: str, vectors: Mapping[str, Sequence[float]]) -> int:
        """Upsert ``{point_id: vector}`` into the named sidecar (the qdrant
        update_vectors shape). Every id must be an existing point —
        refusing beats silently storing orphan vectors — and every vector
        must match the name's locked dimension. Batch-bounded like
        add_documents; the merge is an anti-join + union over the sidecar."""
        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        if not isinstance(vectors, Mapping) or not vectors:
            raise EngineError("named_vectors_invalid", detail="need {id: vector}")
        from vector_mcp_spark.validation import MAX_INGEST_DOCS

        # the add_documents batch bound, applied to the COUNT (the byte
        # caps there measure document text; ids/vectors have their own
        # width gates below)
        if len(vectors) > MAX_INGEST_DOCS:
            raise EngineError("ingest_too_many_documents")
        dim = cfg.get("dimension")
        rows = []
        for pid, vec in vectors.items():
            pid = str(pid)
            vec = validate_stored_vector(vec)
            if dim is not None and len(vec) != dim:
                raise EngineError(
                    "collection_vector_schema_mismatch",
                    detail=f"{vector_name!r} locked at {dim}, got {len(vec)}",
                )
            rows.append((pid, vec))
        batch = self.spark.createDataFrame(rows, _NAMED_SCHEMA)
        missing = batch.join(self.read(name).select("id"), "id", "left_anti").count()
        if missing:
            raise EngineError(
                "point_not_found", detail=f"{missing} id(s) not in the collection"
            )
        data = self._named_root(scoped) / vector_name / "data"
        if (data / "_SUCCESS").exists():
            merged = (
                self._read_named(data)
                .join(F.broadcast(batch), "id", "left_anti")
                .unionByName(batch)
                .localCheckpoint(eager=True)  # sever self-read before overwrite
            )
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(str(data))
        return len(rows)

    def _read_named(self, data: Path) -> DataFrame:
        return self.spark.read.schema(_NAMED_SCHEMA).parquet(str(data))

    def _named_fingerprint(self, scoped: str, vector_name: str) -> str:
        return _files_fingerprint(self._named_root(scoped) / vector_name / "data")

    def build_named_vector_index(self, name: str, vector_name: str) -> dict:
        """Materialize the name's graph index family under ITS distance
        (the per-name analogue of the default embedding's graph family):
        IVF coarse quantizer + layered graph over the sidecar vectors
        (:meth:`_build_graph`), a per-name manifest stamped with the
        sidecar fingerprint. Collections with < 2 vectors under the name
        record an entry-less graph (served queries answer empty, same as
        the default family)."""
        import json

        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        root = self._named_root(scoped) / vector_name
        data = root / "data"
        listed, table, n = None, None, 0
        if (data / "_SUCCESS").exists():
            listed = self._listing(
                (scoped, vector_name),
                self._named_fingerprint(scoped, vector_name),
                lambda: self._read_named(data),
            )
            table = self._driver_table(listed, "vector", None)
            n = len(table.ids) if table is not None else listed.frame.count()
        graph_meta, edges = self._build_graph(
            root,
            None if listed is None else listed.frame.select("id", F.col("vector").alias("embedding")),
            table, n, n_centroids=min(16, max(1, n // 4)), metric=cfg["distance"],
        )
        (root / "manifest.json").write_text(
            json.dumps(
                {
                    "fingerprint": self._named_fingerprint(scoped, vector_name),
                    "n_vectors": n,
                    "graph": graph_meta,
                    "distance": cfg["distance"],
                    "build": "spark" if table is None else "driver",
                }
            )
        )
        if edges is not None:
            self._named_graph_serve(root, listed, cfg["distance"], edges)
        return {"n_vectors": n}

    def named_vector_index_status(self, name: str, vector_name: str) -> str:
        scoped = self._require(name)
        self._named_cfg(scoped, vector_name)
        import json

        mpath = self._named_root(scoped) / vector_name / "manifest.json"
        if not mpath.exists():
            return "absent"
        meta = json.loads(mpath.read_text())
        return (
            "fresh"
            if meta.get("fingerprint") == self._named_fingerprint(scoped, vector_name)
            else "stale"
        )

    def named_vector_search(
        self,
        name: str,
        vector_name: str,
        question_vec,
        k: int = 5,
        ef: int = 48,
        indexed: bool | None = None,
    ) -> DataFrame:
        """Search one NAMED vector (qdrant ``query_points(using=<name>)``):
        scores under the name's locked distance, returns (id, content,
        score) best-first. ``indexed=None`` auto-routes — the name's graph
        family serves when built and fresh, the exact scan otherwise;
        ``indexed=True`` requires a fresh index (``index_not_fresh``);
        ``indexed=False`` forces the exact scan."""
        import json

        from vector_mcp_spark.operators.semantic import semantic_topk

        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        k = validate_number_results(k)
        # NaN/Inf/empty refuse before routing: neither the scan nor the
        # graph route has a literal form for them
        question_vec = validate_query_vector(question_vec)
        dim = cfg.get("dimension")
        if dim is not None and len(question_vec) != dim:
            raise EngineError(
                "collection_vector_schema_mismatch",
                detail=f"query dimension {len(question_vec)} != locked {dim}",
            )
        metric = cfg["distance"]
        root = self._named_root(scoped) / vector_name
        data = root / "data"
        empty = self.spark.createDataFrame([], "id string, content string, score double")
        if not (data / "_SUCCESS").exists():
            return empty
        status = self.named_vector_index_status(name, vector_name)
        use_index = status == "fresh" if indexed is None else indexed
        if indexed and status != "fresh":
            raise EngineError("index_not_fresh")
        listed = self._listing(
            (scoped, vector_name),
            self._named_fingerprint(scoped, vector_name),
            lambda: self._read_named(data),
        )
        vecs = listed.frame
        if use_index and indexed is None:
            meta_peek = json.loads((root / "manifest.json").read_text())
            if (meta_peek.get("graph") or {}).get("entry") is None:
                # <2 vectors at build recorded an entry-less graph; the
                # auto router's job is the best serving route, and here
                # the exact scan answers while the beam cannot
                use_index = False
        if not use_index:
            joined = self.read(name).select("id", "content").join(
                vecs.select("id", F.col("vector").alias("_nv")), "id"
            )
            return semantic_topk(
                joined, question_vec, k, id_col="id",
                emb_col="_nv", payload_cols=("content",), metric=metric,
            ).select("id", "content", "score")
        meta = json.loads((root / "manifest.json").read_text())
        if (meta.get("graph") or {}).get("entry") is None:
            return empty
        # the warm serve set answers in-process when it fits the driver
        # bound, else the one-query SQL descent over its views — the same
        # rows either way. The content join stays: this index's freshness
        # covers the named vectors, not the main table's content.
        serve = self._named_graph_serve(root, listed, metric)
        args = (serve, meta["graph"]["entry"], question_vec, k, ef, metric)
        rows = self._driver_graph_hits(*args)
        hits = self._sql_graph_hits(*args) if rows is None else self._local_hits(rows)
        return (
            self.read(name)
            .join(F.broadcast(hits.select("id", "score")), "id")
            .select("id", "content", "score")
            .orderBy(*self._metric_order(metric, F.col("score"), F.col("id")))
        )

    def _indexed_sparse_hits(self, scoped: str, query_weights, k: int) -> DataFrame:
        """(id, score) sparse leg from the persisted named-sparse family —
        postings bucket-pruned to the query's terms (partition pruning at
        the scan), L1 norms from the doclen table; nothing re-tokenizes."""
        import hashlib as _hashlib

        from vector_mcp_spark.operators.vecapi import indexed_sparse_dot_topk

        query_weights = validate_sparse_weights(query_weights)
        root = self._index_root(scoped)
        if not (root / "doclen").exists():
            raise EngineError(
                "index_not_fresh", detail="sparse family missing; rebuild"
            )
        buckets = sorted(
            {
                _hashlib.sha256(str(t).casefold().encode("utf-8")).hexdigest()[:2]
                for t, _ in query_weights
            }
        )
        postings = self._read_family(root / "postings", _POSTINGS_SCHEMA).where(
            F.col("term_bucket").isin(buckets)
        )
        doclens = self._read_family(root / "doclen", _DOCLEN_SCHEMA)
        return indexed_sparse_dot_topk(postings, doclens, query_weights, k, id_col="id")

    def indexed_sparse_search(self, name: str, query_weights, k: int = 5) -> DataFrame:
        """Serve a sparse-vector query (``[(term, weight), ...]``) from the
        persisted named-sparse family — the qdrant named-sparse-vector
        search next to the dense index families. Same staleness contract
        as every indexed search. Returns (id, content, score) best-first."""
        scoped = self._require(name)
        k = validate_number_results(k)
        if self.index_status(name) not in ("fresh", "repaired"):
            raise EngineError("index_not_fresh")
        hits = self._indexed_sparse_hits(scoped, query_weights, k)
        return (
            self.read(name)
            .join(F.broadcast(hits), "id")
            .select("id", "content", "score")
            .orderBy(F.col("score").desc(), F.col("id").asc())
        )

    def indexed_graph_search(
        self, name: str, question_vec, k: int = 5, ef: int | None = 48
    ) -> DataFrame:
        """Serve a vector query from the layered HNSW-style graph index
        (operators/graph_ann.py): beam-descend the persisted edge table
        from the index's entry point, exact-cosine re-rank the final beam.
        Refuses when the index is absent or stale — same contract as the
        sparse search. Collections with < 2 vectors have
        no graph; the query answers empty (nothing to traverse). A warm
        serve set within the session broadcast bound answers in-process
        (no Spark job); a larger one runs the prepared SQL descent.
        ``ef=None`` is :func:`default_beam_width` of the validated ``k``."""
        import json

        scoped = self._require(name)
        k = validate_number_results(k)
        ef = default_beam_width(k) if ef is None else ef
        question_vec = validate_query_vector(question_vec)
        dim = self._locked_dimension(scoped)
        if dim is not None and len(question_vec) != dim:
            # zip_with against a shorter/longer query pads with NULL, making
            # every cosine NULL — the beam and top-k would return k arbitrary
            # rows with NULL scores instead of an error (ADVICE r9) — refuse
            # with the same stable code the ingest gate uses for width
            # violations.
            raise EngineError(
                "collection_vector_schema_mismatch",
                detail=f"query dimension {len(question_vec)} != locked {dim}",
            )
        if self.index_status(name) not in ("fresh", "repaired"):
            raise EngineError("index_not_fresh")
        manifest = json.loads((self._index_root(scoped) / "manifest.json").read_text())
        if "graph" not in manifest:
            # normally unreachable — index_status already reports 'stale'
            # for a pre-graph manifest — but the manifest is re-read here,
            # so this guards the race where it is rewritten between the two
            # reads; refusing beats serving silently empty results
            raise EngineError("index_not_fresh", detail="graph family missing; rebuild")
        if dim is None and manifest.get("dimension") is not None:
            # content-only collections lock nothing in the catalog, but the
            # index recorded its width at build — a mis-sized query would
            # otherwise score every pair NULL and answer garbage/empty
            if len(question_vec) != int(manifest["dimension"]):
                raise EngineError(
                    "collection_vector_schema_mismatch",
                    detail=f"query dimension {len(question_vec)} != indexed {manifest['dimension']}",
                )
        meta = manifest.get("graph") or {}
        if meta.get("entry") is None:
            return self._local_hits([])
        metric = manifest.get("distance") or "cosine"
        # a warm serve set inside the driver bound answers in-process from
        # its collected copy — no table read, no Spark job (the freshness
        # checks above cover the table the copy's content came from);
        # otherwise the one-query SQL descent over its views
        serve = self._collection_graph_serve(name, scoped, metric)
        args = (serve, meta["entry"], question_vec, k, ef, metric)
        rows = self._driver_graph_hits(*args)
        if rows is not None:
            return self._local_hits(rows)
        return (
            self.read(name)
            .join(F.broadcast(self._sql_graph_hits(*args)), "id")
            .select("id", "content", "score")
            .orderBy(*self._metric_order(metric, F.col("score"), F.col("id")))
        )

    def _collection_graph_serve(
        self, name: str, scoped: str, metric: str, edges: Sequence[tuple] | None = None
    ) -> _GraphServe:
        """The collection's cached serve set: its graph over the served
        (id, embedding, content) rows that have a vector."""

        def source() -> tuple[DataFrame, DriverTable | None]:
            frame, table = self.scan_table(name)
            corpus = frame.where(F.col("embedding").isNotNull())
            return corpus.select("id", "embedding", "content"), table

        return self._graph_serve_set(self._index_root(scoped), metric, source, edges)

    def _named_graph_serve(
        self, root: Path, listed: _Listed, metric: str, edges: Sequence[tuple] | None = None
    ) -> _GraphServe:
        """A named vector's cached serve set, over its listed sidecar."""

        def source() -> tuple[DataFrame, DriverTable | None]:
            corpus = listed.frame.select("id", F.col("vector").alias("embedding"))
            return corpus, self._driver_table(listed, "vector", None)

        return self._graph_serve_set(root, metric, source, edges)

    def _driver_graph_hits(
        self, serve: _GraphServe, entry, question_vec, k: int, ef: int, metric: str
    ) -> list[tuple] | None:
        """(id, content, score) rows of the in-process descent over the
        serve set's driver copy, in :meth:`_metric_order`'s order (rounded
        score, then id); content is None unless the copy carries it. None
        when there is no driver copy or the query has no in-process twin."""
        from vector_mcp_spark.operators.graph_ann import GRAPH_METRICS, ann_hnsw_driver_topk

        if serve.driver is None:
            return None
        hits = ann_hnsw_driver_topk(
            serve.driver, entry, question_vec, k=k, ef=ef, metric=metric
        )
        if hits is None:
            return None
        payload, pos = serve.driver.payload, serve.driver.rows
        rows = [
            (node, None if payload is None else payload[pos[node]], score)
            for _, node, score in hits
        ]
        sign = -1.0 if GRAPH_METRICS[metric] else 1.0
        rows.sort(key=lambda r: (sign * r[2], r[0]))
        return rows

    def _sql_graph_hits(
        self, serve: _GraphServe, entry, question_vec, k: int, ef: int, metric: str
    ) -> DataFrame:
        """(id, score) of the one-query SQL descent over the serve set's
        views, without ``exclude_self`` (the query is not a corpus row; a
        document whose id happens to equal the synthetic query id must
        still be returnable) — no query-checkpoint job (r14, guide §1/§4)."""
        from vector_mcp_spark.operators.graph_ann import ann_hnsw_prepared_sql

        ss = serve.sql
        return self.spark.sql(
            ann_hnsw_prepared_sql(
                ss.nodes_view, ss.edges_view, entry, [("__q__", question_vec)], k=k,
                ef=ef, metric=metric, broadcast_edges=ss.bcast_edges,
            )
        ).select(F.col("neighbor_id").alias("id"), "score")

    def _local_hits(self, rows: Sequence[tuple], columns: str = HIT_COLUMNS) -> DataFrame:
        """``rows``, in order, as a local relation with the schema
        ``columns`` (``"name TYPE, ..."``; STRING, INT or DOUBLE): an
        inline VALUES of literals folds to a LocalRelation, which plans and
        collects with no Spark job (``createDataFrame`` of a list is a
        Python RDD — a job — and an ``orderBy`` on the result would add
        three). None renders as NULL. Strings enter as UTF-8 hex literals:
        only hex digits reach the SQL text, so no escaping rule or parser
        setting can alter them, and unlike named parameters they cost no
        py4j call per value. Doubles must be finite. The frame keeps the
        rows as ``collect()`` gives them, for :func:`hit_rows`."""
        from pyspark.sql import Row

        cols = [c.split() for c in columns.split(",")]
        cast = {"STRING": str, "INT": int, "DOUBLE": float}
        typed = [
            [None if v is None else cast[kind](v) for v, (_, kind) in zip(row, cols)]
            for row in rows
        ]

        def lit(v, kind: str) -> str:
            if v is None:
                return "NULL"
            if kind == "STRING":
                return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
            return str(v) if kind == "INT" else f"{v!r}D"

        values = ", ".join(
            "(" + ", ".join(lit(v, kind) for v, (_, kind) in zip(row, cols)) + ")"
            for row in typed
        )
        nulls = "(" + ", ".join("NULL" for _ in cols) + ")"
        df = self.spark.sql(
            "SELECT " + ", ".join(f"CAST({c} AS {kind}) AS {c}" for c, kind in cols)
            + f" FROM VALUES {values or nulls} AS t({', '.join(c for c, _ in cols)})"
            + ("" if rows else " WHERE false")
        )
        make = Row(*(c for c, _ in cols))
        df._hit_rows = [make(*row) for row in typed]
        return df

    def indexed_filtered_search(
        self,
        name: str,
        question_vec,
        payload_filter: dict,
        k: int = 5,
        ef: int | None = 48,
        selectivity_threshold: float = 0.25,
    ) -> DataFrame:
        """Filtered vector search over the persisted graph index — the
        filter+vector query a qdrant user issues most (its planner picks
        between a filtered exact scan and the HNSW traversal by estimated
        cardinality; the engine routes the same way via
        :func:`~vector_mcp_spark.operators.graph_ann.ann_filtered_topk_routed`).

        ``payload_filter`` is the must-match map ``{metadata_key: value}``
        (qdrant ``Filter(must=[FieldCondition(...)])`` shape): a row
        qualifies when EVERY pair matches its metadata. A value may also be
        a qdrant ``Range`` dict over ``gt``/``gte``/``lt``/``lte`` (any
        subset, at least one — the key's NUMERIC metadata must fall in the
        interval, strict bounds excluded) or a qdrant ``MatchAny`` dict
        ``{"any": [v1, v2, ...]}`` (the key equals any listed value).
        Every condition kind is served from its FRESH payload index when
        one exists — equality/MatchAny from the hex-value partitions of
        :meth:`create_payload_index`, ranges from the band partitions of
        :meth:`create_payload_range_index` — and falls back to the
        (always correct) metadata scan otherwise.
        When a FRESH range payload index exists for that key
        (:meth:`create_payload_range_index`), the allowed set is served
        from its band partitions — only the bands overlapping [lo, hi]
        open — instead of scanning every row's metadata map; a stale or
        absent index falls back to the scan (accelerator contract: never
        wrong, at worst unaccelerated). Refuses empty or non-mapping
        filters with ``payload_filter_invalid``, malformed ranges with
        ``payload_range_invalid``, mis-sized queries with
        ``collection_vector_schema_mismatch``, and absent/stale vector
        indexes with ``index_not_fresh`` — the same staleness contract as
        every indexed search. Returns (id, content, score) best-first;
        < 2 indexed vectors answers empty. ``ef=None`` is
        :func:`default_beam_width` of the validated ``k``."""
        import json

        from vector_mcp_spark.operators.graph_ann import ann_filtered_topk_routed

        if not isinstance(payload_filter, dict) or not payload_filter:
            raise EngineError(
                "payload_filter_invalid", detail="need a non-empty {key: value} map"
            )
        range_filters: dict[str, dict[str, float]] = {}
        any_filters: dict[str, list[str]] = {}
        for key, value in payload_filter.items():
            self._validate_payload_key(key)
            if isinstance(value, dict):
                if set(value) == {"any"}:
                    vals = value["any"]
                    if (
                        not isinstance(vals, (list, tuple))
                        or not vals
                        or len(vals) > 256  # wire-bounded like every input
                        or not all(isinstance(v, (str, int, float))
                                   and not isinstance(v, bool) for v in vals)
                    ):
                        raise EngineError(
                            "payload_filter_invalid",
                            detail="'any' needs a non-empty list of <=256 scalars",
                        )
                    any_filters[key] = [str(v) for v in vals]
                elif set(value) <= set(self._RANGE_BOUND_KEYS):
                    range_filters[key] = self._validate_range_bounds(**value)
                else:
                    raise EngineError(
                        "payload_range_invalid",
                        detail="condition keys must be gt/gte/lt/lte or 'any', "
                        f"got {sorted(value)}",
                    )
        scoped = self._require(name)
        k = validate_number_results(k)
        ef = default_beam_width(k) if ef is None else ef
        question_vec = validate_query_vector(question_vec)
        dim = self._locked_dimension(scoped)
        if dim is not None and len(question_vec) != dim:
            raise EngineError(
                "collection_vector_schema_mismatch",
                detail=f"query dimension {len(question_vec)} != locked {dim}",
            )
        if self.index_status(name) not in ("fresh", "repaired"):
            raise EngineError("index_not_fresh")
        manifest = json.loads((self._index_root(scoped) / "manifest.json").read_text())
        if "graph" not in manifest:
            # guards the manifest-rewritten-between-reads race exactly like
            # indexed_graph_search: refusing beats silently answering empty
            # for the same condition (ADVICE r11)
            raise EngineError("index_not_fresh", detail="graph family missing; rebuild")
        if dim is None and manifest.get("dimension") is not None:
            # same manifest-width refusal as indexed_graph_search
            if len(question_vec) != int(manifest["dimension"]):
                raise EngineError(
                    "collection_vector_schema_mismatch",
                    detail=f"query dimension {len(question_vec)} != indexed {manifest['dimension']}",
                )
        meta = manifest.get("graph") or {}
        df = self.read(name)
        if meta.get("entry") is None:
            return self.spark.createDataFrame([], "id string, content string, score double")
        cond = None
        indexed_ids = None  # semi-join side from fresh payload indexes

        def _use_index(served: "DataFrame | None") -> bool:
            nonlocal indexed_ids
            if served is None:
                return False
            indexed_ids = (
                served if indexed_ids is None
                else indexed_ids.join(served, "id", "left_semi")
            )
            return True

        for key, value in payload_filter.items():
            if key in range_filters:
                # fresh range index: the predicate prunes into band
                # partitions instead of scanning metadata maps
                bounds = range_filters[key]
                if _use_index(self._range_allowed_ids(scoped, key, bounds)):
                    continue
                c = self._range_scan_cond(
                    F.col("metadata").getItem(key).try_cast("double"), bounds
                )
            elif key in any_filters:
                # MatchAny: fresh equality index opens one hex-value
                # partition per listed value
                vals = any_filters[key]
                if _use_index(self._equality_allowed_ids(scoped, key, vals)):
                    continue
                c = F.col("metadata").getItem(key).isin(vals)
            else:
                # plain equality (qdrant MatchValue): same index, one value
                if _use_index(self._equality_allowed_ids(scoped, key, [str(value)])):
                    continue
                c = F.col("metadata").getItem(key) == F.lit(str(value))
            cond = c if cond is None else (cond & c)
        allowed = df.where(cond).select("id") if cond is not None else None
        if indexed_ids is not None:
            allowed = (
                indexed_ids if allowed is None
                else allowed.join(indexed_ids, "id", "left_semi")
            )
        corpus = df.where(F.col("embedding").isNotNull()).select("id", "embedding")
        query = self.spark.createDataFrame(
            [("__q__", question_vec)], "id string, embedding array<float>"
        )
        metric = manifest.get("distance") or "cosine"
        hits, _regime = ann_filtered_topk_routed(
            query, corpus, None, meta["entry"], allowed, k, ef=ef, id_col="id",
            exclude_self=False,  # the query is synthetic, not a corpus row
            selectivity_threshold=selectivity_threshold,
            # the manifest recorded the corpus cardinality at build time
            # (repair keeps it current) — a served query must not pay a
            # corpus-wide count for the selectivity estimate
            n_total=int(manifest["n_vectors"]),
            metric=metric,
            # the graph regime descends the cached serve set (built on a
            # miss), never a per-query graph re-read and re-checkpoint
            serve_set=lambda: self._collection_graph_serve(name, scoped, metric).sql,
        )
        return (
            df.join(F.broadcast(hits.select(F.col("neighbor_id").alias("id"), "score")), "id")
            .select("id", "content", "score")
            .orderBy(*self._metric_order(metric, F.col("score"), F.col("id")))
        )

    @_serialized_mutation
    def update_documents(self, name: str, df: DataFrame) -> None:
        """T7 upsert from a prepared Document-schema DataFrame (may be large —
        prefixes are aggregated distributed-side, ≤256 distinct values)."""
        scoped = self._require(name)
        # Materialize the input ONCE (ADVICE r7): a df derived from reading
        # this same collection (a re-embed pipeline) would otherwise be
        # re-evaluated for the changelog append AFTER the rewrite deleted
        # the parquet files it reads — and even a safe df would recompute
        # its plan 3-4× (prefixes, merge, changelog). Rows without a
        # vector are embedded through the collection's seam on the way in.
        from pyspark.errors import PythonException

        from vector_mcp_spark.functions.embedder import embed_documents

        seam = functools.partial(_embed_batch, self._embed_model, self._locked_dimension(scoped))
        df = embed_documents(df.select(*DOCUMENT_SCHEMA.fieldNames()), model=seam)
        try:
            df = df.localCheckpoint(eager=True)
        except PythonException as e:
            # the seam's refusal, raised inside the embed closure, keeps
            # its stable code
            refused = re.search(r"EngineError: ([a-z][a-z0-9_]{0,63})", str(e))
            if refused:
                raise EngineError(refused.group(1)) from None
            raise
        self._check_dimension(scoped, df)
        self._seed_changelog_if_legacy(scoped)
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_upsert

            merge_upsert(self.spark, self._table_format, self._table_path(scoped), df)
            self._log_mutation_df(scoped, "upsert", df)
            return
        prefixes = [
            r.p for r in df.select(_prefix_of(F.col("id")).alias("p")).distinct().collect()
        ]
        touched = self._read_partitions(scoped, prefixes)
        merged = touched.join(df.select("id"), "id", "left_anti").unionByName(df)
        self._rewrite_partitions(scoped, prefixes, merged)
        self._log_mutation_df(scoped, "upsert", df)

    @_serialized_mutation
    def delete_documents(self, name: str, ids: Sequence[str]) -> None:
        # T9 (base.py:174-187) — anti-join rewrite of ONLY the partitions the
        # ids hash into (prefixes known driver-side, no job needed)
        scoped = self._require(name)
        self._seed_changelog_if_legacy(scoped)
        ids = [str(i) for i in ids]
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_delete

            merge_delete(self.spark, self._table_format, self._table_path(scoped), ids_df)
            self._log_mutation_rows(scoped, "delete", [(i, None, None, None) for i in ids])
            return
        touched = self._read_partitions(scoped, prefixes)
        self._rewrite_partitions(
            scoped, prefixes, touched.join(F.broadcast(ids_df), "id", "left_anti")
        )
        self._log_mutation_rows(scoped, "delete", [(i, None, None, None) for i in ids])

    def get_documents_by_ids(
        self, name: str, ids: Sequence[str] | None = None, include: Sequence[str] | None = None
    ) -> DataFrame:
        # T10 (base.py:233-253); ids=None → full scan (chromadb.py:186-237).
        # With ids, only the partitions they hash into are opened.
        if ids is not None:
            ids = [str(i) for i in ids]
            df = self._read_partitions(self._require(name), sorted({i[:_PART_LEN] for i in ids}))
            ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
            df = df.join(F.broadcast(ids_df), "id", "left_semi")
        else:
            df = self.read(name)
        cols = ["id", *include] if include else df.columns
        return df.select(*dict.fromkeys(cols))

    def count_documents(self, name: str, where: "F.Column | None" = None) -> int:
        """Point count, optionally under a filter Column (the vector-DB
        ``count`` API — qdrant exposes it as ``client.count(collection,
        count_filter=...)``; the reference's backends answer it with
        ``SELECT count(*)``). Column-pruned scan: only the filter's columns
        are read, never content/embedding bytes."""
        df = self.read(name)
        if where is not None:
            df = df.where(where)
        return df.count()

    # -- payload field index (qdrant create_payload_index analogue) ---------
    #
    # A per-metadata-key value → id table the equality paths prune into —
    # counting one payload value reads a few kilobytes of index partitions
    # instead of the collection's metadata maps. Unlike the text/vector
    # families this one is a pure ACCELERATOR: a stale index is never
    # served (the caller transparently falls back to the table scan, which
    # is always correct), so mutations can't make it lie — only slow.

    @staticmethod
    def _validate_payload_key(key: str) -> None:
        """Every payload-index surface builds filesystem paths from the key
        — the READ paths validate too, or a key like "team/../payload_team"
        traverses into another key's manifest and serves its counts."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9_.-]{1,64}", key or "") or ".." in key:
            raise EngineError("payload_key_invalid", detail=repr(key))

    #: hex-encoded values longer than this go to a sha-named partition (the
    #: raw hex would exceed the ~255-byte filename limit); exactness is kept
    #: by a post-filter on the stored raw value
    _PAYLOAD_VKEY_MAX_HEX = 180

    @classmethod
    def _payload_vkey_col(cls) -> "F.Column":
        hexed = F.hex(F.encode(F.col("value"), "UTF-8"))
        return F.when(
            F.length(hexed) <= cls._PAYLOAD_VKEY_MAX_HEX,
            F.concat(F.lit("v"), hexed),
        ).otherwise(F.concat(F.lit("s"), F.sha2(F.col("value"), 256)))

    @classmethod
    def _payload_vkey_py(cls, value: str) -> str:
        import hashlib

        hexed = value.encode("utf-8").hex().upper()
        if len(hexed) <= cls._PAYLOAD_VKEY_MAX_HEX:
            return "v" + hexed
        return "s" + hashlib.sha256(value.encode("utf-8")).hexdigest()

    def create_payload_index(self, name: str, key: str) -> dict:
        """Materialize the (value, id) index for one metadata key,
        hive-partitioned by the HEX-ENCODED value so an equality lookup
        opens only its own partition. Encoding sidesteps hive partition
        semantics that would make the index lie: an empty string (or a
        value spelled __HIVE_DEFAULT_PARTITION__) round-trips as NULL in
        raw form; values too long to hex into a filename partition under
        their sha256 and the lookup post-filters on the stored raw value.
        Layout is payload_<key>/data + payload_<key>/manifest.json (a
        dotted key like "x.json" can never collide with another key's
        manifest). Returns {"key", "n_values", "n_rows", "fingerprint"}."""
        import json
        import shutil

        scoped = self._require(name)
        self._validate_payload_key(key)
        # fingerprint BEFORE reading: a mutation landing mid-build then
        # makes the manifest's fp mismatch the table -> 'stale' -> scan
        # fallback. Capturing after the write would stamp a post-mutation
        # fp over pre-mutation index data — a fresh-but-wrong index.
        fp = self._table_fingerprint(scoped)
        root = self._index_root(scoped) / f"payload_{key}"
        # clear the pre-hardening layout (flat manifest file + raw value=*
        # dirs directly under the key dir) so a rebuild never leaves a
        # mixed-layout orphan behind
        legacy_manifest = self._index_root(scoped) / f"payload_{key}.json"
        if legacy_manifest.is_file():
            legacy_manifest.unlink()
        if root.exists():
            for entry in root.iterdir():
                if entry.name.startswith("value="):
                    shutil.rmtree(entry, ignore_errors=True)
        idx = (
            self.read(name)
            .select("id", F.col("metadata")[key].alias("value"))
            .where(F.col("value").isNotNull())
            # 'v' prefix: hex('') is '' and an EMPTY partition value is the
            # same hive-default trap the encoding exists to avoid. The raw
            # value is STORED so sha-bucketed lookups stay exact.
            .select("id", "value", self._payload_vkey_col().alias("vkey"))
        )
        # pin static overwrite: under partitionOverwriteMode=dynamic a
        # rebuild would keep partitions for values that no longer exist —
        # a fresh-but-lying index for every deleted value
        idx.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("vkey").parquet(str(root / "data"))
        # counts come from the files just written (one job, and they can
        # never disagree with the index under a concurrent mutation)
        written = self.spark.read.schema("id string, value string, vkey string").parquet(
            str(root / "data")
        )
        counts = written.agg(
            F.count("*").alias("n"), F.countDistinct("value").alias("d")
        ).first()
        root.mkdir(parents=True, exist_ok=True)
        (root / "manifest.json").write_text(
            json.dumps({"key": key, "fingerprint": fp, "n_values": int(counts.d)})
        )
        return {
            "key": key,
            "n_values": int(counts.d),
            "n_rows": int(counts.n),
            "fingerprint": fp,
        }

    def payload_index_status(self, name: str, key: str) -> str:
        """'absent' | 'fresh' | 'stale' for one key's payload index."""
        scoped = self._require(name)
        self._validate_payload_key(key)
        manifest = self._index_root(scoped) / f"payload_{key}" / "manifest.json"
        if not manifest.exists():
            return "absent"
        import json

        meta = json.loads(manifest.read_text())
        return (
            "fresh"
            if meta.get("fingerprint") == self._table_fingerprint(scoped)
            else "stale"
        )

    def count_by_payload(self, name: str, key: str, value: str) -> int:
        """Equality-filtered count served from the payload index when it is
        fresh (partition-pruned: only the one value's files open), else
        from the table scan — the accelerator contract: never wrong, at
        worst unaccelerated."""
        scoped = self._require(name)
        self._validate_payload_key(key)
        if self.payload_index_status(name, key) == "fresh":
            # explicit schema: partition-column type inference would read
            # all-numeric hex keys back as ints, and a value-less index
            # directory (every row had a NULL for the key) has nothing to
            # infer from. The lookup key uses the same encoding the build
            # wrote; the raw-value post-filter keeps sha-bucketed (long)
            # values exact and is a no-op for hex buckets.
            idx = self.spark.read.schema("id string, value string, vkey string").parquet(
                str(self._index_root(scoped) / f"payload_{key}" / "data")
            )
            vkey = self._payload_vkey_py(str(value))
            return idx.where(
                (F.col("vkey") == vkey) & (F.col("value") == str(value))
            ).count()
        return self.count_documents(
            name, where=F.col("metadata")[key] == str(value)
        )

    # -- range payload index (qdrant Range filter accelerator) --------------
    #
    # The equality family above prunes one hex partition per value; range
    # predicates (qdrant ``Range(gte=, lte=)`` — the reference's backends
    # push these server-side, tests/test_secure_backends.py:98-116) need a
    # different layout: (id, value) band-partitioned by VALUE BUCKET, so a
    # [lo, hi] probe opens only the overlapping bands — at 100 TB a 10%
    # range reads ~10% of the index files and none of the collection's
    # metadata maps. Same accelerator contract as the equality family: a
    # stale index is never served, callers fall back to the (always
    # correct) table scan.

    _PAYLOAD_RANGE_BANDS = 32

    def create_payload_range_index(
        self, name: str, key: str, n_bands: int | None = None
    ) -> dict:
        """Materialize the numeric (value, id) index for one metadata key,
        hive-partitioned by equi-width value band over the [min, max] seen
        at build. Non-numeric and NULL values are excluded (a range
        predicate can never match them). Layout mirrors the equality
        family: payload_range_<key>/data + manifest.json recording the
        band geometry. Returns {"key", "n_rows", "vmin", "vmax",
        "n_bands", "fingerprint"}."""
        import json

        scoped = self._require(name)
        self._validate_payload_key(key)
        n_bands = self._PAYLOAD_RANGE_BANDS if n_bands is None else int(n_bands)
        if n_bands < 1:
            raise EngineError("payload_bands_invalid", detail=repr(n_bands))
        # fingerprint BEFORE reading (same mid-build-mutation reasoning as
        # the equality family): a mutation landing after this read makes
        # the manifest mismatch -> stale -> scan fallback, never a lie
        fp = self._table_fingerprint(scoped)
        vals = (
            self.read(name)
            .select("id", F.col("metadata")[key].try_cast("double").alias("value"))
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
        )
        bounds = vals.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).first()
        root = self._index_root(scoped) / f"payload_range_{key}"
        if bounds.lo is None:  # no numeric values: empty index, still fresh
            import shutil

            shutil.rmtree(root / "data", ignore_errors=True)
            root.mkdir(parents=True, exist_ok=True)
            (root / "manifest.json").write_text(json.dumps(
                {"key": key, "fingerprint": fp, "n_rows": 0,
                 "vmin": None, "vmax": None, "n_bands": n_bands}
            ))
            return {"key": key, "n_rows": 0, "vmin": None, "vmax": None,
                    "n_bands": n_bands, "fingerprint": fp}
        vmin, vmax = float(bounds.lo), float(bounds.hi)
        banded = vals.withColumn("band", self._range_band_col(F.col("value"), vmin, vmax, n_bands))
        banded.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"  # same deleted-value hygiene
        ).partitionBy("band").parquet(str(root / "data"))
        n_rows = self.spark.read.schema("id string, value double, band int").parquet(
            str(root / "data")
        ).count()
        root.mkdir(parents=True, exist_ok=True)
        (root / "manifest.json").write_text(json.dumps(
            {"key": key, "fingerprint": fp, "n_rows": int(n_rows),
             "vmin": vmin, "vmax": vmax, "n_bands": n_bands}
        ))
        return {"key": key, "n_rows": int(n_rows), "vmin": vmin, "vmax": vmax,
                "n_bands": n_bands, "fingerprint": fp}

    @staticmethod
    def _range_band_col(value: "F.Column", vmin: float, vmax: float, n_bands: int) -> "F.Column":
        """Equi-width band id in [0, n_bands) — the Column twin of
        :meth:`_range_band_py` (identical arithmetic so probe pruning can
        never disagree with the written partitions)."""
        if vmax <= vmin:  # single-value corpus: everything in band 0
            return F.lit(0)
        width = (vmax - vmin) / n_bands
        raw = F.floor((value - F.lit(vmin)) / F.lit(width)).cast("int")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bands - 1))

    @staticmethod
    def _range_band_py(value: float, vmin: float, vmax: float, n_bands: int) -> int:
        import math

        if vmax <= vmin:
            return 0
        width = (vmax - vmin) / n_bands
        return min(max(int(math.floor((value - vmin) / width)), 0), n_bands - 1)

    def payload_range_index_status(self, name: str, key: str) -> str:
        """'absent' | 'fresh' | 'stale' for one key's range index."""
        import json

        scoped = self._require(name)
        self._validate_payload_key(key)
        manifest = self._index_root(scoped) / f"payload_range_{key}" / "manifest.json"
        if not manifest.exists():
            return "absent"
        meta = json.loads(manifest.read_text())
        return (
            "fresh"
            if meta.get("fingerprint") == self._table_fingerprint(scoped)
            else "stale"
        )

    def _equality_allowed_ids(
        self, scoped: str, key: str, values: list[str]
    ) -> "DataFrame | None":
        """The id set whose ``key`` payload equals ANY of ``values``,
        served from a FRESH equality payload index (one hex-value
        partition per value opens — the qdrant ``MatchValue``/``MatchAny``
        acceleration), or None when the index is absent/stale — the
        caller falls back to the metadata scan."""
        import json

        root = self._index_root(scoped) / f"payload_{key}"
        manifest = root / "manifest.json"
        if not manifest.exists():
            return None
        meta = json.loads(manifest.read_text())
        if meta.get("fingerprint") != self._table_fingerprint(scoped):
            return None
        idx = self.spark.read.schema("id string, value string, vkey string").parquet(
            str(root / "data")
        )
        vkeys = sorted({self._payload_vkey_py(v) for v in values})
        # vkey is the partition column — only the values' partitions open;
        # the raw-value post-filter keeps sha-bucketed (long) values exact
        return idx.where(
            F.col("vkey").isin(vkeys) & F.col("value").isin(list(values))
        ).select("id")

    def _range_allowed_ids(
        self, scoped: str, key: str, bounds: dict[str, float]
    ) -> "DataFrame | None":
        """The id set matching the validated Range ``bounds`` served from a
        FRESH range index (band partition pruning + exact post-filter), or
        None when the index is absent/stale/empty-geometry — the caller
        falls back to the table scan."""
        import json

        root = self._index_root(scoped) / f"payload_range_{key}"
        manifest = root / "manifest.json"
        if not manifest.exists():
            return None
        meta = json.loads(manifest.read_text())
        if meta.get("fingerprint") != self._table_fingerprint(scoped):
            return None
        if meta.get("vmin") is None:  # built over zero numeric values
            return self.spark.createDataFrame([], "id string")
        vmin, vmax, nb = float(meta["vmin"]), float(meta["vmax"]), int(meta["n_bands"])
        idx = self.spark.read.schema("id string, value double, band int").parquet(
            str(root / "data")
        )
        # band bounds from the same arithmetic the build wrote — these are
        # PARTITION filters, so only overlapping band dirs are ever opened.
        # Strict bounds (gt/lt) share their band with the inclusive twin:
        # strictness is exactness work for the post-filter, not pruning.
        lo = max((bounds[k] for k in ("gt", "gte") if k in bounds), default=None)
        hi = min((bounds[k] for k in ("lt", "lte") if k in bounds), default=None)
        lo_band = 0 if lo is None else self._range_band_py(lo, vmin, vmax, nb)
        hi_band = nb - 1 if hi is None else self._range_band_py(hi, vmin, vmax, nb)
        cond = (F.col("band") >= lo_band) & (F.col("band") <= hi_band)
        cond = cond & self._range_scan_cond(F.col("value"), bounds)
        return idx.where(cond).select("id")

    #: the full qdrant ``Range`` bound set (qdrant.py filter grammar)
    _RANGE_BOUND_KEYS = ("gt", "gte", "lt", "lte")

    @classmethod
    def _validate_range_bounds(
        cls, gte=None, lte=None, gt=None, lt=None
    ) -> dict[str, float]:
        """Validate the qdrant Range bounds into a {bound: float} dict —
        at least one bound, every value numeric (bool excluded), and a
        non-empty interval (lower bound above upper is a caller mistake,
        not an empty result)."""
        raw = {"gt": gt, "gte": gte, "lt": lt, "lte": lte}
        out: dict[str, float] = {}
        for k in cls._RANGE_BOUND_KEYS:
            v = raw[k]
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise EngineError("payload_range_invalid", detail=f"{k}={v!r}")
            out[k] = float(v)
        if not out:
            raise EngineError(
                "payload_range_invalid", detail="need at least one of gt/gte/lt/lte"
            )
        lo = max((out[k] for k in ("gt", "gte") if k in out), default=None)
        hi = min((out[k] for k in ("lt", "lte") if k in out), default=None)
        if lo is not None and hi is not None and lo > hi:
            raise EngineError(
                "payload_range_invalid", detail=f"lower bound {lo} > upper {hi}"
            )
        return out

    @staticmethod
    def _range_scan_cond(val: "F.Column", bounds: dict[str, float]) -> "F.Column":
        """The exact predicate a Range dict means, over a (try_cast double)
        value column — shared by the index post-filter and the scan
        fallback so the two paths can never disagree."""
        cond = val.isNotNull() & ~F.isnan(val)
        if "gt" in bounds:
            cond = cond & (val > bounds["gt"])
        if "gte" in bounds:
            cond = cond & (val >= bounds["gte"])
        if "lt" in bounds:
            cond = cond & (val < bounds["lt"])
        if "lte" in bounds:
            cond = cond & (val <= bounds["lte"])
        return cond

    @staticmethod
    def _metadata_entries_without(keys_arr: "F.Column") -> "F.Column":
        """Entries of the (NULL-coalesced) metadata map minus the given keys
        — the shared core of both payload mutations."""
        return F.filter(
            F.map_entries(F.coalesce(F.col("metadata"), F.expr("map()"))),
            lambda e: ~F.array_contains(keys_arr, e["key"]),
        )

    @_serialized_mutation
    def _patch_metadata(
        self, name: str, ids: Sequence[str], merged_col: "F.Column",
        only_where: "F.Column | None" = None,
    ) -> int:
        """Shared partition-pruned metadata rewrite for set/delete_payload:
        apply ``merged_col`` as the new metadata of the matching ids
        (further narrowed by ``only_where`` so no-op patches don't rewrite,
        changelog, or count), leave content/embedding untouched, keep the
        time-travel changelog consistent by logging the patched rows as an
        upsert batch.

        The patched rows are localCheckpoint-ed BEFORE the partition rewrite
        so the changelog append re-reads materialized rows, not the parquet
        files the rewrite just replaced."""
        scoped = self._require(name)
        ids = [str(i) for i in ids]
        if not ids:
            return 0
        self._seed_changelog_if_legacy(scoped)
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        touched = self._read_partitions(scoped, prefixes)
        matched = touched.join(F.broadcast(ids_df), "id", "left_semi")
        if only_where is not None:
            matched = matched.where(only_where)
        patched = (
            matched.withColumn("metadata", merged_col)
            .select(*DOCUMENT_SCHEMA.fieldNames())
            .localCheckpoint(eager=True)
        )
        n = patched.count()
        if n == 0:
            return 0
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_upsert

            merge_upsert(self.spark, self._table_format, self._table_path(scoped), patched)
        else:
            # anti-join on the PATCHED ids (not the requested ids): rows the
            # only_where filter skipped must survive the rewrite untouched
            kept = touched.join(F.broadcast(patched.select("id")), "id", "left_anti")
            self._rewrite_partitions(scoped, prefixes, kept.unionByName(patched))
        self._log_mutation_df(scoped, "upsert", patched)
        return n

    def set_payload(self, name: str, ids: Sequence[str], payload: Mapping[str, object]) -> int:
        """Merge ``payload`` into the metadata of the given ids without
        touching content or embedding (qdrant ``set_payload`` parity; the
        private-key filter and value sanitizer run exactly as on ingest).
        Returns the number of documents patched. Last-write-wins per key is
        explicit — existing entries under patched keys are filtered out
        before the concat, so the result never depends on
        spark.sql.mapKeyDedupPolicy. Values arrive as arbitrary JSON over
        MCP: non-strings are stored in their JSON lexical form ("5",
        "true") since metadata is a string map; None values are dropped
        (use delete_payload to remove a key)."""
        import json as _json

        coerced = {
            str(k): v if isinstance(v, str) else _json.dumps(v)
            for k, v in dict(payload).items()
            if v is not None
        }
        clean = sanitize_metadata_py(coerced) or {}
        if not clean:
            return 0
        keys_arr = F.array(*[F.lit(k) for k in sorted(clean)])
        patch = F.map_entries(
            F.create_map(*[F.lit(x) for k in sorted(clean) for x in (k, clean[k])])
        )
        merged = F.map_from_entries(
            F.concat(self._metadata_entries_without(keys_arr), patch)
        )
        return self._patch_metadata(name, ids, merged)

    def delete_payload(self, name: str, ids: Sequence[str], keys: Sequence[str]) -> int:
        """Remove the given metadata keys from the given ids (qdrant
        ``delete_payload`` parity). Returns the number of documents
        actually patched: documents carrying none of the keys (or a NULL
        map) are left byte-identical — no rewrite, no changelog batch, no
        NULL→{} coercion."""
        keys = [str(k) for k in keys]
        if not keys:
            return 0
        keys_arr = F.array(*[F.lit(k) for k in sorted(set(keys))])
        merged = F.map_from_entries(self._metadata_entries_without(keys_arr))
        has_any_key = F.col("metadata").isNotNull() & (
            F.size(F.map_filter(F.col("metadata"), lambda k, v: F.array_contains(keys_arr, k))) > 0
        )
        return self._patch_metadata(name, ids, merged, only_where=has_any_key)

    # -- time-travel changelog (Delta/Iceberg VERSION AS OF on parquet) ------
    #
    # Every mutation appends an (op, document, ts, seq) batch to an
    # append-only sidecar; read_asof reconstructs the table state at any
    # past instant with operators/cdc.py snapshot_asof (ts-prunable filter
    # + one groupBy(id).max_by). Driver-bounded batches (add/delete) append
    # via pyarrow — no Spark job joins the ingest path; arbitrary-size
    # upserts (update_documents) append distributed. Metadata rides as a
    # JSON string in the log (one schema for both writers) and rehydrates
    # to the document map on read.

    def _changelog_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_changelog")

    def _seed_changelog_if_legacy(self, scoped: str) -> None:
        """A table populated before the changelog existed would otherwise
        get a log covering only post-upgrade mutations — read_asof would
        silently reconstruct a PARTIAL snapshot (ADVICE r7, medium). On the
        first logged mutation of such a table, seed the log with a snapshot
        batch of the current (pre-mutation) rows so every later as-of read
        is complete. Fresh collections never hit this (their table dir and
        changelog are born together on the first ingest); the seed costs one
        extra table scan exactly once per legacy collection."""
        root = self._changelog_root(scoped)
        if self._changelog_has_batches(root):
            return
        table = Path(self._table_path(scoped))
        if not table.exists():
            return
        current = (
            self.spark.read.schema(DOCUMENT_SCHEMA)
            .parquet(str(table))
            .select(*DOCUMENT_SCHEMA.fieldNames())
        )
        self._log_mutation_df(scoped, "upsert", current)

    _CHANGELOG_DDL = (
        "op string, id string, content string, metadata_json string, "
        "embedding array<float>, ts timestamp, seq long"
    )

    @staticmethod
    def _is_batch_file(name: str) -> bool:
        """The single definition of 'a readable changelog batch file' —
        shared by the has-batches gate and compact_changelog's covered-set
        listing so the two can never diverge on what Spark's input format
        reads (dot-prefixed claims and _-prefixed markers are skipped)."""
        return name.endswith(".parquet") and not name.startswith((".", "_"))

    @classmethod
    def _changelog_has_batches(cls, root: Path) -> bool:
        """True when the log holds at least one data batch."""
        if not root.exists():
            return False
        return any(cls._is_batch_file(p.name) for p in root.iterdir())

    @staticmethod
    def _swap_lock_path(root: Path) -> Path:
        return root.with_name(root.name + ".swaplock")

    def _next_seq(self, root: Path) -> int:
        """Allocate the next changelog batch seq ATOMICALLY (ADVICE r7): an
        O_EXCL-created dot-claim file per seq, so two writers (threads or
        processes) can never stamp the same seq — a collision would break
        read_asof's (ts, seq) tiebreak determinism. Legacy logs without
        claims start from the batch-file count (each batch wrote ≥1 file, so
        count ≥ max_seq+1 — monotonicity preserved).

        Honors compact_changelog's swap lock (ADVICE r9): during the
        millisecond window where the compactor renames root→old and
        stage→root, this mkdir would RECREATE the log root and make the
        stage rename fail, stranding the whole log in the .old dir — so
        wait out a live FOREIGN lock before touching the directory. A
        same-pid lock is skipped: in-process writers are already excluded
        by the per-collection mutation lock the compactor holds, so the
        only same-pid arrivals here are test harnesses emulating foreign
        writers — blocking them would deadlock the very swap they race.
        A stale lock (holder provably dead / past TTL) is also skipped."""
        lock = self._swap_lock_path(root)
        while lock.exists() and not self._lock_is_stale(lock):
            try:
                if int(lock.read_text().split()[0]) == os.getpid():
                    break
            except (OSError, ValueError, IndexError):
                pass  # unreadable holder — treat as foreign, keep waiting
            time.sleep(0.005)
        root.mkdir(parents=True, exist_ok=True)
        claims = [
            int(p.name[5:13])
            for p in root.iterdir()
            if p.name.startswith(".seq-") and p.name.endswith(".claim")
        ]
        n = (
            max(claims) + 1
            if claims
            else sum(1 for p in root.iterdir() if p.name.endswith(".parquet"))
        )
        while True:
            try:
                fd = os.open(root / f".seq-{n:08d}.claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
            except FileExistsError:  # another writer claimed n concurrently
                n += 1
                continue
            # prune dead claims BELOW ours (ours stays, so any concurrent
            # lister still sees max ≥ n and can never reuse an old seq) —
            # without this, one claim file per mutation accumulates forever
            # and every mutation re-lists all of them
            for c in sorted(claims):
                if c < n:
                    (root / f".seq-{c:08d}.claim").unlink(missing_ok=True)
            return n

    def _log_mutation_rows(self, scoped: str, op: str, rows: list[tuple]) -> None:
        """Driver-side append: rows = [(id, content, metadata|None, emb|None)]."""
        import json
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        root = self._changelog_root(scoped)
        seq = self._next_seq(root)
        now = datetime.now(timezone.utc)
        tbl = pa.Table.from_pylist(
            [
                {
                    "op": op,
                    "id": i,
                    "content": c,
                    # same shape as the distributed writer's
                    # to_json(map_entries(metadata)): an entries array
                    "metadata_json": json.dumps(
                        [{"key": k, "value": v} for k, v in sorted(m.items())]
                    ) if m is not None else None,
                    "embedding": e,
                    "ts": now,
                    "seq": seq,
                }
                for i, c, m, e in rows
            ],
            schema=pa.schema(
                [
                    ("op", pa.string()),
                    ("id", pa.string()),
                    ("content", pa.string()),
                    ("metadata_json", pa.string()),
                    ("embedding", pa.list_(pa.float32())),
                    ("ts", pa.timestamp("us", tz="UTC")),
                    ("seq", pa.int64()),
                ]
            ),
        )
        pq.write_table(tbl, root / f"batch-{seq:08d}-{uuid.uuid4().hex[:8]}.parquet")

    def _log_mutation_df(self, scoped: str, op: str, df: DataFrame) -> None:
        """Distributed append for arbitrary-size Document-schema batches.

        Coalesced to ≤8 writers: upsert batches are usually tiny and the
        default parallelism would scatter each append into 32 near-empty
        files (slow to write, slower for read_asof to open later); 8 keeps
        genuinely large bulk upserts parallel without the file spray."""
        root = self._changelog_root(scoped)
        seq = self._next_seq(root)
        (
            df.coalesce(8)
            .select(
                F.lit(op).alias("op"),
                "id",
                "content",
                F.to_json(F.map_entries("metadata")).alias("metadata_json"),
                F.col("embedding").cast("array<float>").alias("embedding"),
                F.lit(datetime.now(timezone.utc)).alias("ts"),
                F.lit(seq).cast("long").alias("seq"),
            )
            .write.mode("append")
            .parquet(str(root))
        )

    def read_asof(self, name: str, asof: datetime) -> DataFrame:
        """The collection's document table as it stood at ``asof``.

        Raises ``time_travel_unavailable`` when the collection predates its
        changelog (a non-empty table with no log can't be reconstructed)."""
        scoped = self._require(name)
        asof = self._as_utc(asof)
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            if Path(self._table_path(scoped)).exists():
                raise EngineError("time_travel_unavailable")
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        epoch = self._changelog_epoch(root)
        if epoch is not None and asof < epoch:
            # history below the compaction epoch was collapsed into one
            # snapshot batch — reconstructing an earlier instant would
            # silently return the epoch state, so fail loudly instead
            raise EngineError(
                "time_travel_unavailable", detail=f"compacted before {epoch.isoformat()}"
            )
        from vector_mcp_spark.operators.cdc import snapshot_asof

        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(str(root))
        snap = snapshot_asof(
            log,
            asof=asof,
            key_col="id",
            ts_col="ts",
            op_col="op",
            tiebreak_col="seq",
            payload_cols=["content", "metadata_json", "embedding", "op"],
        )
        meta_type = "array<struct<key:string,value:string>>"
        return snap.select(
            "id",
            "content",
            F.map_from_entries(F.from_json("metadata_json", meta_type)).alias("metadata"),
            "embedding",
        )

    def collection_history(self, name: str) -> DataFrame:
        """One row per changelog batch: (seq, op, n_rows, ts) — the audit
        trail a Delta DESCRIBE HISTORY would give."""
        scoped = self._require(name)
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            return self.spark.createDataFrame([], "seq long, op string, n_rows long, ts timestamp")
        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(str(root))
        return (
            log.groupBy("seq", "op")
            .agg(F.count("*").alias("n_rows"), F.max("ts").alias("ts"))
            .select("seq", "op", "n_rows", "ts")
            .orderBy("seq")
        )

    @staticmethod
    def _as_utc(dt: datetime) -> datetime:
        """Normalize naive datetimes to UTC-aware: the engine runs UTC
        sessions, and mixing naive/aware values in `<` raises TypeError —
        a raw INTERNAL_ERROR on the wire instead of a stable code."""
        return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt

    @classmethod
    def _changelog_epoch(cls, root: Path) -> datetime | None:
        """The compaction epoch: no as-of read below it is reconstructable.
        A corrupt sidecar fails CLOSED (stable error) — returning None here
        would silently answer pre-epoch queries with the epoch state, the
        exact wrong answer the sidecar exists to prevent."""
        import json

        marker = root / "_epoch.json"
        if not marker.exists():
            return None
        try:
            raw = json.loads(marker.read_text())["epoch_ts"]
            return cls._as_utc(datetime.fromisoformat(raw))
        except (OSError, ValueError, KeyError, TypeError):
            raise EngineError("changelog_epoch_corrupt", detail=str(marker)) from None

    @_serialized_mutation
    def compact_changelog(self, name: str, before: datetime) -> int:
        """Collapse every changelog batch older than ``before`` into one
        snapshot epoch batch (Delta/Iceberg log-retention semantics: VACUUM
        + checkpoint). Returns the number of batches collapsed.

        After months of mutations the per-collection log is unbounded and
        ``read_asof`` replays all of it; compaction bounds the file count
        while keeping every asof ≥ ``before`` BIT-IDENTICAL: the epoch
        batch is the reconstructed state at the cut (op=upsert rows carrying
        the max collapsed (ts, seq), so the kept batches' (ts, seq) order —
        strictly greater — is preserved), and asof < ``before`` raises
        ``time_travel_unavailable`` via the ``_epoch.json`` sidecar instead
        of silently answering with the epoch state. Runs under the
        collection mutation lock; the swap is two directory renames."""
        import json

        scoped = self._require(name)
        before = self._as_utc(before)
        if before > datetime.now(timezone.utc):
            # a future cut would collapse EVERY row into the epoch and stamp
            # the sidecar with the future instant, so every read_asof —
            # including asof=now — refuses until wall clock passes the cut:
            # one bad MCP before_ts would disable time travel (ADVICE r9)
            raise EngineError("compaction_cut_in_future", detail=before.isoformat())
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            return 0
        prev_epoch = self._changelog_epoch(root)
        if prev_epoch is not None and before <= prev_epoch:
            # the epoch may never move backward: history below prev_epoch is
            # already gone, and rewriting the sidecar earlier would claim
            # reconstructability this log no longer has
            return 0
        # list once, read exactly that list: 'covered by the rewrite' and
        # 'read by Spark' must be the SAME set, or a batch landing between
        # the listing and the scan would be both compacted AND carried over
        # (duplicated) by the swap logic below
        seen = {p.name for p in root.iterdir()}
        batch_files = [
            str(root / n) for n in sorted(seen) if self._is_batch_file(n)
        ]
        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(*batch_files)
        cut = F.lit(before)
        stats = log.where(F.col("ts") < cut).agg(
            F.countDistinct("seq").alias("n"),
            F.max("ts").alias("max_ts"),
            F.max("seq").alias("max_seq"),
        ).first()
        if not stats.n:
            return 0
        from vector_mcp_spark.operators.cdc import snapshot_asof

        epoch_rows = snapshot_asof(
            log.where(F.col("ts") < cut),
            asof=before,
            key_col="id",
            ts_col="ts",
            op_col="op",
            tiebreak_col="seq",
            payload_cols=["content", "metadata_json", "embedding", "op"],
        ).select(
            F.lit("upsert").alias("op"),
            "id",
            "content",
            "metadata_json",
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.lit(stats.max_ts).alias("ts"),
            F.lit(stats.max_seq).cast("long").alias("seq"),
        )
        kept = log.where(F.col("ts") >= cut)
        stage = root.with_name(root.name + f".compact-{uuid.uuid4().hex[:8]}")
        epoch_rows.union(kept).coalesce(8).write.mode("overwrite").parquet(str(stage))
        # carry the seq high-water mark: claims live in the log dir, and
        # dropping them would let _next_seq re-issue an old seq
        claims = [
            int(p.name[5:13])
            for p in root.iterdir()
            if p.name.startswith(".seq-") and p.name.endswith(".claim")
        ]
        high = max([*claims, int(stats.max_seq)])
        (stage / f".seq-{high:08d}.claim").touch()
        (stage / "_epoch.json").write_text(
            json.dumps({"epoch_ts": before.isoformat()}, sort_keys=True)
        )
        old = root.with_name(root.name + f".old-{uuid.uuid4().hex[:8]}")
        # Serialize the swap against cross-process writers (ADVICE r9):
        # _next_seq's mkdir can recreate the root between the two renames,
        # making stage.rename(root) fail and stranding the log in .old-*.
        # Writers honor this lock before touching the directory; the lock
        # covers only the renames + carry-over (milliseconds), never the
        # Spark rewrite above.
        swap_lock = self._swap_lock_path(root)
        fd = self._acquire_file_lock(swap_lock)
        try:
            root.rename(old)
            try:
                stage.rename(root)
            except OSError:
                # a non-honoring writer (legacy binary, crashed-lock skip)
                # recreated the root mid-swap — merge the rewrite into it
                # rather than stranding the log; the writer's fresh files
                # are not in `stage` so they survive untouched
                root.mkdir(parents=True, exist_ok=True)
                for p in stage.iterdir():
                    target = root / p.name
                    if not target.exists():
                        p.rename(target)
                shutil.rmtree(stage, ignore_errors=True)
            # a cross-process writer (supported via O_EXCL seq claims) may
            # have appended a batch between our log read and the rename; its
            # files sit in `old` and are NOT in the rewritten log — carry
            # every file this rewrite did not cover into the new root before
            # deleting, so no concurrent mutation is ever silently dropped.
            # Loop until a pass moves nothing: a writer mid-write when the
            # swap started can still materialize a file in `old` through an
            # already-open handle after the first pass.
            while True:
                moved = 0
                for p in old.iterdir():
                    if p.name in seen:
                        continue
                    if p.name.endswith(".parquet") or p.name.endswith(".claim"):
                        p.rename(root / p.name)
                        moved += 1
                if not moved:
                    break
            shutil.rmtree(old)
        finally:
            os.close(fd)
            swap_lock.unlink(missing_ok=True)
        return int(stats.n)

    # -- snapshots (qdrant create_snapshot / recover_snapshot parity) --------
    #
    # A snapshot is a self-contained portable directory: manifest (catalog
    # row) + the table's parquet partitions + the time-travel changelog.
    # Restore registers it as a (new) collection. The driver-side copy is
    # right for this engine's parquet-dir layout; on a real lake the same
    # manifest+dirs contract is executed by the storage layer (s3 server-
    # side copy / distcp) — the engine's unit of work is per-partition-dir
    # either way, never per row.

    def _snapshots_root(self) -> Path:
        return self.root / "_snapshots"

    def _mutation_fingerprint(self, scoped: str) -> tuple:
        """Cheap change detector over the table + changelog trees (relative
        path, size, mtime_ns per entry). Two equal fingerprints bracketing a
        copy prove no cross-process writer rewrote either tree mid-copy —
        the stage-dir/claim protocol means every mutation creates, renames,
        or prunes at least one file under these roots."""
        out = []
        for base in (Path(self._table_path(scoped)), self._changelog_root(scoped)):
            if not base.exists():
                out.append(None)
                continue
            entries = []
            for p in sorted(base.rglob("*")):
                try:
                    st = p.stat()
                except OSError:  # vanished mid-walk — itself a change marker
                    entries.append((str(p.relative_to(base)), -1, -1))
                    continue
                entries.append((str(p.relative_to(base)), st.st_size, st.st_mtime_ns))
            out.append(tuple(entries))
        return tuple(out)

    def create_snapshot(self, name: str) -> str:
        """Freeze the collection's current state into a portable snapshot
        dir; returns its path. Runs under the collection's mutation lock so
        a concurrent upsert can't tear the copy."""
        import json

        scoped = self._require(name)
        with self._mutation_lock(scoped):
            snap_id = f"{_physical_name(scoped)}-{uuid.uuid4().hex[:12]}"
            dest = self._snapshots_root() / snap_id
            dest.mkdir(parents=True, exist_ok=False)
            manifest = {
                "scoped_name": scoped,
                "dimension": self._locked_dimension(scoped),
                "needs_embed": any(
                    r[0] == scoped and bool(r[4]) for r in self._catalog_rows()
                ),
                "distance": self._locked_distance(scoped),
            }
            table = Path(self._table_path(scoped))
            log = self._changelog_root(scoped)
            named = self._named_root(scoped)
            # the in-process mutation lock excludes this process's writers;
            # a mutator in ANOTHER process (cross-process writes are
            # supported via O_EXCL seq claims + stage dirs) can still
            # rewrite partition dirs mid-copy. Fingerprint before/after and
            # retry on any change or on a file vanishing mid-walk — and
            # write the manifest only AFTER a quiet copy, so a torn or
            # crashed attempt is never listable/restorable (list_snapshots
            # and restore require manifest.json). copytree aggregates
            # per-file failures into shutil.Error, so catch that too.
            try:
                for _ in range(5):
                    before = self._mutation_fingerprint(scoped)
                    try:
                        for sub in ("table", "changelog", "named"):
                            shutil.rmtree(dest / sub, ignore_errors=True)
                        if table.exists():
                            shutil.copytree(table, dest / "table")
                        if log.exists():
                            shutil.copytree(log, dest / "changelog")
                        if named.exists():
                            # named-vector config + per-name sidecars are
                            # PRIMARY data (user-supplied, not derivable) —
                            # a snapshot without them restores a crippled
                            # collection
                            shutil.copytree(named, dest / "named")
                    except FileNotFoundError:
                        continue  # source file vanished mid-copy — recopy
                    except shutil.Error as e:
                        # copytree aggregates per-file failures; only
                        # vanished-source entries are the transient churn
                        # this loop retries — a PermissionError-class entry
                        # will fail all 5 attempts identically, so surface
                        # it as its own code instead of a misleading
                        # conflict. Classify per entry: the errno prefix
                        # ("[Errno 2]" / "[WinError 2/3]" — locale-
                        # independent, unlike the strerror text) OR,
                        # because copytree stringifies the underlying
                        # exception (an OSError built without an errno, or
                        # a wrapped one, has no prefix — ADVICE r9), a
                        # re-stat of the failing source path: a source that
                        # no longer exists IS the vanished-file churn the
                        # retry exists for. EVERY entry must be transient
                        # for the attempt to retry.
                        transient = ("[Errno 2]", "[WinError 2]", "[WinError 3]")

                        def _is_transient(entry) -> bool:
                            reason = str(entry[2])
                            if any(m in reason for m in transient):
                                return True
                            if "[Errno" in reason or "[WinError" in reason:
                                return False  # parseable, and not errno-2
                            # no errno prefix to classify on — re-stat the
                            # failing source: gone means vanished-file churn
                            try:
                                os.stat(str(entry[0]))
                            except OSError:
                                return True
                            return False

                        entries = list(e.args[0] or [])
                        persistent = [
                            str(t[2]) for t in entries if not _is_transient(t)
                        ]
                        if persistent:
                            raise EngineError(
                                "snapshot_copy_failed",
                                detail=" | ".join(persistent)[:200],
                            ) from None
                        continue
                    if self._mutation_fingerprint(scoped) == before:
                        break
                else:
                    raise EngineError("snapshot_conflict", detail=name)
            except BaseException:
                shutil.rmtree(dest, ignore_errors=True)
                raise
            (dest / "manifest.json").write_text(json.dumps(manifest, sort_keys=True))
        return str(dest)

    def restore_snapshot(self, snapshot_path: str, new_name: str) -> str:
        """Register a snapshot as collection ``new_name`` (which must not
        exist — restores never clobber silently). Returns the scoped name."""
        import json

        src = Path(snapshot_path)
        try:
            manifest = json.loads((src / "manifest.json").read_text())
        except (OSError, ValueError):
            raise EngineError("snapshot_invalid", detail=snapshot_path) from None
        # a tenant-scoped engine may only restore snapshots taken inside its
        # own scope (ADVICE r8) — otherwise restore is a cross-tenant read
        if not self._snapshot_in_scope(src):
            raise EngineError("snapshot_not_found", detail=src.name)
        scoped = self._scoped(new_name)
        if any(a == scoped for a, _ in self._alias_rows()):
            raise EngineError("collection_conflicts_with_alias", detail=new_name)
        with self._mutation_lock(scoped):
            # existence check INSIDE the lock (two concurrent restores of
            # the same name must not both pass it)
            if self.collection_exists(new_name):
                raise EngineError("collection_exists")
            table = Path(self._table_path(scoped))
            log = self._changelog_root(scoped)
            named = self._named_root(scoped)
            # a crashed earlier restore (copied dirs, no catalog row) left
            # orphans under a name the catalog says is free — clear them so
            # the retry succeeds instead of FileExistsError forever
            for orphan in (table, log, named):
                if orphan.exists():
                    shutil.rmtree(orphan)
            try:
                if (src / "table").exists():
                    shutil.copytree(src / "table", table)
                if (src / "changelog").exists():
                    shutil.copytree(src / "changelog", log)
                if (src / "named").exists():
                    shutil.copytree(src / "named", named)
                with self._mutation_lock("__catalog__"):  # serialized RMW
                    # alias conflict re-checked inside the lock, same as
                    # create_collection (the pre-lock check above is only a
                    # fast path) — raising here routes through the cleanup
                    # below, so no half-restored dirs are left behind
                    if any(a == scoped for a, _ in self._alias_rows()):
                        raise EngineError(
                            "collection_conflicts_with_alias", detail=new_name
                        )
                    self._write_catalog(
                        [
                            *self._catalog_rows(),
                            (
                                scoped,
                                _physical_name(scoped),
                                manifest.get("dimension"),
                                datetime.now(timezone.utc),
                                bool(manifest.get("needs_embed", True)),
                                manifest.get("distance") or "cosine",
                            ),
                        ]
                    )
            except BaseException:
                # failed restore leaves no half-registered state behind
                shutil.rmtree(table, ignore_errors=True)
                shutil.rmtree(log, ignore_errors=True)
                shutil.rmtree(named, ignore_errors=True)
                raise
        return scoped

    def restore_snapshot_id(self, snapshot_id: str, new_name: str) -> str:
        """Restore by id from this engine's own snapshot root — the
        path-confinement twin of delete_snapshot (the id contract callers
        like the MCP veneer use; arbitrary paths go through
        restore_snapshot directly)."""
        if "/" in snapshot_id or snapshot_id.startswith("."):
            raise EngineError("snapshot_invalid", detail=snapshot_id)
        return self.restore_snapshot(str(self._snapshots_root() / snapshot_id), new_name)

    def _snapshot_in_scope(self, snap_dir: Path) -> bool:
        """Tenant confinement for the shared snapshot root (ADVICE r8):
        a tenant-scoped engine sees only snapshots whose manifest
        scoped_name carries its tenant prefix — the same rule
        get_collections (vector_api.py:455-476) and list_aliases apply.
        An untenanted engine is the admin view and sees everything."""
        if not self.tenant:
            return True
        import json

        try:
            manifest = json.loads((snap_dir / "manifest.json").read_text())
        except (OSError, ValueError):
            return False
        scoped = manifest.get("scoped_name", "")
        return isinstance(scoped, str) and scoped.startswith(_tenant_prefix(self.tenant))

    def list_snapshots(self) -> list[str]:
        root = self._snapshots_root()
        if not root.exists():
            return []
        return sorted(
            p.name
            for p in root.iterdir()
            if (p / "manifest.json").exists() and self._snapshot_in_scope(p)
        )

    def delete_snapshot(self, snapshot_id: str) -> None:
        # id, not path: confine deletion to the engine's own snapshot root
        if "/" in snapshot_id or snapshot_id.startswith("."):
            raise EngineError("snapshot_invalid", detail=snapshot_id)
        dest = self._snapshots_root() / snapshot_id
        # out-of-scope reads as absent — a tenant can't probe (or delete)
        # another tenant's snapshots
        if not (dest / "manifest.json").exists() or not self._snapshot_in_scope(dest):
            raise EngineError("snapshot_not_found", detail=snapshot_id)
        shutil.rmtree(dest)

    # -- file ingestion (reference document_paths / configured-root inputs) --
    #
    # The reference's vector_collection_management accepts relative
    # ``document_paths`` beneath an administrator-configured document root
    # plus ``include_configured_directory`` to ingest the whole root
    # (mcp_server.py:94-101, vector_api.py:319-366). The Spark path stays
    # DISTRIBUTED end-to-end: binaryFile scan → Arrow-batched format decode
    # → Column-twin sanitize → content-hash ids → the same partition-pruned
    # upsert every other mutation uses. No file byte ever rides through the
    # driver, so the batch is bounded by cluster capacity, not driver RAM.

    DOCUMENT_ROOT_ENV = "VECTOR_MCP_SPARK_DOCUMENT_ROOT"

    def ingest_paths(
        self,
        name: str,
        rel_paths: Sequence[str] | None = None,
        include_configured_directory: bool = False,
        document_root: str | None = None,
    ) -> int:
        """Ingest files into the collection; returns documents upserted.

        ``rel_paths`` are confined beneath the document root (no absolute
        paths, URLs, traversal, or symlinks — sources/readers.py S6 rules);
        ``include_configured_directory`` ingests the whole root. The root
        comes from the argument or $VECTOR_MCP_SPARK_DOCUMENT_ROOT."""
        from vector_mcp_spark.sanitize import sanitize_text_col
        from vector_mcp_spark.sources.readers import (
            RICH_EXTENSIONS,
            TEXT_EXTENSIONS,
            enumerate_document_root,
            read_documents,
            resolve_document_paths,
        )

        root = document_root or os.environ.get(self.DOCUMENT_ROOT_ENV)
        if not root or not Path(root).is_dir():
            raise EngineError("document_root_unconfigured")
        if not rel_paths and not include_configured_directory:
            raise EngineError("document_input_required")
        scoped = self._require(name)
        # every target handed to the scan is an individually-checked leaf
        # file (symlink walk, size caps) — the binaryFile reader never
        # recurses into an unchecked subtree (ADVICE r8; document_inputs.py
        # whole-root rules for include_configured_directory)
        targets = resolve_document_paths(root, rel_paths) if rel_paths else []
        if include_configured_directory:
            targets = sorted({*targets, *enumerate_document_root(root)})
        if not targets:
            return 0
        # in the steady state the union adds nothing past the per-channel
        # caps (rel_paths ⊆ the enumerated root); the re-checks below only
        # matter when the root churns BETWEEN the two walks (TOCTOU) — keep
        # BOTH documented bounds airtight on the final list. A file
        # vanishing before its stat counts zero bytes (it won't be read).
        from vector_mcp_spark.sources.readers import MAX_DOCUMENT_FILES, MAX_TOTAL_BYTES

        if len(targets) > MAX_DOCUMENT_FILES:
            raise EngineError("document_paths_too_many")

        def _size(t: str) -> int:
            try:
                return Path(t).stat().st_size
            except OSError:
                return 0

        if sum(_size(t) for t in targets) > MAX_TOTAL_BYTES:
            raise EngineError("document_paths_too_large")
        docs = read_documents(self.spark, targets)
        known = TEXT_EXTENSIONS | RICH_EXTENSIONS
        ext = F.lower(F.regexp_extract(F.col("path"), r"(\.[A-Za-z0-9]+)$", 1))
        clean = (
            docs.where(ext.isin(*known))
            .select(sanitize_text_col(F.col("content")).alias("content"))
            .where(F.length(F.trim(F.col("content"))) > 0)
            .select(
                F.sha2(F.col("content"), 256).alias("id"),
                "content",
                F.lit(None).cast("map<string,string>").alias("metadata"),
                F.lit(None).cast("array<float>").alias("embedding"),
            )
            .dropDuplicates(["id"])
        )
        n = clean.count()
        if n:
            self.update_documents(name, clean)
        # scoped is resolved above purely for the not-found error; the
        # upsert re-resolves under its own lock
        del scoped
        return n

    def describe_collection(self, name: str) -> dict:
        """qdrant ``GET /collections/{name}`` info shape: config (locked
        dimension, embed flag), points_count, the aliases routing here, and
        the persistent-index status. Resolves aliases, so describing "prod"
        reports the live target. One bounded Spark job (the count); the
        rest is driver-side catalog metadata. ``graph_serve`` says how the
        next graph query would be served: ``"driver"`` (the warm serve set
        is collected in-process; ``graph_serve_bytes`` is its estimated
        size), ``"sql"`` (warm, over the driver bound) or ``"cold"`` (no
        warm serve set for the current fresh build). ``scan_serve`` says
        the same of the next semantic, lexical or hybrid scan:
        ``"driver"`` (the current table version's driver copy is warm;
        ``scan_serve_bytes`` is its estimated size), ``"spark"`` (the
        version is over the driver bound or refused, so the Spark plans
        serve) or ``"cold"`` (the version has no verdict yet).
        ``index_build`` says where the index's graph was built:
        ``"driver"`` (from the table version's driver copy), ``"spark"``
        (the version was over the driver bound or refused), or None (no
        index, or one built before builds were recorded)."""
        scoped = self._require(name)
        status = self.index_status(name)
        return {
            "collection_name": name,
            "dimension": self._locked_dimension(scoped),
            "distance": self._locked_distance(scoped),
            "needs_embed": self.needs_embed(name),
            "points_count": self.count_documents(name),
            "aliases": [a for a, _ in self.list_aliases(name)],
            "index_status": status,
            **self._graph_serve_state(scoped, status),
            **self._scan_serve_state(scoped),
        }

    def _scan_serve_state(self, scoped: str) -> dict:
        """The ``scan_serve`` fields of :meth:`describe_collection`, read
        from the listed version of the current table files (no Spark job)."""
        listed = self._frames.get((scoped, None))
        if (
            listed is None
            or listed.driver is _COLD
            or listed.fingerprint != self._table_fingerprint(scoped)
        ):
            return {"scan_serve": "cold"}
        if listed.driver is None:
            return {"scan_serve": "spark"}
        return {"scan_serve": "driver", "scan_serve_bytes": listed.driver.nbytes}

    def _graph_serve_state(self, scoped: str, status: str) -> dict:
        """The ``graph_serve`` and ``index_build`` fields of
        :meth:`describe_collection`, read from the manifest and the
        serve-set cache entry of the current build (no Spark job)."""
        import json

        root = self._index_root(scoped)
        manifest = root / "manifest.json"
        built = {
            "index_build": json.loads(manifest.read_text()).get("build")
            if manifest.exists() else None
        }
        serve = None
        if status in ("fresh", "repaired"):
            # a fresh index was built under the locked distance, the
            # metric its serve set is keyed by
            serve = self._graph_serve_sets.get(
                (str(root), manifest.stat().st_mtime_ns, self._locked_distance(scoped))
            )
        if serve is None:
            return {"graph_serve": "cold", **built}
        if serve.driver is None:
            return {"graph_serve": "sql", **built}
        return {"graph_serve": "driver", "graph_serve_bytes": serve.driver.nbytes, **built}
