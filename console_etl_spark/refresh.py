"""Freshness manager: incremental refresh + LRU/TTL snapshot cache.

Re-expresses the reference's caching client (S3 + C1,
/root/reference/cache.go:25-93):

- **Conditional refresh** (the If-Modified-Since / 304 path,
  cache.go:54-66): before re-running the ingest job we probe the source's
  version token; if it matches the published snapshot's version, we serve
  the existing snapshot with *zero Spark jobs launched* — the 304 analog.
- **LRU + TTL** (cache.go:26-28): a bounded map of catalog → snapshot,
  default capacity 100 entries / 24 h staleness bound, both configurable
  (the reference hardcodes them). Eviction drops the snapshot directory —
  the ``os.RemoveAll`` eviction side effect (cache.go:30-33).
- **What a slot holds**: the snapshot's resolved, uncached DataFrame
  (partition discovery ran once, at admission; point reads prune from
  it) and its ``KeyIndex`` (listings and missing keys need no Spark job).
  Nothing goes into Spark's block store, and a listing is a driver-side
  table, so one a caller already holds survives the slot's eviction.

Unlike the reference, refresh is race-safe and idempotent: re-publishing
an unchanged version is a no-op (the reference would fail the symlink
create, see SURVEY.md §3.3).
"""

from __future__ import annotations

import os
import shutil
import time
import urllib.error
import urllib.request
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .keyindex import KeyIndex
from .store import SnapshotInfo, SnapshotStore

DEFAULT_CAPACITY = 100  # cache.go:26
DEFAULT_TTL_SECONDS = 24 * 3600.0  # cache.go:28


@dataclass
class _CacheSlot:
    info: SnapshotInfo
    df: DataFrame
    index: KeyIndex
    cached_at: float


class FreshnessManager:
    """Bounded, freshness-aware snapshot cache over a SnapshotStore."""

    def __init__(
        self,
        store: SnapshotStore,
        capacity: int = DEFAULT_CAPACITY,
        ttl_seconds: float = DEFAULT_TTL_SECONDS,
        clock: Callable[[], float] = time.time,
        balancer=None,
    ) -> None:
        self.store = store
        self.capacity = capacity
        self.ttl = ttl_seconds
        self.clock = clock
        # optional replicas.ReplicaBalancer: the READ path load-balances
        # across snapshot mirrors (C2) while publish stays on the
        # primary store — the reference's split between the serving
        # port-forward pool and the single refresh loop
        self.balancer = balancer
        self._lru: OrderedDict[str, _CacheSlot] = OrderedDict()
        self.refresh_count = 0  # ingest jobs actually run (test/observability)
        self.hit_count = 0  # 304-analog short-circuits

    def get(
        self,
        spark: SparkSession,
        catalog: str,
        source_version: Callable[[], str],
        build: Callable[[SparkSession], DataFrame],
    ) -> DataFrame:
        """Serve ``catalog``, re-ingesting only if the source changed.

        ``source_version`` is the Last-Modified probe; ``build`` produces
        the snapshot DataFrame when (and only when) a refresh is needed.
        """
        now = self.clock()
        slot = self._lru.get(catalog)
        if slot is not None and now - slot.cached_at <= self.ttl:
            version = source_version()
            if version == slot.info.version:
                # 304 path: serve the held snapshot, zero recompute. With
                # replicas every read resolves through the balancer, so
                # failover stays live.
                self._lru.move_to_end(catalog)
                self.hit_count += 1
                return slot.df if self.balancer is None else self._read(spark, catalog)

        version = source_version()
        current = self.store.current(catalog)
        if current is not None and current.version == version:
            info = current  # already published by a previous process
        else:
            info = self.store.publish(build(spark), catalog, version)
            self.refresh_count += 1
        df = self._read(spark, catalog)
        self._admit(catalog, _CacheSlot(info, df, KeyIndex.of(df), now))
        return df

    def index(self, catalog: str) -> KeyIndex:
        """The key index of the snapshot ``get`` last served for ``catalog``."""
        return self._lru[catalog].index

    def _read(self, spark: SparkSession, catalog: str) -> DataFrame:
        if self.balancer is not None:
            return self.balancer.read(spark, catalog)
        return self.store.read(spark, catalog)

    # -- LRU/TTL plumbing ------------------------------------------------
    def _admit(self, catalog: str, slot: _CacheSlot) -> None:
        self._lru.pop(catalog, None)
        self._lru[catalog] = slot
        while len(self._lru) > self.capacity:
            victim, _ = self._lru.popitem(last=False)
            self.store.drop(victim)

    def expire(self) -> list[str]:
        """Drop all slots older than the TTL (staleness bound)."""
        now = self.clock()
        victims = [c for c, s in self._lru.items() if now - s.cached_at > self.ttl]
        for c in victims:
            self.invalidate(c)
        return victims

    def invalidate(self, catalog: str) -> None:
        if self._lru.pop(catalog, None) is not None:
            self.store.drop(catalog)


# --------------------------------------------------------------------------
# HTTP extract edge: the real conditional-GET probe (cache.go:49-69)
# --------------------------------------------------------------------------

class HttpStreamSource:
    """Conditional-GET source for an ``all.json`` meta stream.

    Implements the reference's freshness protocol over real HTTP
    (cache.go:49-66): the version token is the upstream ``ETag`` (when
    present) or ``Last-Modified`` header; ``fetch`` sends
    ``If-None-Match`` / ``If-Modified-Since`` and treats **304 → None**
    (serve the existing snapshot, zero bytes moved, zero Spark jobs).
    Works against any HTTP(S) server — unit tests stand up a local
    ``http.server``, whose handler honors If-Modified-Since natively.

    The body spools to a local file because Spark reads paths, not
    sockets; at scale the spool target would be shared storage and the
    object store's own conditional-read tokens replace the headers.
    """

    def __init__(self, url: str, spool_dir: str) -> None:
        self.url = url
        self.spool_dir = spool_dir
        self.probe_count = 0  # HEAD probes issued (observability)
        self.fetch_count = 0  # 200 bodies actually downloaded

    @staticmethod
    def _token(headers) -> str:
        return headers.get("ETag") or headers.get("Last-Modified") or ""

    def version(self) -> str:
        """HEAD probe → version token. No body transfer.

        A server that sends neither ETag nor Last-Modified yields a
        per-probe unique token: '' would compare equal on every probe
        and serve a stale catalog forever (ADVICE r2); a never-matching
        token degrades validator-less upstreams to always-refetch.
        """
        req = urllib.request.Request(self.url, method="HEAD")
        self.probe_count += 1
        with urllib.request.urlopen(req) as resp:
            return self._token(resp.headers) or f"unversioned-{self.probe_count}"

    def fetch(self, known_version: str | None = None) -> str | None:
        """Conditional GET. Returns the spooled body path, or None on 304
        (upstream unchanged vs ``known_version``)."""
        headers = {}
        if known_version:
            if known_version.startswith(('"', "W/")):
                headers["If-None-Match"] = known_version
            else:
                headers["If-Modified-Since"] = known_version
        req = urllib.request.Request(self.url, headers=headers)
        try:
            resp = urllib.request.urlopen(req)
        except urllib.error.HTTPError as e:
            if e.code == 304:
                return None
            raise
        with resp:
            os.makedirs(self.spool_dir, exist_ok=True)
            path = os.path.join(self.spool_dir, "all.json")
            with open(path, "wb") as f:
                shutil.copyfileobj(resp, f)
        self.fetch_count += 1
        return path


def get_http_catalog(
    manager: FreshnessManager,
    spark: SparkSession,
    catalog: str,
    source: HttpStreamSource,
) -> DataFrame:
    """Serve ``catalog`` from an HTTP meta stream with real 304
    semantics: the manager's version probe is the source's HEAD token;
    the ingest build (download → shred → publish) runs only on change."""
    from .ingest import ingest_meta_stream

    def build(sp: SparkSession) -> DataFrame:
        path = source.fetch(None)  # unconditional: probe already said "changed"
        return ingest_meta_stream(sp, path)

    return manager.get(spark, catalog, source.version, build)
