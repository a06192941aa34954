"""The engine facade: the reference's full HTTP API surface as one
Python object.

Each method is one endpoint of the reference's serving layer
(main.go:77-85), wired through the same stages its handlers run —
registry point lookup (S2, main.go:322-333), readiness guard (P1,
main.go:132-135), freshness-aware snapshot acquisition (S3/C1,
cache.go:37-93), then the answer (Q1-Q5). A user of the reference can
switch by calling these methods instead of the HTTP endpoints; listings
come back as DataFrames (the API edge serializes with ``df.toJSON()``
exactly where the reference ran ``json.NewEncoder``).

Where the answer comes from:

- The registry listing and the three key listings (Q1-Q3) are built from
  driver-held data — the registry and the snapshot's ``KeyIndex`` — as
  local Arrow tables: on the 304 path they launch no Spark job, as the
  reference's directory reads (main.go:143,185,226) touch no blob.
- A point read (Q4/Q5) of a key the index lacks is a 404 with no Spark
  job; a present key runs the ``queries`` plan over the held, resolved
  snapshot DataFrame, pruned to its one partition.

| reference endpoint (main.go:77-85)                      | method          |
|---------------------------------------------------------|-----------------|
| GET /{resource}                                         | list_catalogs   |
| GET /{resource}/{catalog}                               | get_catalog     |
| GET /{resource}/{catalog}/packages                      | list_packages   |
| GET /{resource}/{catalog}/packages/{pkg}                | list_schemas    |
| GET /{resource}/{catalog}/packages/{pkg}/{schema}       | list_objects    |
| GET /{resource}/{catalog}/packages/{pkg}/{schema}/{name}| get_object      |
| GET /{resource}/{catalog}/packages/{pkg}/icon           | get_icon        |
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import queries as nav
from .catalog import CatalogEntry, CatalogRegistry
from .ingest import SCHEMA_PACKAGE
from .keyindex import KeyIndex, string_frame
from .refresh import FreshnessManager
from .store import SnapshotStore


class ConsoleEngine:
    """Registry + guard + freshness cache + navigation queries in one
    serving facade.

    ``sources`` maps catalog name → (source_version probe, build fn):
    the conditional-GET analog pair the FreshnessManager needs. The
    probe returns the upstream version token (Last-Modified); build
    produces the snapshot DataFrame only when the token changed —
    unchanged upstream serves the cached snapshot with zero recompute
    (the 304 path, cache.go:64-66).
    """

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        registry: CatalogRegistry | None = None,
        capacity: int = 100,
        ttl_seconds: float = 24 * 3600.0,
    ) -> None:
        self.spark = spark
        self.store = store
        self.registry = registry or CatalogRegistry()
        self.refresh = FreshnessManager(
            store, capacity=capacity, ttl_seconds=ttl_seconds
        )
        self._sources: dict[
            str, tuple[Callable[[], str], Callable[[SparkSession], DataFrame]]
        ] = {}

    # -- registration ------------------------------------------------------
    def register_catalog(
        self,
        entry: CatalogEntry,
        source_version: Callable[[], str],
        build: Callable[[SparkSession], DataFrame],
    ) -> None:
        self.registry.register(entry)
        self._sources[entry.name] = (source_version, build)

    # -- S1/S2: registry endpoints ----------------------------------------
    def list_catalogs(self) -> DataFrame:
        return self.registry.to_df(self.spark)

    def get_catalog(self, catalog: str) -> CatalogEntry:
        return self.registry.get(catalog)

    # -- the guarded, freshness-checked snapshot acquisition (every data
    # endpoint of the reference starts exactly like this) ------------------
    def _snapshot(self, catalog: str) -> tuple[DataFrame, KeyIndex]:
        self.registry.require_ready(catalog)  # P1: 503 analog
        probe, build = self._sources[catalog]
        metas = self.refresh.get(self.spark, catalog, probe, build)
        return metas, self.refresh.index(catalog)

    # -- Q1-Q5: data endpoints --------------------------------------------
    def list_packages(self, catalog: str) -> DataFrame:
        _, index = self._snapshot(catalog)
        return string_frame(self.spark, {"package": index.packages()})

    def list_schemas(self, catalog: str, package: str) -> DataFrame:
        _, index = self._snapshot(catalog)
        return string_frame(self.spark, {"schema": index.schemas(package)})

    def list_objects(self, catalog: str, package: str, schema: str) -> DataFrame:
        _, index = self._snapshot(catalog)
        return string_frame(self.spark, {"name": index.names(package, schema)})

    def get_object(
        self, catalog: str, package: str, schema: str, name: str
    ) -> str | None:
        """The raw blob, or None for a missing key (the 404 path)."""
        metas, index = self._snapshot(catalog)
        if (package, schema, name) not in index:
            return None
        rows = nav.get_object(metas, package, schema, name).take(1)
        return rows[0]["blob"] if rows else None

    def get_icon(self, catalog: str, package: str) -> tuple[bytes, str] | None:
        """(icon bytes, media type), or None when the package or its
        icon is absent (main.go:297-313's two 404 paths collapse to one
        None — both mean "no icon to serve")."""
        metas, index = self._snapshot(catalog)
        if (package, SCHEMA_PACKAGE, package) not in index:
            return None
        rows = nav.get_package_icon(metas, package).take(1)
        if not rows:
            return None
        return rows[0]["icon_data"], rows[0]["icon_mediatype"]
