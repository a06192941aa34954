"""Reference-semantics tests for the engine core (SURVEY.md §5.2 item 2):
key derivation (T1), snapshot publish/atomicity (T2/T3), freshness/LRU
(S3/C1), registry + guard (S1/S2/P1) — on the FBC-shaped fixture.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from console_etl_spark.catalog import (
    CatalogEntry,
    CatalogNotFoundError,
    CatalogNotReadyError,
    CatalogRegistry,
    PHASE_UNPACKED,
)
from console_etl_spark.ingest import (
    GLOBAL_PACKAGE,
    derive_partition_key,
    ingest_meta_stream,
    shred_metas,
)
from console_etl_spark.refresh import FreshnessManager
from console_etl_spark.store import SnapshotStore


# --------------------------------------------------------------------------
# T1: partition-key fallback triple (cache.go:100-106)
# --------------------------------------------------------------------------

def test_derive_partition_key_triple(spark):
    rows = [
        # (schema, package, name) -> expected key
        ("olm.channel", "pkgA", "ch1", "pkgA"),  # normal: package wins
        ("olm.package", "ignored", "pkgB", "pkgB"),  # olm.package: name wins
        ("olm.package", "", "pkgC", "pkgC"),
        ("olm.bundle", "", "b1", GLOBAL_PACKAGE),  # empty -> __global
        ("olm.bundle", None, "b2", GLOBAL_PACKAGE),  # null -> __global
        ("olm.package", "x", "", GLOBAL_PACKAGE),  # empty name on package row
    ]
    df = spark.createDataFrame(
        [(s, p, n) for s, p, n, _ in rows], "schema string, package string, name string"
    )
    got = df.withColumn(
        "key", derive_partition_key(F.col("schema"), F.col("package"), F.col("name"))
    ).collect()
    for row, (_, _, _, expected) in zip(got, rows):
        assert row.key == expected, row


def test_shred_metas_replaces_package(catalog_metas):
    shredded = shred_metas(catalog_metas)
    bad = shredded.filter(
        F.col("package").isNull() | (F.col("package") == "")
    ).count()
    assert bad == 0  # partition key law: never empty
    # olm.package rows keyed by name
    pkg_rows = shredded.filter(F.col("schema") == "olm.package")
    assert pkg_rows.filter(F.col("package") != F.col("name")).count() == 0


# --------------------------------------------------------------------------
# S4+T1: JSON meta-stream ingest round trip (property: multiset equality)
# --------------------------------------------------------------------------

def test_meta_stream_roundtrip(spark, meta_stream_path):
    df = ingest_meta_stream(spark, meta_stream_path)
    with open(meta_stream_path) as f:
        raw_lines = [line.strip() for line in f if line.strip()]
    # expected store content: one blob per derived (package, schema, name)
    # key, LAST stream occurrence winning — the reference's per-record file
    # write overwrites earlier records with the same key (cache.go:107-114)
    expected: dict[tuple, str] = {}
    for line in raw_lines:
        doc = json.loads(line)
        pkg = doc["name"] if doc["schema"] == "olm.package" else doc.get("package") or ""
        pkg = pkg or GLOBAL_PACKAGE
        expected[(pkg, doc["schema"], doc["name"])] = line
    got = df.select("blob").toPandas()["blob"].tolist()
    assert sorted(got) == sorted(expected.values())  # blobs byte-faithful
    # envelope matches payload fields
    sample = df.limit(50).collect()
    for r in sample:
        doc = json.loads(r.blob)
        assert r.schema == doc["schema"]
        assert r.name == doc["name"]


# --------------------------------------------------------------------------
# T2/T3: snapshot store publish + atomicity + idempotency
# --------------------------------------------------------------------------

@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "snapshots"))


def test_publish_read_roundtrip(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    info = store.publish(df, "cat0", "v1")
    assert store.current("cat0").version == "v1"
    back = store.read(spark, "cat0")
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_republish_same_version_is_noop(spark, store, catalog_metas):
    """The reference would fail EEXIST on same-version republish
    (cache.go:84-86); ours must be an idempotent no-op."""
    df = shred_metas(catalog_metas.drop("catalog"))
    info1 = store.publish(df, "cat0", "v1")
    info2 = store.publish(df, "cat0", "v1")
    assert info1 == info2


def test_publish_flips_pointer_atomically(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    store.publish(df.limit(10), "cat0", "v2")
    cur = store.current("cat0")
    assert cur.version == "v2"
    assert store.read(spark, "cat0").count() == 10
    assert sorted(store.versions("cat0")) == ["v1", "v2"]
    # old snapshot still intact for in-flight readers
    assert os.path.exists(os.path.join(store.snapshot_path("cat0", "v1"), "_SUCCESS"))


def test_publish_cas_detects_lost_update(spark, store, catalog_metas):
    """Optimistic concurrency: a writer that derived from v1 must NOT
    silently overwrite another writer's v2 — the conflict raises, the
    manifest stays on v2, and the loser's directory is left for
    vacuum."""
    from console_etl_spark.store import ConcurrentPublishError

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    # writer B publishes v2 first (derived from v1)
    store.publish(df.limit(10), "cat0", "v2", expected_current="v1")
    # writer A also derived from v1 — its CAS must fail
    with pytest.raises(ConcurrentPublishError):
        store.publish(df.limit(5), "cat0", "v2b", expected_current="v1")
    assert store.current("cat0").version == "v2"
    # expect-never-published guard on a fresh catalog works, and a wrong
    # expectation on one fails fast
    store.publish(df.limit(3), "cat1", "v1", expected_current=None)
    with pytest.raises(ConcurrentPublishError):
        store.publish(df.limit(3), "cat2", "v1", expected_current="v9")
    # the correctly-derived retry succeeds
    info = store.publish(df.limit(5), "cat0", "v3", expected_current="v2")
    assert info.version == "v3"
    assert store.read(spark, "cat0").count() == 5


def test_publish_guarded_same_version_conflict_raises(spark, store, catalog_metas):
    """ADVICE r6 (store.py): two racing writers derive from v1 and both
    compute next version 'v2'. The loser publishes v2 with
    expected_current='v1' AFTER the winner flipped to v2 — it must
    raise, not hit the idempotent same-version no-op and 'succeed'
    returning the winner's different data."""
    from console_etl_spark.store import ConcurrentPublishError

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    store.publish(df.limit(10), "cat0", "v2", expected_current="v1")
    with pytest.raises(ConcurrentPublishError):
        store.publish(df.limit(5), "cat0", "v2", expected_current="v1")
    # winner's snapshot untouched
    assert store.read(spark, "cat0").count() == 10
    # UNGUARDED republish of the current version stays an idempotent no-op
    assert store.publish(df.limit(5), "cat0", "v2").version == "v2"
    assert store.read(spark, "cat0").count() == 10


def test_rollback_cas_serialized_by_publish_lock(spark, store, catalog_metas):
    """ADVICE r6 (store.py): guarded rollback must take the same
    .publish.lock flock as publish's CAS flip — while another writer
    holds the lock, rollback's check+flip blocks instead of racing."""
    import fcntl
    import threading

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    store.publish(df.limit(10), "cat0", "v2")
    lock_path = os.path.join(store._catalog_dir("cat0"), ".publish.lock")
    done = threading.Event()
    with open(lock_path, "w") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX)
        t = threading.Thread(
            target=lambda: (
                store.rollback("cat0", "v1", expected_current="v2"),
                done.set(),
            )
        )
        t.start()
        # rollback must be blocked on the flock while we hold it
        assert not done.wait(timeout=1.0)
        fcntl.flock(holder, fcntl.LOCK_UN)
    t.join(timeout=30)
    assert done.is_set()
    assert store.current("cat0").version == "v1"


def test_rollback_restores_previous_snapshot(spark, store, catalog_metas):
    """rollback() must flip the pointer back to an intact old version
    without touching data, re-pin the old schema, and honor the same
    CAS guard as publish."""
    from console_etl_spark.store import ConcurrentPublishError

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    store.publish(df.limit(10).withColumn("extra", F.lit(1)), "cat0", "v2",
                  evolution="any")
    assert store.current("cat0").version == "v2"
    info = store.rollback("cat0", "v1", expected_current="v2")
    assert info.version == "v1"
    back = store.read(spark, "cat0")
    assert back.count() == df.count()
    assert "extra" not in back.columns
    # the bad snapshot is still on disk for forensics
    assert "v2" in store.versions("cat0")
    # CAS guard applies
    with pytest.raises(ConcurrentPublishError):
        store.rollback("cat0", "v2", expected_current="v2")
    # unknown version refuses
    with pytest.raises(FileNotFoundError):
        store.rollback("cat0", "v9")


def test_vacuum_keeps_current(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    for v in ["v1", "v2", "v3"]:
        store.publish(df.limit(5), "cat0", v)
    removed = store.vacuum("cat0", keep=1)
    assert "v3" not in removed
    assert store.current("cat0").version == "v3"


def test_partition_pruning_in_plan(spark, store, catalog_metas):
    """Queries on package/schema must prune Hive partitions — the
    engine's analog of the reference's directory-scoped reads
    (main.go:143,185,226)."""
    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    snap = store.read(spark, "cat0")
    plan = (
        snap.filter((F.col("package") == "pkg01") & (F.col("schema") == "olm.bundle"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "pkg01" in plan


def test_point_lookup_row_group_skipping(spark, tmp_path):
    """The snapshot write sorts by ``name`` within each task (VERDICT r2
    item 6) so parquet row-group min/max stats make the 3-key point
    lookup (Q4) a skip-scan: on a multi-row-group partition, at most ONE
    row group's [min,max] can contain a given name. Without the sort,
    a point lookup at 100 TB reads the whole (package, schema) subtree."""
    import glob as globmod

    import pyarrow.parquet as pq

    from console_etl_spark.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "rg_store"))
    hconf = spark._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 16 * 1024)  # force many row groups
    try:
        df = spark.range(40_000).selectExpr(
            "'pkg' AS package",
            "'olm.bundle' AS schema",
            # id-scrambled names: unsorted on arrival, the publish sort
            # is what makes the stats tight
            "concat('n-', lpad(cast((id * 48271) % 40000 as string), 8, '0')) AS name",
            "repeat('x', 64) AS blob",
        ).coalesce(1)
        info = store.publish(df, "cat_rg", "v1")
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    files = globmod.glob(f"{info.path}/package=pkg/schema=olm.bundle/*.parquet")
    assert files, "expected parquet output"
    pf = pq.ParquetFile(files[0])
    assert pf.num_row_groups >= 4, "fixture must span multiple row groups"
    name_idx = pf.schema_arrow.names.index("name")
    bounds = []
    for g in range(pf.num_row_groups):
        st = pf.metadata.row_group(g).column(name_idx).statistics
        assert st is not None and st.has_min_max
        bounds.append((st.min, st.max))
    # sorted layout → non-overlapping row-group ranges
    for (lo1, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert lo1 <= hi1 <= lo2, bounds
    # the skip-scan property: a probe key fits inside at most one group
    for probe in ("n-00000000", "n-00019997", "n-00039999"):
        containing = [b for b in bounds if b[0] <= probe <= b[1]]
        assert len(containing) <= 1, (probe, containing)


# --------------------------------------------------------------------------
# S3/C1: freshness manager (304 analog, LRU, TTL)
# --------------------------------------------------------------------------

def test_refresh_304_short_circuit(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    clock = [1000.0]
    mgr = FreshnessManager(store, clock=lambda: clock[0])
    builds = []

    def build(s):
        builds.append(1)
        return df

    for _ in range(3):
        mgr.get(spark, "cat0", lambda: "v1", build)
    assert len(builds) == 1  # one ingest, two 304-analog hits
    assert mgr.hit_count == 2
    assert mgr.refresh_count == 1


def test_refresh_on_version_change(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    clock = [1000.0]
    mgr = FreshnessManager(store, clock=lambda: clock[0])
    version = ["v1"]
    mgr.get(spark, "cat0", lambda: version[0], lambda s: df)
    version[0] = "v2"
    got = mgr.get(spark, "cat0", lambda: version[0], lambda s: df.limit(7))
    assert store.current("cat0").version == "v2"
    assert got.count() == 7


def test_ttl_expiry_forces_reprobe(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog"))
    clock = [1000.0]
    mgr = FreshnessManager(store, ttl_seconds=100, clock=lambda: clock[0])
    probes = []

    def probe():
        probes.append(1)
        return "v1"

    mgr.get(spark, "cat0", probe, lambda s: df)
    clock[0] += 200  # past TTL: cached slot stale, must re-probe + republish-check
    mgr.get(spark, "cat0", probe, lambda s: df)
    assert len(probes) >= 2


def test_lru_eviction_drops_snapshot(spark, store, catalog_metas):
    df = shred_metas(catalog_metas.drop("catalog")).limit(20)
    mgr = FreshnessManager(store, capacity=2)
    for cat in ["a", "b", "c"]:
        mgr.get(spark, cat, lambda: "v1", lambda s: df)
    assert store.current("a") is None  # evicted (os.RemoveAll analog)
    assert store.current("b") is not None
    assert store.current("c") is not None


# --------------------------------------------------------------------------
# S1/S2/P1: registry + readiness guard
# --------------------------------------------------------------------------

def test_registry_and_guard(spark):
    reg = CatalogRegistry()
    reg.register(CatalogEntry("ready-cat", phase=PHASE_UNPACKED))
    reg.register(CatalogEntry("pending-cat", phase="Pending"))

    assert {e.name for e in reg.list()} == {"ready-cat", "pending-cat"}
    assert reg.require_ready("ready-cat").name == "ready-cat"
    with pytest.raises(CatalogNotReadyError):
        reg.require_ready("pending-cat")  # 503 path (main.go:133-135)
    with pytest.raises(CatalogNotFoundError):
        reg.get("missing")  # 404 path

    df = reg.to_df(spark)
    assert df.filter(F.col("phase") == PHASE_UNPACKED).count() == 1


# --------------------------------------------------------------------------
# Skew salting + approx aggregates
# --------------------------------------------------------------------------

def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result: same rows as a plain
    equi-join on a skewed key distribution (90% of rows share one key)."""
    from pyspark.sql import functions as F

    from console_etl_spark.relational import salted_join

    large = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    got = salted_join(large, small, "k").groupBy("k").count().collect()
    want = large.join(small, "k").groupBy("k").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_salted_count_matches_exact(spark):
    from pyspark.sql import functions as F

    from console_etl_spark.relational import salted_count

    df = spark.range(5_000).select((F.col("id") % 3).alias("k"))
    got = {r.k: r.n for r in salted_count(df, "k").collect()}
    want = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want


def test_approx_distinct_within_tolerance(spark):
    from console_etl_spark.relational import approx_distinct_events
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST
    from pyspark.sql import functions as F

    approx = {
        r.event_type: r.approx_users
        for r in approx_distinct_events(spark, SF_TEST).collect()
    }
    exact = {
        r.event_type: r.exact
        for r in load_table(spark, SF_TEST, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    for et, ex in exact.items():
        assert abs(approx[et] - ex) <= max(2, 0.05 * ex), (et, approx[et], ex)


def test_compact_preserves_rows_and_reduces_files(spark, store, catalog_metas):
    """Compaction must keep row content identical, shrink the file count,
    and publish as a new version via the manifest (old snapshot intact)."""
    import glob
    import os

    from console_etl_spark.ingest import shred_metas

    metas = shred_metas(catalog_metas.filter("catalog = 'catalog0'")).drop("catalog")
    # fragment the write: many shuffle partitions -> many files per dir
    store.publish(metas.repartition(8), "compactme", "v1")
    before_files = glob.glob(
        os.path.join(store.current("compactme").path, "**", "*.parquet"),
        recursive=True,
    )
    before_rows = sorted(map(tuple, store.read(spark, "compactme").collect()))

    info = store.compact(spark, "compactme")
    assert info.version == "v1-compact"
    assert store.current("compactme").version == "v1-compact"
    after_files = glob.glob(
        os.path.join(info.path, "**", "*.parquet"), recursive=True
    )
    assert len(after_files) < len(before_files)
    assert sorted(map(tuple, store.read(spark, "compactme").collect())) == before_rows


def test_empty_snapshot_round_trips(spark, store):
    """An empty catalog dump is a legitimate upstream state: publish must
    succeed and read must return an EMPTY frame with the right schema
    (parquet alone cannot infer a schema from zero data files)."""
    empty = spark.createDataFrame(
        [], "package string, schema string, name string, blob string"
    )
    store.publish(empty, "emptycat", "v1")
    df = store.read(spark, "emptycat")
    assert df.count() == 0
    assert set(df.columns) == {"package", "schema", "name", "blob"}


def test_apply_changes_upsert_delete_and_time_travel(spark, store):
    """CDC apply: upserts replace/insert, deletes remove, untouched rows
    survive; the previous version stays readable via time travel."""
    from console_etl_spark.store import apply_changes

    base = spark.createDataFrame(
        [
            ("p1", "olm.bundle", "a", "v1-a"),
            ("p1", "olm.bundle", "b", "v1-b"),
            ("p2", "olm.channel", "c", "v1-c"),
        ],
        "package string, schema string, name string, blob string",
    )
    store.publish(base, "cdc", "v1")

    changes = spark.createDataFrame(
        [
            ("p1", "olm.bundle", "b", "v2-b", "upsert"),   # replace
            ("p3", "olm.bundle", "d", "v2-d", "upsert"),   # insert
            ("p2", "olm.channel", "c", None, "delete"),    # remove
            ("p3", "olm.bundle", "d", "v2-d2", "upsert"),  # same key again: last wins
        ],
        "package string, schema string, name string, blob string, _op string",
    )
    next_df = apply_changes(store.read(spark, "cdc"), changes)
    store.publish(next_df, "cdc", "v2")

    got = {
        (r.package, r.schema, r.name): r.blob
        for r in store.read(spark, "cdc").collect()
    }
    assert got == {
        ("p1", "olm.bundle", "a"): "v1-a",
        ("p1", "olm.bundle", "b"): "v2-b",
        ("p3", "olm.bundle", "d"): "v2-d2",
    }
    # time travel: v1 unchanged
    old = {
        (r.package, r.schema, r.name): r.blob
        for r in store.read_version(spark, "cdc", "v1").collect()
    }
    assert old[("p2", "olm.channel", "c")] == "v1-c" and len(old) == 3


def test_apply_changes_rejects_bad_ops(spark):
    from console_etl_spark.store import apply_changes
    import pytest as _pytest

    cur = spark.createDataFrame(
        [("p", "s", "n", "b")], "package string, schema string, name string, blob string"
    )
    bad = spark.createDataFrame(
        [("p", "s", "n", "b", "replace")],
        "package string, schema string, name string, blob string, _op string",
    )
    with _pytest.raises(ValueError, match="upsert"):
        apply_changes(cur, bad)
    with _pytest.raises(ValueError, match="_op"):
        apply_changes(cur, cur)


# --------------------------------------------------------------------------
# ConsoleEngine facade: the reference's 7 endpoints end to end
# --------------------------------------------------------------------------

def test_engine_facade_end_to_end(spark, store, catalog_metas):
    """Wire registry + guard + freshness + navigation through the facade
    and exercise every endpoint analog, including the 304 short-circuit,
    the not-ready 503, and both 404 shapes."""
    import pytest as _pytest

    from console_etl_spark.catalog import (
        CatalogEntry,
        CatalogNotReadyError,
    )
    from console_etl_spark.engine import ConsoleEngine

    metas = shred_metas(catalog_metas.drop("catalog"))
    version = ["v1"]
    builds = [0]

    def build(s):
        builds[0] += 1
        return metas

    eng = ConsoleEngine(spark, store)
    eng.register_catalog(
        CatalogEntry(name="cat", source="test"), lambda: version[0], build
    )

    # S1/S2
    assert eng.list_catalogs().count() == 1
    assert eng.get_catalog("cat").name == "cat"

    # Q1-Q3: sorted listings, partition-pruned
    pkgs = [r["package"] for r in eng.list_packages("cat").collect()]
    assert pkgs == sorted(pkgs) and len(pkgs) > 0
    schemas = [r["schema"] for r in eng.list_schemas("cat", pkgs[0]).collect()]
    assert schemas == sorted(schemas)
    objs = eng.list_objects("cat", pkgs[0], schemas[0])
    names = [r["name"] for r in objs.collect()]
    assert names == sorted(names) and len(names) > 0
    assert builds[0] == 1  # one ingest served all three queries

    # 304 path: same version -> no rebuild
    eng.list_packages("cat")
    assert builds[0] == 1 and eng.refresh.hit_count >= 1

    # Q4: point lookup + 404 None
    blob = eng.get_object("cat", pkgs[0], schemas[0], names[0])
    assert blob is not None and names[0] in blob
    assert eng.get_object("cat", pkgs[0], schemas[0], "no-such-object") is None

    # Q5: icon extraction (find a package with an icon) + iconless None
    import json as _json

    from pyspark.sql import functions as _F

    pkg_rows = metas.filter(_F.col("schema") == "olm.package").collect()
    with_icon = [r for r in pkg_rows if _json.loads(r["blob"]).get("icon")]
    without = [r for r in pkg_rows if not _json.loads(r["blob"]).get("icon")]
    assert with_icon
    data, media = eng.get_icon("cat", with_icon[0]["package"])
    assert media == "image/svg+xml" and data.startswith(b"<svg")
    # both 404 shapes: icon-less package (when the shred survivors
    # include one) and missing package entirely
    if without:
        assert eng.get_icon("cat", without[0]["package"]) is None
    assert eng.get_icon("cat", "no-such-package") is None

    # version bump -> exactly one rebuild
    version[0] = "v2"
    eng.refresh.invalidate("cat")
    eng.list_packages("cat")
    assert builds[0] == 2

    # P1 guard: not-ready catalog refuses queries (503 analog)
    eng.registry.set_phase("cat", "Pending")
    with _pytest.raises(CatalogNotReadyError):
        eng.list_packages("cat")


# --------------------------------------------------------------------------
# Key index: the facade's listings and 404s without Spark jobs
# --------------------------------------------------------------------------

ENVELOPE_DDL = "package string, schema string, name string, blob string"


def _doc(schema, package, name, icon=None, **extra):
    doc = {"schema": schema, "package": package, "name": name, **extra}
    if icon is not None:
        doc["icon"] = icon
    return json.dumps(doc)


def _key_index_rows() -> list[tuple]:
    """A snapshot with every key shape the index must reproduce: the
    ``__global`` bucket (with a null name), a package without an
    ``olm.package`` doc, an icon-less package, duplicate names (with
    different blobs), and names whose binary order differs from their
    case-folded order."""
    import base64

    svg = {"base64data": base64.b64encode(b"<svg/>").decode(), "mediatype": "image/svg+xml"}
    return [
        ("__global", "olm.bundle", "orphan-b", _doc("olm.bundle", "", "orphan-b")),
        ("__global", "olm.bundle", "orphan-a", _doc("olm.bundle", "", "orphan-a")),
        ("__global", "olm.bundle", None, json.dumps({"schema": "olm.bundle"})),
        ("alpha", "olm.package", "alpha", _doc("olm.package", "", "alpha", icon=svg)),
        ("alpha", "olm.channel", "stable", _doc("olm.channel", "alpha", "stable")),
        ("alpha", "olm.bundle", "alpha.v2", _doc("olm.bundle", "alpha", "alpha.v2")),
        ("alpha", "olm.bundle", "alpha.v1", _doc("olm.bundle", "alpha", "alpha.v1", rev=1)),
        ("alpha", "olm.bundle", "alpha.v1", _doc("olm.bundle", "alpha", "alpha.v1", rev=2)),
        ("alpha", "olm.bundle", "Zeta.v0", _doc("olm.bundle", "alpha", "Zeta.v0")),
        ("alpha", "olm.bundle", "\u00e9clair", _doc("olm.bundle", "alpha", "\u00e9clair")),
        ("beta", "olm.channel", "fast", _doc("olm.channel", "beta", "fast")),
        ("beta", "olm.bundle", "beta.v1", _doc("olm.bundle", "beta", "beta.v1")),
        ("gamma", "olm.package", "gamma", _doc("olm.package", "", "gamma")),
        ("gamma", "olm.channel", "stable", _doc("olm.channel", "gamma", "stable")),
        ("Gamma", "olm.package", "Gamma", _doc("olm.package", "", "Gamma", icon=svg)),
    ]


@pytest.mark.parametrize("snapshot", ["mixed", "empty"])
def test_key_index_answers_equal_queries(spark, store, snapshot):
    """Every facade listing and point read equals the ``queries``
    DataFrame function over ``store.read`` of the same snapshot — in
    order and multiplicity, for present and missing keys alike."""
    from console_etl_spark import queries as nav
    from console_etl_spark.engine import ConsoleEngine

    rows = _key_index_rows() if snapshot == "mixed" else []
    metas = spark.createDataFrame(rows, ENVELOPE_DDL)
    eng = ConsoleEngine(spark, store)
    eng.register_catalog(CatalogEntry("cat"), lambda: "v1", lambda s: metas)

    def same(got, want):
        assert got.dtypes == want.dtypes
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    packages_df = eng.list_packages("cat")  # the one ingest and publish
    ref = store.read(spark, "cat")
    same(packages_df, nav.list_packages(ref))
    packages = sorted({r[0] for r in rows}) + ["no-such-package"]
    schemas = sorted({r[1] for r in rows}) + ["olm.package", "no-such-schema"]
    for p in packages:
        same(eng.list_schemas("cat", p), nav.list_schemas(ref, p))
        icon = nav.get_package_icon(ref, p).take(1)
        assert eng.get_icon("cat", p) == (tuple(icon[0]) if icon else None), p
        for s in schemas:
            same(eng.list_objects("cat", p, s), nav.list_objects(ref, p, s))
    probes = [(p, s, n) for p, s, n, _ in rows if n is not None] + [
        ("no-such-package", "olm.bundle", "alpha.v1"),
        ("alpha", "no-such-schema", "alpha.v1"),
        ("alpha", "olm.bundle", "no-such-name"),
    ]
    for key in probes:
        blob = nav.get_object(ref, *key).take(1)
        assert eng.get_object("cat", *key) == (blob[0]["blob"] if blob else None), key


def _n_jobs_settled(spark) -> int:
    """Jobs submitted this session, once the listener bus has delivered
    every event already posted."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def test_engine_304_path_launches_no_spark_job(spark, store, catalog_metas):
    """On the 304 path the registry listing, the three key listings
    (collected) and point reads of missing keys are answered on the
    driver: the session's job count does not move."""
    from console_etl_spark.engine import ConsoleEngine

    metas = shred_metas(catalog_metas.drop("catalog"))
    eng = ConsoleEngine(spark, store)
    eng.register_catalog(CatalogEntry("cat"), lambda: "v1", lambda s: metas)
    pkg = eng.list_packages("cat").collect()[0]["package"]  # the one ingest
    schema = eng.list_schemas("cat", pkg).collect()[0]["schema"]
    assert eng.list_objects("cat", pkg, schema).collect()

    before = _n_jobs_settled(spark)
    hits = eng.refresh.hit_count
    assert [r["name"] for r in eng.list_catalogs().collect()] == ["cat"]
    assert eng.list_packages("cat").collect()
    assert eng.list_schemas("cat", pkg).collect()
    assert eng.list_objects("cat", pkg, schema).collect()
    assert eng.get_object("cat", pkg, schema, "no-such-object") is None
    assert eng.get_object("cat", "no-such-package", schema, "x") is None
    assert eng.get_icon("cat", "no-such-package") is None
    assert _n_jobs_settled(spark) == before
    assert eng.refresh.hit_count == hits + 6


def test_listings_survive_eviction_mid_read(spark, store, catalog_metas):
    """A listing taken before its snapshot is evicted (LRU) or
    invalidated still collects afterwards, with the same rows."""
    from console_etl_spark.engine import ConsoleEngine

    metas = shred_metas(catalog_metas.drop("catalog"))
    eng = ConsoleEngine(spark, store, capacity=1)
    for cat in ("a", "b"):
        eng.register_catalog(CatalogEntry(cat), lambda: "v1", lambda s: metas)

    def take_listings(cat):
        """The three listings, taken but not yet collected, and their rows
        collected from a second set of the same calls."""
        pkg = eng.list_packages(cat).collect()[0]["package"]
        schema = eng.list_schemas(cat, pkg).collect()[0]["schema"]

        def listings():
            return [
                eng.list_packages(cat),
                eng.list_schemas(cat, pkg),
                eng.list_objects(cat, pkg, schema),
            ]

        return listings(), [df.collect() for df in listings()]

    a_dfs, a_rows = take_listings("a")
    b_dfs, b_rows = take_listings("b")  # capacity 1: admitting b evicts a
    assert store.current("a") is None
    eng.refresh.invalidate("b")
    assert store.current("b") is None
    assert [df.collect() for df in a_dfs] == a_rows
    assert [df.collect() for df in b_dfs] == b_rows
    assert all(a_rows) and all(b_rows)


# --------------------------------------------------------------------------
# S3 over real HTTP: conditional GET / 304 semantics (cache.go:49-69)
# --------------------------------------------------------------------------

class TestHttpFreshness:
    @pytest.fixture()
    def http_source_dir(self, tmp_path):
        """A local http.server over a dir holding all.json; its handler
        honors If-Modified-Since natively (file-mtime based)."""
        import functools
        import http.server
        import threading

        docroot = tmp_path / "www"
        docroot.mkdir()
        rows = [
            {"schema": "olm.channel", "package": f"p{i % 2}", "name": f"ch{i}"}
            for i in range(10)
        ]
        stream = docroot / "all.json"
        stream.write_text("\n".join(json.dumps(r) for r in rows))
        # HTTP dates have 1 s resolution: pin mtime well in the past so a
        # later rewrite (+10 s) is unambiguously newer.
        base = 1_700_000_000
        os.utime(stream, (base, base))

        handler = functools.partial(
            http.server.SimpleHTTPRequestHandler, directory=str(docroot)
        )
        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        try:
            yield f"http://127.0.0.1:{server.server_address[1]}/all.json", stream, base
        finally:
            server.shutdown()

    @staticmethod
    def _n_spark_jobs(spark) -> int:
        # total jobs submitted this session (AppStatusStore; bytecode-public)
        return spark._jsc.sc().statusStore().jobsList(None).size()

    def test_unchanged_upstream_serves_cache_with_zero_jobs(
        self, spark, tmp_path, http_source_dir
    ):
        from console_etl_spark.refresh import HttpStreamSource, get_http_catalog

        url, stream, base = http_source_dir
        store = SnapshotStore(str(tmp_path / "store"))
        mgr = FreshnessManager(store)
        src = HttpStreamSource(url, str(tmp_path / "spool"))

        df1 = get_http_catalog(mgr, spark, "web", src)
        assert df1.count() == 10
        assert (mgr.refresh_count, src.fetch_count) == (1, 1)

        # unchanged upstream: HEAD token matches -> cached snapshot,
        # zero Spark jobs launched, zero bytes fetched (the 304 analog)
        jobs_before = self._n_spark_jobs(spark)
        df2 = get_http_catalog(mgr, spark, "web", src)
        assert mgr.hit_count == 1
        assert (mgr.refresh_count, src.fetch_count) == (1, 1)
        assert self._n_spark_jobs(spark) == jobs_before
        assert df2 is df1  # the very cached DataFrame, not a re-read

        # upstream changes (newer Last-Modified): exactly one re-ingest
        rows = [{"schema": "olm.bundle", "package": "p9", "name": "b0"}]
        stream.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(stream, (base + 10, base + 10))
        df3 = get_http_catalog(mgr, spark, "web", src)
        assert (mgr.refresh_count, src.fetch_count) == (2, 2)
        assert df3.count() == 1

    def test_conditional_fetch_returns_none_on_304(self, http_source_dir, tmp_path):
        from console_etl_spark.refresh import HttpStreamSource

        url, _, _ = http_source_dir
        src = HttpStreamSource(url, str(tmp_path / "spool2"))
        token = src.version()
        assert token  # Last-Modified present
        path = src.fetch(None)
        assert path is not None and os.path.getsize(path) > 0
        assert src.fetch(token) is None  # 304: unchanged

    def test_validatorless_server_degrades_to_always_refetch(self, tmp_path):
        """A server sending neither ETag nor Last-Modified must never be
        treated as 'unchanged' — '' == '' would serve a stale catalog
        forever (ADVICE r2). The probe token must differ per probe."""
        import http.server
        import threading

        from console_etl_spark.refresh import HttpStreamSource

        class NoValidatorHandler(http.server.BaseHTTPRequestHandler):
            def _respond(self, body: bytes):
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command == "GET":
                    self.wfile.write(body)

            def do_GET(self):
                self._respond(b'{"schema": "olm.channel", "name": "x"}')

            do_HEAD = do_GET

            def log_message(self, *a):  # quiet test output
                pass

            # BaseHTTPRequestHandler adds Date but no ETag/Last-Modified
            def date_time_string(self, timestamp=None):
                return "Thu, 01 Jan 1970 00:00:00 GMT"

        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), NoValidatorHandler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        try:
            url = f"http://127.0.0.1:{server.server_address[1]}/all.json"
            src = HttpStreamSource(url, str(tmp_path / "spool3"))
            t1, t2 = src.version(), src.version()
            assert t1 and t2 and t1 != t2, (t1, t2)
        finally:
            server.shutdown()


def _assert_footer_read_matches_inference(spark, path):
    """Reading ``path`` by its footer schema, as load_table does before
    any column fix-up, gives Spark's inferred schema and the same rows."""
    from console_etl_spark.session import footer_schema

    declared = footer_schema(spark, path)
    assert declared is not None, path
    got = spark.read.schema(declared).parquet(path)
    want = spark.read.parquet(path)
    assert got.schema == want.schema, path
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr), path


def test_load_table_schema_equals_inferred_schema(spark, tmp_path):
    """load_table reads every fixture table, and a Spark-written
    directory with an INT96 timestamp, by exactly the schema
    ``spark.read.parquet`` infers. A plain Arrow mapping of the footer
    fails the directory (it is not a file) and reads INT96 as bigint."""
    from pyspark.sql.types import TimestampType

    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST, TABLES

    for name in TABLES:
        path = f"{SF_TEST}/{name}.parquet"
        if name != "events":  # events.ts is normalized after the read
            assert load_table(spark, SF_TEST, name).schema == spark.read.parquet(path).schema
        _assert_footer_read_matches_inference(spark, path)

    spark.range(3).select(
        "id",
        F.current_timestamp().alias("loaded_at"),  # INT96, Spark's default
        F.array("id").alias("ids"),
    ).repartition(2).write.parquet(str(tmp_path / "audit.parquet"))
    df = load_table(spark, str(tmp_path), "audit")
    assert df.schema == spark.read.parquet(str(tmp_path / "audit.parquet")).schema
    assert isinstance(df.schema["loaded_at"].dataType, TimestampType)
    _assert_footer_read_matches_inference(spark, str(tmp_path / "audit.parquet"))


def test_load_table_and_query_build_launch_no_spark_job(spark):
    """The schema comes from the footer on the driver: load_table on any
    fixture table, and building a query over 6 (q5_region_revenue) or 4
    (dq_violations_report) of them, leave the session's job count as it
    was. Inferring the schema ran one Spark job per load_table call."""
    import __spark_entry__ as entrymod
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST, TABLES

    qs = entrymod.queries()
    before = _n_jobs_settled(spark)
    for name in TABLES:
        load_table(spark, SF_TEST, name)
    qs["q5_region_revenue"](spark, SF_TEST)
    qs["dq_violations_report"](spark, SF_TEST)
    assert _n_jobs_settled(spark) == before


def test_codegen_cache_holds_a_core_pass(spark):
    """A second pass of the frozen core 30 reuses the classes the first
    compiled (~440). At Spark's default cache of 100 entries the second
    pass compiled about as many as the first. A few classes still compile
    on a warm pass (2-20 measured): AQE numbers codegen stages in the
    order it plans them, so a stage id, and with it the class source, can
    differ between runs."""
    import __spark_entry__ as entrymod
    import bench
    from tests.conftest import SF_TEST

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    qs = entrymod.queries()
    compiled = []
    for _ in range(2):
        c0 = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in bench.CORE:
            qs[name](spark, SF_TEST).write.format("noop").mode("overwrite").save()
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
    first, second = compiled
    assert first > 0 and second < 0.10 * first, compiled


def test_load_table_normalizes_all_ts_fixture_generations(spark, tmp_path):
    """The events fixture has shipped with three different parquet
    physical types for ``ts`` across driver regenerations; load_table
    must read every generation to the SAME TimestampType values (the
    BASELINE robustness contract — the round-4 fixture change broke two
    queries and the whole streaming tier by assuming one of them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from console_etl_spark.session import load_table

    base = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456, 1_700_003_600_654_321],
                           pa.timestamp("us")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    variants = {
        "ntz_us": base,  # TIMESTAMP(MICROS, no tz) → Spark TIMESTAMP_NTZ
        "nanos": base.set_column(
            1, "ts", base["ts"].cast(pa.timestamp("ns"))
        ),  # TIMESTAMP(NANOS) → long under nanosAsLong
        "utc_us": base.set_column(
            1, "ts", base["ts"].cast(pa.timestamp("us", tz="UTC"))
        ),  # TIMESTAMP(MICROS, UTC-adjusted) → plain TimestampType
    }
    got = {}
    for name, tbl in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        _assert_footer_read_matches_inference(spark, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), name
        got[name] = sorted(
            (r.event_id, r.ts.isoformat()) for r in df.select("event_id", "ts").collect()
        )
    assert got["ntz_us"] == got["nanos"] == got["utc_us"], got


def test_publish_gate_blocks_manifest_flip(spark, store, catalog_metas):
    """A non-empty violations gate must abort BEFORE anything flips:
    readers keep the previous snapshot, and a subsequent clean publish
    of the same version succeeds (nothing half-published)."""
    import pytest as _pytest

    store.publish(catalog_metas, "gated", "v1")
    assert store.current("gated").version == "v1"

    violations = spark.createDataFrame(
        [("orders_null_pk", 3)], "rule string, n_violations long"
    )
    with _pytest.raises(ValueError, match="publish gate failed"):
        store.publish(catalog_metas, "gated", "v2", gate=violations)
    assert store.current("gated").version == "v1"  # flip never happened

    clean = violations.limit(0)
    store.publish(catalog_metas, "gated", "v2", gate=clean)
    assert store.current("gated").version == "v2"


def test_publish_schema_evolution_policies(spark, store, catalog_metas):
    """additive (default): adding a column publishes; dropping a column
    or changing a type aborts before anything flips. strict: even
    additions abort. any: migrations pass. Field ORDER never matters
    (columnar formats address by name)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    store.publish(catalog_metas, "evo", "v1")

    widened = catalog_metas.withColumn("note", F.lit("x"))
    store.publish(widened, "evo", "v2")  # additive default: ok
    assert store.current("evo").version == "v2"

    with _pytest.raises(ValueError, match="column dropped: note"):
        store.publish(catalog_metas, "evo", "v3")
    with _pytest.raises(ValueError, match="type changed: note"):
        store.publish(
            widened.withColumn("note", F.lit(1)), "evo", "v3"
        )
    assert store.current("evo").version == "v2"  # nothing flipped

    reordered = widened.select(*sorted(widened.columns, reverse=True))
    store.publish(reordered, "evo", "v3", evolution="strict")  # order-free
    assert store.current("evo").version == "v3"

    with _pytest.raises(ValueError, match="column added"):
        store.publish(
            widened.withColumn("extra", F.lit(0)), "evo", "v4",
            evolution="strict",
        )
    store.publish(catalog_metas, "evo", "v5", evolution="any")  # migration
    assert store.current("evo").version == "v5"


def test_dq_report_null_fk_parity_on_dirty_data(spark):
    """NULL foreign keys must be handled identically by the Spark report
    and the DuckDB oracle SQL: NULLs land in the *_null_fk rules, and
    the orphan rules count only non-null keys on BOTH engines (a bare
    NOT IN would silently drop NULL rows in ANSI SQL while a left-anti
    join counts them — exactly the dirty data a DQ gate exists for)."""
    import tempfile
    from datetime import date

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from console_etl_spark.relational import _DQ_SQL, dq_violations_report

    with tempfile.TemporaryDirectory() as d:
        tables = {
            "orders": pa.table(
                {
                    "o_orderkey": pa.array([1, 1, 2, None], pa.int64()),
                    "o_orderdate": pa.array(
                        [date(1995, 1, 1), date(1995, 1, 1),
                         date(1991, 1, 1), date(1995, 6, 1)],
                        pa.date32(),
                    ),
                }
            ),
            "lineitem": pa.table(
                {
                    "l_orderkey": pa.array([1, 999, None], pa.int64()),
                    "l_quantity": pa.array([1.0, -2.0, 3.0]),
                    "l_extendedprice": pa.array([10.0, 5.0, -1.0]),
                }
            ),
            "customer": pa.table(
                {"c_nationkey": pa.array([0, 99, None], pa.int64())}
            ),
            "nation": pa.table({"n_nationkey": pa.array([0], pa.int64())}),
        }
        for name, tbl in tables.items():
            pq.write_table(tbl, f"{d}/{name}.parquet")

        got = {
            r.rule: r.n_violations
            for r in dq_violations_report(spark, d).collect()
        }
        con = duckdb.connect()
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * "
                f"FROM read_parquet('{d}/{name}.parquet')"
            )
        want = dict(con.execute(_DQ_SQL).fetchall())

        assert got == want, (got, want)
        # and the dirty fixture genuinely fires every NULL/orphan rule
        assert got["lineitem_null_fk"] == 1
        assert got["lineitem_orphan_fk"] == 1
        assert got["customer_null_nation_fk"] == 1
        assert got["customer_invalid_nation_fk"] == 1
        assert got["orders_null_pk"] == 1
        assert got["orders_duplicate_pk"] == 1
        assert got["orders_date_out_of_range"] == 1


def test_publish_over_pre_schema_manifest_skips_evolution(spark, store, catalog_metas):
    """Manifests written before the schema field existed have
    schema_json=None; a default additive publish over such a catalog
    must succeed with a vacuous evolution check (and record the schema
    going forward), not crash with TypeError."""
    store.publish(catalog_metas, "legacy", "v1")
    # strip the schema field, simulating the pre-schema manifest format
    mp = store._manifest_path("legacy")
    with open(mp) as f:
        m = json.load(f)
    del m["schema"]
    with open(mp, "w") as f:
        json.dump(m, f)
    assert store.current("legacy").schema_json is None

    store.publish(catalog_metas, "legacy", "v2")  # vacuous check, no crash
    cur = store.current("legacy")
    assert cur.version == "v2"
    assert cur.schema_json is not None  # schema recorded going forward


def test_variant_column_survives_snapshot_roundtrip(spark, store, catalog_metas):
    """add_blob_variant derives a VARIANT column beside the blob string
    at ingest; both must survive the partitioned parquet snapshot round
    trip — the string stays byte-faithful for blob serving (Q4), and
    nested paths read back via variant_get without ever re-parsing the
    JSON string."""
    from pyspark.sql import functions as F

    from console_etl_spark.ingest import add_blob_variant, shred_metas

    df = add_blob_variant(shred_metas(catalog_metas.drop("catalog")))
    store.publish(df, "vcat", "v1")
    back = store.read(spark, "vcat")

    assert dict(back.dtypes)["blob_v"] == "variant"
    # string blob byte-faithful (same multiset)
    assert (
        back.select("blob").exceptAll(df.select("blob")).count() == 0
        and df.select("blob").exceptAll(back.select("blob")).count() == 0
    )
    # nested path extraction from the stored VARIANT agrees with the
    # string-parsing path on every row
    got = back.select(
        "name",
        F.variant_get("blob_v", "$.schema", "string").alias("s"),
        F.get_json_object("blob", "$.schema").alias("s_str"),
    )
    assert got.filter(
        ~(F.col("s").eqNullSafe(F.col("s_str")))
    ).count() == 0
    assert got.filter(F.col("s").isNotNull()).count() > 0


def test_pin_registry_bounds_cache_for_any_session_lifetime(spark):
    """session.pin must close the persist-leak class: however many
    operators a long-lived session runs, live pin groups stay bounded at
    the cap and evicted groups are truly unpersisted (CacheManager
    drained when everything is released)."""
    import console_etl_spark.session as S

    S.release_pins()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()

    # run far more pin groups than the cap, acting on each
    for i in range(S._PIN_CAP + 5):
        df = pin_df = S.pin(
            spark.range(100 + i).withColumnRenamed("id", f"c{i}")
        )
        assert pin_df.count() == 100 + i
        del df, pin_df
    assert len(S._PIN_GROUPS) == S._PIN_CAP  # bounded, oldest evicted
    assert not cm.isEmpty()  # live groups genuinely cached

    S.release_pins()
    assert len(S._PIN_GROUPS) == 0
    assert cm.isEmpty()  # nothing leaks after release

    # a pinned operator still computes correctly after its group evicts
    from console_etl_spark.llmops import dedup
    from tests.conftest import SF_TEST

    res = dedup.dedup_shingle_jaccard(spark, SF_TEST)
    for i in range(S._PIN_CAP + 1):  # evict the operator's group
        S.pin(spark.range(10 + i).withColumnRenamed("id", f"d{i}"))
    assert res.count() > 0  # recompute-from-lineage, never wrong
    S.release_pins()
    spark.catalog.clearCache()


# --------------------------------------------------------------------------
# Incremental materialized view (store-backed lifecycle)
# --------------------------------------------------------------------------

def test_materialized_view_incremental_equals_full(spark, store):
    from console_etl_spark.store import MaterializedView, mv_finalize, mv_partials
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST

    o = load_table(spark, SF_TEST, "orders")
    keys, measures = ("o_orderstatus",), ("o_totalprice",)
    mv = MaterializedView(store, "mv_orders", keys, measures)

    deltas = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    mv.build(deltas[0])
    mv.refresh(deltas[1])
    mv.refresh(deltas[2])

    got = {
        r.o_orderstatus: (r.n_rows, round(r.sum_o_totalprice, 2),
                          round(r.avg_o_totalprice, 6))
        for r in mv.read(spark).collect()
    }
    full = {
        r.o_orderstatus: (r.n_rows, round(r.sum_o_totalprice, 2),
                          round(r.avg_o_totalprice, 6))
        for r in mv_finalize(mv_partials(o, keys, measures), keys, measures).collect()
    }
    assert got == full
    # three atomic versions, monotonically advancing
    assert store.versions("mv_orders") == ["v000001", "v000002", "v000003"]


def test_materialized_view_refresh_without_build_bootstraps(spark, store):
    from console_etl_spark.store import MaterializedView
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST

    o = load_table(spark, SF_TEST, "orders").limit(50)
    mv = MaterializedView(store, "mv_boot", ("o_orderstatus",), ("o_totalprice",))
    mv.refresh(o)  # no current state → becomes the build
    v = mv.read(spark)
    assert v.count() > 0
    assert {f.name for f in v.schema.fields} >= {
        "o_orderstatus", "n_rows", "sum_o_totalprice", "avg_o_totalprice",
        "min_o_totalprice", "max_o_totalprice", "var_o_totalprice",
    }


def test_materialized_view_hll_distinct_is_mergeable_and_accurate(spark, store):
    from console_etl_spark.store import (
        MaterializedView, mv_finalize, mv_partials,
    )
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST

    e = load_table(spark, SF_TEST, "events")
    keys, distinct = ("event_type",), ("user_id",)
    mv = MaterializedView(store, "mv_ndv", keys, (), distinct=distinct)
    for i in range(3):
        mv.refresh(e.filter(F.col("event_id") % 3 == i))

    merged = {
        r.event_type: r.approx_ndv_user_id for r in mv.read(spark).collect()
    }
    single = {
        r.event_type: r.approx_ndv_user_id
        for r in mv_finalize(
            mv_partials(e, keys, (), distinct), keys, (), distinct
        ).collect()
    }
    # lossless union of same-configured sketches: bit-identical estimates
    assert merged == single
    exact = {
        r.event_type: r.ndv
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("ndv"))
        .collect()
    }
    for t, est in merged.items():
        assert abs(est - exact[t]) / exact[t] < 0.05, (t, est, exact[t])


def test_materialized_view_kll_quantiles_mergeable_within_rank_error(
    spark, store
):
    """The r9 quantile tier of the MV partials: a view maintained over
    three append refreshes answers p50/p90/p99 from merged KLL sketches.
    Laws: (1) the sketch's own n (kll_sketch_get_n) composes EXACTLY
    through the merge tree and equals the _n_{col} NON-NULL count
    partial (kll_sketch_agg_double skips NULLs, so _cnt is the wrong
    basis when the column is nullable — ADVICE r9; here the column has
    no NULLs, so it also equals _cnt, and a NULL-bearing fixture below
    pins the distinction); (2) every
    finalized percentile lands within KLL's normalized rank-error
    contract of the exact distribution (k=200 → ~1.65% with high
    probability; asserted at ±4% rank to absorb compaction randomness);
    (3) incremental refresh answers match a from-scratch rebuild within
    the same band (KLL compaction is randomized, so bit-equality is NOT
    the contract — unlike HLL union above)."""
    from console_etl_spark.session import load_table
    from console_etl_spark.store import (
        MaterializedView, mv_finalize, mv_partials,
    )
    from tests.conftest import SF_TEST

    o = load_table(spark, SF_TEST, "orders")
    keys, quantiles = ("o_orderstatus",), ("o_totalprice",)
    mv = MaterializedView(store, "mv_kll", keys, (), quantiles=quantiles)
    for i in range(3):
        mv.refresh(o.filter(F.col("o_orderkey") % 3 == i))

    # law 1: sketch n is exact through merges — basis is the non-null
    # count partial (== _cnt here: o_totalprice has no NULLs)
    partials = store.read(spark, "mv_kll")
    for r in partials.select(
        "_cnt",
        "_n_o_totalprice",
        F.kll_sketch_get_n_double("_kll_o_totalprice").alias("kn"),
    ).collect():
        assert r.kn == r._n_o_totalprice == r._cnt, (
            r.kn, r._n_o_totalprice, r._cnt,
        )

    # exact per-group quantile bands at p +/- 4% rank
    vals = {
        r.o_orderstatus: r.band
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.percentile(
                F.col("o_totalprice").cast("double"),
                F.array(*[F.lit(p) for p in
                          (0.46, 0.54, 0.86, 0.94, 0.95, 1.0)]),
            ).alias("band")
        )
        .collect()
    }
    bands = {"p50": (0, 1), "p90": (2, 3), "p99": (4, 5)}
    for row in mv.read(spark).collect():
        b = vals[row.o_orderstatus]
        for name, (lo, hi) in bands.items():
            est = row[f"{name}_o_totalprice"]
            assert b[lo] <= est <= b[hi], (row.o_orderstatus, name, est, b)

    # law 3: rebuild from scratch stays in the same bands
    rebuilt = mv_finalize(
        mv_partials(o, keys, (), quantiles=quantiles), keys, (),
        quantiles=quantiles,
    )
    for row in rebuilt.collect():
        b = vals[row.o_orderstatus]
        for name, (lo, hi) in bands.items():
            est = row[f"{name}_o_totalprice"]
            assert b[lo] <= est <= b[hi], (row.o_orderstatus, name, est, b)


def test_mv_kll_n_exactness_basis_is_non_null_count(spark):
    """ADVICE r9: kll_sketch_agg_double SKIPS NULLs while _cnt counts
    all rows, so on a nullable quantiles column kn == _n_{col} < _cnt.
    Pin the distinction with an explicit NULL-bearing fixture, and pin
    that _n_{col} merges exactly (sum-of-counts) across refreshes."""
    from console_etl_spark.store import mv_merge, mv_partials

    rows = [("a", float(i)) for i in range(8)] + [("a", None)] * 3
    rows += [("b", 1.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    p1 = mv_partials(df.filter(F.col("v").isNull() | (F.col("v") < 4)),
                     ("g",), (), quantiles=("v",))
    p2 = mv_partials(df.filter(F.col("v") >= 4), ("g",), (),
                     quantiles=("v",))
    merged = mv_merge(p1, p2, ("g",), (), quantiles=("v",))
    got = {
        r.g: (int(r.kn), int(r._n_v), int(r._cnt))
        for r in merged.select(
            "g", "_cnt", "_n_v",
            F.kll_sketch_get_n_double("_kll_v").alias("kn"),
        ).collect()
    }
    assert got["a"] == (8, 8, 11)
    assert got["b"] == (1, 1, 2)


def test_mv_merge_backfills_legacy_state_without_n_partial(spark):
    """ADVICE r10: MV state persisted by the pre-r10 schema has
    _kll_{col} but no _n_{col}; mv_merge must not fail unionByName with
    an opaque missing-column error. It backfills _n_{col} EXACTLY from
    the stored sketch (kll_sketch_get_n_double is the sketch's exact
    update count, and the sketch skips NULLs — so get_n IS the non-null
    count the partial would have recorded). Pin: legacy-state merge ==
    new-schema merge, including through a NULL-bearing group."""
    from console_etl_spark.store import mv_merge, mv_partials

    rows = [("a", float(i)) for i in range(8)] + [("a", None)] * 3
    rows += [("b", 1.0), ("b", None)]
    # group "c" is ALL-NULL and exists only on the legacy side: its
    # stored sketch is NULL, so get_n(NULL) must backfill to 0 (the
    # count the native F.count partial records), not propagate NULL
    # through the merge SUM
    rows += [("c", None)] * 2
    df = spark.createDataFrame(rows, "g string, v double")
    old = df.filter(F.col("v").isNull() | (F.col("v") < 4))
    new = df.filter((F.col("v") >= 4) & (F.col("g") != "c"))
    p_old = mv_partials(old, ("g",), (), quantiles=("v",))
    p_new = mv_partials(new, ("g",), (), quantiles=("v",))
    legacy = p_old.drop("_n_v")  # the pre-r10 persisted schema
    assert "_n_v" not in legacy.columns

    def _canon(merged):
        return {
            r.g: (
                int(r._cnt),
                int(r._n_v),
                None if r.kn is None else int(r.kn),
            )
            for r in merged.select(
                "g", "_cnt", "_n_v",
                F.kll_sketch_get_n_double("_kll_v").alias("kn"),
            ).collect()
        }

    got_legacy = _canon(mv_merge(legacy, p_new, ("g",), (), quantiles=("v",)))
    got_new = _canon(mv_merge(p_old, p_new, ("g",), (), quantiles=("v",)))
    # kll_merge_agg over a NULL input sketch yields an EMPTY sketch
    # (n == 0), so the all-NULL group still satisfies get_n == _n
    assert got_legacy == got_new == {
        "a": (11, 8, 8),
        "b": (2, 1, 1),
        "c": (2, 0, 0),
    }
    # and a legacy DELTA (both directions of the skew) backfills too
    got_rev = _canon(
        mv_merge(p_new, legacy, ("g",), (), quantiles=("v",))
    )
    assert got_rev == got_new


def test_snapshot_diff_classifies_and_inverts(spark):
    """diff(v1, v2) classifies insert/delete/update correctly AND
    applying it back to v1 via apply_changes reproduces v2 exactly
    (diff is the inverse of apply)."""
    from console_etl_spark.store import apply_changes, snapshot_diff

    v1 = spark.createDataFrame(
        [
            ("p1", "s", "a", 1, "keep"),
            ("p1", "s", "b", 2, "will-change"),
            ("p1", "s", "c", 3, "will-delete"),
            ("p2", "s", "d", 4, None),
        ],
        "package string, schema string, name string, x int, note string",
    )
    v2 = spark.createDataFrame(
        [
            ("p1", "s", "a", 1, "keep"),
            ("p1", "s", "b", 2, "changed"),
            ("p2", "s", "d", 4, None),
            ("p2", "s", "e", 5, "new"),
        ],
        "package string, schema string, name string, x int, note string",
    )
    d = snapshot_diff(v1, v2)
    got = {(r.package, r.name): r._op for r in d.collect()}
    assert got == {("p1", "b"): "update", ("p1", "c"): "delete", ("p2", "e"): "insert"}

    # invert: apply the diff (rename _op to the changeset contract)
    from pyspark.sql import functions as F

    changes = d.withColumn(
        "_op", F.when(F.col("_op") == "delete", "delete").otherwise("upsert")
    )
    rebuilt = apply_changes(v1, changes)
    a = {tuple(r) for r in rebuilt.collect()}
    b = {tuple(r) for r in v2.collect()}
    assert a == b


def test_store_optimize_zorder_preserves_rows_and_prunes(spark, store):
    """OPTIMIZE ZORDER on a published snapshot: identical relation, new
    atomic version, zone map present and pruning on both dimensions."""
    from console_etl_spark import layout
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST

    li = load_table(spark, SF_TEST, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    ).limit(20000)
    store.publish(li, "facts", "v1", partition_by=())
    info = store.optimize(spark, "facts", ("l_partkey", "l_suppkey"), n_files=6)
    assert info.version == "v1-zorder"
    assert store.current("facts").version == "v1-zorder"

    a = spark.read.parquet(info.path)
    assert a.count() == li.count()

    df, read, total = layout.read_with_zonemap(
        spark, info.path, {"l_partkey": (0, 30), "l_suppkey": (0, 30)}
    )
    assert total == 6 and read < total
    want = li.filter(
        (F.col("l_partkey").between(0, 30)) & (F.col("l_suppkey").between(0, 30))
    ).count()
    assert df.count() == want


# --------------------------------------------------------------------------
# C2: load-balanced replica selection (portforward.go analog)
# --------------------------------------------------------------------------

def test_replica_balancer_rotation_failover_and_recovery(spark, tmp_path, catalog_metas):
    import shutil

    from console_etl_spark.replicas import ReplicaBalancer
    from console_etl_spark.store import SnapshotStore

    df = shred_metas(catalog_metas.drop("catalog"))
    roots = [str(tmp_path / f"rep{i}") for i in range(3)]
    for r in roots:
        SnapshotStore(r).publish(df, "cat", "v1")

    bal = ReplicaBalancer(cooldown_sec=0.5)
    for r in roots:
        bal.add_replica(r)

    # rotation: successive picks cycle through all ready replicas
    picks = [bal.pick("cat") for _ in range(6)]
    assert picks == [0, 1, 2, 0, 1, 2]

    # reads resolve to identical content from any replica
    n = bal.read(spark, "cat").count()
    assert n == df.count()

    # kill replica picked next; read fails over and marks it unready
    nxt = bal.pick("cat")
    shutil.rmtree(roots[nxt])
    assert bal.read(spark, "cat").count() == n
    assert all(p != nxt for p in (bal.pick("cat") for _ in range(4)))

    # unknown catalog: the no-ready-endpoint error (portforward.go:63)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no ready replica"):
        bal.read(spark, "nope")

    # cooldown expiry re-probes the dead replica; it stays unready
    # (manifest gone) but the balancer keeps serving from the live ones
    import time as _time

    _time.sleep(0.6)
    assert bal.read(spark, "cat").count() == n


def test_sliding_distinct_users_sketch_matches_exact(spark):
    """HLL sketch-union AS A WINDOW AGGREGATE: the trailing-3h distinct
    estimates must match exact trailing distincts (sparse-HLL regime is
    exact at fixture cardinality)."""
    from console_etl_spark import relational
    from console_etl_spark.session import load_table
    from tests.conftest import SF_TEST

    got = {
        r.hour: (r.ndv_hour, r.ndv_trailing_3h)
        for r in relational.sliding_distinct_users_hourly(spark, SF_TEST).collect()
    }
    e = load_table(spark, SF_TEST, "events").select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    )
    hours = sorted(got)
    from collections import defaultdict
    by_hour = defaultdict(set)
    for r in e.distinct().collect():
        by_hour[r.hour].add(r.user_id)
    for i, h in enumerate(hours):
        exact_trailing = set().union(*(by_hour[x] for x in hours[max(0, i - 2): i + 1]))
        nh, nt = got[h]
        assert nh == len(by_hour[h]), h
        assert abs(nt - len(exact_trailing)) / max(1, len(exact_trailing)) < 0.05, h


def test_freshness_manager_reads_through_replica_balancer(spark, tmp_path, catalog_metas):
    """C2 x S3 integration: the freshness cache's READ path load-
    balances across snapshot mirrors while publish stays primary —
    and failover keeps serving when a mirror dies."""
    import shutil

    from console_etl_spark.refresh import FreshnessManager
    from console_etl_spark.replicas import ReplicaBalancer
    from console_etl_spark.store import SnapshotStore

    df = shred_metas(catalog_metas.drop("catalog"))
    primary = SnapshotStore(str(tmp_path / "primary"))
    mirror_root = str(tmp_path / "mirror")
    primary.publish(df, "cat", "v1")
    # mirror: a byte-level copy of the primary (what replication yields)
    shutil.copytree(str(tmp_path / "primary"), mirror_root)

    bal = ReplicaBalancer(cooldown_sec=60)
    bal.add_replica(str(tmp_path / "primary"))
    bal.add_replica(mirror_root)
    fm = FreshnessManager(primary, balancer=bal)

    n = df.count()
    got = fm.get(spark, "cat", lambda: "v1", lambda s: df)
    assert got.count() == n
    # mirror dies: subsequent gets keep serving via failover
    shutil.rmtree(mirror_root)
    for _ in range(3):
        assert fm.get(spark, "cat", lambda: "v1", lambda s: df).count() == n
    assert fm.hit_count >= 3  # all 304-path serves


def test_table_stats_reports_physical_shape(spark, store, catalog_metas):
    from console_etl_spark.store import table_stats

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat0", "v1")
    stats = table_stats(store, "cat0")
    assert stats["version"] == "v1"
    assert stats["n_rows"] == df.count()
    assert stats["n_files"] >= 1 and stats["total_bytes"] > 0
    assert stats["mean_file_bytes"] * stats["n_files"] <= stats["total_bytes"] + stats["n_files"]
    # compaction changes the file count, never the row count
    store.compact(spark, "cat0")
    after = table_stats(store, "cat0")
    assert after["n_rows"] == stats["n_rows"]


# --------------------------------------------------------------------------
# delete_where: partition-pruned copy-on-write DELETE
# --------------------------------------------------------------------------


class TestDeleteWhere:
    def _publish(self, spark, store):
        import pyspark.sql.functions as F

        rows = [
            ("pkgA", "s1", f"n{i}", i) for i in range(10)
        ] + [
            ("pkgB", "s1", f"n{i}", 100 + i) for i in range(10)
        ] + [
            ("pkgC", "s2", f"n{i}", 200 + i) for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "package string, schema string, name string, v int"
        )
        return store.publish(df, "del0", "v1"), df

    def test_deletes_exactly_matching_rows(self, spark, store):
        info, df = self._publish(spark, store)
        out = store.delete_where(spark, "del0", "package = 'pkgA' AND v < 5")
        assert out.version == "v1-delete"
        back = store.read(spark, "del0")
        assert back.count() == 25
        assert back.filter("package = 'pkgA'").count() == 5
        # untouched partitions intact
        assert back.filter("package = 'pkgB'").count() == 10
        assert back.filter("package = 'pkgC'").count() == 10

    def test_untouched_partitions_are_hardlinks(self, spark, store):
        import os

        info, df = self._publish(spark, store)
        out = store.delete_where(spark, "del0", "package = 'pkgA'")
        old_dir = os.path.join(info.path, "package=pkgB", "schema=s1")
        new_dir = os.path.join(out.path, "package=pkgB", "schema=s1")
        old_files = sorted(
            f for f in os.listdir(old_dir) if f.endswith(".parquet")
        )
        new_files = sorted(
            f for f in os.listdir(new_dir) if f.endswith(".parquet")
        )
        assert old_files == new_files and old_files
        for f in old_files:
            assert (
                os.stat(os.path.join(old_dir, f)).st_ino
                == os.stat(os.path.join(new_dir, f)).st_ino
            ), "expected hard link, found a copy"
        # fully-deleted partition is gone from the new snapshot
        assert not os.path.exists(os.path.join(out.path, "package=pkgA"))

    def test_time_travel_and_noop(self, spark, store):
        info, df = self._publish(spark, store)
        out = store.delete_where(spark, "del0", "v >= 200")
        assert store.read(spark, "del0").count() == 20
        # old version still fully readable (time travel)
        assert store.read_version(spark, "del0", "v1").count() == 30
        # predicate matching nothing: no version churn
        again = store.delete_where(spark, "del0", "v > 99999")
        assert again.version == out.version

    def test_update_where_rewrites_only_hit_partitions(self, spark, store):
        import os

        info, df = self._publish(spark, store)
        out = store.update_where(
            spark, "del0", "package = 'pkgA' AND v < 3", {"v": "v + 1000"}
        )
        back = store.read(spark, "del0")
        assert back.count() == 30
        assert back.filter("v >= 1000 AND v < 1100").count() == 3
        assert back.filter("package = 'pkgA' AND v < 3").count() == 0
        # untouched partition is hard-linked, not copied
        old_dir = os.path.join(info.path, "package=pkgC", "schema=s2")
        new_dir = os.path.join(out.path, "package=pkgC", "schema=s2")
        for f in os.listdir(old_dir):
            if f.endswith(".parquet"):
                assert (
                    os.stat(os.path.join(old_dir, f)).st_ino
                    == os.stat(os.path.join(new_dir, f)).st_ino
                )

    def test_update_where_can_move_rows_across_partitions(self, spark, store):
        info, df = self._publish(spark, store)
        out = store.update_where(
            spark,
            "del0",
            "package = 'pkgA' AND v = 0",
            {"package": "'pkgB'"},
        )
        back = store.read(spark, "del0")
        assert back.count() == 30
        assert back.filter("package = 'pkgA'").count() == 9
        # destination partition holds its old rows plus the moved one
        assert back.filter("package = 'pkgB'").count() == 11
        assert back.filter("package = 'pkgB' AND v = 0").count() == 1


def test_publish_guarded_rederived_retry_is_noop(spark, store, catalog_metas):
    """The docstring's exact CAS contract (r8 review): a guarded
    publish raises ONLY when expected_current mismatches — a
    crash-after-flip retry that RE-DERIVES expected_current as the
    now-current version (expected_current == version == current) lands
    on the idempotent no-op and succeeds without touching the
    manifest, while a replay of the ORIGINAL arguments (pre-flip
    expectation) still raises."""
    import pytest

    from console_etl_spark.store import ConcurrentPublishError

    df = shred_metas(catalog_metas.drop("catalog"))
    store.publish(df, "cat_retry", "v1")
    store.publish(df.limit(10), "cat_retry", "v2", expected_current="v1")
    # replaying the original (pre-flip) arguments: raises
    with pytest.raises(ConcurrentPublishError):
        store.publish(df.limit(10), "cat_retry", "v2", expected_current="v1")
    # re-derived retry: guarded, same version as current -> no-op success
    info = store.publish(df.limit(10), "cat_retry", "v2", expected_current="v2")
    assert info.version == "v2"
    assert store.current("cat_retry").version == "v2"
    assert store.read(spark, "cat_retry").count() == 10
