"""The paper's read path under load: the ``catalog_serve`` workload.

One closed-loop client drives ``engine.ConsoleEngine``: each call waits
for the previous reply. A call's latency runs from the facade call to the
delivered result (listings are collected, as an API edge serializing the
DataFrame would). The upstream version never changes, so after set-up
every call takes the 304 path. Traffic is browse sessions of a fixed
shape: list catalogs, open the catalog, list packages, pick a package
(Zipf-skewed), list its schemas, fetch its icon, then twice list the
objects of one of its schemas and fetch two of them. About 5% of package
and object picks name a missing key. Answers are recorded during the
timed loop and checked against the generator's ground truth afterwards.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict

import streamgen
from spans import median, plan_nodes, tail

CATALOG = "operatorhub"
N_PACKAGES = 10
SCALE = 30  # × streamgen.PER_PACKAGE members per package
SETUP_PASSES = 3
# Serving keeps speeding up for ~20 s after set-up (JIT); the timed loop
# starts after this many untimed browse sessions, late in that ramp.
WARM_SESSIONS = 6
MISSING_FRAC = 0.05
ZIPF_S = 1.1
LIST_ENDPOINTS = ("list_packages", "list_schemas", "list_objects")
QUERY_FNS = ("list_packages", "list_schemas", "list_objects", "get_object", "get_package_icon")
ENDPOINTS = (
    "list_catalogs", "get_catalog", "list_packages", "list_schemas",
    "list_objects", "get_object", "get_icon",
)


class Expected:
    """Answers for one stream version, from the generator's truth."""

    def __init__(self, cat: streamgen.Catalog) -> None:
        truth = cat.truth()
        self.objects = {k: d.text() for k, d in truth.items()}
        self.packages = sorted({p for p, _, _ in truth})
        schemas: dict[str, set] = defaultdict(set)
        names: dict[tuple, list] = defaultdict(list)
        for p, s, n in truth:
            schemas[p].add(s)
            names[(p, s)].append(n)
        self.schemas = {p: sorted(v) for p, v in schemas.items()}
        self.names = {k: sorted(v) for k, v in names.items()}
        self.icons = {
            p: streamgen.icon_of(d)
            for (p, s, n), d in truth.items()
            if s == "olm.package" and n == p
        }

    def answer(self, ep: str, args: tuple):
        if ep == "list_catalogs":
            return [(CATALOG, "Unpacked")]
        if ep == "get_catalog":
            return (CATALOG, "Unpacked")
        if ep == "list_packages":
            return self.packages
        if ep == "list_schemas":
            return self.schemas.get(args[1], [])
        if ep == "list_objects":
            return self.names.get((args[1], args[2]), [])
        if ep == "get_object":
            return self.objects.get(tuple(args[1:]))
        if ep == "get_icon":
            return self.icons.get(args[1])
        raise ValueError(ep)


def deliver(eng, ep: str, args: tuple, tracer):
    """Call one endpoint and deliver its result as plain values."""
    if ep == "get_catalog":
        e = eng.get_catalog(*args)
        return (e.name, e.phase)
    if ep in ("get_object", "get_icon"):
        out = getattr(eng, ep)(*args)
        if ep == "get_icon" and out is not None:
            out = (bytes(out[0]), out[1])
        return out
    df = getattr(eng, ep)(*args)
    exec_name = "catalog.to_df.exec" if ep == "list_catalogs" else f"queries.{ep}.exec"
    with tracer.span(exec_name):
        rows = df.collect()
    if ep == "list_catalogs":
        return [(r["name"], r["phase"]) for r in rows]
    return [r[0] for r in rows]


class Traffic:
    """Seeded request arguments: Zipf-skewed packages, ~5% missing keys."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed * 7919 + 17)
        self.miss = 0

    def _missing(self) -> str:
        self.miss += 1
        return f"missing-{self.miss}"

    def package(self, exp: Expected) -> str:
        if self.rng.random() < MISSING_FRAC:
            return self._missing()
        weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(exp.packages))]
        return self.rng.choices(exp.packages, weights)[0]

    def session(self, exp: Expected) -> list[tuple[str, tuple]]:
        c = CATALOG
        p = self.package(exp)
        calls = [
            ("list_catalogs", ()), ("get_catalog", (c,)), ("list_packages", (c,)),
            ("list_schemas", (c, p)), ("get_icon", (c, p)),
        ]
        schemas = exp.schemas.get(p) or ["olm.bundle"]
        for s in (self.rng.choice(schemas), self.rng.choice(schemas)):
            calls.append(("list_objects", (c, p, s)))
            names = exp.names.get((p, s)) or [self._missing()]
            for _ in range(2):
                n = self._missing() if self.rng.random() < MISSING_FRAC else self.rng.choice(names)
                calls.append(("get_object", (c, p, s, n)))
        return calls


class Source:
    """The upstream stream: a file plus its version token."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.version = ""
        self.path = ""
        self.bytes = 0
        self.n = 0

    def write(self, cat: streamgen.Catalog) -> None:
        self.n += 1
        data = cat.render()
        self.path = os.path.join(self.work, f"all-{self.n}.json")
        with open(self.path, "wb") as fh:
            fh.write(data)
        self.bytes = len(data)
        self.version = f"v{self.n}"


def _dir_stats(path: str) -> tuple[int, int, int]:
    files = dirs = size = 0
    for root, ds, fs in os.walk(path):
        dirs += len(ds)
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, dirs, size


class CatalogBench:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.traffic = Traffic(ctx.seed)
        self.source = Source(ctx.work)
        self.cat = None
        self.exp = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- building and checking ---------------------------------------------
    def _build(self, sp):
        """The ingest build the freshness manager runs on a miss. Traced,
        it runs the same two calls as ``ingest_meta_stream`` and forces
        each stage into the noop sink before the next one starts."""
        from console_etl_spark import ingest

        tr = self.tracer
        if not tr.enabled:
            return ingest.ingest_meta_stream(sp, self.source.path)
        with tr.span("ingest.read_meta_stream"):
            raw = ingest.read_meta_stream(sp, self.source.path)
        with tr.span("ingest.split.force"):
            raw.write.format("noop").mode("overwrite").save()
        with tr.span("ingest.shred_metas"):
            df = ingest.shred_metas(raw)
        with tr.span("ingest.shred_metas.force"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def new_engine(self, tag: str):
        from console_etl_spark.catalog import CatalogEntry
        from console_etl_spark.engine import ConsoleEngine
        from console_etl_spark.store import SnapshotStore

        store = SnapshotStore(os.path.join(self.ctx.work, f"store-{tag}"))
        eng = ConsoleEngine(self.spark, store)
        eng.register_catalog(
            CatalogEntry(CATALOG), lambda: self.source.version, self._build
        )
        if self.tracer.enabled:
            self._instrument(eng)
        return eng

    def call(self, eng, ep: str, args: tuple, checks: list) -> float:
        """One timed call; returns its latency in seconds."""
        tr = self.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(f"engine.{ep}", rid=tr.new_request()):
                got = deliver(eng, ep, args, tr)
        except Exception as exc:  # a failed call is counted, the loop goes on
            dt = time.perf_counter() - t0
            self._fail(f"{ep}{args}: raised {exc!r}"[:300])
            return dt
        dt = time.perf_counter() - t0
        checks.append((ep, args, got))
        return dt

    def check(self, checks: list, exp: Expected) -> None:
        for ep, args, got in checks:
            want = exp.answer(ep, args)
            if got != want:
                self._fail(f"{ep}{args}: got {str(got)[:120]} want {str(want)[:120]}")
        checks.clear()

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(msg)

    # -- set-up ----------------------------------------------------------------
    def setup_pass(self, tag: str):
        """Generate the stream, then ingest, publish and answer a first
        call from a fresh store: what a new deployment does before it
        can serve."""
        self.cat = streamgen.generate(self.ctx.seed, N_PACKAGES, SCALE)
        self.source.write(self.cat)
        self.exp = Expected(self.cat)
        eng = self.new_engine(tag)
        checks: list = []
        self.call(eng, "list_packages", (CATALOG,), checks)
        self.check(checks, self.exp)
        return eng

    def setup(self, tag: str):
        """Set up ``SETUP_PASSES`` times (the first also pays JIT
        warm-up), then serve ``WARM_SESSIONS`` untimed browse sessions
        on the last engine. Returns the engine and the median pass plus
        the warm-up."""
        passes, eng = [], None
        for i in range(SETUP_PASSES):
            if eng is not None:
                eng.refresh.invalidate(CATALOG)  # unpersist and drop it
            t0 = time.perf_counter()
            eng = self.setup_pass(f"{tag}{i}")
            passes.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        checks: list = []
        warm = Traffic(self.ctx.seed + 1)
        for _ in range(WARM_SESSIONS):
            for ep, args in warm.session(self.exp):
                self.call(eng, ep, args, checks)
        self.check(checks, self.exp)
        warm_s = time.perf_counter() - t0
        self.ctx.phases[f"{tag}_passes"] = passes
        self.ctx.phases[f"{tag}_warmup_s"] = warm_s
        return eng, median(passes) + warm_s

    # -- the timed loop -------------------------------------------------------
    def loop(self, eng, seconds: float) -> dict:
        """Browse sessions until ``seconds`` are spent."""
        lat, cycles, checks = [], [], []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        while time.perf_counter() < deadline:
            c0 = time.perf_counter()
            for ep, args in self.traffic.session(self.exp):
                lat.append(self.call(eng, ep, args, checks))
            cycles.append(time.perf_counter() - c0)
        t1 = time.perf_counter()
        self.check(checks, self.exp)
        return {
            "lat": lat, "cycles": cycles, "busy": sum(cycles), "calls": len(lat),
            "t0": t0, "t1": t1,
        }

    # -- tracing -------------------------------------------------------------
    def _instrument(self, eng) -> None:
        """Wrap the layer calls the facade makes so each runs in a span."""
        tr = self.tracer
        fm = eng.refresh
        get = fm.get

        def traced_get(*args, **kwargs):
            with tr.span("refresh.get") as sp:
                hits = fm.hit_count
                out = get(*args, **kwargs)
                sp.tags["hit"] = fm.hit_count > hits
                return out

        fm.get = traced_get
        eng.store.publish = tr.wrap(eng.store.publish, "store.publish")
        eng.store.read = tr.wrap(eng.store.read, "store.read")
        eng.registry.to_df = tr.wrap(eng.registry.to_df, "catalog.to_df")

    def layer_metrics(self, eng, loop: dict) -> dict:
        """Ingest, store and miss metrics over the traced set-ups; the
        per-call ones over the traced loop's calls."""
        tr = self.tracer
        tr.collect_counts()
        m: dict = {}

        def med(xs, scale=1.0):
            return median(xs) * scale if xs else 0.0

        def in_loop(name):
            return [s for s in tr.named(name) if loop["t0"] <= s.start < loop["t1"]]

        def durs(name):
            return [s.dur for s in in_loop(name)]

        split = tr.named("ingest.split.force")
        shred = tr.named("ingest.shred_metas.force")
        publish = tr.named("store.publish")
        m["ingest.read_meta_stream.call_s"] = med([s.dur for s in tr.named("ingest.read_meta_stream")])
        m["ingest.read_meta_stream.jobs"] = med([tr.jobs_in(s) for s in tr.named("ingest.read_meta_stream")])
        m["ingest.split_s"] = med([s.dur for s in split])
        m["ingest.split_tasks"] = med([tr.tasks_in(s) for s in split])
        m["ingest.shred_metas.dedup_s"] = med([b.dur - a.dur for a, b in zip(split, shred)])
        m["store.publish_s"] = med([p.dur - s.dur for s, p in zip(shred, publish)])
        m["store.publish.jobs"] = med([tr.jobs_in(s) for s in publish])
        m["store.publish.tasks"] = med([tr.tasks_in(s) for s in publish])
        m["store.read.call_s"] = med([s.dur for s in tr.named("store.read")])
        m["store.read.jobs"] = med([tr.jobs_in(s) for s in tr.named("store.read")])

        gets = in_loop("refresh.get")
        hits = [s for s in gets if s.tags.get("hit")]
        misses = [s for s in tr.named("refresh.get") if not s.tags.get("hit")]
        m["refresh.get.hit_ms"] = med([s.dur for s in hits], 1000.0)
        m["refresh.get.hit_jobs"] = max([tr.jobs_in(s) for s in hits], default=0)
        m["refresh.get.miss_s"] = med([s.dur for s in misses])
        m["refresh.hits"] = len(hits)
        m["refresh.calls"] = len(gets)
        m["refresh.hit_ratio"] = len(hits) / len(gets) if gets else 0.0
        m["refresh.refresh_count"] = eng.refresh.refresh_count
        jsc = self.spark.sparkContext._jsc.sc()
        m["refresh.cached_partitions"] = sum(
            r.numCachedPartitions() for r in jsc.getRDDStorageInfo()
        )

        for fn in QUERY_FNS:
            builds = in_loop(f"queries.{fn}.build")
            if fn in LIST_ENDPOINTS:
                execs = in_loop(f"queries.{fn}.exec")
                exec_ms = [s.dur * 1000.0 for s in execs]
            else:
                # get_object / get_package_icon run inside the facade method:
                # their execution is the endpoint span's own time
                ep = "get_icon" if fn == "get_package_icon" else fn
                execs = in_loop(f"engine.{ep}")
                exec_ms = [tr.self_time(s) * 1000.0 for s in execs]
            m[f"queries.{fn}.build_ms"] = med([s.dur for s in builds], 1000.0)
            m[f"queries.{fn}.exec_ms"] = med(exec_ms)
            per_call = [
                len(b.jobs) + len(e.jobs) for b, e in zip(builds, execs)
            ]
            tasks = [b.tasks + e.tasks for b, e in zip(builds, execs)]
            m[f"queries.{fn}.jobs"] = med(per_call)
            m[f"queries.{fn}.tasks"] = med(tasks)
        m["catalog.to_df.exec_ms"] = med(durs("catalog.to_df.exec"), 1000.0)
        m["catalog.to_df.jobs"] = med([len(s.jobs) for s in in_loop("catalog.to_df.exec")])
        for ep in ENDPOINTS:
            m[f"engine.{ep}.ms"] = med(durs(f"engine.{ep}"), 1000.0)
        return m

    def file_scans(self, eng) -> int:
        """FileScan nodes in the executed plan of a ``list_packages``."""
        df = eng.list_packages(CATALOG)
        df.collect()
        return plan_nodes(df._jdf.queryExecution().executedPlan().toString(), "FileScan ")

    def datasource_read(self) -> tuple[float, int]:
        """The second stream reader, ``format("console_meta")``, over the
        current stream into the noop sink (off the end-to-end path)."""
        from console_etl_spark.datasource import register_meta_source

        register_meta_source(self.spark)
        reader = self.spark.read.format("console_meta")
        with self.tracer.span("datasource.read") as sp:
            reader.load(self.source.path).write.format("noop").mode("overwrite").save()
        docs = reader.load(self.source.path).count()
        return sp.dur if sp else 0.0, docs


def run(ctx) -> dict:
    b = CatalogBench(ctx)
    eng, setup_s = b.setup("setup")
    ctx.setup_s += setup_s
    out = {"untraced": b.loop(eng, ctx.seconds)}
    eng.refresh.invalidate(CATALOG)
    if ctx.trace:
        from console_etl_spark import ingest, queries

        ctx.tracer.enabled = True
        for fn in QUERY_FNS:
            setattr(queries, fn, ctx.tracer.wrap(getattr(queries, fn), f"queries.{fn}.build"))
        teng, _ = b.setup("traced")
        out["traced"] = b.loop(teng, ctx.seconds)
        layers = b.layer_metrics(teng, out["traced"])
        # the program's own document counts, checked against the generator
        docs_in = ingest.read_meta_stream(b.spark, b.source.path).count()
        docs_out = teng.store.read(b.spark, CATALOG).count()
        if (docs_in, docs_out) != (len(b.cat.docs), len(b.cat.truth())):
            b._fail(f"ingest kept {docs_out} of {docs_in} docs, "
                    f"want {len(b.exp.objects)} of {len(b.cat.docs)}")
        files, dirs, size = _dir_stats(teng.store.current(CATALOG).path)
        layers.update({
            "ingest.docs_in": docs_in,
            "ingest.docs_out": docs_out,
            "ingest.dedup_keep_ratio": docs_out / docs_in,
            "store.files_written": files,
            "store.dirs_written": dirs,
            "store.bytes_written": size,
            "store.bytes_per_input_byte": size / b.source.bytes,
            "queries.list_packages.file_scans": b.file_scans(teng),
        })
        read_s, ds_docs = b.datasource_read()
        if ds_docs != len(b.cat.docs):
            b._fail(f"console_meta read {ds_docs} docs, stream has {len(b.cat.docs)}")
        layers["datasource.read_s"] = read_s
        layers["datasource.docs"] = ds_docs
        out["layers"] = layers
    out.update(attempted=b.attempted, failed=b.failed, failures=b.failures)
    return out


def end_to_end(res: dict) -> dict:
    """The workload's calls → the benchmark's end-to-end metrics."""
    lat = res["lat"]
    pct, tail_s = tail(lat)
    return {
        "p50_ms": median(lat) * 1000.0,
        "tail_ms": tail_s * 1000.0,
        "tail_pct": pct,
        "samples": len(lat),
        "ops_per_s": res["calls"] / res["busy"],
        "cycle_s": median(res["cycles"]),
    }
