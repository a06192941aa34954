"""The analytic core: ``registry_core``.

The frozen 30 core queries behind ``__spark_entry__``, each built and
executed into the noop sink, with the pin/cache release between queries
that the repository bench uses. The list is this benchmark's own copy,
so a later change to ``bench.py`` cannot change what is measured.

Set-up generates the fixture tables from the seed and runs one warm-up
pass that collects every result; those results are row-count-checked
against the query's DuckDB oracle over the same tables (or required to
be non-empty where none exists). Timed passes then run until the run's
seconds are spent.
"""

from __future__ import annotations

import os
import time

import tablegen
from spans import median, tail

SF = 0.001
GEN_PASSES = 3
CORE = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q6_revenue_forecast",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q10_returned_items",
    "q13_customer_distribution",
    "q16_supplier_variety",
    "q18_large_volume_customers",
    "q19_disjunctive_join",
    "asof_join_purchase_view",
    "hypertable_rollup_events",
    "window_topk_orders_per_customer",
    "events_hourly_stats",
    "events_json_extract",
    "sessionize_events",
    "dedup_exact_docs",
    "dedup_shingle_jaccard",
    "dedup_minhash_lsh",
    "embedding_near_pairs",
    "ann_topk_cosine",
    "text_top_tokens",
    "text_quality_scores",
    "decontaminate_overlap_docs",
    "split_train_test_docs",
    "pack_sequences_by_lang",
    "curate_corpus_end_to_end",
    "text_bigram_perplexity",
    "embedding_int8_quantize",
    "dq_violations_report",
)


def _owners() -> dict[str, str]:
    """Core query → ``relational`` or ``llmops``, by registering module."""
    from console_etl_spark import llmops, relational

    out = {n: "relational" for n in relational.QUERIES}
    for mod in vars(llmops).values():
        for n in getattr(mod, "QUERIES", {}):
            out.setdefault(n, "llmops")
    return out


def _oracle_counts(sf_dir: str, oracle: dict[str, str]) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tablegen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {
            n: con.execute(f"SELECT count(*) FROM ({oracle[n]})").fetchone()[0]
            for n in CORE if n in oracle
        }
    finally:
        con.close()


class RegistryBench:
    def __init__(self, ctx) -> None:
        import __spark_entry__ as entry
        from console_etl_spark.session import release_pins

        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.release = release_pins
        self.qs = entry.queries()
        self.oracle = entry.oracle_sql()
        self.sf_dir = os.path.join(ctx.work, f"sf{SF}")
        self.failed = 0
        self.failures: list[str] = []

    def _reset(self) -> None:
        self.release()
        self.spark.catalog.clearCache()

    def setup(self) -> float:
        gens = []
        for _ in range(GEN_PASSES):
            t0 = time.perf_counter()
            tablegen.write(self.ctx.seed, SF, self.sf_dir)
            gens.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        rows = {}
        for n in CORE:
            try:
                rows[n] = len(self.qs[n](self.spark, self.sf_dir).collect())
            except Exception as exc:  # counted, and the pass goes on
                self._fail(f"{n}: raised {exc!r}"[:300])
            self._reset()
        warm = time.perf_counter() - t0
        self.ctx.phases.update(gen_passes=gens, warmup_s=warm)
        want = _oracle_counts(self.sf_dir, self.oracle)
        for n, got in rows.items():
            if (n in want and got != want[n]) or (n not in want and got == 0):
                self._fail(f"{n}: {got} rows, oracle {want.get(n, '>0')}")
        return median(gens) + warm

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(msg)

    def one_pass(self) -> list[float]:
        tr = self.tracer
        times = []
        for n in CORE:
            t0 = time.perf_counter()
            try:
                with tr.span(f"registry.{n}", rid=tr.new_request()):
                    with tr.span("registry.build"):
                        df = self.qs[n](self.spark, self.sf_dir)
                    if tr.enabled:
                        with tr.span("registry.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("registry.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted, and the pass goes on
                self._fail(f"{n}: raised {exc!r}"[:300])
            times.append(time.perf_counter() - t0)
            self._reset()
        return times

    def loop(self, seconds: float) -> dict:
        """Whole passes while another one fits in ``seconds`` (at least
        one)."""
        done = []
        t0 = time.perf_counter()
        while not done or time.perf_counter() - t0 + sum(done[-1]) <= seconds:
            done.append(self.one_pass())
        lat = [t for p in done for t in p]
        return {
            "lat": lat, "cycles": [sum(p) for p in done], "busy": sum(lat),
            "calls": len(lat), "t0": t0, "t1": time.perf_counter(),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        tr.collect_counts()
        owners = _owners()
        m: dict = {}
        tops = [s for s in tr.spans if s.parent is None and s.name.startswith("registry.")]
        sums = {k: 0.0 for k in ("build", "plan", "exec")}
        groups = {
            f"{g}.{k}_s": 0.0 for g in ("relational", "llmops") for k in ("build", "exec")
        }
        jobs = {"build": 0, "exec": 0}
        exec_tasks = 0
        for top in tops:
            owner = owners.get(top.name.split(".", 1)[1], "llmops")
            for child in tr.children(top):
                kind = child.name.split(".", 1)[1]
                sums[kind] += child.dur
                if kind in jobs:
                    jobs[kind] += tr.jobs_in(child)
                    groups[f"{owner}.{kind}_s"] += child.dur
                if kind == "exec":
                    exec_tasks += tr.tasks_in(child)
        m["registry.build_s"] = sums["build"]
        m["registry.build_jobs"] = jobs["build"]
        m["registry.plan_s"] = sums["plan"]
        m["registry.exec_s"] = sums["exec"]
        m["registry.exec_jobs"] = jobs["exec"]
        m["registry.exec_tasks"] = exec_tasks
        m.update(groups)
        return m


def run(ctx) -> dict:
    b = RegistryBench(ctx)
    ctx.setup_s += b.setup()
    res = b.loop(ctx.seconds)
    out = {
        "attempted": len(CORE) + res["calls"], "failed": b.failed,
        "failures": b.failures, "untraced": res,
    }
    if ctx.trace:
        ctx.tracer.enabled = True
        # one traced pass: its counts are per pass, like the core's total
        out["traced"] = b.loop(0)
        out["layers"] = b.layer_metrics()
        out["attempted"] += out["traced"]["calls"]
    out["failed"] = b.failed
    return out


def end_to_end(res: dict) -> dict:
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
