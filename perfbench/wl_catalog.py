"""catalog_mix: a fixed list of catalog entries, each built through
catalog.queries()[name](spark, sf_dir) and run into the noop sink, over
seeded tables. Untimed passes run until the pass time converges; the
timed passes follow (catalog_s: median over the calm ones, see
common.calm); the DuckDB oracle checks every entry afterwards, untimed."""

from __future__ import annotations

import re
import time
from pathlib import Path

from perfbench import checks, common, inputs
from perfbench.layers import CATALOG_ENTRIES
from perfbench.trace import Tracer, add_job_spans

SF = 0.01
SETUPS = 3
MAX_WARM_PASSES = 4
CONVERGED = 0.10  # a warm-up pass within 10% of the one before ends warm-up
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _entry(spark, fn, sf_dir: str) -> tuple[float, float]:
    """(build seconds, action seconds) of one entry."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def _pass(spark, qs, sf_dir: str) -> dict[str, float]:
    return {name: sum(_entry(spark, qs[name], sf_dir)) for name in CATALOG_ENTRIES}


def _setup(sf_dir: str):
    """SETUPS rounds of: a session with no cached reads, then the first
    entry built and run. The first round also starts the JVM."""
    from dsp_spark.catalog import queries

    spark, times = None, []
    for _ in range(SETUPS):
        t0 = time.time()
        spark = common.session("catalog_mix") if spark is None else spark.newSession()
        qs = queries()
        _entry(spark, qs[CATALOG_ENTRIES[0]], sf_dir)
        times.append(time.time() - t0)
    return spark, qs, times


def _input_rows(rows: dict[str, int]) -> dict[str, int]:
    """Rows of the tables each entry's oracle SQL names."""
    from dsp_spark.catalog import oracle_sql

    sql = oracle_sql()
    return {
        name: sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", sql[name]))
        for name in CATALOG_ENTRIES
    }


def _oracle(spark, qs, sf_dir: str, results: dict | None = None) -> tuple[int, list[str]]:
    """Each entry's result (from `results`, else run here) against the
    DuckDB oracle."""
    import duckdb

    from dsp_spark.catalog import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        failures = []
        for name in CATALOG_ENTRIES:
            try:
                got = results[name] if results else qs[name](spark, sf_dir).toPandas()
                diff = checks.frames_equal(got, con.execute(sql[name]).fetchdf())
            except Exception as exc:  # an entry that errors is a failed output
                diff = f"{type(exc).__name__}: {exc}"
            if diff is not None:
                failures.append(f"{name}: {diff}")
    finally:
        con.close()
    return len(CATALOG_ENTRIES), failures


def run(seed: int, seconds: int, trace: bool, host: common.HostSampler) -> common.Result:
    res = common.Result()
    work = common.fresh_workdir("catalog_mix")
    sf_dir = str(work / "tables")
    rows = inputs.write_catalog_tables(Path(sf_dir), seed, SF)
    spark, qs, setups = _setup(sf_dir)
    try:
        warm = [sum(_pass(spark, qs, sf_dir).values())]
        while len(warm) < MAX_WARM_PASSES and not (
            len(warm) >= 2 and abs(warm[-1] - warm[-2]) <= CONVERGED * warm[-2]
        ):
            warm.append(sum(_pass(spark, qs, sf_dir).values()))
        passes, t0 = [], time.time()
        while not passes or time.time() - t0 < seconds:
            t_pass = time.time()
            passes.append(_pass(spark, qs, sf_dir))
            passes[-1]["_steal"] = host.steal_frac(t_pass, time.time())
        sums = common.calm([(sum(p[n] for n in CATALOG_ENTRIES), p["_steal"]) for p in passes], 1)
        walls_ms = [p[name] * 1e3 for p in passes for name in CATALOG_ENTRIES]
        catalog_s = common.median(sums)
        res.check(*_oracle(spark, qs, sf_dir))
        res.put("setup_s", common.median(setups), "s")
        res.put("msgs_per_s", sum(_input_rows(rows).values()) / catalog_s, "1/s")
        res.put("latency_p50_ms", common.percentile(walls_ms, 50), "ms")
        res.put("latency_p99_ms", common.percentile(walls_ms, 99), "ms")
        res.layer["catalog.catalog_s"] = catalog_s
        for name in CATALOG_ENTRIES:
            res.layer[f"catalog.entry_s.{name}"] = common.median([p[name] for p in passes])
        res.info = {"catalog_s": round(catalog_s, 4), "timed_passes": len(passes),
                    "warm_pass_s": [round(w, 2) for w in warm],
                    "setup_rounds_s": [round(t, 3) for t in setups]}
        if trace:
            _trace(spark, qs, sf_dir, catalog_s, res)
    finally:
        spark.stop()
    return res


def _phase_ms(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def _trace(spark, qs, sf_dir: str, plain_s: float, res: common.Result) -> None:
    tracer = Tracer("catalog_mix")
    t_pass, t_end = _traced_pass(spark, qs, sf_dir, tracer, res)
    res.layer["trace.overhead_frac"] = 1.0 - plain_s / (t_end - t_pass)
    res.layer.update(common.spark_layer(spark, t_pass, t_end))
    res.tracer = tracer


def _traced_pass(spark, qs, sf_dir: str, tracer: Tracer, res: common.Result,
                 results: dict | None = None):
    """One traced pass: builder call and action spans per entry, Spark
    jobs as children, Catalyst phase times from the query tracker; sets
    the catalog.* totals. The action is the noop write or, given a
    `results` dict, collecting each result into it. Returns the pass's
    (start, end), epoch s."""
    totals = dict.fromkeys(("build_ms", "build_jobs", "analysis_ms", "optimization_ms",
                            "planning_ms", "exec_ms"), 0.0)
    t_pass = time.time()
    for name in CATALOG_ENTRIES:
        with tracer.span("catalog", name):
            with tracer.span("catalog", "build", entry=name):
                df = qs[name](spark, sf_dir)
            totals["build_ms"] += tracer.spans[-1].ms
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # optimization + planning, recorded by the tracker
            for phase in ("analysis", "optimization", "planning"):
                totals[f"{phase}_ms"] += _phase_ms(qe, phase)
            with tracer.span("catalog", "action", entry=name):
                if results is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[name] = df.toPandas()
            totals["exec_ms"] += tracer.spans[-1].ms
    t_end = time.time()
    jobs = common.status_jobs(spark, t_pass, t_end)
    builds = tracer.of("catalog", "build")
    totals["build_jobs"] = sum(1 for j in jobs for b in builds
                               if b.start <= j.start_ms / 1e3 <= b.end)
    add_job_spans(tracer, jobs, builds + tracer.of("catalog", "action"))
    for key, value in totals.items():
        res.layer[f"catalog.{key}"] = value
    return t_pass, t_end


def in_traced_run(spark, seed: int, tracer: Tracer, res: common.Result) -> None:
    """The catalog layer inside another workload's traced run, in one
    pass to keep the run short: no warm-up pass, and each entry's action
    collects its result, which the oracle check then uses (catalog_s
    and entry_s.* from the pass's spans, so cold and with the collect)."""
    from dsp_spark.catalog import queries

    sf_dir = str(common.fresh_workdir("catalog_mix") / "tables")
    inputs.write_catalog_tables(Path(sf_dir), seed, SF)
    qs = queries()
    results: dict = {}
    _traced_pass(spark, qs, sf_dir, tracer, res, results)
    for span in tracer.of("catalog"):
        if span.name in CATALOG_ENTRIES:
            res.layer[f"catalog.entry_s.{span.name}"] = span.ms / 1e3
    res.layer["catalog.catalog_s"] = sum(res.layer[f"catalog.entry_s.{e}"] for e in CATALOG_ENTRIES)
    res.check(*_oracle(spark, qs, sf_dir, results))
