"""``relational_mix``: registered queries over seeded star-schema tables.

Setup generates the tables (cached per seed), then runs one untimed pass in
which each query's first execution is collected and compared with its DuckDB
twin from ``oracle_sql()``, and ``WARMUP_PASSES`` more untimed passes. A fixed
number of timed passes follows, set by the run's seconds, each in its own
seeded order, and every timed query is fully materialized through the
``noop`` sink. The driver heap held is read at the start and after each pass
(``Context.settle``), outside the timed queries.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from inputs import GEN_VERSION, cached_build, fingerprint, write_tables
from measure import Aside, median, per_op_spark, tree_cpu_s

SF = 0.01
# untimed noop passes after the oracle pass: the first noop pass of a session
# costs 1.4x the CPU of the third, the second 1.1x
WARMUP_PASSES = 1
# wall seconds of one pass and its settle point on a quiet 4-core machine; a
# run times ``--seconds`` / this many passes (at least MIN_PASSES), whatever
# the host's speed, so a busy host takes longer over the same passes
NOMINAL_PASS_S = 3.2
MIN_PASSES = 3
RELATIONAL = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_type_profit",
    "revenue_by_nation",
    "top_customers_by_revenue",
    "hash_dedup_anti_join",
    "interval_containment_join",
    "day_window_grouping",
    "sessionization",
    "timeseries_gapfill",
    "dreem_pipeline_e2e",
)


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(spark_pdf, oracle_pdf, canon) -> str | None:
    """``tools/check_oracle.py``'s verdict on one result: row count, column
    names, then exact values after its canonical sort. None when equal."""
    s, d = canon(spark_pdf), canon(oracle_pdf)
    if len(s) != len(d):
        return f"rowcount {len(s)} vs {len(d)}"
    if list(s.columns) != list(d.columns):
        return f"schema {list(s.columns)} vs {list(d.columns)}"
    if len(s) and not s.equals(d):
        return "values differ"
    return None


def _materialize(df) -> None:
    """Compute every row and column, writing nothing (``count()`` would let
    the optimizer prune columns and aggregates)."""
    df.write.format("noop").mode("overwrite").save()


def _order(seed: int, pass_no: int) -> list[str]:
    names = list(RELATIONAL)
    random.Random(f"order:{seed}:{pass_no}").shuffle(names)
    return names


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry

    tracer = ctx.tracer
    aside = Aside()  # the benchmark's own work, kept out of the set-up figures
    t0 = time.perf_counter()
    with aside():
        key = f"tables-sf{SF}-s{ctx.seed}-g{GEN_VERSION}-{fingerprint()}"
        sf_dir = cached_build(ctx.work, key, lambda p: write_tables(p, ctx.seed, SF))
        oracles = entry.oracle_sql()
        canon = _check_oracle_module(ctx.root).canon
        duck = duckdb.connect()
        for fn in sorted(os.listdir(sf_dir)):
            if fn.endswith(".parquet"):
                duck.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{sf_dir}/{fn}'")
    queries = entry.queries()

    problems: list[str] = []
    with tracer.span("setup.warmup"):
        for name in _order(ctx.seed, 0):
            with tracer.span("query", query=name), ctx.group(f"w/{name}"):
                try:
                    got = queries[name](ctx.spark, sf_dir).toPandas()
                except Exception as e:  # a failed query is counted, not fatal
                    problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
            with aside():
                if name in oracles:
                    verdict = compare(got, duck.execute(oracles[name]).fetchdf(), canon)
                else:
                    verdict = None if len(got) else "rows-only check: no rows"
            if verdict:
                problems.append(f"{name}: {verdict}")
        duck.close()
        for w in range(1, WARMUP_PASSES + 1):
            for name in _order(ctx.seed, -w):
                with tracer.span("query", query=name), ctx.group(f"w{w}/{name}"):
                    try:
                        _materialize(queries[name](ctx.spark, sf_dir))
                    except Exception as e:
                        problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
    setup_s = time.perf_counter() - t0 - aside.s
    setup_cpu_s = tree_cpu_s() - aside.cpu_s

    lat: dict[str, list[float]] = {n: [] for n in RELATIONAL}
    lat_cpu: list[float] = []
    passes: list[float] = []
    passes_cpu: list[float] = []
    per_pass: list[dict] = []
    failed = 0
    load_s0 = ctx.load_s
    ctx.settle()
    n_passes = max(MIN_PASSES, round(ctx.seconds / NOMINAL_PASS_S))
    for pass_no in range(1, n_passes + 1):
        pc0, p0 = tree_cpu_s(), time.perf_counter()
        with tracer.span("pass", pass_no=pass_no):
            for name in _order(ctx.seed, pass_no):
                label = f"m{pass_no}/{name}"
                with tracer.span("query", query=name), ctx.group(label):
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    try:
                        _materialize(queries[name](ctx.spark, sf_dir))
                    except Exception as e:
                        failed += 1
                        problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                        continue
                    lat[name].append(time.perf_counter() - t0)
                    lat_cpu.append(tree_cpu_s() - c0)
        passes.append(time.perf_counter() - p0)
        passes_cpu.append(tree_cpu_s() - pc0)
        if tracer.enabled:
            per_pass.append(ctx.spark_metrics(
                f"m{pass_no}/", [f"m{pass_no}/{n}" for n in RELATIONAL]
            ))
        ctx.settle()

    layer = {}
    if tracer.enabled:
        layer.update(_layer(lat, per_pass, ctx.load_s - load_s0))
    n_ops = sum(len(v) for v in lat.values())
    return {
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "ops": [x for v in lat.values() for x in v],
        "cycles": passes,
        "ops_cpu": lat_cpu,
        "cycles_cpu": passes_cpu,
        "attempted": len(RELATIONAL) * (1 + WARMUP_PASSES) + n_ops + failed,
        "failed": len(problems),
        "problems": problems,
        "layer": layer,
    }


def _layer(lat, per_pass, load_s: float) -> dict:
    n_pass = len(per_pass)
    out = {}
    for name, vals in lat.items():
        ops = [p[f"m{i + 1}/{name}"] for i, p in enumerate(per_pass)]
        out[f"q.{name}.s"] = median(vals)
        out[f"q.{name}.jobs"] = median(o["jobs"] for o in ops)
        out[f"q.{name}.shuffle_mb"] = median(o["shuffle_mb"] for o in ops)
        out[f"q.{name}.spill_mb"] = median(o["spill_mb"] for o in ops)
    totals = [p[f"m{i + 1}/"] for i, p in enumerate(per_pass)]
    out["tables.scan_mb"] = sum(t["scan_mb"] for t in totals) / n_pass
    out["tables.scan_task_s"] = sum(t["scan_task_s"] for t in totals) / n_pass
    out["tables.repartition_shuffle_mb"] = sum(t["scan_shuffle_mb"] for t in totals) / n_pass
    out["tables.load_s"] = load_s / n_pass
    ops = [p[f"m{i + 1}/{n}"] for i, p in enumerate(per_pass) for n in RELATIONAL]
    out.update(per_op_spark(ops))
    return out
