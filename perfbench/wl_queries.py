"""``query_relational``: registry queries built, planned and executed to
the noop sink, pass after pass over a seed-shuffled mix."""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import nullcontext

import datagen

MIX = (
    "agg_groupby join_multiway tpch_q3ish tpch_q5ish tpch_q9ish tpch_q21ish "
    "window_rank topk_per_group subq_in_heavy_orders agg_promo_share join_asof "
    "events_funnel join_skew_salted udaf_grouped sim_topk"
).split()


def run(ctx):
    import duckdb

    import __spark_entry__

    sys.path.insert(0, str(ctx.work.parents[1] / "tools"))
    from check_correctness import norm_frame

    spark = ctx.spark
    data = str(ctx.work / "data")
    tables = datagen.make_tables(ctx.args.seed, ctx.args.scale)
    datagen.write_tables(tables, data)
    queries = __spark_entry__.queries()
    layer = {n: "llm" if ".llm." in queries[n].__module__ else "operators" for n in MIX}

    # warm-up pass: the timed op, then its result collected for the check
    results = {}
    for name in ctx.rng.sample(MIX, len(MIX)):
        ctx.attempted += 1
        try:
            df = queries[name](spark, data)
            df.write.format("noop").mode("overwrite").save()
            results[name] = df.toPandas()
        except Exception as e:
            ctx.fail(f"{name}: {type(e).__name__}: {e}")

    def op(name, tracer):
        span = tracer.span if tracer is not None else lambda *a, **k: nullcontext()
        with span(f"{layer[name]}.build", query=name):
            df = queries[name](spark, data)
        with span("spark.plan", query=name):
            df._jdf.queryExecution().executedPlan()
        with span("spark.exec", query=name):
            df.write.format("noop").mode("overwrite").save()

    timed_start = time.time()
    setup_s = timed_start - ctx.start_epoch
    untraced, traced, per_pass, per_query, untraced_cpu = [], [], [], [], []
    last_s = 0.0
    while ctx.window_open(timed_start, untraced, traced, last_s):
        p = len(untraced) + len(traced)
        tracer = ctx.tracer if (ctx.tracer is not None and p % 2 == 1) else None
        if tracer is not None:
            tracer.install()
        walls, cpus, layers = [], [], []
        for name in ctx.rng.sample(MIX, len(MIX)):
            ctx.attempted += 1
            try:
                wall, cpu, m = ctx.measure_op(f"p{p}:{name}", lambda: op(name, tracer))
            except Exception as e:
                ctx.fail(f"pass {p} {name}: {type(e).__name__}: {e}")
                continue
            walls.append(wall)
            cpus.append(cpu)
            per_query.append((wall, p, name))
            if m is not None:
                layers.append(m)
        last_s = sum(walls)
        if tracer is not None:
            tracer.uninstall()
            traced.append(last_s)
            per_pass.append(ctx.pass_layers(layers))
        else:
            untraced.append(last_s)
            untraced_cpu.append(sum(cpus))

    # output check, outside every timed region
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = __spark_entry__.oracle_sql()
    if ctx.args.tamper and results:
        victim = sorted(results)[0]
        results[victim] = results[victim].iloc[:-1]
    for name in MIX:
        if name not in results:
            continue
        ctx.attempted += 1
        try:
            got, want = norm_frame(results[name]), norm_frame(con.execute(oracles[name]).df())
        except Exception as e:
            ctx.fail(f"{name} oracle: {type(e).__name__}: {e}")
            continue
        if got != want:
            ctx.fail(
                f"{name}: result differs from its DuckDB oracle "
                f"({len(got[1])} vs {len(want[1])} rows)"
            )
    con.close()

    with open(ctx.work / "ops.jsonl", "w") as f:
        for w, p, n in per_query:
            f.write(json.dumps({"pass": p, "query": n, "wall_s": w}) + "\n")
    e2e = {"setup_s": setup_s, "pass_s": statistics.median(untraced or traced)}
    extra = {
        "pass_walls_s": [round(w, 3) for w in untraced],
        "pass_cpu_s": [round(c, 3) for c in untraced_cpu],
        "query_p50_s": statistics.median(w for w, _, _ in per_query),
        "slowest_queries": [(round(w, 2), p, n) for w, p, n in sorted(per_query)[-4:]],
    }
    layers = ctx.layer_report(untraced, traced, per_pass) if ctx.tracer else {}
    return e2e, extra, layers
