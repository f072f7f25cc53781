"""The analytics part of ``search_and_analytics``: the 16 headline
queries of ``bench.py`` over a generated corpus.

Setup generates the tables, stages the streaming landing directory and
runs one untimed warm-up pass: each query's first execution in the
process pays its plan compilation and code generation there. Then
timed passes run the queries back to back, each collected to the
driver, until the part's seconds are used (at least one pass). One
operation is one query execution; a query's figure is its median over
the timed passes. Every output, the warm-up's included, is checked
afterwards against the query's DuckDB oracle (``oracle_sql()``, see
``oracle_check``).
"""

from __future__ import annotations

import time

from bench import HEADLINE
from perfbench import gen_corpus, oracle_check
from perfbench.harness import median

SCALE = 0.5


def layer_of(fn) -> str:
    """The query's defining module without the package prefix, e.g.
    ``queries.relational`` — the tag its per-layer metrics carry."""
    return fn.__module__.removeprefix("recipes_spark.")


def _pass(ctx, queries, data, phase=None, tracer=None) -> tuple[dict, dict]:
    """One pass over the headline queries: (seconds, outputs) by name.
    With ``phase``, the host reference is sampled after each query."""
    times, outputs = {}, {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        if tracer is None:
            outputs[name] = queries[name](ctx.spark, data).toPandas()
        else:
            tracer.trace_id = name
            with tracer.span(f"{layer_of(queries[name])}.{name}"):
                outputs[name] = queries[name](ctx.spark, data).toPandas()
        times[name] = time.perf_counter() - t0
        if phase is not None:
            ctx.host_ref.sample(phase)
    return times, outputs


def run(ctx) -> dict:
    from recipes_spark.registry import all_oracles, all_queries
    from recipes_spark.streaming import core
    from tests.oracle_harness import run_oracle

    queries, oracles = all_queries(), all_oracles()
    data = ctx.path("corpus")
    t0 = time.perf_counter()
    sizes = gen_corpus.generate(data, ctx.seed, SCALE)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    core.stage_events(ctx.spark, data)
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    _, warm_out = _pass(ctx, queries, data)
    warm_s = time.perf_counter() - t0

    passes: list[tuple[dict, dict]] = []
    t_loop = time.perf_counter()
    while not passes or time.perf_counter() - t_loop < ctx.seconds:
        passes.append(_pass(ctx, queries, data, "wl_analytics"))

    traced = None
    if ctx.traced is not None:
        traced = _pass(ctx, queries, data, tracer=ctx.traced)

    # checks, outside every timed region: the oracle runs once per query
    t0 = time.perf_counter()
    ops: list = []
    checks: list = []
    ties = 0
    for name in HEADLINE:
        outs = [warm_out[name]] + [o[name] for _, o in passes] + ([traced[1][name]] if traced else [])
        try:
            want = run_oracle(oracles[name], data)
            found = [oracle_check.check(o, want, oracles[name], data, name) for o in outs]
        except Exception as exc:  # a crashed check is a failed operation
            found = [([f"{name}: oracle check raised {exc!r}"], 0)] * len(outs)
        ties += sum(t for _, t in found)
        checks.append(found[0][0])
        checks.extend(p for p, _ in found[1 + len(passes):])
        ops.extend((name, times[name], p) for (times, _), (p, _) in zip(passes, found[1:]))
    oracle_s = time.perf_counter() - t0

    per_query = {n: median([t[n] for t, _ in passes]) for n in HEADLINE}
    result = {
        "setup_s": gen_s + stage_s + warm_s,
        "ops": ops,
        "checks": checks,
        "report": {
            "analytics_s": (sum(per_query.values()), "s"),
            "oracle_round_ties": (ties, "count"),
        },
        "diag": {
            "rows": sizes, "generate_s": gen_s, "stage_events_s": stage_s,
            "warmup_s": warm_s, "passes": len(passes),
            "pass_s": [sum(t.values()) for t, _ in passes],
            "oracle_check_s": oracle_s, "oracle_round_ties": ties,
            "modules": {n: layer_of(queries[n]) for n in HEADLINE},
        },
    }
    if traced is not None:
        per_layer = {"streaming.stage_events_s": stage_s}
        for name in HEADLINE:
            key = f"{layer_of(queries[name])}.{name}"
            sp = ctx.traced.named(key)[-1]
            per_layer[f"{key}_s"] = sp.end - sp.start
            per_layer[f"{key}.jobs"] = float(sp.jobs)
            per_layer[f"{key}.tasks"] = float(sp.tasks)
        result["per_layer"] = per_layer
        result["trace_slice"] = (sum(traced[0].values()), sum(per_query.values()))
    return result
