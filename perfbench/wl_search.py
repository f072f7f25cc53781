"""The search part of ``search_and_analytics``: the STAC API query side
over a generated catalog.

Setup builds the catalog from generated metadata rows through
``plans.items.build_items`` and several ``plans.catalog.upsert_items``
increments (no granule files). One closed-loop client then issues the
seeded request mix until the run's seconds are used. Each request opens
the store by path (``io.load``), as a stateless API server would; one
materialized page is one request. Results are recorded in the loop and
checked afterwards against ``gen_catalog.Evaluator``.
"""

from __future__ import annotations

import os
import time

from perfbench import gen_catalog
from perfbench.harness import force_noop, median, percentile

N_ITEMS = 10_000
INCREMENTS = 3
REQUEST_CYCLES = 200  # far more than one run can issue
WARMUP_CYCLES = 1


def _filter(req: gen_catalog.Request):
    from recipes_spark.plans import cql

    if req.cql_text is not None:
        return cql.compile_cql(req.cql_text)
    if req.cql_json is not None:
        return cql.compile_cql_json(req.cql_json)
    return None


def _execute(ctx, root: str, req: gen_catalog.Request, tracer):
    """Run one request; yields (seconds, ids, columns) per materialized
    page (exactly one entry for non-paged requests). Layer functions are
    looked up on their modules at call time, so traced runs see them
    wrapped."""
    from recipes_spark import io
    from recipes_spark.plans import catalog

    t0 = time.perf_counter()
    items = io.load(ctx.spark, root, "items")
    if req.cls == "paged":
        kw = dict(req.search)
        pages = catalog.search_pages(items, page_size=gen_catalog.PAGE_SIZE, **kw)
        n = 0
        while n < gen_catalog.MAX_PAGES:
            with tracer.span("search.materialize"):
                page = next(pages, None)
                rows = page.collect() if page is not None else None
            t1 = time.perf_counter()
            if rows is None:
                if n == 0:
                    yield t1 - t0, [], None
                return
            yield t1 - t0, [r["id"] for r in rows], tuple(page.columns)
            n += 1
            t0 = time.perf_counter()
        pages.close()
        return
    filt = _filter(req)
    kw = dict(req.search)
    if filt is not None:
        kw["filter"] = filt
    with tracer.span("search.materialize"):
        rows = catalog.catalog_search(items, **kw).collect()
    yield time.perf_counter() - t0, [r["id"] for r in rows], None


def build(ctx, root: str, rows) -> None:
    """The catalog build: build_items + upsert_items per increment."""
    from recipes_spark.plans import catalog
    from recipes_spark.plans.items import build_items

    store = os.path.join(root, "items.parquet")
    step = -(-len(rows) // INCREMENTS)
    for k in range(INCREMENTS):
        part = rows.iloc[k * step: (k + 1) * step]
        catalog.upsert_items(ctx.spark, build_items(ctx.spark.createDataFrame(part)), store)


def _check(ev: gen_catalog.Evaluator, req, results) -> list[str]:
    """results: the (seconds, ids, columns) entries of one request."""
    if req.cls == "paged":
        want = ev.expected_pages(req)
        got = [ids for _, ids, _ in results if ids or len(results) > 1]
        if got != want:
            return [f"paged: pages {[len(p) for p in got]} vs expected {[len(p) for p in want]}"]
        want_cols = ("id", "collection_id", "bbox", "start_datetime")
        for _, _, cols in results:
            if cols is not None and sorted(cols) != sorted(want_cols):
                return [f"paged: fields projection gave {cols}"]
        return []
    got = results[0][1]
    want = ev.expected(req)
    if req.cls == "ids":
        got, want = sorted(got), sorted(want)
    if got != want:
        return [f"{req.cls}: {len(got)} ids vs expected {len(want)} (first {got[:3]} vs {want[:3]})"]
    return []


def run(ctx) -> dict:
    # -- setup: generate rows and requests, build, warm up
    t0 = time.perf_counter()
    rows = gen_catalog.items(N_ITEMS, ctx.seed)
    reqs = gen_catalog.requests(rows["item_id"].tolist(), REQUEST_CYCLES, ctx.seed)
    gen_s = time.perf_counter() - t0
    root = ctx.path("catalog")
    t0 = time.perf_counter()
    build(ctx, root, rows)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for req in gen_catalog.requests(rows["item_id"].tolist(), WARMUP_CYCLES, ctx.seed + 1):
        for _ in _execute(ctx, root, req, ctx.tracer):
            pass
    warm_s = time.perf_counter() - t0
    setup_s = gen_s + build_s + warm_s

    # -- closed loop, until the seconds are used and every class has run
    done: list[tuple] = []  # (request, [(seconds, ids, cols), ...])
    cycle = len(gen_catalog.CLASSES)
    t_loop = time.perf_counter()
    for req in reqs:
        done.append((req, list(_execute(ctx, root, req, ctx.tracer))))
        ctx.host_ref.sample("wl_search")
        if len(done) >= cycle and time.perf_counter() - t_loop >= ctx.seconds:
            break
    loop_s = time.perf_counter() - t_loop

    ev = gen_catalog.Evaluator(rows)
    ops: list = []
    by_class: dict[str, list[float]] = {}
    later_pages: list[float] = []
    rows_returned = 0
    for req, results in done:
        try:
            problems = _check(ev, req, results)
        except Exception as exc:  # a crashed check is a failed operation
            problems = [f"{req.cls}: check raised {exc!r}"]
        for i, (dt, ids, _) in enumerate(results):
            ops.append((req.cls, dt, problems if i == 0 else []))
            by_class.setdefault(req.cls, []).append(dt)
            rows_returned += len(ids)
            if i > 0:
                later_pages.append(dt)
    lat = sorted(dt for _, dt, _ in ops)
    n95 = len(lat) - -(-95 * len(lat) // 100)
    result = {
        "setup_s": setup_s,
        "ops": ops,
        "report": {
            "search_p50_ms": (1000 * median(lat), "ms"),
            "search_p95_ms": (1000 * percentile(lat, 95), "ms"),
            "search_qps": (len(ops) / loop_s, "req/s"),
        },
        "diag": {
            "requests": len(ops), "samples_above_p95": n95,
            "items": N_ITEMS, "rows_returned": rows_returned,
            "generate_s": gen_s, "build_s": build_s, "warmup_s": warm_s,
        },
    }
    if ctx.traced is not None:
        result["per_layer"], result["trace_slice"] = _traced(ctx, root, reqs, done, by_class, later_pages)
        result["per_layer"]["plans.catalog.store_files"] = float(sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(root, "items.parquet")) for f in fs
        ))
    return result


def _traced(ctx, root, reqs, done, by_class, later_pages) -> tuple[dict, tuple[float, float]]:
    """Trace the first cycle of the mix again with spans and the
    catalog_search boundary forced. Returns the per-layer metrics and
    (traced, untraced) seconds of the same requests."""
    from recipes_spark import io
    from recipes_spark.plans import catalog, cql

    tracer = ctx.traced
    tracer.wrap(io, "load", "io.load")
    tracer.wrap(cql, "compile_cql", "plans.cql.compile_cql")
    tracer.wrap(cql, "compile_cql_json", "plans.cql.compile_cql_json")
    tracer.wrap(catalog, "catalog_search", "plans.catalog.catalog_search", force=force_noop)
    n = len(gen_catalog.CLASSES)
    traced_s = 0.0
    rows = 0
    for i, req in enumerate(reqs[:n]):
        tracer.trace_id = f"req{i}-{req.cls}"
        with tracer.span("search.request", cls=req.cls):
            for dt, ids, _ in _execute(ctx, root, req, tracer):
                traced_s += dt
                rows += len(ids)
    tracer.restore()
    untraced_s = sum(dt for _, res in done[:n] for dt, _, _ in res)

    def ms(*names: str, self_time: bool = False) -> float:
        idx = [i for i, s in enumerate(tracer.spans) if s.name in names]
        if not idx:
            return 0.0
        vals = [tracer.self_time(i) if self_time else tracer.spans[i].end - tracer.spans[i].start for i in idx]
        return 1000 * median(vals)

    mat = tracer.named("search.materialize")
    out = {
        "io.catalog_open_ms": ms("io.load"),
        "plans.cql.compile_ms": ms("plans.cql.compile_cql", "plans.cql.compile_cql_json"),
        "plans.catalog.search_plan_ms": ms("plans.catalog.catalog_search", self_time=True),
        "plans.catalog.search_exec_ms": ms("plans.catalog.catalog_search.exec"),
        "plans.catalog.search_jobs": float(sum(s.jobs for s in mat)),
        "plans.catalog.search_tasks": float(sum(s.tasks for s in mat)),
        "plans.catalog.rows_returned": float(rows),
        "plans.catalog.page_ms": 1000 * median(later_pages) if later_pages else 0.0,
    }
    for cls in gen_catalog.CLASSES:
        out[f"search.{cls}.p50_ms"] = 1000 * median(by_class[cls]) if cls in by_class else 0.0
    return out, (traced_s, untraced_s)
