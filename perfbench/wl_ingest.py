"""``catalog_ingest``: the production ingest job as sequential
``runner.run_pipeline`` increments into one catalog.

Scenario (fixed per seed): an increment of new granules, then a
re-delivery of the same file count (changed metadata for half of the
ingested ids plus new ones). One timed operation is one of these two
increments. Scenarios run into a fresh catalog, cache and database
each: one whole scenario, then increments until the run's seconds are
used. The warm-up ingests a small landing of its own and then re-runs
it exactly: both are checked but not timed, so a no-op does not count
as ingest work.
Every increment is checked against the generator's manifest outside
its timed region.
"""

from __future__ import annotations

import itertools
import json
import os
import sqlite3
import time

import pandas as pd
import pyarrow.dataset as pads

from perfbench import gen_granules
from perfbench.harness import force_collect, force_noop

FILES_PER_INCREMENT = 40
WARMUP_FILES = 8


def _config(work: str, landing: gen_granules.Landing, inc: gen_granules.Increment) -> dict:
    return {
        "catalog": {"path": os.path.join(work, "catalog")},
        "cache_root": os.path.join(work, "cache"),
        "collections": landing.collections_yaml,
        "granules": os.path.join(inc.landing, "*.nc"),
        "database": {"kind": "sqlite", "path": os.path.join(work, "catalog.db"), "items_table": "items"},
    }


def _expected_rows(state: dict[str, dict]) -> dict[str, tuple]:
    return {
        gid: (
            gen_granules.collection_of(m["platform"]),
            (m["west"], m["south"], m["east"], m["north"]),
            pd.Timestamp(m["start_datetime"]),
            pd.Timestamp(m["end_datetime"]),
        )
        for gid, m in state.items()
    }


def _naive(ts) -> pd.Timestamp:
    t = pd.Timestamp(ts)
    return t.tz_convert(None) if t.tzinfo is not None else t


def read_store(work: str) -> dict[str, tuple]:
    """The items store read back with pyarrow (hive partitions), not Spark."""
    path = os.path.join(work, "catalog", "items")
    if not os.path.isdir(path):
        return {}
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["id", "collection_id", "bbox", "start_datetime", "end_datetime"]
    )
    out = {}
    for r in t.to_pylist():
        out[r["id"]] = (
            str(r["collection_id"]), tuple(r["bbox"]),
            _naive(r["start_datetime"]), _naive(r["end_datetime"]),
        )
    return out


def read_database(work: str) -> tuple[dict[str, tuple], dict[str, str]]:
    """(parsed rows, raw content) of the sqlite items table."""
    con = sqlite3.connect(os.path.join(work, "catalog.db"))
    try:
        raw = {i: (c, doc) for i, c, doc in con.execute("SELECT id, collection_id, content FROM items")}
    finally:
        con.close()
    rows = {}
    for gid, (coll, doc) in raw.items():
        d = json.loads(doc)
        rows[gid] = (
            coll, tuple(d["bbox"]),
            _naive(d["start_datetime"]), _naive(d["end_datetime"]),
        )
    return rows, {k: v[1] for k, v in raw.items()}


def store_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _check_increment(work, inc, counts, expected, before_raw) -> list[str]:
    problems = []
    want = _expected_rows(expected)
    if counts.get("items") != len(want):
        problems.append(f"{inc.name}: runner reported {counts.get('items')} items, want {len(want)}")
    if counts.get("files") != inc.files:
        problems.append(f"{inc.name}: runner listed {counts.get('files')} files, want {inc.files}")
    store = read_store(work)
    if store != want:
        bad = sorted(set(store.items()) ^ set(want.items()))[:3]
        problems.append(f"{inc.name}: store differs from manifest, e.g. {bad}")
    db, raw = read_database(work)
    if db != want:
        bad = sorted(set(db.items()) ^ set(want.items()))[:3]
        problems.append(f"{inc.name}: database differs from manifest, e.g. {bad}")
    if inc.rerun_of is not None and raw != before_raw:
        problems.append(f"{inc.name}: re-run changed database content")
    for gid in inc.updated_ids:
        if store.get(gid) != want[gid]:
            problems.append(f"{inc.name}: re-delivered {gid} did not take the new values")
            break
    return problems


def _kind(inc: gen_granules.Increment) -> str:
    return "redelivery" if inc.updated_ids else "new"


class Scenario:
    """The increments of ``landing`` run in order into one fresh
    catalog, cache and database under ``work``."""

    def __init__(self, ctx, work: str, landing: gen_granules.Landing):
        self.ctx, self.work, self.landing = ctx, work, landing
        self.items_path = os.path.join(work, "catalog", "items")
        self.raw: dict[str, str] = {}
        self.files: dict[str, tuple[int, int]] = {}

    def run(self, inc: gen_granules.Increment) -> tuple[float, list[str], dict]:
        """Run and check one increment: (seconds, problems, record)."""
        from recipes_spark import runner

        self.ctx.tracer.trace_id = inc.name
        cfg = _config(self.work, self.landing, inc)
        t0 = time.perf_counter()
        counts = runner.run_pipeline(self.ctx.spark, cfg)
        dt = time.perf_counter() - t0
        files = store_files(self.items_path)
        written = sum(s for p, (s, m) in files.items() if self.files.get(p) != (s, m))
        self.files = files
        try:
            problems = _check_increment(self.work, inc, counts, self.landing.expected[inc.name], self.raw)
        except Exception as exc:  # a crashed check is a failed operation
            problems = [f"{inc.name}: check raised {exc!r}"]
        _, self.raw = read_database(self.work)
        record = {
            "increment": inc.name, "seconds": dt, "files": inc.files,
            "committed": len(inc.new_ids) + len(inc.updated_ids) if inc.rerun_of is None else 0,
            "bytes_written": written, "store_files": len(files),
        }
        return dt, problems, record


def install_trace(tracer) -> None:
    """Spans around each layer entry point the runner calls. The runner
    binds cached_glob/file_metadata/build_items/upsert_items at import,
    so they are patched on the runner module; glob_listing and the
    database sink are looked up at call time on their own modules."""
    from recipes_spark import runner
    from recipes_spark.plans import db_sink
    from recipes_spark.sources import listing

    tracer.wrap(runner, "run_pipeline", "runner.run_pipeline")
    tracer.wrap(runner, "cached_glob", "sources.listing.cached_glob")
    tracer.wrap(listing, "glob_listing", "sources.listing.glob_listing")
    tracer.wrap(runner, "file_metadata", "sources.granules.file_metadata", force=force_collect)
    tracer.wrap(runner, "build_items", "plans.items.build_items", force=force_noop)
    tracer.wrap(runner, "upsert_items", "plans.catalog.upsert_items")
    tracer.wrap(db_sink, "upsert_items_to_database", "plans.db_sink.upsert_items_to_database")


def run(ctx) -> dict:
    # -- setup: generate the scenario; warm up on a small landing of
    # its own whose two increments, a new one and its exact re-run,
    # are checked like timed ones (the re-run must be a no-op)
    t0 = time.perf_counter()
    landing = gen_granules.generate(
        ctx.path("gen"), ctx.seed,
        files_per_increment=FILES_PER_INCREMENT, new_increments=1,
        redelivered=FILES_PER_INCREMENT // 2,
    )
    gen_s = time.perf_counter() - t0
    warm = gen_granules.generate(
        ctx.path("warm-gen"), ctx.seed + 1, files_per_increment=WARMUP_FILES,
        new_increments=1, redelivered=0,
    )
    warm_sc = Scenario(ctx, ctx.path("warm"), warm)
    warm_runs = [warm_sc.run(inc) for inc in warm.increments]
    setup_s = time.perf_counter() - t0

    # -- timed: the committing increments (one new, one re-delivery of
    # the same file count) of fresh scenarios: one whole scenario, then
    # increments until the seconds are used
    committing = [i for i in landing.increments if i.rerun_of is None]

    def increments():
        for k in itertools.count():
            sc = Scenario(ctx, ctx.path(f"work{k}"), landing)
            for inc in committing:
                yield sc, inc

    ops: list = []
    records: list = []
    ctx.host_ref.sample("wl_ingest", 10)
    t_loop = time.perf_counter()
    for sc, inc in increments():
        dt, problems, rec = sc.run(inc)
        ops.append((_kind(inc), dt, problems))
        records.append(rec)
        ctx.host_ref.sample("wl_ingest", 10)
        if len(ops) >= len(committing) and time.perf_counter() - t_loop >= ctx.seconds:
            break
    scenarios = -(-len(ops) // len(committing))

    traced = None
    if ctx.traced is not None:
        untraced_tracer, ctx.tracer = ctx.tracer, ctx.traced
        install_trace(ctx.tracer)
        sc = Scenario(ctx, ctx.path("traced"), landing)
        traced = [sc.run(inc) for inc in committing]
        ctx.tracer.restore()
        ctx.tracer = untraced_tracer

    committed = sum(r["committed"] for r in records)
    rerun_s = warm_runs[-1][0]
    result = {
        "setup_s": setup_s,
        "ops": ops,
        "checks": [problems for _, problems, _ in warm_runs],
        "report": {
            "ingest_items_per_s": (committed / sum(dt for _, dt, _ in ops), "items/s"),
            "ingest_rerun_ms": (1000 * rerun_s, "ms"),
        },
        "diag": {
            "scenarios": scenarios,
            "increments": [
                {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()}
                for r in [rec for _, _, rec in warm_runs] + records
            ],
            "corrupt_share": gen_granules.CORRUPT_SHARE,
            "generate_s": gen_s,
        },
    }
    if traced is not None:
        result["per_layer"] = _per_layer(ctx.traced, traced, committing)
        result["per_layer"]["plans.catalog.store_files"] = float(records[-1]["store_files"])
        result["trace_slice"] = (
            sum(dt for dt, _, _ in traced),
            sum(r["seconds"] for r in records[: len(committing)]),
        )
    return result


def _per_layer(tracer, traced, increments) -> dict:
    t_inc = [rec for _, _, rec in traced]
    n_files = sum(i.files for i in increments)
    meta_exec = tracer.named("sources.granules.file_metadata.exec")
    rows_out = sum(s.attrs.get("rows") or 0 for s in meta_exec)
    upserts = tracer.named("plans.catalog.upsert_items")
    committed = sum(p["committed"] for p in t_inc)
    root_idx = [i for i, s in enumerate(tracer.spans) if s.name == "runner.run_pipeline"]
    return {
        "runner.run_pipeline_s": tracer.total("runner.run_pipeline"),
        "runner.run_pipeline_self_s": sum(tracer.self_time(i) for i in root_idx),
        "sources.listing.cached_glob_s": tracer.total("sources.listing.cached_glob"),
        "sources.listing.glob_listing_s": tracer.total("sources.listing.glob_listing"),
        "sources.granules.file_metadata_s": tracer.total("sources.granules.file_metadata"),
        # file listing (one task per file) plus the scan itself
        "sources.granules.tasks_per_file": (
            tracer.total("sources.granules.file_metadata", "tasks")
            + tracer.total("sources.granules.file_metadata.exec", "tasks")
        ) / n_files,
        "sources.granules.decode_yield": rows_out / n_files,
        "sources.granules.expected_yield": 1.0 - sum(i.corrupt for i in increments) / n_files,
        "plans.items.build_items_s": tracer.total("plans.items.build_items"),
        "plans.catalog.upsert_items_s": tracer.total("plans.catalog.upsert_items"),
        "plans.catalog.upsert_jobs": float(sum(s.jobs for s in upserts)),
        "plans.catalog.upsert_tasks": float(sum(s.tasks for s in upserts)),
        "plans.catalog.bytes_written_per_item": sum(p["bytes_written"] for p in t_inc) / max(committed, 1),
        "plans.db_sink.upsert_items_to_database_s": tracer.total("plans.db_sink.upsert_items_to_database"),
        "run.traced_failed_ops": float(sum(1 for _, p, _ in traced if p)),
    }
