"""Seeded item rows and request mix for the search part of the
``search_and_analytics`` workload, plus the independent evaluator the
search results are checked against.

Items are metadata rows (no files): skewed toward recent acquisition
time, footprints from sub-degree to ten degrees, collections of
unequal size. Requests cycle through a fixed class order, so every
seed gives the same class composition with different parameters.
The evaluator works on the generator's own numpy arrays — it shares
no code with ``recipes_spark``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

COLLECTIONS = ("s2-msi", "l8-oli", "s1-grd", "modis-aqua", "viirs-npp", "goes-abi")
COLLECTION_WEIGHTS = (0.30, 0.22, 0.18, 0.12, 0.10, 0.08)
EPOCH_END = pd.Timestamp("2025-01-01")
SPAN_DAYS = 5 * 365

#: One cycle of the closed-loop request mix (order is fixed).
CLASSES = (
    "bbox", "datetime", "ids", "intersects", "cql_text",
    "collections", "cql_json", "paged",
)
PAGE_SIZE = 40
MAX_PAGES = 3


def _fmt(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def items(n: int, seed: int) -> pd.DataFrame:
    """Item metadata rows in the column layout ``build_items`` takes."""
    rng = np.random.default_rng(seed)
    coll = rng.choice(len(COLLECTIONS), size=n, p=COLLECTION_WEIGHTS)
    # age in days: exponential, so recent time is dense
    age = np.minimum(rng.exponential(SPAN_DAYS / 6, n), SPAN_DAYS - 1)
    start = EPOCH_END - pd.to_timedelta(np.round(age * 86400).astype("int64"), unit="s")
    dur = pd.to_timedelta(rng.integers(60, 3 * 3600, n), unit="s")
    width = np.round(10 ** rng.uniform(-1.3, 1.0, n), 4)
    height = np.round(width * rng.uniform(0.4, 1.2, n), 4)
    west = np.round(rng.uniform(-180.0, 180.0 - width), 4)
    south = np.round(rng.uniform(-85.0, 85.0 - height), 4)
    names = np.array(COLLECTIONS)[coll]
    ids = [f"{c}-{seed % 1000:03d}-{i:07d}" for i, c in enumerate(names)]
    return pd.DataFrame(
        {
            "item_id": ids,
            "collection_id": names,
            "west": west,
            "south": south,
            "east": np.round(west + width, 4),
            "north": np.round(south + height, 4),
            "start_datetime": start,
            "end_datetime": start + dur,
            "source_url": [f"s3://bench-bucket/{c}/{i}.nc" for c, i in zip(names, ids)],
        }
    )


@dataclass
class Request:
    cls: str
    search: dict = field(default_factory=dict)  # catalog_search keywords
    cql_text: str | None = None
    cql_json: dict | None = None
    #: oracle-side description of the filter the CQL encodes
    spec: dict = field(default_factory=dict)


def _window(rng: np.random.Generator, min_days: float, max_days: float) -> tuple:
    """A datetime window whose end is skewed toward recent time."""
    end = EPOCH_END - pd.Timedelta(days=float(min(rng.exponential(120), SPAN_DAYS - 30)))
    days = float(np.exp(rng.uniform(np.log(min_days), np.log(max_days))))
    start = end - pd.Timedelta(days=days)
    return _fmt(start.floor("s")), _fmt(end.floor("s"))


def _box(rng: np.random.Generator, min_deg: float, max_deg: float) -> tuple:
    w = float(np.exp(rng.uniform(np.log(min_deg), np.log(max_deg))))
    h = min(w * float(rng.uniform(0.5, 1.0)), 150.0)
    x = float(rng.uniform(-180.0, 180.0 - w))
    y = float(rng.uniform(-80.0, 80.0 - h))
    return (round(x, 3), round(y, 3), round(x + w, 3), round(y + h, 3))


def _polygon(rng: np.random.Generator) -> list[list[float]]:
    """A convex pentagon 10-40 degrees across, closed ring,
    counter-clockwise. The vertex count is fixed because the exact
    polygon predicate's cost grows with it; a varying count would make
    the tail latency depend on the seed."""
    r = float(rng.uniform(5.0, 20.0))
    cx = float(rng.uniform(-180.0 + r, 180.0 - r))
    cy = float(rng.uniform(-80.0 + r, 80.0 - r))
    k = 5
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    ring = [[round(cx + r * np.cos(a), 3), round(cy + r * np.sin(a), 3)] for a in ang]
    return ring + [ring[0]]


def requests(item_ids: list[str], n_cycles: int, seed: int) -> list[Request]:
    rng = np.random.default_rng(seed + 7919)
    out: list[Request] = []
    for _ in range(n_cycles):
        for cls in CLASSES:
            if cls == "bbox":
                out.append(Request(cls, {
                    "bbox": _box(rng, 1.0, 60.0),
                    "sortby": [("start_datetime", "desc")], "limit": 20,
                }))
            elif cls == "datetime":
                out.append(Request(cls, {
                    "datetime_range": _window(rng, 1.0, 60.0),
                    "sortby": [("start_datetime", "desc")], "limit": 50,
                }))
            elif cls == "collections":
                cols = sorted(rng.choice(COLLECTIONS, size=2, replace=False).tolist())
                out.append(Request(cls, {
                    "collections": cols, "bbox": _box(rng, 5.0, 30.0),
                    "sortby": [("end_datetime", "asc")], "limit": 30,
                }))
            elif cls == "ids":
                pick = rng.choice(len(item_ids), size=8, replace=False)
                ids = [item_ids[i] for i in pick] + [f"absent-{int(x)}" for x in rng.integers(0, 10**6, 2)]
                out.append(Request(cls, {"ids": ids}))
            elif cls == "intersects":
                ring = _polygon(rng)
                out.append(Request(cls, {
                    "intersects": {"type": "Polygon", "coordinates": [ring]},
                    "sortby": [("start_datetime", "desc")], "limit": 50,
                }))
            elif cls == "cql_text":
                cols = sorted(rng.choice(COLLECTIONS, size=2, replace=False).tolist())
                box = _box(rng, 10.0, 90.0)
                lo, hi = _window(rng, 7.0, 180.0)
                text = (
                    f"collection_id IN ('{cols[0]}', '{cols[1]}') AND "
                    f"S_INTERSECTS(geometry, BBOX({box[0]}, {box[1]}, {box[2]}, {box[3]})) AND "
                    f"T_INTERSECTS(datetime, INTERVAL('{lo}', '{hi}'))"
                )
                out.append(Request(
                    cls, {"sortby": [("start_datetime", "desc")], "limit": 50},
                    cql_text=text,
                    spec={"collections": cols, "bbox": box, "datetime_range": (lo, hi)},
                ))
            elif cls == "cql_json":
                col = str(rng.choice(COLLECTIONS))
                box = _box(rng, 10.0, 90.0)
                lo, hi = _window(rng, 7.0, 180.0)
                doc = {"op": "and", "args": [
                    {"op": "=", "args": [{"property": "collection_id"}, col]},
                    {"op": "s_intersects", "args": [{"property": "geometry"}, {"bbox": list(box)}]},
                    {"op": ">=", "args": [{"property": "end_datetime"}, {"timestamp": lo}]},
                    {"op": "<=", "args": [{"property": "start_datetime"}, {"timestamp": hi}]},
                ]}
                out.append(Request(
                    cls, {"sortby": [("start_datetime", "asc")], "limit": 50},
                    cql_json=doc,
                    spec={"collections": [col], "bbox": box, "datetime_range": (lo, hi)},
                ))
            else:  # paged
                col = str(rng.choice(COLLECTIONS[:3]))
                out.append(Request(cls, {
                    "collections": [col],
                    "datetime_range": _window(rng, 20.0, 60.0),
                    "sortby": [("start_datetime", "asc")],
                    "fields": ["id", "bbox", "start_datetime"],
                }))
    return out


class Evaluator:
    """Independent evaluation of a request over the generated items."""

    def __init__(self, df: pd.DataFrame):
        self.id = df["item_id"].to_numpy()
        self.coll = df["collection_id"].to_numpy()
        self.w, self.s = df["west"].to_numpy(), df["south"].to_numpy()
        self.e, self.n = df["east"].to_numpy(), df["north"].to_numpy()
        self.start = df["start_datetime"].to_numpy()
        self.end = df["end_datetime"].to_numpy()
        self.by_id = {i: k for k, i in enumerate(self.id)}

    def _mask(self, q: dict) -> np.ndarray:
        m = np.ones(len(self.id), dtype=bool)
        if q.get("collections"):
            m &= np.isin(self.coll, q["collections"])
        if q.get("ids"):
            m &= np.isin(self.id, q["ids"])
        if q.get("bbox"):
            qw, qs, qe, qn = q["bbox"]
            m &= ~((self.e < qw) | (self.w > qe) | (self.n < qs) | (self.s > qn))
        if q.get("datetime_range"):
            lo, hi = (np.datetime64(pd.Timestamp(t)) for t in q["datetime_range"])
            m &= (self.start <= hi) & (self.end >= lo)
        if q.get("intersects"):
            m &= self._poly_hits(q["intersects"]["coordinates"][0])
        return m

    def _poly_hits(self, ring: list[list[float]]) -> np.ndarray:
        """Convex polygon vs item rectangle: they intersect unless a
        separating axis exists among the rectangle's two axes and the
        polygon's edge normals."""
        pts = np.array(ring[:-1], dtype=float)
        px, py = pts[:, 0], pts[:, 1]
        hit = ~((self.e < px.min()) | (self.w > px.max()) | (self.n < py.min()) | (self.s > py.max()))
        corners = [(self.w, self.s), (self.e, self.s), (self.e, self.n), (self.w, self.n)]
        for i in range(len(pts)):
            (x1, y1), (x2, y2) = pts[i], pts[(i + 1) % len(pts)]
            nx, ny = y2 - y1, x1 - x2  # outward normal for a CCW ring
            poly_max = max(nx * x + ny * y for x, y in pts)
            rect_min = np.minimum.reduce([nx * cx + ny * cy for cx, cy in corners])
            hit &= ~(rect_min > poly_max)
        return hit

    def ordered(self, q: dict) -> list[int]:
        """Row positions of the full result in the search's total order
        (the caller's sortby, then id ascending)."""
        rows = np.flatnonzero(self._mask(q))
        keys = list(q.get("sortby") or [])
        if not any(c == "id" for c, _ in keys):
            keys.append(("id", "asc"))
        frame = pd.DataFrame({
            "id": self.id[rows],
            "start_datetime": self.start[rows],
            "end_datetime": self.end[rows],
            "pos": rows,
        })
        frame = frame.sort_values(
            [c for c, _ in keys], ascending=[d == "asc" for _, d in keys], kind="mergesort"
        )
        return frame["pos"].tolist()

    def expected(self, req: Request) -> list[str]:
        q = dict(req.search)
        q.update(req.spec)
        pos = self.ordered(q)
        if q.get("limit"):
            pos = pos[: q["limit"]]
        return [self.id[p] for p in pos]

    def expected_pages(self, req: Request) -> list[list[str]]:
        ids = [self.id[p] for p in self.ordered(req.search)]
        pages = [ids[i: i + PAGE_SIZE] for i in range(0, len(ids), PAGE_SIZE)]
        return pages[:MAX_PAGES] if pages else []
