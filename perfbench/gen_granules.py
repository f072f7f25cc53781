"""Seeded granule landing zone for the ``catalog_ingest`` workload.

Writes granule files in both formats ``recipes_spark.sources.granules``
decodes — the magic-header JSON format and NetCDF-classic global
attributes — plus a fixed share of corrupt files the decoder must
quarantine, and returns the manifest of what each increment should
commit. The manifest is built here from the generator's own values,
never by reading anything back through the program.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass, field
from datetime import datetime, timedelta

GRANULE_MAGIC = b"RSPKGRAN1\n"  # the format's public magic, restated here

PLATFORMS = ("METOP_A", "METOP_B", "NOAA_19", "NOAA_20", "AQUA")
CORRUPT_SHARE = 0.05


def collection_of(platform: str) -> str:
    """The runner names an item's collection ``sst-<platform>``."""
    return f"sst-{platform}"


@dataclass
class Increment:
    name: str
    landing: str  # directory holding this increment's files
    files: int
    corrupt: int
    new_ids: list[str] = field(default_factory=list)
    updated_ids: list[str] = field(default_factory=list)
    rerun_of: str | None = None


@dataclass
class Landing:
    increments: list[Increment]
    collections_yaml: str
    #: increment name -> {id: metadata} the catalog must hold after it
    #: (latest delivery wins)
    expected: dict[str, dict[str, dict]] = field(default_factory=dict)


def _meta(rng: random.Random, gid: str, platform: str, base: datetime) -> dict:
    start = base + timedelta(seconds=rng.randrange(0, 365 * 86400))
    west = round(rng.uniform(-180.0, 170.0), 4)
    south = round(rng.uniform(-80.0, 75.0), 4)
    return {
        "granule_id": gid,
        "platform": platform,
        "start_datetime": start.strftime("%Y-%m-%dT%H:%M:%S"),
        "end_datetime": (start + timedelta(minutes=rng.choice((3, 5, 10)))).strftime(
            "%Y-%m-%dT%H:%M:%S"
        ),
        "west": west,
        "south": south,
        "east": round(west + rng.uniform(0.5, 10.0), 4),
        "north": round(south + rng.uniform(0.5, 5.0), 4),
    }


def _magic_bytes(meta: dict, payload: bytes) -> bytes:
    header = json.dumps(meta).encode()
    return GRANULE_MAGIC + len(header).to_bytes(4, "big") + header + payload


def _nc_name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\0" * (-len(b) % 4)


def _nc_attr(name: str, value) -> bytes:
    if isinstance(value, str):
        raw = value.encode()
        return (
            _nc_name(name) + struct.pack(">ii", 2, len(raw)) + raw + b"\0" * (-len(raw) % 4)
        )
    return _nc_name(name) + struct.pack(">iid", 6, 1, float(value))


def _netcdf_bytes(meta: dict, payload: bytes) -> bytes:
    """NetCDF classic (CDF-1) header with CF/ACDD global attributes, no
    dimensions or variables, followed by opaque payload bytes."""
    attrs = {
        "id": meta["granule_id"],
        "platform": meta["platform"],
        "time_coverage_start": meta["start_datetime"],
        "time_coverage_end": meta["end_datetime"],
        "westernmost_longitude": meta["west"],
        "southernmost_latitude": meta["south"],
        "easternmost_longitude": meta["east"],
        "northernmost_latitude": meta["north"],
    }
    body = b"".join(_nc_attr(k, v) for k, v in attrs.items())
    header = (
        b"CDF\x01" + struct.pack(">i", 0)
        + struct.pack(">ii", 0, 0)  # dim_list ABSENT
        + struct.pack(">ii", 0x0C, len(attrs)) + body
        + struct.pack(">ii", 0, 0)  # var_list ABSENT
    )
    return header + payload


def _corrupt_bytes(rng: random.Random, kind: int) -> bytes:
    junk = rng.randbytes(rng.randrange(64, 512))
    if kind == 0:  # valid magic, header length past the end of the file
        return GRANULE_MAGIC + (10_000).to_bytes(4, "big") + b"{\"granule_id\""
    if kind == 1:  # valid magic, garbage JSON
        bad = b"{not json" + junk[:16]
        return GRANULE_MAGIC + len(bad).to_bytes(4, "big") + bad
    if kind == 2:  # valid magic, JSON missing required keys
        bad = json.dumps({"granule_id": "orphan"}).encode()
        return GRANULE_MAGIC + len(bad).to_bytes(4, "big") + bad
    if kind == 3:  # NetCDF magic, attribute list cut short
        return b"CDF\x01" + struct.pack(">iiiii", 0, 0, 0, 0x0C, 8) + b"\0\0"
    return b"\x89HDF" + junk  # unknown container the decoder cannot open


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as fh:
        fh.write(data)


def _write_granule(rng: random.Random, landing: str, meta: dict, netcdf: bool) -> None:
    payload = rng.randbytes(rng.randrange(256, 2048))
    data = _netcdf_bytes(meta, payload) if netcdf else _magic_bytes(meta, payload)
    _write(os.path.join(landing, meta["granule_id"] + ".nc"), data)


def _write_corrupt(rng: random.Random, landing: str, n: int, tag: str) -> None:
    for k in range(n):
        _write(os.path.join(landing, f"zz-bad-{tag}-{k:04d}.nc"), _corrupt_bytes(rng, k % 5))


def write_collections_yaml(path: str) -> None:
    docs = []
    for p in PLATFORMS:
        docs.append(
            "\n".join(
                [
                    f"id: {collection_of(p)}",
                    f"title: Synthetic SST granules from {p}",
                    "description: Generated benchmark collection.",
                    "license: proprietary",
                    "keywords:",
                    "  - sst",
                    f"  - {p.lower()}",
                    "extent:",
                    "  spatial: [-180.0, -90.0, 180.0, 90.0]",
                    "  temporal:",
                    '    start: "2023-01-01T00:00:00Z"',
                    '    end: ""',
                ]
            )
        )
    with open(path, "w") as fh:
        fh.write("\n---\n".join(docs) + "\n")


def generate(
    root: str, seed: int, *, files_per_increment: int, new_increments: int,
    redelivered: int,
) -> Landing:
    """Increments under ``root/landing``: ``new_increments`` of new
    granules, a re-delivery (changed metadata for ``redelivered``
    already-ingested ids plus half an increment of new ones; none when
    ``redelivered`` is 0) and an exact re-run of the last of them.
    Every increment carries ``CORRUPT_SHARE`` corrupt files; formats
    alternate per granule."""
    rng = random.Random(seed)
    base = datetime(2023, 1, 1)
    seq = 0
    state: dict[str, dict] = {}
    incs: list[Increment] = []
    expected: dict[str, dict[str, dict]] = {}

    def new_batch(inc: Increment, n: int) -> None:
        nonlocal seq
        for _ in range(n):
            platform = PLATFORMS[seq % len(PLATFORMS)]
            gid = f"{platform.lower()}-{seed % 1000:03d}-{seq:06d}"
            meta = _meta(rng, gid, platform, base)
            _write_granule(rng, inc.landing, meta, netcdf=seq % 2 == 1)
            state[gid] = meta
            inc.new_ids.append(gid)
            seq += 1

    for i, kind in enumerate(["new"] * new_increments + ["redelivery"] * (redelivered > 0)):
        name = f"inc{i + 1}"
        landing = os.path.join(root, "landing", name)
        os.makedirs(landing)
        n_new = files_per_increment if kind == "new" else files_per_increment // 2
        n_bad = round(CORRUPT_SHARE * files_per_increment)
        inc = Increment(name, landing, 0, n_bad)
        if kind == "redelivery":
            for gid in rng.sample(sorted(state), redelivered):
                old = state[gid]
                meta = _meta(rng, gid, old["platform"], base)
                _write_granule(rng, landing, meta, netcdf=rng.random() < 0.5)
                state[gid] = meta
                inc.updated_ids.append(gid)
        new_batch(inc, n_new - n_bad)
        _write_corrupt(rng, landing, n_bad, name)
        inc.files = len(inc.new_ids) + len(inc.updated_ids) + n_bad
        incs.append(inc)
        expected[name] = dict(state)
    last = incs[-1]
    rerun = f"inc{len(incs) + 1}-rerun"
    incs.append(Increment(rerun, last.landing, last.files, last.corrupt, rerun_of=last.name))
    expected[rerun] = dict(state)

    yaml_path = os.path.join(root, "collections.yaml")
    write_collections_yaml(yaml_path)
    return Landing(incs, yaml_path, expected=expected)
