"""Seeded benchmark inputs, generated once per seed and cached.

Two input sets, both a pure function of the seed:

- ``tables``: the ten batch tables at sf0.1 from ``tools/gen_sf.generate``
  (the fixtures' schemas and one-row-group layout). ``generate`` copies
  the two fixed TPC-H dimension tables from a fixture directory; the
  benchmark writes those two tables itself, so it reads nothing outside
  its checkout.
- ``stream``: JSON-lines edit events for the flagship stream, split into
  a fixed number of events per file, plus ``truth.parquet``: the valid
  events as typed columns, which the independent stream reference reads.

Generation happens before the benchmark starts its clocks, so it is in
neither the timed region nor ``setup_s``. A cache directory is complete
only once it has been renamed into place, so an interrupted generation
is redone rather than half-read.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / ".work"

SF = 0.1
# Bump when a generator below changes, so stale caches are not reused.
INPUTS_VERSION = 1
# Cache entries kept (each at most ~45 MB); the least recently used go first.
CACHE_ENTRIES = 8

EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
# event time advances this much per event; with the event count it sets
# how many 5-minute windows a replay spans (the state size)
EVENT_GAP_MS = 50
JITTER_MS = 400  # < half the 1 s watermark: no event is ever late
BOT_SHARE = 0.25
OFF_MAIN_SHARE = 1 / 3
CORRUPT_SHARE = 0.002
N_DOMAINS = 200
ZIPF_S = 1.1


@dataclass(frozen=True)
class StreamSpec:
    files: int
    events_per_file: int


@dataclass(frozen=True)
class StreamInputs:
    files_dir: str
    truth: str
    events: int  # lines, corrupt ones included
    corrupt: int


def _dims(out_dir: Path) -> None:
    """nation and region as the fixtures have them (int32 keys)."""
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        out_dir / "nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        out_dir / "region.parquet",
    )


def write_tables(out_dir: Path, seed: int, sf: float = SF) -> None:
    """The gen_sf tables for ``seed`` into ``out_dir``."""
    sys.path.insert(0, str(REPO / "tools"))
    try:
        import gen_sf
    finally:
        sys.path.remove(str(REPO / "tools"))
    dims = out_dir / "_dims"
    dims.mkdir(parents=True)
    _dims(dims)
    fixture_dir = gen_sf.FIXTURE_DIR
    gen_sf.FIXTURE_DIR = str(dims)
    try:
        gen_sf.generate(sf, str(out_dir), seed)
    finally:
        gen_sf.FIXTURE_DIR = fixture_dir
    shutil.rmtree(dims)


def write_stream(out_dir: Path, seed: int, spec: StreamSpec) -> StreamInputs:
    """Edit events for the flagship stream.

    - domains Zipf-skewed over ``N_DOMAINS``;
    - about 25 % bots and 1/3 outside the main namespace, some of each
      in mixed case (the filter is case-insensitive);
    - event time advances ``EVENT_GAP_MS`` per event with ±``JITTER_MS``
      jitter and lines shuffled within each file, so events arrive out
      of order but never behind the 1 s watermark;
    - ``CORRUPT_SHARE`` of lines are truncated or non-JSON.
    """
    rng = np.random.default_rng([seed, 0x57EA])
    n = spec.files * spec.events_per_file
    ranks = np.arange(1, N_DOMAINS + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    domain_idx = rng.choice(N_DOMAINS, size=n, p=p / p.sum())
    domains = np.array([f"d{i:03d}.wikipedia.org" for i in range(N_DOMAINS)])
    user_type = np.where(rng.random(n) < BOT_SHARE, "bot", "human")
    user_type = np.where(rng.random(n) < 0.05, np.char.upper(user_type), user_type)
    off_main = rng.random(n) < OFF_MAIN_SHARE
    namespace = np.where(
        off_main,
        np.array(["talk", "user", "file", "category"])[rng.integers(0, 4, n)],
        np.where(rng.random(n) < 0.05, "Main Namespace", "main namespace"),
    )
    ts_ms = (
        EPOCH_2024_MS
        + np.arange(n, dtype=np.int64) * EVENT_GAP_MS
        + rng.integers(-JITTER_MS, JITTER_MS + 1, n)
    )
    old_len = rng.integers(0, 50_000, n)
    new_len = np.maximum(0, old_len + rng.integers(-2_000, 2_001, n))
    corrupt = rng.random(n) < CORRUPT_SHARE

    out_dir.mkdir(parents=True)
    files_dir = out_dir / "files"
    files_dir.mkdir()
    iso = np.datetime_as_string(ts_ms.astype("datetime64[ms]"), unit="ms")
    for f in range(spec.files):
        lo, hi = f * spec.events_per_file, (f + 1) * spec.events_per_file
        lines = []
        for i in range(lo, hi):
            line = json.dumps(
                {
                    "id": f"{seed}-{i}",
                    "domain": str(domains[domain_idx[i]]),
                    "namespace": str(namespace[i]),
                    "title": f"Page_{i % 9973}",
                    "timestamp": f"{iso[i]}Z",
                    "user_name": f"u{i % 7919}",
                    "user_type": str(user_type[i]),
                    "old_length": int(old_len[i]),
                    "new_length": int(new_len[i]),
                },
                separators=(",", ":"),
            )
            if corrupt[i]:
                # half truncated JSON, half not JSON at all
                line = line[: len(line) // 2] if i % 2 else f"garbage line {i}"
            lines.append(line)
        order = rng.permutation(len(lines))
        with open(files_dir / f"part-{f:05d}.jsonl", "w") as fh:
            fh.write("\n".join(lines[j] for j in order) + "\n")
    valid = ~corrupt
    truth = out_dir / "truth.parquet"
    pq.write_table(
        pa.table(
            {
                "domain": domains[domain_idx[valid]].tolist(),
                "namespace": namespace[valid].tolist(),
                "user_type": user_type[valid].tolist(),
                "ts_ms": ts_ms[valid],
                "old_length": old_len[valid],
                "new_length": new_len[valid],
            }
        ),
        truth,
    )
    meta = {"events": n, "corrupt": int(corrupt.sum())}
    (out_dir / "meta.json").write_text(json.dumps(meta))
    return StreamInputs(str(files_dir), str(truth), n, meta["corrupt"])


def _cached(key: str, build) -> Path:
    """Return WORK/inputs/<key>, building it with ``build(tmp_dir)`` on a
    miss. The rename makes a cache entry appear whole or not at all."""
    final = WORK / "inputs" / key
    if final.is_dir():
        os.utime(final)  # pruning below drops the least recently used
        return final
    tmp = WORK / "inputs" / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.replace(tmp, final)
    entries = sorted((WORK / "inputs").glob("v*"), key=lambda p: p.stat().st_mtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return final


def tables(seed: int) -> str:
    key = f"v{INPUTS_VERSION}-tables-sf{SF:g}-seed{seed}"
    return str(_cached(key, lambda d: write_tables(d, seed)))


def stream(seed: int, spec: StreamSpec, tag: str) -> StreamInputs:
    key = f"v{INPUTS_VERSION}-stream-{tag}-{spec.files}x{spec.events_per_file}-seed{seed}"
    d = _cached(key, lambda d: write_stream(d / "s", seed, spec)) / "s"
    m = json.loads((d / "meta.json").read_text())
    return StreamInputs(str(d / "files"), str(d / "truth.parquet"), m["events"], m["corrupt"])
