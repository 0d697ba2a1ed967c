"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here from a
seed; the engine sees only the files. Three kinds of input:

- wire JSON-lines files in the exact 14-string-column wire schema (plus
  the long ``event_id``) that ``streaming.jobs.wire_file_stream`` reads,
  with ~1% dirty ``'N/A'`` temperatures and Zipf-skewed cities;
- an ``events.parquet`` in the fixture schema with a nanosecond ``ts``
  (the shape ``tables.load`` fixes up to microseconds);
- the star-schema fixtures, written by ``tools/fixture_fuzz.gen_tables``
  (the repo's differential-fuzz generator, already proven against the
  DuckDB oracles on fresh seeds) and called by the workloads directly.

Importing this module starts nothing; ``land_files`` is the open-loop
lander that ``live_ingest`` runs in its own process.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

#: city names of ``weather_domain.CITIES``; listed here so the generator
#: runs without importing the engine (the lander process stays small)
CITIES = [
    "Casablanca", "Rabat", "Marrakech", "Fes",
    "Tangier", "Agadir", "Oujda", "Essaouira",
]
#: one description per ``weather_category`` branch, ``mist`` -> Other
DESCRIPTIONS = [
    "clear sky", "few clouds", "scattered clouds", "overcast clouds",
    "light rain", "moderate rain", "thunderstorm", "light snow",
    "fog", "mist",
]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
#: 2024-01-01 00:00:00 UTC
EPOCH0 = 1_704_067_200
#: share of wire rows whose temperature arrives as 'N/A'
DIRTY_SHARE = 0.01
#: Zipf exponent of the city (and user) popularity
ZIPF_S = 1.2


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _fmt_ts(epoch_s: np.ndarray) -> np.ndarray:
    """'yyyy-MM-dd HH:mm:ss' (UTC), the wire's date format."""
    dt = epoch_s.astype("datetime64[s]")
    return np.char.replace(np.datetime_as_string(dt, unit="s"), "T", " ")


#: one wire record as a JSON line; every value is a plain ASCII string
#: without quotes or backslashes, so formatting needs no escaping
_WIRE_LINE = (
    '{{"date":"{date}","weather_description":"{desc}",'
    '"latitude":"{lat}","pression":"{press}","humidité":"{hum}",'
    '"feels_like":"{feels}","city_name":"{city}","local_time":"{local}",'
    '"min_temp":"{min_t}","wind_speed":"{wind}","température":"{temp}",'
    '"max_temp":"{max_t}","timestamp":"{epoch}","longitude":"{lon}",'
    '"event_id":{event_id}}}\n'
)


def wire_lines(seed: int, n: int) -> list[str]:
    """`n` wire records as JSON lines, event ids ``0..n-1``. Value ranges
    cross every threshold of the enrichment spec: temperature spans < 0
    and > 40, wind > 50, pressure < 980 and > 1040, humidity 0..100, and
    each description maps to one ``weather_category`` branch."""
    rng = np.random.default_rng(seed)
    city = rng.choice(len(CITIES), size=n, p=zipf_probs(len(CITIES)))
    desc = rng.integers(0, len(DESCRIPTIONS), n)
    temp = np.round(rng.uniform(-12.0, 46.0, n), 1)
    dirty = rng.random(n) < DIRTY_SHARE
    hum = rng.integers(0, 101, n)
    press = rng.integers(950, 1061, n)
    wind = np.round(rng.uniform(0.0, 60.0, n), 1)
    feels = temp + 0.1 * hum - 0.2 * wind
    min_t = temp - rng.integers(0, 7, n) * 0.5
    max_t = temp + rng.integers(0, 9, n) * 0.5
    lat = rng.uniform(20.0, 36.0, n)
    lon = rng.uniform(-15.0, 5.0, n)
    epoch = EPOCH0 + np.sort(rng.integers(0, 30 * 86_400, n))
    date = _fmt_ts(epoch).tolist()
    local = _fmt_ts(epoch + 3600).tolist()
    temp_s = ["N/A" if d else f"{t:.1f}" for t, d in zip(temp, dirty)]
    return [
        _WIRE_LINE.format(
            date=date[i], desc=DESCRIPTIONS[desc[i]], lat=f"{lat[i]:.4f}",
            press=press[i], hum=hum[i], feels=f"{feels[i]:.1f}",
            city=CITIES[city[i]], local=local[i], min_t=f"{min_t[i]:.1f}",
            wind=f"{wind[i]:.1f}", temp=temp_s[i], max_t=f"{max_t[i]:.1f}",
            epoch=epoch[i], lon=f"{lon[i]:.4f}", event_id=i,
        )
        for i in range(n)
    ]


def wire_file_texts(seed: int, n_files: int, rows_per_file: int) -> list[str]:
    """Bodies of `n_files` wire files; event ids are unique across the
    files, so the correctness gate sees any lost or duplicated record."""
    lines = wire_lines(seed, n_files * rows_per_file)
    return [
        "".join(lines[f * rows_per_file:(f + 1) * rows_per_file])
        for f in range(n_files)
    ]


def land(staging: str, target_dir: str, name: str, body: str) -> int:
    """Write `body` beside the watched directory, then rename it in, so
    the file source never lists a half-written file. Returns the landing
    time (``time.time_ns``) taken right after the rename."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(body)
    os.replace(tmp, os.path.join(target_dir, name))
    return time.time_ns()


def write_backlog(seed: int, staging: str, wire_dir: str, n_files: int,
                  rows_per_file: int) -> None:
    os.makedirs(staging, exist_ok=True)
    os.makedirs(wire_dir, exist_ok=True)
    for i, body in enumerate(wire_file_texts(seed, n_files, rows_per_file)):
        land(staging, wire_dir, f"wire-{i:05d}.json", body)


def land_files(seed: int, staging: str, wire_dir: str, n_files: int,
               rows_per_file: int, interval_s: float, manifest: str,
               conn) -> None:
    """Open-loop lander, run in its own process. It builds every body
    first, sends ``"ready"`` on `conn` and receives the start time (ns,
    wall clock). Arrivals are a seeded Poisson process with mean gap
    `interval_s`, so landings do not lock in phase with the engine's
    trigger cycle: file `i` is due at the start plus the first `i` gaps and
    is landed then whatever the engine is doing; a late lander does not
    stretch the schedule. Writes ``[name, due_ns, landed_ns]`` rows to
    `manifest` when done."""
    os.makedirs(staging, exist_ok=True)
    bodies = wire_file_texts(seed, n_files, rows_per_file)
    gaps = np.random.default_rng(seed).exponential(interval_s, n_files)
    offsets = np.concatenate([[0.0], np.cumsum(gaps[:-1])])
    conn.send("ready")
    t0 = conn.recv()
    rows = []
    for i, body in enumerate(bodies):
        due = t0 + int(offsets[i] * 1e9)
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        name = f"live-{i:05d}.json"
        rows.append([name, due, land(staging, wire_dir, name, body)])
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, manifest)


def write_events(seed: int, path: str, n: int) -> None:
    """Fixture-schema ``events.parquet`` with a TIMESTAMP(NANOS) ``ts``.
    Users follow a Zipf law, so the cities the weather spec derives from
    ``user_id % 8`` are skewed the same way as the wire's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_users = max(64, n // 50)
    user = rng.choice(n_users, size=n, p=zipf_probs(n_users))
    off_ns = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n, dtype=np.int64))
    ts = np.datetime64("2024-01-01", "ns") + off_ns.astype("timedelta64[ns]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 330.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })
    pq.write_table(
        table, path, row_group_size=max(8192, n // 16),
        coerce_timestamps=None, version="2.6",
    )
