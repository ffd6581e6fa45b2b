"""Seeded input generators for the benchmark.

Two families, both written as files the package then reads:

* ``write_tables``: the ten parquet tables the query specs read (TPC-H-like
  star schema, ``events``, ``documents`` and ``embeddings``), with the column
  types and value distributions of the project's fixed test data.
* ``write_polls``: hourly Velib GBFS ``station_status`` envelopes and
  OpenWeatherMap one-call envelopes, covering the FIXTURES.md A1 edge cases.
  ``expected_reports`` returns what a correct stream dedup keeps from them.

Everything is a pure function of its seed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The spec tables at scale factor ``sf`` (sf0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_user = max(150, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # ~5% near-duplicates: another document's text plus a marker token
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.15 * centers[labels] + rng.normal(scale=1 / 8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------- GBFS polls

#: The stale station of research.ipynb: all flags 0, last report 17 days old.
STALE_STATION = 516395829
_FIRST_POLL = datetime(2026, 1, 5, tzinfo=timezone.utc)


@dataclass(frozen=True)
class Poll:
    hour: int
    run_ts: datetime
    station_path: str
    weather_path: str
    n_stations: int


def _station_ids(rng, n: int) -> np.ndarray:
    """Distinct ids, a quarter of them past 2**32 (up to ~2e10)."""
    ids = rng.choice(np.arange(1_000, 500_000), n - 1, replace=False)
    big = rng.random(n - 1) < 0.25
    # spreading distinct small ids keeps the big ones distinct too
    ids[big] = 2**32 + ids[big] * 40_000 + rng.integers(0, 40_000, big.sum())
    return np.concatenate([[STALE_STATION], ids])


def write_polls(out_dir: str, seed: int, hours: int, n_stations: int = 1474) -> list[Poll]:
    """``hours`` hourly envelope pairs under ``out_dir``.

    Per poll every station appears once. Edge cases per FIXTURES.md A1:
    64-bit ids; full stations (no free dock); empty stations with both bike
    types at 0; the all-zero-flags station whose report is 17 days stale;
    and stations that skip a poll and re-send their previous record with
    the same ``last_reported``, so the stream dedup has real work.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = _station_ids(rng, n_stations)
    n = len(ids)
    codes = rng.integers(1_000, 99_999, n)
    capacity = rng.integers(12, 61, n)
    stale = ids == STALE_STATION
    t0 = int(_FIRST_POLL.timestamp())
    stale_ts = t0 - 17 * 86_400
    prev: list[dict] | None = None
    polls = []
    for h in range(hours):
        now = t0 + h * 3600
        bikes = rng.integers(0, capacity + 1)
        bikes[rng.random(n) < 0.04] = 0  # empty stations
        full = rng.random(n) < 0.04
        bikes[full] = capacity[full]  # full stations: no free dock
        ebike = np.minimum(rng.integers(0, bikes + 1), bikes)
        reported = now - rng.integers(0, 600, n)
        skip = rng.random(n) < (0.0 if prev is None else 0.12)
        stations = []
        for i in range(n):
            if stale[i]:
                rec = {
                    "station_id": int(ids[i]), "stationCode": str(codes[i]),
                    "is_installed": 0, "is_renting": 0, "is_returning": 0,
                    "last_reported": stale_ts, "num_bikes_available": 0,
                    "numBikesAvailable": 0, "num_docks_available": 0,
                    "numDocksAvailable": 0,
                    "num_bikes_available_types": [{"mechanical": 0}, {"ebike": 0}],
                }
            elif skip[i]:
                rec = prev[i]  # no new report since the last poll
            else:
                b, e = int(bikes[i]), int(ebike[i])
                docks = int(capacity[i]) - b
                rec = {
                    "station_id": int(ids[i]), "stationCode": str(codes[i]),
                    "is_installed": 1, "is_renting": 1, "is_returning": 1,
                    "last_reported": int(reported[i]), "num_bikes_available": b,
                    "numBikesAvailable": b, "num_docks_available": docks,
                    "numDocksAvailable": docks,
                    "num_bikes_available_types": [{"mechanical": b - e}, {"ebike": e}],
                }
            stations.append(rec)
        prev = stations
        station_path = os.path.join(out_dir, f"station_status_{h:03d}.json")
        with open(station_path, "w") as f:
            json.dump({"lastUpdatedOther": now, "ttl": 3600, "data": {"stations": stations}}, f)
        weather_path = os.path.join(out_dir, f"weather_{h:03d}.json")
        with open(weather_path, "w") as f:
            json.dump(_weather(rng, now), f)
        polls.append(
            Poll(h, datetime.fromtimestamp(now, timezone.utc), station_path, weather_path, n)
        )
    return polls


def _weather(rng, now: int) -> dict:
    temp = round(float(rng.normal(8.0, 4.0)), 2)
    return {
        "lat": 48.866667, "lon": 2.333333,
        "timezone": "Europe/Paris", "timezone_offset": 3600,
        "current": {
            "dt": now, "sunrise": now - 20_000, "sunset": now + 15_000,
            "temp": temp, "feels_like": round(temp - float(rng.uniform(0, 4)), 2),
            "pressure": int(rng.integers(990, 1040)),
            "humidity": int(rng.integers(40, 100)),
            "dew_point": round(temp - 3.0, 2), "uvi": 0.3,
            "clouds": int(rng.integers(0, 100)), "visibility": 10_000,
            "wind_speed": round(float(rng.uniform(0, 12)), 2),
            "wind_deg": int(rng.integers(0, 360)),
            "weather": [{"id": 803, "main": "Clouds", "description": "broken clouds", "icon": "04d"}],
        },
    }


def expected_reports(polls: list[Poll]) -> dict[tuple[int, int], tuple[int, int]]:
    """Distinct (station_id, last_reported epoch s) -> (bikes, docks): the
    rows a correct stream dedup keeps from the polls."""
    out: dict[tuple[int, int], tuple[int, int]] = {}
    for p in polls:
        with open(p.station_path) as f:
            for s in json.load(f)["data"]["stations"]:
                out[(s["station_id"], s["last_reported"])] = (
                    s["num_bikes_available"], s["num_docks_available"])
    return out
