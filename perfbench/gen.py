"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical files, so two runs (or two commits)
measured with one seed see exactly the same inputs. The engine only ever
receives the generated files, never the seed.

Two input families:

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table, with the
  column names, types and value domains of the engine's testdata (the
  registry queries and their DuckDB oracles are written against them).
  Sizes scale like that testdata: ``sf=0.01`` gives 60k ``lineitem`` rows.
- ``write_raw_hour``: one hour of the OpenAQ raw zone as NDJSON under
  ``YYYY/MM/DD/HH/`` (FIXTURES.md section 1), with the dirty cases the
  pipeline must handle: ~5% re-extracted duplicates carrying a later
  ``extracted_at``, ``PM2.5`` parameter aliases, malformed datetimes,
  ``+07:00``-offset datetimes and locations whose city is null.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

_WORDS = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "cold", "hot", "large", "shiny", "dull", "red", "blue"]
_PART_NOUN = ["widget", "ring", "bolt", "gear", "spring", "valve", "pipe", "cap"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400_000_000
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_EPOCH_2024 = int(
    dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (testdata proportions)."""

    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 10),
        "supplier": n(10_000, 5),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 100),
        "lineitem": n(6_000_000, 400),
        "events": n(1_000_000, 200),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _ts_days(start_us: int, days: np.ndarray) -> pa.Array:
    return pa.array(start_us + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rows = table_rows(sf)
    rng = np.random.default_rng([seed, 1])
    nc, ns, np_, no, nl = (
        rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem")
    )
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
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts_days(_EPOCH_1995, rng.integers(0, 2404, no)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts_days(_EPOCH_1995 + _DAY_US, rng.integers(0, 2499, nl)),
        }
    )
    t["events"] = _events(rng, rows["events"], max(1, nc // 10))
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _events(rng, n: int, n_users: int) -> pa.Table:
    # 30 days of strictly increasing, distinct microsecond timestamps.
    offsets = np.sort(rng.choice(30 * _DAY_US, size=n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document (dedup queries need some).
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, size=n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    x = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns per-table
    rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in _build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# -------------------------------------------------------------- raw zone

POLLUTANTS = ("pm25", "pm10", "no2", "so2", "o3", "co", "bc")
_UNITS = {"co": "ppm"}
_CITIES = ["Hanoi", "Ho Chi Minh City", "Da Nang", "Hai Phong", "Can Tho", "Hue"]
# Location ids the engine's static city map covers (config.LOCATION_CITY_MAP);
# their raw rows carry a null city, so the override is exercised.
_MAPPED_IDS = (3276359, 2161296, 225719, 2161290)
RAW_START = dt.datetime(2025, 11, 1, tzinfo=dt.timezone.utc)


def locations(seed: int, n: int) -> list[dict]:
    """The station list: id, name, city (null for some), coordinates and the
    pollutants each station reports."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n):
        loc_id = _MAPPED_IDS[i] if i < len(_MAPPED_IDS) else 100_000 + i * 7
        null_city = i < len(_MAPPED_IDS) or rng.random() < 0.1
        k = int(rng.integers(3, len(POLLUTANTS) + 1))
        params = sorted(rng.choice(len(POLLUTANTS), size=k, replace=False))
        out.append(
            {
                "location_id": loc_id,
                "location_name": f"Station {i}",
                "city": None if null_city else _CITIES[int(rng.integers(0, 6))],
                "latitude": round(float(rng.uniform(8.5, 23.0)), 4),
                "longitude": round(float(rng.uniform(102.5, 109.5)), 4),
                "params": [POLLUTANTS[j] for j in params],
            }
        )
    return out


def hour_path(root: str, hour: int) -> str:
    """The NDJSON file holding raw-zone hour ``hour`` (0 = RAW_START)."""
    t = RAW_START + dt.timedelta(hours=hour)
    return os.path.join(root, t.strftime("%Y/%m/%d/%H"), f"raw_{t:%Y%m%d%H}.json")


def day_dir(root: str, hour: int) -> str:
    """The raw-zone directory of the UTC day that contains ``hour``."""
    t = RAW_START + dt.timedelta(hours=hour)
    return os.path.join(root, t.strftime("%Y/%m/%d"))


def raw_hour_lines(seed: int, hour: int, locs: list[dict]) -> list[str]:
    """NDJSON lines of one extraction hour. All readings of the file fall in
    that UTC hour; re-extracted duplicates land in the same file, so a
    day directory always holds every row of its day."""
    rng = np.random.default_rng([seed, 3, hour])
    t = RAW_START + dt.timedelta(hours=hour)
    extracted = (t + dt.timedelta(minutes=5)).strftime("%Y-%m-%dT%H:%M:%S")
    rows = []
    for loc in locs:
        for p in loc["params"]:
            minute = int(rng.integers(0, 60))
            ts = t + dt.timedelta(minutes=minute)
            r = rng.random()
            if r < 0.01:
                stamp = f"{ts:%Y-%m-%d}T99:{minute:02d}:00Z"  # malformed
            elif r < 0.4:
                stamp = (ts + dt.timedelta(hours=7)).strftime("%Y-%m-%dT%H:%M:%S+07:00")
            else:
                stamp = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            rows.append(
                {
                    "sensor_id": loc["location_id"] * 10 + POLLUTANTS.index(p),
                    "datetime": stamp,
                    "value": round(float(rng.gamma(2.0, 20.0)), 1),
                    "parameter": "PM2.5" if p == "pm25" and rng.random() < 0.3 else p,
                    "unit": _UNITS.get(p, "µg/m³"),
                    "extracted_at": extracted,
                    "location_id": loc["location_id"],
                    "location_name": loc["location_name"],
                    "city": loc["city"],
                    "timezone": "Asia/Ho_Chi_Minh",
                    "country": "VN",
                    "latitude": loc["latitude"],
                    "longitude": loc["longitude"],
                }
            )
    later = (t + dt.timedelta(minutes=35)).strftime("%Y-%m-%dT%H:%M:%S")
    for i in np.flatnonzero(rng.random(len(rows)) < 0.05):
        rows.append({**rows[i], "extracted_at": later, "value": rows[i]["value"] + 1.0})
    return [json.dumps(r, ensure_ascii=False) for r in rows]


def write_raw_hour(root: str, seed: int, hour: int, locs: list[dict]) -> tuple[int, int]:
    """Land raw-zone hour ``hour``; returns (rows, bytes)."""
    lines = raw_hour_lines(seed, hour, locs)
    path = hour_path(root, hour)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(lines), len(data)
