"""Seeded input generators for the benchmark.

Everything a run reads is made here from the run's seed, so the same
seed gives byte-identical inputs:

- `write_star_schema`: the ten catalog tables (`catalog.TABLES`) as one
  parquet file each, one row group per file, with the shapes and value
  ranges of the engine's synthetic star-schema testdata;
- `ocean_grid` + `write_grid_csv`: an ERDDAP-shaped monthly surface grid
  (72 months x 91 x 61 cells) written as yearly units-row CSV chunks;
- `request_trace`: the skewed point/time-range request trace that
  `ingest_serve` replays against the result cache;
- `pass_order`: the seeded order of one pass over a query list.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star schema -------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "green")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.41, 0.15, 0.15, 0.15)
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter big key window row table stream merge data "
    "query join customer vector"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so tables don't shift
    when another table's size changes."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog tables at scale factor `sf` (lineitem = 6M x sf rows)."""
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })

    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("F", "O", "P"))[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line),
    })

    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * _DAY_US, n_events))
    etype = r.integers(0, len(EVENT_TYPES), n_events)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_events),
        "event_type": np.array(EVENT_TYPES)[etype],
        "value": np.round(np.minimum(r.exponential(40.0 + 10.0 * etype), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })

    r = _rng(seed, "documents")
    n_words = r.integers(8, 90, n_docs)
    picks = r.integers(0, len(WORDS), int(n_words.sum()))
    texts, at = [], 0
    for n in n_words:
        texts.append(" ".join(WORDS[i] for i in picks[at:at + n]))
        at += n
    for i in r.choice(np.arange(1, n_docs), size=max(2, n_docs // 600), replace=False):
        texts[i] = texts[i - 1]  # a few exact duplicates for the dedup queries
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + r.normal(0.0, 0.8, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet` (one row group,
    like the testdata the catalog was built for); return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in star_schema(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
        rows[name] = tbl.num_rows
    return rows


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:pass:{pass_no}").shuffle(order)
    return order


# -- ocean grid --------------------------------------------------------

GRID_MONTHS = 72  # 1955-01 .. 1960-12 (ErddapDataset.n_months)
GRID_EPOCH_YEAR = 1955
GRID_LAT = 91  # lat = 55.0 - 0.25 * y (GridSpec anchor/resolution)
GRID_LON = 61  # lon = -85.0 + 0.25 * x
CSV_HEADER = "time,depth,latitude,longitude,Temperature,Salinity"
CSV_UNITS = "UTC,m,degrees_north,degrees_east,degree_C,PSU"


@dataclass(frozen=True)
class OceanGrid:
    """Monthly surface grid; NaN marks a missing measure."""

    temperature: np.ndarray  # (month, y, x)
    salinity: np.ndarray

    def time_str(self, t: int) -> str:
        return f"{GRID_EPOCH_YEAR + t // 12}-{t % 12 + 1:02d}-16T00:00:00Z"

    @staticmethod
    def lat(y: int) -> float:
        return 55.0 - 0.25 * y

    @staticmethod
    def lon(x: int) -> float:
        return -85.0 + 0.25 * x

    def kept(self) -> np.ndarray:
        """Cells with at least one measure (what cleaning keeps)."""
        return ~(np.isnan(self.temperature) & np.isnan(self.salinity))

    def csv_rows(self, t0: int, t1: int, y: int, x: int) -> list[str]:
        """Data rows for months t0..t1 at one cell, ERDDAP order."""
        return [self._row(t, y, x) for t in range(t0, t1 + 1)]

    def _row(self, t: int, y: int, x: int) -> str:
        return (
            f"{self.time_str(t)},0.0,{self.lat(y):.2f},{self.lon(x):.2f},"
            f"{fmt_measure(self.temperature[t, y, x])},{fmt_measure(self.salinity[t, y, x])}"
        )


def fmt_measure(v: float) -> str:
    """A measure as the CSV and the stub write it; empty when missing."""
    return "" if np.isnan(v) else f"{v:.3f}"


def ocean_grid(seed: int) -> OceanGrid:
    r = _rng(seed, "ocean")
    t = np.arange(GRID_MONTHS)[:, None, None]
    lat = (55.0 - 0.25 * np.arange(GRID_LAT))[None, :, None]
    lon = (-85.0 + 0.25 * np.arange(GRID_LON))[None, None, :]
    shape = (GRID_MONTHS, GRID_LAT, GRID_LON)
    season = np.sin(2 * np.pi * (t % 12) / 12.0)
    temp = 32.0 - 0.55 * (lat - 10.0) + 3.0 * season + 0.02 * (lon + 85.0) + r.normal(0, 0.8, shape)
    sal = 35.0 + 0.03 * (lat - 30.0) - 0.2 * season + r.normal(0, 0.3, shape)
    temp = np.round(np.clip(temp, -4.0, 34.0), 3)
    sal = np.round(np.clip(sal, 30.0, 40.0), 3)
    u = r.random(shape)
    temp[(u < 0.01) | ((u >= 0.01) & (u < 0.03))] = np.nan  # 1% both, 2% temperature only
    sal[(u < 0.01) | ((u >= 0.03) & (u < 0.05))] = np.nan  # 2% salinity only
    return OceanGrid(temperature=temp, salinity=sal)


def write_grid_csv(grid: OceanGrid, out_dir: str) -> list[str]:
    """One units-row CSV per year (the reference's raw extract shape),
    rows in (month, y, x) order, formatted exactly like `csv_rows`."""
    os.makedirs(out_dir, exist_ok=True)
    cells = [
        f"0.0,{OceanGrid.lat(y):.2f},{OceanGrid.lon(x):.2f},"
        for y in range(GRID_LAT) for x in range(GRID_LON)
    ]
    temp = [fmt_measure(v) for v in grid.temperature.ravel().tolist()]
    sal = [fmt_measure(v) for v in grid.salinity.ravel().tolist()]
    paths = []
    for year in range(GRID_MONTHS // 12):
        lines = [CSV_HEADER, CSV_UNITS]
        for t in range(12 * year, 12 * year + 12):
            at, ts = t * len(cells), grid.time_str(t) + ","
            lines.extend(f"{ts}{c}{temp[at + i]},{sal[at + i]}" for i, c in enumerate(cells))
        path = os.path.join(out_dir, f"sea_surface_{GRID_EPOCH_YEAR + year}.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


# -- request trace -----------------------------------------------------

#: One trace block; every block has the same sequence of op kinds, for
#: every seed. The seed picks the cells, month ranges and which earlier
#: key a repeat asks for, so the mix of a run does not drift with the
#: seed or with how many blocks fit in the window.
#:
#: The mix is an assumption: the repository holds no request trace, and
#: the reference puts a session memo and a 300 s dashboard memo in front
#: of its cache, so the rates the cache itself sees are unknown. Assumed,
#: per 15 requests: 1 new key and 10 repeats (a few popular locations
#: asked again by later sessions while their entry is live, i.e. within
#: the 24 h TTL, so every repeat hits); 1 `refresh`, which
#: asks again for the previous block's first key after its TTL ran out
#: (the first block has no previous block and asks for a new key); one
#: `stats` and one `nearby` (dashboard views over the cache); one
#: `cleanup` (a periodic sweep, last in the block).
BLOCK = (
    "new", "repeat", "repeat", "stats", "repeat", "repeat", "repeat",
    "refresh", "repeat", "repeat", "nearby", "repeat", "repeat", "repeat", "cleanup",
)
SIM_START = "2024-01-01T00:00:00"
#: Simulated minutes per request. The 24 h TTL then runs out 22 requests
#: after a put: a block's first key is live through the next block's
#: sixth request and expired at its `refresh`, so every refresh misses,
#: and the key put at request 7 of a block expires at the next block's
#: cleanup, so every cleanup after the first removes an entry.
SIM_STEP_MIN = 66
#: The result cache's default TTL (result_cache.DEFAULT_TTL_HOURS).
TTL_MIN = 24 * 60


@dataclass(frozen=True)
class Request:
    kind: str  # get | nearby | stats | cleanup
    lat: float = 0.0
    lon: float = 0.0
    start: str = ""
    end: str = ""


def request_trace(seed: int, n_blocks: int) -> list[list[Request]]:
    """Closed-loop request trace, in blocks of BLOCK. A `get` either
    repeats an earlier key that is still live on the simulated clock
    (Zipf-skewed toward the first keys, which are the popular ones; the
    exponent 1.1 is assumed too), re-asks for an expired one (`refresh`)
    or asks for a new (cell, month range). Every block after the first
    then has the same two misses and the same cache size for every seed,
    so a window of several blocks does the same work whatever the seed.
    Every key's coordinates are requested off-grid so the source's
    snapping is exercised."""
    r = random.Random(f"{seed}:trace")
    keys: list[tuple[float, float, str, str]] = []
    zipf = []  # Zipf(1.1) weight of each key, by first-request order
    put_at: list[int] = []  # request index of each key's last put
    used: set[tuple[int, int, int, int]] = set()
    blocks: list[list[Request]] = []
    for _ in range(n_blocks):
        block = []
        for kind in BLOCK:
            i = len(blocks) * len(BLOCK) + len(block)
            live = [k for k in range(len(keys)) if (i - put_at[k]) * SIM_STEP_MIN < TTL_MIN]
            if kind == "cleanup":
                block.append(Request("cleanup"))
            elif kind == "repeat" and live:
                k = r.choices(live, weights=[zipf[k] for k in live])[0]
                block.append(Request("get", *keys[k]))
            elif kind == "refresh" and blocks:
                first = blocks[-1][0]
                k = keys.index((first.lat, first.lon, first.start, first.end))
                put_at[k] = i  # expired, so the get misses and puts it again
                block.append(Request("get", *keys[k]))
            elif kind in ("repeat", "new", "refresh"):
                while True:  # a cell and months no earlier key has, so keys never share a cache entry
                    y, x = r.randrange(GRID_LAT), r.randrange(GRID_LON)
                    t0 = r.randrange(GRID_MONTHS - 12)
                    t1 = t0 + r.randrange(6, 12)
                    if (y, x, t0, t1) not in used:
                        used.add((y, x, t0, t1))
                        break
                key = (
                    round(OceanGrid.lat(y) + r.uniform(-0.1, 0.1), 4),
                    round(OceanGrid.lon(x) + r.uniform(-0.1, 0.1), 4),
                    f"{GRID_EPOCH_YEAR + t0 // 12}-{t0 % 12 + 1:02d}-01",
                    f"{GRID_EPOCH_YEAR + t1 // 12}-{t1 % 12 + 1:02d}-28",
                )
                keys.append(key)
                zipf.append(1.0 / len(keys) ** 1.1)
                put_at.append(i)
                block.append(Request("get", *key))
            else:
                y, x = r.randrange(GRID_LAT), r.randrange(GRID_LON)
                block.append(Request(kind, OceanGrid.lat(y), OceanGrid.lon(x)))
        blocks.append(block)
    return blocks
