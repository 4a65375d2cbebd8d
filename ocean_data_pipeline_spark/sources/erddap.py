"""ERDDAP-style gridded source connector (SURVEY.md §2-A ◇src-erddap,
§4; reference config.py:197-241 + pipeline/extract.py:48-190).

A griddap server exposes 4-D arrays addressed by integer hyperslab
indices (`var[t0:t1][d][y][x]`). The connector:

- translates coordinate/time predicates into hyperslab indices — the
  connector-level analog of predicate pushdown + partition pruning
  (the server only materializes requested cells);
- maps requested columns onto the ERDDAP variable list — column
  pruning at the source;
- enforces a client rate limit (min interval between requests) and
  bounded retries with exponential backoff, like the reference
  (30 req/min, 3 retries, factor 2.0: config.py:50-55, extract.py:48-89);
- parses the returned units-row CSV through the same cleaning pass as
  the file source.

Driver-side fetch whose response becomes a DataFrame through Arrow (an
all-string Arrow table, which Spark turns into a local relation: no
Python RDD, so no Python workers start to scan it) is the right shape
here: one query returns ≤72 rows (a monthly series at one grid point,
reference config.py:188-190) — the parallelism belongs to the many-
query layer (one fetch per grid point, distributed via the cache
table), not inside a single tiny response. For bulk backfills,
`fetch_many` fans out a list of hyperslab requests to executors via
mapInPandas over a request table.

URLs may be `file://` or `http(s)://` — tests run fully offline.
"""

from __future__ import annotations

import time
import urllib.request
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ocean_data_pipeline_spark.functions import grid as g
from ocean_data_pipeline_spark.operators.cleaning import clean_raw


@dataclass(frozen=True)
class ErddapDataset:
    """Dataset geometry (reference GRID_CONFIG, config.py:24-47)."""

    base_url: str
    dataset_id: str
    variables: tuple[str, ...] = ("Temperature", "Salinity")
    grid: g.GridSpec = field(default_factory=g.GridSpec)
    epoch_year: int = 1955
    n_months: int = 72
    depth_index: int = 106  # surface level (reference config.py:44)


@dataclass
class FetchPolicy:
    """Rate limit + retry envelope (reference config.py:17-19,50-55)."""

    min_interval_s: float = 2.0  # 30 req/min
    timeout_s: float = 30.0
    max_retries: int = 3
    retry_delay_s: float = 1.0
    backoff_factor: float = 2.0
    max_wait_s: float = 60.0


def lat_index(lat: float, grid: g.GridSpec = g.DEFAULT_GRID) -> int:
    """Python twin of functions.grid.lat_to_index (driver-side URL math;
    reference config.py:77-87)."""
    clamped = max(grid.lat_min, min(grid.lat_max, lat))
    idx = round((grid.lat_anchor - clamped) / grid.resolution)
    return max(0, min(grid.lat_cells - 1, idx))


def lon_index(lon: float, grid: g.GridSpec = g.DEFAULT_GRID) -> int:
    clamped = max(grid.lon_min, min(grid.lon_max, lon))
    idx = round((clamped - grid.lon_anchor) / grid.resolution)
    return max(0, min(grid.lon_cells - 1, idx))


def month_index(date_str: str, epoch_year: int, n_months: int) -> int:
    """Reference config.py:115-135 (clamped month arithmetic)."""
    year, month, _day = (int(p) for p in date_str.split("-"))
    raw = (year - epoch_year) * 12 + (month - 1)
    return max(0, min(n_months - 1, raw))


def build_hyperslab_url(
    ds: ErddapDataset,
    lat: float,
    lon: float,
    start_date: str,
    end_date: str,
    variables: tuple[str, ...] | None = None,
) -> str:
    """griddap CSV query URL with per-variable hyperslab selection
    (reference config.py:203-241): filter pushdown = index ranges,
    column pruning = the variable list."""
    t0 = month_index(start_date, ds.epoch_year, ds.n_months)
    t1 = month_index(end_date, ds.epoch_year, ds.n_months)
    y = lat_index(lat, ds.grid)
    x = lon_index(lon, ds.grid)
    cols = variables or ds.variables
    slabs = ",".join(f"{v}[{t0}:{t1}][{ds.depth_index}][{y}][{x}]" for v in cols)
    return f"{ds.base_url}/griddap/{ds.dataset_id}.csv?{slabs}"


class HttpFetcher:
    """Rate-limited, retrying text fetcher — no Spark references, so it
    runs on the driver (single interactive query) or inside an executor
    task (fetch_many fan-out) unchanged."""

    def __init__(self, policy: FetchPolicy | None = None):
        self.policy = policy or FetchPolicy()
        self._last_request = 0.0

    # -- client-side throttling (reference extract.py:48-61) ----------

    def _throttle(self) -> float:
        wait = self.policy.min_interval_s - (time.monotonic() - self._last_request)
        if wait > 0:
            time.sleep(wait)
        self._last_request = time.monotonic()
        return max(0.0, wait)

    def fetch_text(self, url: str) -> str:
        """GET with bounded exponential-backoff retries
        (reference extract.py:63-89)."""
        if url.startswith("file://"):
            # offline fixture mode: the file handler can't interpret a
            # hyperslab query string — the whole fixture file stands in
            # for the server's response.
            url = url.split("?", 1)[0]
        delay = self.policy.retry_delay_s
        last_err: Exception | None = None
        for _attempt in range(self.policy.max_retries):
            self._throttle()
            try:
                with urllib.request.urlopen(url, timeout=self.policy.timeout_s) as resp:
                    return resp.read().decode("utf-8")
            except Exception as e:  # noqa: BLE001 — retry any transport error
                last_err = e
                time.sleep(min(delay, self.policy.max_wait_s))
                delay *= self.policy.backoff_factor
        raise ConnectionError(
            f"ERDDAP fetch failed after {self.policy.max_retries} attempts: {url}"
        ) from last_err


class ErddapSource:
    """Driver-side interactive fetcher over an ErddapDataset."""

    def __init__(self, spark: SparkSession, ds: ErddapDataset, policy: FetchPolicy | None = None):
        self.spark = spark
        self.ds = ds
        self.policy = policy or FetchPolicy()
        self._http = HttpFetcher(self.policy)

    def _fetch_text(self, url: str) -> str:
        return self._http.fetch_text(url)

    # -- query surface -------------------------------------------------

    def fetch(
        self,
        lat: float,
        lon: float,
        start_date: str,
        end_date: str,
        variables: tuple[str, ...] | None = None,
    ) -> tuple[DataFrame, dict]:
        """One point/time-range query → cleaned DataFrame + metadata
        (reference fetch_data_for_location, extract.py:91-190).

        Metadata mirrors the reference's request/actual/validation dict
        (config.py:272-294): requested vs grid-snapped coordinates.
        """
        url = build_hyperslab_url(self.ds, lat, lon, start_date, end_date, variables)
        text = self._fetch_text(url)
        lines = [ln for ln in text.splitlines() if ln.strip()]
        header = lines[0].split(",")
        cells = [ln.split(",") for ln in lines[1:]]
        raw = self.spark.createDataFrame(
            pa.table(
                [pa.array([r[i] for r in cells], pa.string()) for i in range(len(header))],
                names=header,
            )
        )
        cleaned = clean_raw(raw)
        y, x = lat_index(lat, self.ds.grid), lon_index(lon, self.ds.grid)
        meta = {
            "requested": {"lat": lat, "lon": lon, "start": start_date, "end": end_date},
            "actual": {
                "lat": self.ds.grid.lat_anchor - y * self.ds.grid.resolution,
                "lon": self.ds.grid.lon_anchor + x * self.ds.grid.resolution,
                "lat_index": y,
                "lon_index": x,
            },
            "url": url,
            "variables": list(variables or self.ds.variables),
        }
        return cleaned, meta


# -- bulk backfill: distributed fan-out -------------------------------

#: Raw (string-typed) output of one griddap CSV response, plus the
#: request coordinates for joining results back to requests. Cleaning
#: (units-row drop, coercing casts, dropna) is the caller's clean_raw
#: pass — same operators as the file source, §2-B.
FETCH_MANY_SCHEMA = (
    "req_lat double, req_lon double, "
    "time string, depth string, latitude string, longitude string, "
    "temperature string, salinity string"
)


def fetch_many(
    requests_df: DataFrame,
    ds: ErddapDataset,
    policy: FetchPolicy | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Fan a table of (lat, lon, start_date, end_date) requests across
    executors; each task runs its own throttled, retrying fetcher.

    The scale path for backfills: 5,551 grid points × a rate-limited
    server is hours of wall-clock that should overlap, not serialize.
    Rate-limit note: `policy.min_interval_s` is enforced PER TASK — for
    a global server budget of R req/min over N concurrent tasks, pass
    min_interval_s = N * 60 / R.

    Rows whose fetch ultimately fails after retries are emitted with
    NULL data columns (req_lat/req_lon preserved) so one dead grid
    point can't kill a million-point backfill; callers separate
    successes from failures with a `time IS NULL` split.
    """
    import pandas as pd

    policy = policy or FetchPolicy()
    n_parts = parallelism or requests_df.sparkSession.sparkContext.defaultParallelism

    def run_partition(pdfs):
        http = HttpFetcher(policy)  # one throttle window per task
        data_cols = ("time", "depth", "latitude", "longitude", "temperature", "salinity")
        for pdf in pdfs:
            out: dict[str, list] = {c: [] for c in FETCH_MANY_SCHEMA_COLS}
            for req in pdf.itertuples(index=False):
                url = build_hyperslab_url(ds, req.lat, req.lon, req.start_date, req.end_date)
                try:
                    text = http.fetch_text(url)
                except ConnectionError:
                    rows = []
                else:
                    lines = [ln for ln in text.splitlines() if ln.strip()]
                    header = [h.strip().lower() for h in lines[0].split(",")]
                    rows = [dict(zip(header, ln.split(","))) for ln in lines[1:]]
                if not rows:  # failed fetch (or empty body): one NULL row
                    rows = [{}]
                for r in rows:
                    out["req_lat"].append(req.lat)
                    out["req_lon"].append(req.lon)
                    for c in data_cols:
                        out[c].append(r.get(c))
            yield pd.DataFrame(out)

    return requests_df.repartition(n_parts).mapInPandas(run_partition, FETCH_MANY_SCHEMA)


FETCH_MANY_SCHEMA_COLS = tuple(
    f.split()[0] for f in FETCH_MANY_SCHEMA.replace("\n", " ").split(", ")
)
