"""The workloads and the measurement loop they share.

One closed-loop client: each operation starts when the previous one has
finished and its outputs have been set aside. An operation's latency
covers only the calls into the engine; recording counters, releasing
persisted RDDs and checking outputs happen between operations, outside
the timed window.

Operations come in units: a pass over the query list, or a block of the
request trace. The first unit is a warm-up (the JVM compiles every plan
on first use, and that cost is paid once per session); the window then
runs a fixed number of whole units set by `seconds`, so every run
measures the same mix and the same work.

Imported only after `run.pin_environment` has set the Spark environment.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import hashlib
import itertools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark import SparkContext
from pyspark.sql import functions as F

from ocean_data_pipeline_spark import catalog
from ocean_data_pipeline_spark.cache import result_cache
from ocean_data_pipeline_spark.cache.result_cache import CACHE_SCHEMA, ResultCache
from ocean_data_pipeline_spark.plans import pipeline
from ocean_data_pipeline_spark.plans.pipeline import run_pipeline
from ocean_data_pipeline_spark.queries import load_all
from ocean_data_pipeline_spark.session import get_spark
from ocean_data_pipeline_spark.sources import erddap
from ocean_data_pipeline_spark.sources.erddap import ErddapDataset, ErddapSource, FetchPolicy
from perfbench import gen
from perfbench.stub import GriddapStub
from perfbench.tracing import Tracer, tail_percentile

#: Registry queries whose cost is scheduling 3-18 stages over scans of
#: 1-3 tasks; plan construction (`fn()`) is a small share of each.
TAIL_QUERIES = (
    "q1_pricing", "monthly_series", "daterange_validation", "revenue_by_nation",
    "top_orders", "dedup_exact_documents",
)
#: Iterative queries: most of their time is the eager jobs they run
#: inside `fn()`, and they leave persisted blocks behind. The query runs a
#: fixed number of hops. `kcore_copurchase` is left out because its peel
#: depth at this scale swings from 4 to 9 rounds with the seed, and
#: `huber_regression_irls` because its latency was the least steady
#: between runs while costing as much as the six other queries together.
HEAVY_QUERIES = ("bfs_reachability",)
#: A timed pass runs each scheduling-bound query this many times and each
#: iterative one once (12 + 1 samples): the scheduling-bound ones weigh on
#: op_geomean_ms, the iterative one on ops_per_s.
TAIL_REPEATS = 2
QUERY_SF = 0.01  # generated star schema: 60k lineitem rows
SETUP_REPEATS = 3
TRACE_BLOCKS = 40
#: Nominal seconds of one timed unit, about its time on the slow side of
#: the 4-vCPU host this was tuned on: `--seconds` buys one unit per
#: nominal unit time.
PASS_S = 10.0  # a query pass
BLOCK_S = 7.0  # a request block
VARIABLES = ("Temperature", "Salinity")
NEARBY_RADIUS = 1.0

#: The harness's final action on a result (collect / toPandas).
_ACTION = "spark.action"
_JOB_KEYS = ("jobs", "stages", "tasks", "one_task_stages", "failed_tasks")


@dataclass
class Sample:
    kind: str
    seconds: float
    op: int


@dataclass
class Outcome:
    """Everything a run measured, before it becomes metrics."""

    setup_s: list[float] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    jobs: dict[int, list[tuple[str, dict[str, int]]]] = field(default_factory=dict)  # op -> [(layer, counts)]
    persisted: list[tuple[int, int]] = field(default_factory=list)  # per window op: (RDDs, bytes)
    trace_overhead_s: float = 0.0  # tracer bookkeeping inside window ops
    layer: dict[str, float] = field(default_factory=dict)  # workload-specific per-layer values
    peak_rss_mb: float = 0.0  # JVM + this process, over the timed window
    phases_s: dict[str, float] = field(default_factory=dict)  # wall time per run phase


def window_units(seconds: float, unit_s: float) -> int:
    """Units in the timed window. A count, not a deadline: the JVM is
    still getting faster through the window (the second timed query
    pass took up to a quarter less time than the first), so a window cut
    by time would reach a warmer point on a fast host than on a slow
    one, and the number of units that fit would vary between runs."""
    return max(1, round(seconds / unit_s))


class Harness:
    """Spark session, tracer and per-operation bookkeeping for one run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spark = None
        self.out = Outcome()
        self._groups: list[tuple[str, str]] = []

    # -- session lifecycle ---------------------------------------------

    def setup(self, init):
        """Start a fresh session and run `init(spark)` on it,
        SETUP_REPEATS times; each repeat is one setup_s sample."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                if self.spark is not None:
                    self.spark.stop()
                with self.tracer.span("session.get_spark"):
                    self.spark = get_spark("perfbench")
                init(self.spark)
            self.out.setup_s.append(time.perf_counter() - t0)
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    @staticmethod
    def _pids() -> list[str]:
        """This process and the JVM it started."""
        proc = getattr(SparkContext._gateway, "proc", None)
        return ["self"] + ([str(proc.pid)] if proc is not None else [])

    def reset_peak_rss(self) -> None:
        """Restart the peak resident-set counters (VmHWM) at the current
        resident set, so the peak read later covers only what follows."""
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # not allowed here: the peak then covers the run so far

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024.0

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.out.phases_s[name] = self.out.phases_s.get(name, 0.0) + time.perf_counter() - t0

    # -- operations ----------------------------------------------------

    @contextmanager
    def layer(self, name: str):
        """A call into one engine layer: a span, plus (traced) a job
        group so the jobs it starts are attributed to it."""
        if self.tracer.enabled:
            t0 = time.perf_counter()
            gid = f"op{self.tracer.op}:{len(self._groups)}"
            self._groups.append((gid, name))
            self.spark.sparkContext.setJobGroup(gid, name)
            self.tracer.overhead_s += time.perf_counter() - t0
        with self.tracer.span(name):
            yield

    def run_op(self, kind: str, body) -> float | None:
        """One operation: `body()` is timed and returns a check (or
        None). Job accounting, the release of persisted RDDs and then
        the check follow, untimed. Returns the latency, or None if the
        body raised; a raise or a failed check is recorded and the run
        goes on."""
        self.tracer.op += 1
        self._groups = []
        self.out.attempted += 1
        overhead0 = self.tracer.overhead_s
        t0 = time.perf_counter()
        check = elapsed = None
        try:
            with self.tracer.span("op"):
                check = body()
            elapsed = time.perf_counter() - t0
            self.out.samples.append(Sample(kind, elapsed, self.tracer.op))
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the loop goes on
            self.out.failures.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        self.out.trace_overhead_s += self.tracer.overhead_s - overhead0
        if self.spark is not None:
            if self._groups:
                self.spark.sparkContext.setJobGroup("harness", "harness")
                self.out.jobs[self.tracer.op] = [(name, self.job_stats(gid)) for gid, name in self._groups]
            self.out.persisted.append(self.release_persisted())
        if check is not None:
            try:
                check()
            except AssertionError as e:
                self.out.failures.append(f"{kind}: {e}")
        return elapsed

    def job_stats(self, gid: str) -> dict[str, int]:
        """Jobs, stages run, tasks, one-task stages and failed tasks of a
        job group, from the public statusTracker."""
        st = self.spark.sparkContext.statusTracker()
        out = dict.fromkeys(_JOB_KEYS, 0)
        for jid in st.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped (reused shuffle) or never started
                out["stages"] += 1
                out["tasks"] += s.numTasks
                out["one_task_stages"] += s.numTasks == 1
                out["failed_tasks"] += s.numFailedTasks
        return out

    def release_persisted(self) -> tuple[int, int]:
        """Count the persisted RDDs (and their bytes) an operation left
        behind, then unpersist them so the next sample starts clean."""
        jsc = self.spark.sparkContext._jsc.sc()
        n_bytes = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        rdds = jsc.getPersistentRDDs()
        n = rdds.size()
        it = rdds.values().iterator()
        while it.hasNext():
            it.next().unpersist(True)
        return n, n_bytes

    def timed_loop(self, n_units: int, units) -> None:
        """Run the first unit of `units` (lists of (kind, callable)) as an
        untraced warm-up whose latencies are dropped, then `n_units`
        whole units. Warm-up ops are checked too."""
        units = iter(units)
        tracing, self.tracer.enabled = self.tracer.enabled, False
        with self.phase("warm_up"):
            for kind, body in next(units):
                self.run_op(kind, body)
        self.tracer.enabled = tracing
        self.out.samples.clear()
        self.out.persisted.clear()
        self.out.trace_overhead_s = 0.0
        self.reset_peak_rss()
        with self.phase("window"):
            for unit in itertools.islice(units, n_units):
                for kind, body in unit:
                    self.run_op(kind, body)
        self.out.peak_rss_mb = self.peak_rss_mb()


# -- instrumentation of engine internals (traced runs) -------------------


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


@contextmanager
def instrument(tracer: Tracer):
    """Wrap engine functions that other engine code calls, so their
    spans nest inside the benchmark's own. Restored on exit."""
    load_all()  # import every query module, so their `table` names exist
    patched = []

    def patch(obj, attr, name):
        orig = getattr(obj, attr)
        patched.append((obj, attr, orig))
        setattr(obj, attr, _wrap(tracer, name, orig))

    table = catalog.table
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("ocean_data_pipeline_spark") and getattr(mod, "table", None) is table:
            patch(mod, "table", "catalog.table")
    patch(pipeline, "read_raw_csv", "sources.csv_read")
    patch(pipeline, "clean_raw", "operators.clean_raw")
    for v in ("validate_raw", "validate_clean", "validate_table"):
        patch(pipeline, v, "plans.validate")
    patch(erddap.HttpFetcher, "fetch_text", "sources.http")
    try:
        yield
    finally:
        for obj, attr, orig in reversed(patched):
            setattr(obj, attr, orig)


# -- queries ---------------------------------------------------------------


def run_queries(h: Harness, seed: int, seconds: float, work: str) -> None:
    names = TAIL_QUERIES + HEAVY_QUERIES
    sf_dir = os.path.join(work, "data")
    with h.phase("generate"):
        gen.write_star_schema(seed, QUERY_SF, sf_dir)
    registry = load_all()
    with h.phase("setup"):
        spark = h.setup(lambda spark: catalog.load_tables(spark, sf_dir))

    last: dict[str, object] = {}
    rows: dict[str, set[int]] = {}

    def query(name):
        def body():
            with h.layer("queries.fn"):
                df = registry[name].fn(spark, sf_dir)
            with h.layer(_ACTION):
                pdf = df.toPandas()
            return lambda: keep(name, pdf)

        return name, body

    def keep(name, pdf):  # compared with the oracle after the window
        last[name] = pdf
        rows.setdefault(name, set()).add(len(pdf))

    def passes():
        # Pass 0 (the warm-up) runs each query once in the declared
        # order in every run; the timed passes are shuffled by the seed.
        yield [query(n) for n in names]
        timed = TAIL_QUERIES * TAIL_REPEATS + HEAVY_QUERIES
        p = 1
        while True:
            yield [query(n) for n in gen.pass_order(timed, seed, p)]
            p += 1

    h.timed_loop(window_units(seconds, PASS_S), passes())
    h.out.layer["catalog.scan_cache_entries"] = float(len(catalog._SCAN_CACHE))
    fn_jobs = [c["jobs"] for groups in h.out.jobs.values() for layer, c in groups if layer == "queries.fn"]
    h.out.layer["queries.fn_jobs"] = sum(fn_jobs) / len(fn_jobs) if fn_jobs else 0.0
    with h.phase("check"):
        check_queries(h, registry, sf_dir, last, rows)


def check_queries(h: Harness, registry, sf_dir: str, last: dict, rows: dict) -> None:
    """Compare each query's last output with its DuckDB oracle (exact,
    through the repository's verify_local comparison); every sample of
    a query must also return the same row count. A mismatch fails every
    sample of that query."""
    from tools.verify_local import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    try:
        for name, pdf in last.items():
            problems = []
            if len(rows[name]) > 1:
                problems.append(f"row counts differ between samples: {sorted(rows[name])}")
            if registry[name].oracle is not None:
                problems += compare(name, pdf, con.execute(registry[name].oracle).df())
            if problems:
                n = sum(1 for s in h.out.samples if s.kind == name)
                h.out.failures.extend([f"{name}: " + " | ".join(problems)] * max(1, n))
    finally:
        con.close()


# -- ingest_serve ----------------------------------------------------------


def cache_key(lat: float, lon: float, start: str, end: str, variables=VARIABLES) -> str:
    """The reference's canonical key (functions.keys.query_key, in Python)."""
    canonical = f"{lat:.6f}_{lon:.6f}_{start}_{end}_{'_'.join(sorted(variables))}"
    return hashlib.sha256(canonical.encode()).hexdigest()[:16]


@dataclass
class Entry:
    """What the benchmark expects the cache to hold for one key."""

    lat: float
    lon: float
    expires_at: dt.datetime
    payload: str


def entry_row(key: str, lat: float, lon: float, req: gen.Request, fetched, now: dt.datetime) -> tuple:
    """One CACHE_SCHEMA row holding a fetched slice (reference
    cache_manager.py:139-145: JSON payload, 24 h TTL, byte size)."""
    payload = json.dumps([[r["time"].isoformat(), r["temperature"], r["salinity"]] for r in fetched])
    ttl = dt.timedelta(hours=result_cache.DEFAULT_TTL_HOURS)
    return (
        key, lat, lon, req.start, req.end, json.dumps(sorted(VARIABLES)), payload,
        len(fetched), now, now + ttl, len(payload.encode()),
    )


def run_ingest_serve(h: Harness, seed: int, seconds: float, work: str) -> None:
    csv_dir = os.path.join(work, "input")
    with h.phase("generate"):
        grid = gen.ocean_grid(seed)
        if h.tracer.enabled:  # only a traced run ingests (below)
            gen.write_grid_csv(grid, csv_dir)
        trace = gen.request_trace(seed, TRACE_BLOCKS)
    n_raw = grid.temperature.size
    n_kept = int(grid.kept().sum())
    sim0 = dt.datetime.fromisoformat(gen.SIM_START).replace(tzinfo=dt.timezone.utc)
    step = dt.timedelta(minutes=gen.SIM_STEP_MIN)

    with GriddapStub(grid) as stub:
        caches = []

        def init(spark):
            caches.append(ResultCache(spark, os.path.join(work, f"cache{len(caches)}")))
            caches[-1].clear()

        with h.phase("setup"):
            spark = h.setup(init)
        cache = caches[-1]
        ds = ErddapDataset(base_url=stub.base_url, dataset_id="sst_monthly", n_months=gen.GRID_MONTHS)
        source = ErddapSource(spark, ds, FetchPolicy(min_interval_s=0.0, timeout_s=10.0, retry_delay_s=0.05))

        def ingest():
            with h.layer("plans.run_pipeline"):
                res = run_pipeline(spark, csv_dir, os.path.join(work, "pipeline"), "sea_surface")
            return lambda: check_ingest(res)

        def check_ingest(res):
            # the extract count includes each yearly file's units row
            want = {"extract": n_raw + gen.GRID_MONTHS // 12, "transform": n_kept, "load": n_kept}
            got = {st: res.report()["stages"].get(st, {}).get("rows") for st in want}
            if not res.ok or got != want:
                raise AssertionError(f"rows {got} != expected {want} (ok={res.ok})")

        # Only a traced run ingests: no end-to-end metric covers the ingest
        # (each is reported on both workloads), and its cold 11-20 s would
        # otherwise take the time the serving window needs.
        if h.tracer.enabled:
            with h.phase("ingest"):
                ingest_s = h.run_op("ingest", ingest)
            if ingest_s is not None:
                h.out.layer["plans.ingest_rows_per_s"] = n_kept / ingest_s

        model: dict[str, Entry] = {}
        counts = {"gets": 0, "hits": 0, "fetches": 0, "get_ops": [], "miss_ops": set()}

        def get(now, now_col, req):
            y, x = erddap.lat_index(req.lat), erddap.lon_index(req.lon)
            lat, lon = gen.OceanGrid.lat(y), gen.OceanGrid.lon(x)
            key = cache_key(lat, lon, req.start, req.end)
            counts["gets"] += 1
            counts["get_ops"].append(h.tracer.op)
            with h.layer("cache.get"):
                df = cache.get(key, now=now_col)
            with h.layer(_ACTION):
                hit = df.collect()
            if hit:
                return lambda: check_hit(now, key, hit[0]["data_json"])
            counts["miss_ops"].add(h.tracer.op)
            with h.layer("sources.fetch"):
                fdf, _meta = source.fetch(req.lat, req.lon, req.start, req.end)
            with h.layer(_ACTION):
                fetched = fdf.collect()
            entry = entry_row(key, lat, lon, req, fetched, now)
            with h.layer("cache.put"):
                cache.put(spark.createDataFrame([entry], CACHE_SCHEMA))
            return lambda: check_miss(now, key, y, x, req, fetched, entry)

        def check_hit(now, key, payload):
            counts["hits"] += 1
            if not (key in model and model[key].expires_at > now) or payload != model[key].payload:
                raise AssertionError(f"cache hit for {key} is expired or not the payload that was put")

        def check_miss(now, key, y, x, req, fetched, entry):
            counts["fetches"] += 1
            live = key in model and model[key].expires_at > now
            model[key] = Entry(entry[1], entry[2], expires_at=entry[9], payload=entry[6])
            if live:
                raise AssertionError(f"cache miss for live key {key}")
            check_fetch(grid, ds, y, x, req, fetched)

        def nearby(now, now_col, req):
            with h.layer("cache.nearby"):
                df = cache.nearby(req.lat, req.lon, NEARBY_RADIUS, now=now_col)
            with h.layer(_ACTION):
                got = {r["query_hash"] for r in df.collect()}
            return lambda: check_nearby(now, req, got)

        def check_nearby(now, req, got):
            want = {
                k for k, e in model.items()
                if e.expires_at > now and abs(e.lat - req.lat) < NEARBY_RADIUS and abs(e.lon - req.lon) < NEARBY_RADIUS
            }
            if got != want:
                raise AssertionError(f"nearby returned {len(got)} keys, expected {len(want)}")

        def stats(now, now_col, _req):
            with h.layer("cache.stats"):
                df = cache.stats(now=now_col)
            with h.layer(_ACTION):
                row = df.collect()[0]
            return lambda: check_stats(now, row)

        def check_stats(now, row):
            live = sum(e.expires_at > now for e in model.values())
            if (row["total_entries"], row["active_entries"]) != (len(model), live):
                raise AssertionError(f"stats {row['total_entries']}/{row['active_entries']} != {len(model)}/{live}")

        def cleanup(now, now_col, _req):
            with h.layer("cache.cleanup"):
                removed = cache.cleanup(now=now_col)
            return lambda: check_cleanup(now, removed)

        def check_cleanup(now, removed):
            expired = [k for k, e in model.items() if e.expires_at <= now]
            if removed != len(expired):
                raise AssertionError(f"cleanup removed {removed}, expected {len(expired)}")
            for k in expired:
                del model[k]

        handlers = {"get": get, "nearby": nearby, "stats": stats, "cleanup": cleanup}

        def blocks():
            i = 0
            for block in trace:
                unit = []
                for req in block:
                    now = sim0 + i * step  # simulated clock: TTL expiry never reads the wall clock
                    now_col = F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
                    unit.append((req.kind, functools.partial(handlers[req.kind], now, now_col, req)))
                    i += 1
                yield unit

        stub_requests0 = stub.requests
        h.timed_loop(window_units(seconds, BLOCK_S), blocks())
        for s in h.out.samples:
            if s.kind == "get":
                s.kind = "get_miss" if s.op in counts["miss_ops"] else "get_hit"
        spark.sparkContext.setJobGroup("harness", "harness")
        spark.sql("DROP TABLE IF EXISTS sea_surface")

        files = [f for f in glob.glob(os.path.join(cache.path, "**"), recursive=True) if os.path.isfile(f)]
        on_disk = sum(os.path.getsize(f) for f in files)
        live_payload = sum(len(e.payload.encode()) for e in model.values())
        # a get's own jobs: its cache.get call and the collect after it
        get_jobs = [sum(c["jobs"] for _, c in h.out.jobs[op][:2]) for op in counts["get_ops"] if op in h.out.jobs]
        h.out.layer.update({
            "cache.hit_ratio": counts["hits"] / counts["gets"] if counts["gets"] else 0.0,
            "cache.jobs_per_get": sum(get_jobs) / len(get_jobs) if get_jobs else 0.0,
            "cache.bytes_on_disk": float(on_disk),
            "cache.version_dirs": float(len(glob.glob(os.path.join(cache.path, "v_*")))),
            "cache.space_amp": on_disk / live_payload if live_payload else 0.0,
            "sources.http_retries": float(stub.requests - stub_requests0 - counts["fetches"]),
        })


def check_fetch(grid: gen.OceanGrid, ds: ErddapDataset, y: int, x: int, req: gen.Request, fetched) -> None:
    """The fetched, cleaned rows are exactly the stub's slice."""
    t0 = erddap.month_index(req.start, ds.epoch_year, ds.n_months)
    t1 = erddap.month_index(req.end, ds.epoch_year, ds.n_months)
    want = []
    for t in range(t0, t1 + 1):
        cells = (gen.fmt_measure(grid.temperature[t, y, x]), gen.fmt_measure(grid.salinity[t, y, x]))
        if any(cells):  # cleaning drops rows with both measures missing
            want.append(tuple(float(c) if c else None for c in cells))
    got = [(r["temperature"], r["salinity"]) for r in fetched]
    if got != want:
        raise AssertionError(f"fetched rows differ from the stub slice at ({y},{x}) months {t0}..{t1}")


# -- metrics ---------------------------------------------------------------


def end_to_end(out: Outcome) -> dict[str, tuple[float, str]]:
    lat = [s.seconds for s in out.samples]
    busy = sum(lat)
    return {
        "setup_s": (statistics.median(out.setup_s), "s"),
        "ops_per_s": (len(lat) / busy, "1/s"),
        "op_geomean_ms": (statistics.geometric_mean(lat) * 1e3, "ms"),
        "peak_rss_mb": (out.peak_rss_mb, "MB"),
    }


#: Layers whose mean self time per traced call is a metric `<layer>_s`.
SELF_TIME_LAYERS = (
    "session.get_spark", "catalog.table", "queries.fn", _ACTION,
    "sources.csv_read", "operators.clean_raw", "plans.run_pipeline", "plans.validate",
    "cache.get", "cache.put", "sources.fetch", "sources.http",
    "cache.nearby", "cache.stats", "cache.cleanup",
)

#: Workload-specific per-layer values, with their units.
LAYER_EXTRAS = (
    ("queries.fn_jobs", "count"),
    ("catalog.scan_cache_entries", "count"),
    ("plans.ingest_rows_per_s", "rows/s"),
    ("cache.hit_ratio", "ratio"),
    ("cache.jobs_per_get", "count"),
    ("sources.http_retries", "count"),
    ("cache.bytes_on_disk", "bytes"),
    ("cache.version_dirs", "count"),
    ("cache.space_amp", "ratio"),
)


def per_layer(out: Outcome, tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: mean self time per traced call
    (setups, the ingest and the window's ops; the warm-up is not traced),
    job counts per window op, and what each window op left persisted.
    Every metric is reported on every workload, 0 where the workload does
    not use the layer."""
    layers = tracer.layer_summary()
    window = {s.op for s in out.samples}
    n_ops = len(window) or 1
    groups = [(layer, c) for op, g in out.jobs.items() if op in window for layer, c in g]
    busy = sum(s.seconds for s in out.samples)
    m = {f"{name}_s": (layers.get(name, {}).get("self_s_mean", 0.0), "s") for name in SELF_TIME_LAYERS}
    for k in _JOB_KEYS:
        m[f"spark.{k}"] = (sum(c[k] for _, c in groups) / n_ops, "count")
    n = len(out.persisted) or 1
    m["spark.persisted_rdds_left"] = (sum(p[0] for p in out.persisted) / n, "count")
    m["spark.persisted_bytes_left"] = (sum(p[1] for p in out.persisted) / n, "bytes")
    for name, unit in LAYER_EXTRAS:
        m[name] = (out.layer.get(name, 0.0), unit)
    m["trace.overhead_pct"] = (100.0 * out.trace_overhead_s / busy if busy else 0.0, "%")
    return m


def fn_share(out: Outcome, tracer: Tracer) -> dict[str, float]:
    """Share of window op time spent inside `fn()`, per query group."""
    fn_by_op = {s.op: s.end - s.start for s in tracer.spans if s.name == "queries.fn"}
    share = {}
    for group, names in (("tail", TAIL_QUERIES), ("heavy", HEAVY_QUERIES)):
        ops = [s for s in out.samples if s.kind in names and s.op in fn_by_op]
        total = sum(s.seconds for s in ops)
        if total:
            share[group] = sum(fn_by_op[s.op] for s in ops) / total
    return share


def summary(out: Outcome) -> dict:
    """The run's side report: sample count, median latency and share of
    op time per op kind, the tail percentile that has at least ten
    samples beyond it, the failure ratio, setup repeats and the wall time
    of each phase."""
    lat = [s.seconds for s in out.samples]
    busy = sum(lat)
    p = tail_percentile(len(lat))
    by_kind: dict[str, list[float]] = {}
    for s in out.samples:
        by_kind.setdefault(s.kind, []).append(s.seconds)
    return {
        "samples": len(lat),
        "median_ms_by_kind": {k: statistics.median(v) * 1e3 for k, v in sorted(by_kind.items())},
        "op_time_share_by_kind": {k: sum(v) / busy for k, v in sorted(by_kind.items())},
        "tail_percentile": p,
        "tail_ms": float(np.percentile(lat, p)) * 1e3 if p is not None else None,
        "p50_ms": float(np.percentile(lat, 50)) * 1e3,
        "p90_ms": float(np.percentile(lat, 90)) * 1e3,
        "failed_op_ratio": len(out.failures) / max(1, out.attempted),
        "setup_runs_s": out.setup_s,
        "phases_s": out.phases_s,
    }
