"""The two workloads: ``publish`` (a small mixed-geography product) and
``bulk`` (a 96k-cell product).

A run starts one Spark session and does one ``Pipeline.insert_product``
into a fresh store, verifies the commit, then reads the new product
back with DataFrame-path PrimaryQuery requests. A traced run then also
reads it on the stored-SQL path. Each workload returns a ``Run``;
``run.py`` turns it into metrics.
"""

from __future__ import annotations

import random
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
import harness as H
import verify

ZIPF_S = 1.1
FR_SHARE = 0.3
# A run does a fixed amount of timed work, never "as much as fits", so a
# faster engine does the same work in less time and counts compare like
# with like. One insert in a fresh session costs 35-40 s on a 4-core
# machine and a run must end in about a minute, so a run holds one
# insert. Three reads per path make the median a warm read: the first
# one after the commit also pays its path's first-use planning. The
# stored-SQL path's first use costs about 15 s more (view registration
# and planning), so only traced runs, which report its layers, read it.
READS = 3


@dataclass
class Run:
    attempted: int = 0                              # the insert and every read
    failed: int = 0                                 # ops that raised or returned wrong output
    correct: bool = True
    setup_s: float = 0.0
    op_s: float = 0.0                               # the insert, when it verified
    cells: int = 0                                  # fact cells it committed
    served_rows: int = 0                            # rows of verified reads
    pq_lat: list = field(default_factory=list)      # verified DataFrame-path reads, seconds
    sql_lat: list = field(default_factory=list)     # verified stored-SQL reads (traced runs)
    space_amp: float = 0.0
    failures: list = field(default_factory=list)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Counts one failed op and records why; the run's output is
        then not correct."""
        self.failed += 1
        self.correct = False
        entry = {"op": what}
        if exc is not None:
            entry["exception"] = type(exc).__name__
            entry["error_class"] = _error_class(exc)
            entry["message"] = str(exc).strip().splitlines()[0][:300] if str(exc).strip() else ""
            entry["where"] = _engine_frame(exc)
        self.failures.append(entry)


def _error_class(exc: BaseException) -> str | None:
    get = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
    try:
        return get() if get else None
    except Exception:
        return None


def _engine_frame(exc: BaseException) -> str | None:
    """The engine source line a Spark error names, else the last engine frame."""
    text = str(exc)
    marker = "was called from\n"
    if marker in text:
        return text.split(marker, 1)[1].splitlines()[0].strip()
    frames = [f for f in traceback.extract_tb(exc.__traceback__) if "geo_explorer_etl_spark" in f.filename]
    return f"{frames[-1].filename}:{frames[-1].lineno}" if frames else None


class Ctx:
    """Per-run state shared by the workloads."""

    def __init__(self, spark, work: Path, seed: int, tracer, t0: float):
        self.t0 = t0  # process start: set-up time counts from here
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(f"requests-{seed}")

    def span(self, name: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, fn, *args, **kwargs)

    def pipeline(self, name: str, catalog: H.Catalog, lk: H.Lookups):
        pipe = H.new_pipeline(self.spark, self.work / name, catalog, lk)
        if self.tracer is not None:
            from instrument import instrument_pipeline

            instrument_pipeline(self.tracer, pipe)
        return pipe

    def timed(self) -> None:
        if self.tracer is not None:
            self.tracer.phase = "timed"


# -- inputs -------------------------------------------------------------------
def universe(seed: int) -> gen.Universe:
    return gen.Universe(seed, n_cma=40, n_csd=160)


def mixed_product(seed: int, uni: gen.Universe) -> gen.Product:
    """The mixed-geography justice product: annual fiscal years, three
    dimensions, the ``ProductPolicy`` repair and filter path; 30
    geographies x 20 combinations x 9 years."""
    return gen.make_product(seed, uni, 35100177, gen.ANNUAL, [4, 5], 30, 2012, 9, "3510",
                            fiscal_ref_dates=True)


def large_product(seed: int, uni: gen.Universe) -> gen.Product:
    """200 geographies x 48 combinations x 10 years = 96k cells, every
    year past the min-year cut."""
    return gen.make_product(seed, uni, 13100778, gen.ANNUAL, [6, 8], 200, 2016, 10, "13")


# -- reads ---------------------------------------------------------------------
def zipf_pick(rng: random.Random, items: list, s: float = ZIPF_S):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=weights)[0]


def locale(rng: random.Random) -> str:
    return "FR" if rng.random() < FR_SHARE else "EN"


def checked_read(ctx: Ctx, run: Run, path: str, pipe, lk, p: gen.Product,
                 oracle: verify.PrimaryQueryOracle, iid: int, loc: str) -> bool:
    """One PrimaryQuery on ``path`` ("df" or "sql"); records its latency
    when the rows match the oracle."""
    run.attempted += 1
    what = f"{path} PrimaryQuery {p.pid}/{iid}/{loc}"
    try:
        if path == "df":
            rows, dt = H.pq_df(pipe, lk, p.pid, iid, loc, ctx.tracer)
        else:
            rows, dt = H.pq_sql(ctx.spark, iid, loc, ctx.tracer)
    except Exception as e:  # an engine error is a failed request, not a crash
        run.fail(what, e)
        return False
    bad = verify.compare_rows(rows, oracle.rows(iid, loc, path))
    if bad:
        run.fail(f"{what}: {bad}")
        return False
    (run.pq_lat if path == "df" else run.sql_lat).append(dt)
    run.served_rows += len(rows)
    return True


def reads_after_commit(ctx: Ctx, run: Run, path: str, pipe, lk, uni, p: gen.Product,
                       n: int = READS) -> None:
    """``n`` PrimaryQuery reads on ``path`` right after the commit, for
    Zipf-popular indicators of the newest period in 70/30 EN/FR; the
    first is the read-after-write."""
    oracle = verify.PrimaryQueryOracle(uni, p)
    newest = verify.newest_indicators(p)
    for _ in range(n):
        iid = zipf_pick(ctx.rng, newest)
        ctx.span("bench.read", checked_read, ctx, run, path, pipe, lk, p, oracle, iid,
                 locale(ctx.rng))


# -- the run -------------------------------------------------------------------
def insert_then_read(ctx: Ctx, lk_factory, make_product) -> Run:
    """Set-up: session, inputs, lookups. Timed: one ``insert_product``
    into a fresh store, the check of every table it committed, then
    ``READS`` DataFrame-path reads (and, traced, ``READS`` stored-SQL
    reads after them). Nothing is warmed up first: a catalog publish
    runs as a batch job of its own, so its users pay the fresh
    session's first-use costs every time."""
    run = Run()
    uni = universe(ctx.seed)
    p = make_product(ctx.seed, uni)
    catalog = H.Catalog(ctx.work, [p])
    catalog.csv_path(p.pid)
    lk = lk_factory(uni)
    pipe = ctx.pipeline("store", catalog, lk)

    run.setup_s = time.perf_counter() - ctx.t0
    ctx.timed()
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        ctx.span("bench.op", pipe.insert_product, [p.pid], catalog.csv_path)
    except Exception as e:
        run.fail(f"insert_product {p.pid}", e)
        return run
    dt = time.perf_counter() - t0
    bad = ctx.span("bench.verify", H.verify_commit, pipe.store, p)
    if bad:
        run.fail(f"insert_product {p.pid}: {bad}")
        return run
    run.op_s = dt
    run.cells = len(verify.fact_cells(p))
    reads_after_commit(ctx, run, "df", pipe, lk, uni, p)
    run.space_amp = H.dir_bytes(Path(pipe.store.root)) / catalog.csv_bytes(p.pid)
    if ctx.tracer is not None:
        ctx.span("bench.register", H.register_sql, ctx.spark, pipe, lk)
        reads_after_commit(ctx, run, "sql", pipe, lk, uni, p)
    return run


def publish(ctx: Ctx, lk_factory) -> Run:
    """Fixed per-job costs (driver planning, manifest commits, ``max_id``
    scans, WDS metadata) on a small product that takes the policy
    path."""
    return insert_then_read(ctx, lk_factory, mixed_product)


def bulk(ctx: Ctx, lk_factory) -> Run:
    """Per-row work (CSV parse, star-schema build, parquet write, the
    served slices) on a product twenty times larger."""
    return insert_then_read(ctx, lk_factory, large_product)


WORKLOADS = {"publish": publish, "bulk": bulk}
