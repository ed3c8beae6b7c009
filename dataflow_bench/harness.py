"""Engine-facing side of the benchmark: the Spark session, the canned
WDS transport, pipelines over fresh stores, the two PrimaryQuery paths,
and the Spark reads the verifier compares with the oracle.

The engine is driven only through its public entry points:
``session.get_spark``, ``Pipeline.insert_product``/``append_product``,
``star_schema.serve_primary_query`` and ``sql_views.register_star_views``
/ ``sql_primary_query``.
"""

from __future__ import annotations

import logging
import os
import shutil
import subprocess
import time
from pathlib import Path

import gen
import verify

PQ_COLS = ["GeographyReferenceId", "GeographyName", "GeographicLevelName",
           "IndicatorName", "Value", "FormattedValue"]


def start_session(work: Path, cores: int, event_log: Path | None, tracer=None):
    """``local[cores]`` with every scratch path inside ``work``."""
    from geo_explorer_etl_spark import session

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file under the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(event_log),
        })
    get_spark = session.get_spark
    if tracer is not None:
        spark = tracer.call("session.get_spark", get_spark, "dataflow_bench",
                            cpus=cores, extra_conf=conf)
    else:
        spark = get_spark("dataflow_bench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    # failures are reported in the side output, not as driver-side
    # stack dumps
    logging.getLogger("DataFrameQueryContextLogger").setLevel(logging.CRITICAL)
    logging.getLogger("geo_explorer_etl_spark").setLevel(logging.ERROR)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Catalog:
    """Products served by the canned WDS transport, and their CSVs."""

    def __init__(self, work: Path, products: list[gen.Product]):
        self.work = work
        self.products = {p.pid: p for p in products}

    def fetcher(self, url: str, payload=None):
        if "getCubeMetadata" not in url:
            raise AssertionError(f"unexpected WDS call {url}")
        return self.products[int(payload[0]["productId"])].metadata_response()

    def csv_path(self, pid: int) -> str:
        p = self.products[pid]
        path = self.work / "csv" / str(pid) / "cube.csv"
        if not path.exists():
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(p.csv_text(), encoding="utf-8")
        return str(path)

    def csv_bytes(self, pid: int) -> int:
        return os.path.getsize(self.csv_path(pid))


class Lookups:
    def __init__(self, spark, uni: gen.Universe):
        frames = {k: spark.createDataFrame(rows, ddl) for k, (rows, ddl) in uni.lookup_rows().items()}
        self.geo_ref = frames["geo_ref"]
        self.geo_level = frames["geo_level"]
        self.null_reason = frames["null_reason"]
        self.uom = frames["uom"]
        self.subjects = frames["subjects"]

    def register_views(self) -> None:
        self.geo_ref.createOrReplaceTempView("GeographyReference")
        self.geo_level.createOrReplaceTempView("GeographicLevel")
        self.null_reason.createOrReplaceTempView("IndicatorNullReason")


def new_pipeline(spark, store_dir: Path, catalog: Catalog, lk: Lookups):
    from geo_explorer_etl_spark.plans.pipeline import Pipeline
    from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
    from geo_explorer_etl_spark.sources.store import TableStore
    from geo_explorer_etl_spark.sources.wds import WdsClient

    if store_dir.exists():
        shutil.rmtree(store_dir)
    store_dir.mkdir(parents=True)
    return Pipeline(
        spark=spark,
        store=TableStore(spark, str(store_dir / "store")),
        wds=WdsClient(spark, fetcher=catalog.fetcher),
        registry=MergeRegistry(str(store_dir / "merged.json")),
        geo_ref=lk.geo_ref,
        null_reason=lk.null_reason,
        uom_codes=lk.uom,
        subject_codes=lk.subjects,
    )


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -- reads -------------------------------------------------------------------
def pq_df(pipe, lk: Lookups, pid: int, iid: int, locale: str, tracer=None) -> tuple[list, float]:
    """DataFrame-path PrimaryQuery, timed through ``collect()``."""
    from geo_explorer_etl_spark.plans import star_schema

    t0 = time.perf_counter()
    df = star_schema.serve_primary_query(
        pipe.store, iid, pid, lk.geo_ref, lk.geo_level, lk.null_reason, locale=locale
    ).select(*PQ_COLS)
    rows = tracer.call("serve.collect", df.collect) if tracer else df.collect()
    return [tuple(r) for r in rows], time.perf_counter() - t0


def pq_sql(spark, iid: int, locale: str, tracer=None) -> tuple[list, float]:
    """Stored-SQL PrimaryQuery over the registered views."""
    from geo_explorer_etl_spark.plans import sql_views

    t0 = time.perf_counter()
    df = sql_views.sql_primary_query(spark, iid, locale=locale).select(*PQ_COLS)
    rows = tracer.call("sql.collect", df.collect) if tracer else df.collect()
    return [tuple(r) for r in rows], time.perf_counter() - t0


def register_sql(spark, pipe, lk: Lookups) -> None:
    from geo_explorer_etl_spark.plans import sql_views

    sql_views.register_star_views(spark, pipe.store)
    lk.register_views()


# -- verification reads --------------------------------------------------------
def table_counts(store, pid: int) -> dict[str, int]:
    """Rows of ``pid``'s partition per table, in one Spark job."""
    from pyspark.sql import functions as F

    from geo_explorer_etl_spark.sources.store import PRODUCT_TABLES

    frames = []
    for t in PRODUCT_TABLES:
        df = store.read_product_slice(t, pid)
        if df is not None:
            frames.append(df.select(F.lit(t).alias("t")))
    counts = {t: 0 for t in PRODUCT_TABLES}
    if frames:
        u = frames[0]
        for f in frames[1:]:
            u = u.unionAll(f)
        counts.update({r["t"]: r["n"] for r in u.groupBy("t").agg(F.count("*").alias("n")).collect()})
    return counts


def fact_ids_match_bridge(store, pid: int) -> bool:
    iv = store.read_product_slice("IndicatorValues", pid)
    grb = store.read_product_slice("GeographyReferenceForIndicator", pid)
    if iv is None or grb is None:
        return False
    a = iv.select("IndicatorValueId")
    b = grb.select("IndicatorValueId")
    return a.exceptAll(b).unionAll(b.exceptAll(a)).limit(1).count() == 0


def verify_commit(store, p: gen.Product) -> str | None:
    """None when ``p``'s committed partition matches the oracle."""
    bad = verify.compare_counts(table_counts(store, p.pid), verify.expected_counts(p))
    if bad:
        return f"row counts: {bad}"
    if not fact_ids_match_bridge(store, p.pid):
        return "IndicatorValues ids differ from GeographyReferenceForIndicator ids"
    return None
