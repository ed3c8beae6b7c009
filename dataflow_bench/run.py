"""Paper-dataflow benchmark: publish / bulk.

Usage, from the repository root:

    python3 dataflow_bench/run.py --workload publish --seed 1 --seconds 30 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the
same workload with spans and Spark's event log on and prints the
per-layer metrics instead. Human-readable lines go first; the last line
of standard output is one JSON object. The exit code is 1 when
``correct`` is false: an op raised, an output disagreed with the oracle,
or a latency metric got no sample. ``--seconds`` is recorded but does
not size the run: each workload does a fixed amount of work (see
``workloads.py``). A side file with every op's latency and each
failure's exception class is written under ``.bench_work/results/``.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Pinned so that runs on machines with more cores measure the same
# configuration as the 4-core reference machine, instead of the
# package's default of 32 task slots.
MAX_CORES = 4

END_TO_END = [
    ("setup_s", "s"),
    ("insert_ms", "ms"),
    ("cells_per_s", "1/s"),
    ("pq_p50_ms", "ms"),
    ("space_amp", "ratio"),
]


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def sampled(run) -> bool:
    """Every latency metric has a verified sample."""
    return bool(run.op_s and run.pq_lat)


def p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0 if xs else 0.0


def end_to_end(run) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "insert_ms": run.op_s * 1000.0,
        "cells_per_s": run.cells / run.op_s if run.op_s else 0.0,
        "pq_p50_ms": p50_ms(run.pq_lat),
        "space_amp": run.space_amp,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["publish", "bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "geo_explorer_etl_spark" / "__init__.py").is_file():
        print(f"engine package geo_explorer_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    t0 = time.perf_counter()
    base = ROOT / ".bench_work"
    work = base / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    # every scratch file of Spark, the JVM and Python stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the launcher JVM that spark-submit starts first writes no hsperfdata
    # file under the host's /tmp (the driver JVM is told in harness.py)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    import harness as H
    import workloads as WL

    tracer = None
    event_log = None
    if args.trace:
        from instrument import instrument_modules
        from spans import Tracer

        tracer = Tracer()
        event_log = work / "eventlog"
    spark = H.start_session(work, cores(), event_log, tracer)
    try:
        if tracer is not None:
            tracer.set_session(spark)
            instrument_modules(tracer)
        ctx = WL.Ctx(spark, work, args.seed, tracer, t0)
        run = WL.WORKLOADS[args.workload](ctx, lambda uni: H.Lookups(spark, uni))
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        H.stop_session(spark)

    if not sampled(run):
        run.correct = False
    e2e = end_to_end(run)
    if tracer is not None:
        from instrument import PER_LAYER, per_layer_metrics
        from spans import read_event_log

        layer = per_layer_metrics(tracer.spans, read_event_log(str(event_log)), run)
        layer.update({
            "trace.insert_ms": e2e["insert_ms"],
            "trace.pq_p50_ms": e2e["pq_p50_ms"],
            "trace.sql_p50_ms": p50_ms(run.sql_lat),
        })
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "correct": run.correct,
        "attempted": run.attempted, "failed": run.failed,
        "failed_ratio": run.failed / run.attempted if run.attempted else 0.0,
        "insert_s": run.op_s, "pq_s": run.pq_lat, "sql_s": run.sql_lat,
        "served_rows": run.served_rows, "failures": run.failures,
        "end_to_end": e2e, "metrics": metrics,
    }
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    side_path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    side_path.write_text(json.dumps(side, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  cores {cores()}  "
          f"ops (insert and reads): attempted {run.attempted} failed {run.failed} "
          f"failed_ratio {side['failed_ratio']:.4f}")
    print(f"samples: insert {int(bool(run.op_s))}  df reads {len(run.pq_lat)}  "
          f"sql reads {len(run.sql_lat)}")
    for f in run.failures:
        print(f"failed: {f['op']}  {f.get('error_class') or f.get('exception', '')}  "
              f"{f.get('where') or ''}")
    for n, m in metrics.items():
        print(f"{n:44s} {m['value']:14.4f} {m['unit']}")
    print(f"side output: {side_path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
