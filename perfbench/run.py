"""Extraction benchmark: one workload, one seed, ``local[nproc]``.

    python3 perfbench/run.py --workload crawl_backfill --seed 1 \
        --seconds 15 --trace 0

Run from the root of a source checkout. The inputs are generated from
``--seed``; the program only sees the landed ``pages`` table. Each run:

1. starts Spark with its own warehouse, local and temp dirs under
   ``.perfbench_run/`` in the checkout (removed at exit);
2. generates the inputs while the JVM starts, then sets the workload up
   from scratch once untimed (it pays the JVM's first jobs) and three
   times timed (``setup_s`` is the median);
3. warms the JVM and the Python workers with untimed work;
4. ``--trace 0``: repeats the operation for ``--seconds`` and prints the
   end-to-end metrics; ``--trace 1``: runs ``layers.traced_run`` and
   prints the per-layer metrics, writing every span to
   ``.perfbench_out/trace-<workload>-s<seed>.json``;
5. checks the outputs against the in-process reference (a seed-chosen
   sample of urls untraced, every url traced).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Progress goes to
stderr. Exits non-zero without a result if the package is missing.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import pathlib
import shutil
import statistics
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3
# sized for a shared 15 GB host, not the 48g bench.py asks for: the
# largest payload is ~11 MB and a run's whole corpus under 100 MB
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True,
        choices=["crawl_backfill", "daily_append", "outlinks"],
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(scratch: pathlib.Path) -> None:
    """Make the package importable here and in every Spark Python worker,
    whatever the cwd, and keep every file Spark writes inside
    ``scratch``. Must run before the JVM starts: it inherits the env."""
    if not (ROOT / "pdf_extractor_spark" / "__init__.py").is_file():
        raise SystemExit(
            f"perfbench: no pdf_extractor_spark package under {ROOT}; "
            "run from the root of a source checkout"
        )
    sys.path.insert(0, str(ROOT))
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = (
        f"{ROOT}{os.pathsep}{prior}" if prior else str(ROOT)
    )
    for sub in ("tmp", "spark-local"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    # the JVMs spark-submit starts would write /tmp/hsperfdata_<user>
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        prior = os.environ.get(var, "")
        os.environ[var] = f"{prior} -XX:-UsePerfData".strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(scratch: pathlib.Path, nproc: int):
    """The session settings of ``jobs/extract_job.build_session`` (AQE,
    UTC, 2048-row Arrow batches), at ``local[nproc]``."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(scratch / "spark-local"))
        .config("spark.sql.warehouse.dir", str(scratch / "spark-warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={scratch / 'tmp'} "
            f"-Dderby.system.home={scratch / 'tmp'}",
        )
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with at
    least ten samples beyond it. Below 22 samples that percentile would
    sit at or under the median, so the highest with one sample beyond it
    (the second-largest) is reported instead: one stray operation in a
    run of a few does not set it. Below 4 samples that too would sit at
    or under the median, and the maximum is reported (percentile 100)."""
    s = sorted(samples)
    n = len(s)
    if n < 4:
        return s[-1], 100.0, n
    beyond = 10 if n >= 22 else 1
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def measure(workload, seconds: float) -> dict:
    """Repeat the operation while the next one is expected to end within
    ``seconds``; always at least once. An operation that raises counts as
    failed and the run goes on."""
    ops, errors = [], 0
    t0 = time.perf_counter()
    while not ops or (time.perf_counter() - t0) * (len(ops) + 1) / len(
        ops
    ) <= seconds:
        try:
            ops.append(workload.op())
        except Exception:  # noqa: BLE001 — count it, keep measuring
            traceback.print_exc()
            errors += 1
            ops.append(None)
    done = [o for o in ops if o is not None]
    if not done:
        raise RuntimeError("every operation failed")
    lat = [o.latency_s * 1000 for o in done]
    value, pct, n = tail(lat)
    log(f"{len(ops)} ops; freshness tail = p{pct:.0f} of {n} samples")
    log("freshness ms: " + " ".join(f"{x:.0f}" for x in lat))
    return {
        "attempted": len(ops),
        "failed": errors + sum(1 for o in done if not o.ok),
        "docs_per_s": statistics.median(o.docs / o.wall_s for o in done),
        "freshness_p50_ms": statistics.median(lat),
        "freshness_tail_ms": value,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    scratch = ROOT / ".perfbench_run" / (
        f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    prepare_environment(scratch)

    from perfbench import layers, procs, workloads
    from perfbench.trace import Tracer

    # the JVM starts while the inputs are generated
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        starting = pool.submit(start_spark, scratch, nproc)
        ctx = workloads.Ctx(None, scratch, args.seed, nproc)
        t0 = time.perf_counter()
        try:
            workload = workloads.WORKLOADS[args.workload](ctx)
        except BaseException:
            procs.stop_spark(starting.result())
            raise
        spark = ctx.spark = starting.result()
        info = {"start_and_generate_s": time.perf_counter() - t0}
    try:
        workload.setup()  # untimed: pays the JVM's first jobs
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.setup()
            setups.append(time.perf_counter() - t0)
        info["setup_s"] = setups
        t0 = time.perf_counter()
        workload.warm()  # untimed: the JVM and the Python workers warm up
        info["warm_s"] = time.perf_counter() - t0
        log(f"{args.workload} seed {args.seed}: {info}")

        if args.trace:
            tracer = Tracer()
            with procs.PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
                metrics, problems, extras = layers.traced_run(
                    ctx, workload, tracer
                )
            metrics["peak_rss_mb"] = rss.peak / 2**20
            out = ROOT / ".perfbench_out" / (
                f"trace-{args.workload}-s{args.seed}.json"
            )
            tracer.dump(out, {
                **info, **extras, "metrics": metrics, "problems": problems,
            })
            log(f"trace written to {out}")
        else:
            metrics = measure(workload, args.seconds)
            extras = {k: metrics.pop(k) for k in ("attempted", "failed")}
            metrics["setup_s"] = statistics.median(setups)
            problems = workload.check(full=False)
            log(str(metrics))
    finally:
        procs.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    for p in problems:
        log(f"INCORRECT: {p}")
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"
    ]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(
            f"measured {sorted(metrics)} but BENCHMARK.json declares "
            f"{sorted(units)}"
        )
    print(json.dumps({
        "correct": not problems and extras["failed"] == 0,
        "attempted": extras["attempted"],
        "failed": extras["failed"],
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
