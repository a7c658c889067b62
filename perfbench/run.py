"""Crawl-engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload polite_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is a fresh process with a fresh
Spark JVM at ``local[nproc]``; it generates the workload's inputs from
``--seed``, sets the engine up, measures closed-loop crawl rounds for
``--seconds``, checks the output, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (BENCHMARK.json lists both). ``attempted``/``failed``
count rounds, micro-batches, resumes and correctness checks; a failed check
also makes the exit code non-zero. All scratch data lives under
``.bench_work/`` in the working directory and is removed at exit; traced
runs keep their spans in ``.bench_work/spans/``.
"""

from __future__ import annotations

import time

T0 = time.time()  # setup_s starts at process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("polite_crawl", "deep_frontier")
DRIVER_MEM = "3g"  # well under the RAM of a 4-core, 15 GB box


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metric_units(trace: bool) -> dict[str, str]:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec()[key]}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier; the self-test runs every workload at a tiny size
    ap.add_argument("--scale", type=float, default=1.0)
    # keep the work directory (the self-test corrupts finished warehouses)
    ap.add_argument("--keep", type=Path, default=None)
    return ap.parse_args(argv)


def env_record(spark, partitions: int) -> dict:
    jvm = spark.sparkContext._jvm
    sha = "unknown"
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        sha = out.stdout.strip() or sha
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
        "driver_mem": DRIVER_MEM,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "crawl_partitions": partitions,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "dumb_crawler_spark" / "crawler.py").is_file():
        print(f"engine package dumb_crawler_spark not found under {ROOT}", file=sys.stderr)
        return 2
    units = metric_units(bool(args.trace))
    nproc = os.cpu_count() or 1
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    event_dir = work / "events" if args.trace else None
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_EXTRA_CONF": json.dumps({
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        }),
        # Python workers (pandas UDFs, stateful gate) import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    if event_dir is not None:
        os.environ["SPARK_GRAFT_EVENTLOG"] = str(event_dir)
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = str(tmp)

    from dumb_crawler_spark.session import get_spark
    from perfbench import workloads
    from perfbench.trace import Tracer

    spark = get_spark(app=f"perfbench-{args.workload}", cores=nproc, shuffle_partitions=nproc)
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    ctx = workloads.Ctx(
        spark=spark, work=work, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), scale=args.scale, partitions=nproc, t0=T0,
        tracer=Tracer(bool(args.trace)), event_dir=event_dir,
        jvm_pid=proc.pid if proc is not None else None,
    )
    env = env_record(spark, nproc)
    crashed = None
    try:
        res = workloads.crawl(ctx, args.workload)
    except Exception as exc:  # the run itself failed: report, no result line
        import traceback

        traceback.print_exc()
        crashed = exc
    finally:
        ctx.tracer.restore()
        stop_spark(spark)
    if crashed is not None:
        if args.keep is None:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"correct": False, "error": repr(crashed)}), file=sys.stderr)
        return 1
    if args.trace:
        spans = ROOT / ".bench_work" / "spans"
        spans.mkdir(exist_ok=True)
        ctx.tracer.write(spans / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        values = res.layers_after_stop()
    else:
        values = res.e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    failed = res.failed_checks
    print(json.dumps({"env": env, "detail": res.detail, "failures": res.failures}))
    if args.keep is not None:
        shutil.rmtree(args.keep, ignore_errors=True)
        shutil.move(str(work), str(args.keep))
    else:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # leave no empty scratch dir behind
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res.ops + res.checks_run,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
