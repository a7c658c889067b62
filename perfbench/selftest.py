"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Runs every workload at a tiny size for one second, untraced and traced,
   and asserts that every metric BENCHMARK.json names is printed with its
   unit and that the run's own checks pass.
2. Corrupts copies of the finished warehouses — a duplicated url_id, an
   inserted robots-disallowed URL, a dropped stream candidate — and asserts
   that the matching correctness check fires on each.

Exits non-zero if any assertion fails. Scratch data lives under
``.bench_work/`` and is removed at exit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, inputs, workloads  # noqa: E402

SCALE = 0.05
SEED = 7


def run(workload: str, trace: int, keep: Path) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
        "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE), "--keep", str(keep),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, trace: int) -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics/units differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res


def latest_snapshot(wh: Path) -> Path:
    last = checks.last_committed(wh)
    return max(
        (d for d in (wh / "frontier").glob("snap-*") if int(d.name.split("-")[1]) <= last),
        key=lambda d: d.name,
    )


def add_rows(snap: Path, rows: list[dict]) -> None:
    schema = pq.read_schema(next(snap.glob("*.parquet")))
    pq.write_table(pa.Table.from_pylist(rows, schema), snap / "part-selftest.parquet")


def one_row(snap: Path) -> dict:
    for f in sorted(snap.glob("*.parquet")):
        t = pq.read_table(f)
        if t.num_rows:
            return t.slice(0, 1).to_pylist()[0]
    raise AssertionError(f"empty snapshot {snap}")


def corrupt_duplicate(wh: Path) -> list[str]:
    snap = latest_snapshot(wh)
    add_rows(snap, [one_row(snap)])
    return checks.unique_ids(checks.frontier_rows(wh))


def corrupt_disallowed(wh: Path, disallow: dict[str, list[str]]) -> list[str]:
    snap = latest_snapshot(wh)
    host, prefixes = next(iter(sorted(disallow.items())))
    row = one_row(snap)
    row.update(
        url=f"http://{host}{prefixes[0]}selftest", host=host,
        url_id=inputs.md5_id(f"http://{host}{prefixes[0]}selftest"), created_round=1,
    )
    add_rows(snap, [row])
    return checks.no_disallowed_inserts(checks.frontier_rows(wh), disallow)


def corrupt_dropped(wh: Path, fed: list[set[str]]) -> list[str]:
    snap = latest_snapshot(wh)
    victim = sorted(set().union(*fed))[0]
    for f in snap.glob("*.parquet"):
        t = pq.read_table(f)
        mask = pc.not_equal(t.column("url"), victim)
        pq.write_table(t.filter(mask), f)
    return checks.stream_merged(wh, fed)[1][0]


def main() -> int:
    work = ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    failures = []

    def case(name: str, fn) -> None:
        try:
            fn()
            print(f"PASS {name}")
        except AssertionError as exc:
            failures.append(name)
            print(f"FAIL {name}: {exc}")

    try:
        for w in ("polite_crawl", "deep_frontier"):
            for trace in (0, 1):
                case(f"{w} trace={trace} prints every metric with its unit",
                     lambda w=w, t=trace: assert_metrics(run(w, t, work / f"{w}-{t}"), t))

        def dup():
            fired = corrupt_duplicate(work / "polite_crawl-0" / "wh")
            assert fired, "duplicated url_id not detected"

        def disallowed():
            gen = work / "gen-polite"
            gen.mkdir()
            inp = inputs.polite_crawl(gen, SEED, os.cpu_count() or 1, SCALE)
            fired = corrupt_disallowed(work / "polite_crawl-0" / "wh", inp.disallow)
            assert fired, "inserted disallowed URL not detected"

        def dropped():
            gen = work / "gen-stream"
            gen.mkdir()
            urls = inputs.polite_crawl(gen, SEED, os.cpu_count() or 1, SCALE).urls
            rows = max(int(workloads.STREAM_ROWS * SCALE), 40)
            stream = inputs.stream_candidates(gen, SEED, urls, workloads.STREAM_FILES, rows)
            wh = work / "polite_crawl-1" / "wh"
            assert not checks.stream_merged(wh, stream.allowed)[1][0], "clean stream check fails"
            fired = corrupt_dropped(wh, stream.allowed)
            assert fired, "dropped stream candidate not detected"

        case("duplicated url_id fires the uniqueness check", dup)
        case("inserted disallowed URL fires the robots check", disallowed)
        case("dropped stream candidate fires the merge check", dropped)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
