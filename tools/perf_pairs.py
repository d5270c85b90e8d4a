"""Run alternating perfbench pairs of two revisions and compare them.

Each revision is extracted with ``git archive`` into a temporary
directory, so uncommitted changes in the checkout do not leak into
either side.  For every seed and workload the two trees run
``perfbench/run.py`` one after the other; the order alternates by seed
(the base first on even positions, the head first on odd ones), so
host load that drifts over the session does not land on one side.
Every run appends one JSON line to ``--out``:

    {"tree": "base"|"head", "rev": ..., "workload": ..., "seed": ...,
     "trace": 0|1, "refresh_samples_s": [...], "errors": [...],
     "result": {...}}

``result`` is the run's last stdout line, ``refresh_samples_s`` comes
from its ``detail`` line and ``errors`` holds its failed checks.
After the runs (or on an existing file, with ``--report``), it prints
for each workload and end-to-end metric of ``BENCHMARK.json``: each
tree's median [q1, q3], the pairs in which the head is better, and
whether the median gap exceeds the base's quartile distance; then the
number of refreshes each run's ``refresh_p50_s`` is the median of.

    python3 tools/perf_pairs.py --base HEAD~1 --head HEAD --seeds 13-22 \\
        --out docs/perf/pairs.jsonl
    python3 tools/perf_pairs.py --report docs/perf/pairs.jsonl

Run nothing else on the host meanwhile: a concurrent JVM shifts every
timing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("base", "head")


def parse_seeds(spec: str) -> list[int]:
    """'13-22' or '1,3,5' (or a mix) as a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def archive(rev: str, into: str) -> str:
    """Extract ``rev`` into the directory ``into``; returns its full sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", into], stdin=tar.stdout, check=True)
    if tar.wait():
        raise RuntimeError(f"git archive {rev} failed")
    return sha


def run_one(tree_dir: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run; its result line and refresh samples."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree_dir, capture_output=True, text=True,
    )
    lines = proc.stdout.splitlines()
    detail = next((json.loads(s[len("detail "):]) for s in lines if s.startswith("detail ")), {})
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "error": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}
    errors = [s[len("error: "):] for s in lines if s.startswith("error: ")]
    return {"refresh_samples_s": detail.get("refresh_samples_s"), "errors": errors, "result": result}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def report(rows: list[dict], metrics: list[dict]) -> str:
    """The comparison table, one line per (workload, metric)."""
    out = ["workload | metric | base median [q1, q3] | head median [q1, q3] | ratio | head better | gap > base IQR"]
    for workload in sorted({r["workload"] for r in rows}):
        by = {t: {} for t in TREES}
        for r in rows:
            if r["workload"] == workload and not r["trace"] and r["result"].get("metrics"):
                by[r["tree"]][r["seed"]] = r["result"]["metrics"]
        seeds = sorted(set(by["base"]) & set(by["head"]))
        if not seeds:
            continue
        samples = {t: [len(r["refresh_samples_s"] or []) for r in rows if r["workload"] == workload
                       and r["tree"] == t and not r["trace"] and r["seed"] in seeds] for t in TREES}
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            base = [by["base"][s][name]["value"] for s in seeds]
            head = [by["head"][s][name]["value"] for s in seeds]
            (bm, b1, b3), (hm, h1, h3) = quartiles(base), quartiles(head)
            won = sum((h < b) if lower else (h > b) for b, h in zip(base, head))
            out.append(
                f"{workload} | {name} | {bm:.4g} [{b1:.4g}, {b3:.4g}] | {hm:.4g} [{h1:.4g}, {h3:.4g}]"
                f" | {hm / bm:.3f} | {won}/{len(seeds)} | {'yes' if abs(hm - bm) > b3 - b1 else 'no'}"
            )
        out.append(f"{workload} | refreshes per run | {samples['base']} | {samples['head']}")
    failed = [r for r in rows if not r["result"].get("correct")]
    out.append(f"runs: {len(rows)}, not correct: {len(failed)}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", help="revision of the reference tree")
    ap.add_argument("--head", help="revision of the tree under test")
    ap.add_argument("--seeds", default="13-22", help="e.g. 13-22 or 1,2,5")
    ap.add_argument("--workloads", default="live_tail,gap_repair")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", metavar="FILE", help="only print the comparison of FILE")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    if args.report:
        with open(args.report) as f:
            print(report([json.loads(s) for s in f if s.strip()], metrics))
        return 0
    if not (args.base and args.head and args.out):
        ap.error("--base, --head and --out are required unless --report is given")

    tmp = tempfile.mkdtemp(prefix="perf_pairs_")
    try:
        dirs, revs = {}, {}
        for tree, rev in zip(TREES, (args.base, args.head)):
            dirs[tree] = os.path.join(tmp, tree)
            os.makedirs(dirs[tree])
            revs[tree] = archive(rev, dirs[tree])
        rows = []
        for k, seed in enumerate(parse_seeds(args.seeds)):
            for workload in args.workloads.split(","):
                for tree in TREES if k % 2 == 0 else TREES[::-1]:
                    row = {"tree": tree, "rev": revs[tree], "workload": workload,
                           "seed": seed, "trace": args.trace}
                    row.update(run_one(dirs[tree], workload, seed, args.seconds, args.trace))
                    rows.append(row)
                    with open(args.out, "a") as f:
                        f.write(json.dumps(row) + "\n")
                    print(f"{tree} {workload} seed {seed}: "
                          f"{json.dumps(row['result'].get('metrics') or row['result'])}", flush=True)
        print(report(rows, metrics))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
