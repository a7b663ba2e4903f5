"""Alternating parent/change benchmark pairs.

    python3 tools/perf_pairs.py --parent <rev> --workload serve --pairs 6 \
        [--seed0 11] [--trace 0|1] [--scratch DIR] [--json OUT]

Exports `<rev>` with `git archive` into `<scratch>/parent`, then runs
`perfbench/run.py` on the parent copy and on this checkout (the change, its
working tree as it stands), one pair per seed (`seed0`, `seed0 + 1`, ...).
Each pair runs both sides on the same seed for `BENCHMARK.json`'s
`run_seconds`; the side that goes first alternates from pair to pair, so
a drift in host load over the session falls on both sides alike. Each side builds into its own `CARGO_TARGET_DIR`
under the scratch dir, so neither overwrites the other's jar or class-data
archive; one discarded run per side before the pairs pays both builds.

Prints one line per run (pair, side, seed, the host steal % and foreign CPU
% that `run.py` stamps, whether the checkers passed, the metrics), then per
metric the quartiles and median of each side, the relative change of the
medians, in how many pairs the change was better (direction from
`BENCHMARK.json`), and whether the medians differ by more than the
parent's interquartile distance. A speed claim needs all three: the
pairs, the steal of every run, and, with `--trace 1`, the layer that was
predicted to move.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(side_root, build_dir, workload, seed, seconds, trace):
    """One `perfbench/run.py` run: (host stamp, result) or (stamp, None)."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=side_root, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    host, result = {}, None
    for line in p.stdout.splitlines():
        if line.startswith("[perfbench] host "):
            host = json.loads(line[len("[perfbench] host "):])
        elif line.startswith("{"):
            result = json.loads(line)
    return host, (result if p.returncode == 0 else None)


def quartiles(xs):
    """(q1, median, q3); one value is its own quartiles."""
    if len(xs) < 2:
        return (xs[0],) * 3
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def directions():
    b = benchmark()
    return {m["name"]: m["better"]
            for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git rev of the parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", help="work dir (default: a new temp dir)")
    ap.add_argument("--json", help="write every run's stamp and result here")
    a = ap.parse_args()

    seconds = benchmark()["run_seconds"]
    scratch = a.scratch or tempfile.mkdtemp(prefix="perf_pairs-")
    parent_root = os.path.join(scratch, "parent")
    export(a.parent, parent_root)
    sides = {"parent": (parent_root, os.path.join(scratch, "build-parent")),
             "change": (ROOT, os.path.join(scratch, "build-change"))}

    for side, (root, bdir) in sides.items():
        host, res = run_once(root, bdir, a.workload, a.seed0, 1, a.trace)
        if res is None:
            sys.stderr.write("[pairs] %s: warm-up run failed\n" % side)
            return 1

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            root, bdir = sides[side]
            host, res = run_once(root, bdir, a.workload, seed, seconds, a.trace)
            metrics = {k: v["value"]
                       for k, v in (res or {}).get("metrics", {}).items()}
            runs.append({"pair": i, "side": side, "seed": seed, "host": host,
                         "correct": bool(res and res.get("correct")),
                         "failed": (res or {}).get("failed"),
                         "metrics": metrics})
            print("[pairs] pair %d %-6s seed %d steal %s%% foreign %s%% "
                  "correct %s %s" % (
                      i, side, seed, host.get("steal_pct"),
                      host.get("foreign_cpu_pct"), runs[-1]["correct"],
                      json.dumps(metrics, sort_keys=True)), flush=True)

    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)
    summarize(runs, a.pairs)
    return 1 if any(not r["correct"] for r in runs) else 0


def summarize(runs, npairs):
    better = directions()
    names = sorted({m for r in runs for m in r["metrics"]})
    print("[pairs] %-28s %24s %24s %8s %s" % (
        "metric", "parent q1/med/q3", "change q1/med/q3", "rel",
        "change_better"))
    for m in names:
        by = {(r["pair"], r["side"]): r["metrics"].get(m) for r in runs}
        par = [by[(i, "parent")] for i in range(npairs)
               if by.get((i, "parent")) is not None]
        chg = [by[(i, "change")] for i in range(npairs)
               if by.get((i, "change")) is not None]
        if not par or not chg or not any(par + chg):
            continue  # a metric of another workload reads 0 on both sides
        pq, cq = quartiles(par), quartiles(chg)
        pm, cm = pq[1], cq[1]
        rel = (cm - pm) / pm if pm else float("nan")
        wins = "-"
        if m in better:
            pairs = [(by[(i, "parent")], by[(i, "change")]) for i in range(npairs)
                     if by.get((i, "parent")) is not None
                     and by.get((i, "change")) is not None]
            lower = better[m] == "lower"
            n = sum(1 for p, c in pairs if (c < p if lower else c > p))
            # the gain rule: the medians differ by more than the
            # parent's own spread (its interquartile distance)
            beyond = abs(cm - pm) > pq[2] - pq[0]
            wins = "%d/%d%s" % (n, len(pairs),
                                " beyond-parent-IQR" if beyond else "")
        print("[pairs] %-28s %24s %24s %+7.1f%% %s" % (
            m, "/".join("%.4g" % v for v in pq),
            "/".join("%.4g" % v for v in cq), 100 * rel, wins))
    print("[pairs] runs %d, checker failures %d, max steal %s%%" % (
        len(runs), sum(1 for r in runs if not r["correct"]),
        max((r["host"].get("steal_pct", 0) for r in runs), default=0)))


if __name__ == "__main__":
    sys.exit(main())
