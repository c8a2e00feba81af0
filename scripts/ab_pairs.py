#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark: a parent revision against this checkout.

Usage (from the root of a checkout):
    python3 scripts/ab_pairs.py --parent <rev> --workload mapreduce_sql --pairs 10

Exports <rev> into a temporary directory with `git archive` (no worktree
is registered in the repository), builds both trees once, then runs
`perfbench/run.py --trace 0` on both trees, pair i on seed SEED+i, with
the side that runs first alternating from pair to pair. Both sides run
for BENCHMARK.json's `run_seconds`. For every end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, how many pairs
the change won (ties count for neither, a failed run is no win) and
whether a gain may be claimed: at least nine tenths of all pairs won, and
the medians apart by more than the parent's interquartile range. It also
prints the change's median against the parent's relative to the metric's
regression bound. The last line of stdout is one JSON object with every
run's metrics and the summary.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def export_tree(rev, dest):
    """Write the files of commit `rev` into `dest`."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_child(cmd, tree, log_path):
    """Run `cmd` in `tree` with stderr to `log_path`; return (exit code,
    stdout). A termination of this script stops the child first, so
    run.py can stop its JVM."""
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate()
        except BaseException:
            proc.terminate()
            proc.wait()
            raise
    return proc.returncode, out


def build(tree, work, side):
    """Compile a tree's program and harness outside the timed runs."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    rc, _ = run_child([sys.executable, "-c", code], tree, os.path.join(work, f"build-{side}.log"))
    if rc != 0:
        raise RuntimeError(f"building the {side} tree failed; see {work}/build-{side}.log")


def bench(tree, work, side, workload, seed, seconds):
    """One benchmark run; its metric values, or None if it failed."""
    log_path = os.path.join(work, f"{side}-{workload}-s{seed}.log")
    rc, out = run_child([sys.executable, "perfbench/run.py", "--workload", workload,
                         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                        tree, log_path)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        with open(log_path, errors="replace") as f:
            log(f.read()[-2000:])
        log(f"ab_pairs: {side} run on seed {seed} failed (exit {rc})")
        return None
    result = json.loads(lines[-1])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    values["failed"], values["attempted"] = result["failed"], result["attempted"]
    return values


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(spec, runs, n_pairs):
    out = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        side = {s: [r[s][name] for r in runs if r[s] is not None] for s in ("parent", "change")}
        if not side["parent"] or not side["change"]:
            out[name] = {"unresolved": "no successful run on one side"}
            continue
        med = {s: statistics.median(v) for s, v in side.items()}
        quart = {s: quartiles(v) for s, v in side.items()}
        wins = sum(1 for r in runs if r["parent"] is not None and r["change"] is not None
                   and (r["change"][name] < r["parent"][name] if lower
                        else r["change"][name] > r["parent"][name]))
        gap = (med["parent"] - med["change"]) if lower else (med["change"] - med["parent"])
        iqr = quart["parent"][1] - quart["parent"][0]
        worse = (-gap / med["parent"]) if med["parent"] else 0.0
        out[name] = {
            "unit": m["unit"], "better": m["better"], "bound": m["bound"],
            "parent": {"median": med["parent"], "q1": quart["parent"][0], "q3": quart["parent"][1]},
            "change": {"median": med["change"], "q1": quart["change"][0], "q3": quart["change"][1]},
            "wins": wins, "pairs": n_pairs, "gain": wins >= 0.9 * n_pairs and gap > iqr,
            "parent_iqr": iqr, "median_gap": gap,
            "relative": (med["change"] - med["parent"]) / med["parent"] if med["parent"] else 0.0,
            "within_bound": worse <= m["bound"],
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="the revision to compare this checkout against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=402, help="seed of the first pair")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"ab_pairs: {a.workload} is not a BENCHMARK.json workload")
    work = tempfile.mkdtemp(prefix="ab_pairs-")
    try:
        parent_tree = os.path.join(work, "parent")
        os.makedirs(parent_tree)
        sha = export_tree(a.parent, parent_tree)
        trees = {"parent": parent_tree, "change": ROOT}
        log(f"ab_pairs: parent {sha[:12]} in {parent_tree}; building both trees")
        for side, tree in trees.items():
            build(tree, work, side)
        runs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = bench(trees[side], work, side, a.workload, seed, spec["run_seconds"])
            runs.append(pair)
            cells = " | ".join(
                f"{s} " + (" ".join(f"{m['name']}={pair[s][m['name']]:.3f}" for m in spec["end_to_end"])
                           if pair[s] is not None else "FAILED")
                for s in ("parent", "change"))
            print(f"pair {i + 1} seed {seed} first={order[0]} {cells}", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = summarize(spec, runs, a.pairs)
    print(f"workload {a.workload} parent {sha[:12]} pairs {a.pairs} "
          f"seeds {a.seed}-{a.seed + a.pairs - 1} run_seconds {spec['run_seconds']}")
    for name, s in summary.items():
        if "unresolved" in s:
            print(f"{name}: unresolved ({s['unresolved']})")
            continue
        p, c = s["parent"], s["change"]
        print(f"{name} ({s['unit']}, {s['better']} is better): "
              f"parent median {p['median']:.4g} [q1 {p['q1']:.4g}, q3 {p['q3']:.4g}]; "
              f"change median {c['median']:.4g} [q1 {c['q1']:.4g}, q3 {c['q3']:.4g}]; "
              f"change wins {s['wins']}/{s['pairs']}; median gap {s['median_gap']:.4g} "
              f"vs parent IQR {s['parent_iqr']:.4g}; gain rule {'holds' if s['gain'] else 'fails'}; "
              f"change {s['relative']:+.1%} vs parent, "
              f"{'within' if s['within_bound'] else 'beyond'} the {s['bound']:.0%} bound")
    for side in ("parent", "change"):
        ok = [r[side] for r in runs if r[side] is not None]
        print(f"{side}: {a.pairs - len(ok)} failed runs; {sum(r['failed'] for r in ok)} of "
              f"{sum(r['attempted'] for r in ok)} operations failed")
    print(json.dumps({"workload": a.workload, "parent": sha, "runs": runs, "summary": summary}))


if __name__ == "__main__":
    main()
