"""Run perfbench on two checkouts in alternated pairs and summarize.

    python3 plans/held_writes/pairs.py PARENT_DIR CHANGE_DIR WORKLOAD SEED0 N SECONDS OUT_PREFIX [TRACE]

Pair i uses seed SEED0 + i; an odd seed runs the parent first, an even
seed the change first.  Each run is a fresh ``python3 perfbench/run.py``
in its own checkout.  Writes OUT_PREFIX.jsonl (one line per run: tree,
seed, wall seconds, exit code, the last-line result and the detail line)
and prints, per end-to-end metric, both medians, the parent's IQR and the
pairs the change won.
"""

import json
import statistics
import subprocess
import sys
import time


def run(tree_dir, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree_dir, capture_output=True, text=True,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return {
        "wall": time.time() - t0, "rc": p.returncode,
        "result": json.loads(lines[-1]) if lines else None,
        "detail": json.loads(lines[-2]) if len(lines) > 1 else None,
    }


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(parent, change, workload, seed0, n, seconds, out, trace="0"):
    trees = {"parent": parent, "change": change}
    rows = []
    with open(out + ".jsonl", "w") as f:
        for i in range(int(n)):
            seed = int(seed0) + i
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for tree in order:
                r = {"tree": tree, "seed": seed, **run(trees[tree], workload, seed, seconds, trace)}
                rows.append(r)
                f.write(json.dumps(r) + "\n")
                f.flush()
                res = r["result"] or {}
                print(tree, seed, r["rc"], json.dumps({k: round(v["value"], 4) for k, v in
                                                        res.get("metrics", {}).items()}),
                      f"{res.get('failed')}/{res.get('attempted')}", flush=True)
    metrics = {
        "ops_per_s": True, "setup_s": False, "peak_rss_mb": False, "recall_at_10": True,
    }
    by = {(r["tree"], r["seed"]): r["result"]["metrics"] for r in rows if r["result"]}
    seeds = sorted({s for _, s in by})
    for m, higher in metrics.items():
        if any(m not in v for v in by.values()):
            continue  # a traced run prints the per-layer metrics instead
        par = [by["parent", s][m]["value"] for s in seeds]
        chg = [by["change", s][m]["value"] for s in seeds]
        lo, hi = quartiles(par)
        wins = sum((c > p) if higher else (c < p) for p, c in zip(par, chg))
        print(f"{m}: parent median {statistics.median(par):.4f} (IQR {hi - lo:.4f}) "
              f"change median {statistics.median(chg):.4f}; change better in {wins}/{len(seeds)}")


if __name__ == "__main__":
    main(*sys.argv[1:])
