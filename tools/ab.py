#!/usr/bin/env python3
"""Interleaved A/B runs of the repository benchmark in two checkouts.

    python3 tools/ab.py --parent ../parent --change . --seeds 41-50
    python3 tools/ab.py --parent ../parent --change . --seeds 31-33 \\
        --trace 1 --metrics cdc.read_ms_p50,spark.tasks_p50

Each seed runs `python3 cdcbench/run.py --workload W --seed S --seconds T
--trace X` once in each checkout (as the working directory), back to
back: the parent first on odd seeds, the change first on even ones, so
neither side always runs on the warmer or quieter machine. Nothing under
cdcbench/ is imported or written; the script reads only what run.py
prints.

Prints one row per run (seed, side, exit code, steal_pct, correct,
failed, then the metrics), then per side the median and the quartile
distance (Q3 - Q1, linear interpolation between closest ranks, as
cdcbench's Stats.quantile) of each metric, and for each metric the pairs
in which the change is lower than the parent. `--out FILE` appends
every run's host and result lines as one JSON object per line.
"""
import argparse
import json
import subprocess
import sys

END_TO_END = ("setup_s", "op_p50_s", "op_mean_s")


def seeds_of(spec):
    """'41-50' or '41,43,47' (or a mix) -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quantile(xs, p):
    s = sorted(xs)
    h = (len(s) - 1) * p
    lo = int(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def run_once(checkout, a, seed):
    """One run.py invocation -> (exit code, host dict, result dict)."""
    cmd = [sys.executable, "cdcbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    host, result = {}, None
    for line in p.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "host" in obj:
            host = obj["host"]
        elif isinstance(obj, dict) and "metrics" in obj:
            result = obj
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
    return p.returncode, host, result


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout dir")
    ap.add_argument("--change", required=True, help="changed checkout dir")
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 3,5,9")
    ap.add_argument("--workload", default="cdc_sync")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metrics", default="",
                    help="comma-separated metric names; default: the "
                         "end-to-end ones (untraced runs only print those)")
    ap.add_argument("--out", help="append raw run records (JSON lines)")
    a = ap.parse_args()
    names = [m for m in a.metrics.split(",") if m] or list(END_TO_END)
    sides = {"parent": a.parent, "change": a.change}
    values = {s: {m: {} for m in names} for s in sides}

    print("seed side   exit steal_pct correct failed " + " ".join(names),
          flush=True)
    for seed in seeds_of(a.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            code, host, result = run_once(sides[side], a, seed)
            metrics = (result or {}).get("metrics", {})
            row = [str(seed), f"{side:6}", str(code),
                   fmt(host.get("steal_pct")),
                   str((result or {}).get("correct", "-")),
                   str((result or {}).get("failed", "-"))]
            for m in names:
                v = metrics.get(m, {}).get("value")
                if v is not None and code == 0:
                    values[side][m][seed] = v
                row.append(fmt(v))
            print(" ".join(row), flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side,
                                        "exit": code, "host": host,
                                        "result": result}) + "\n")

    print()
    print("side   metric  median  quartile_distance  runs")
    for side in sides:
        for m in names:
            xs = list(values[side][m].values())
            if xs:
                q = quantile(xs, 0.75) - quantile(xs, 0.25)
                print(f"{side:6} {m} {fmt(quantile(xs, 0.5))} {fmt(q)} "
                      f"{len(xs)}")
    print()
    print("metric  pairs_change_lower / pairs")
    for m in names:
        both = sorted(set(values["parent"][m]) & set(values["change"][m]))
        wins = sum(values["change"][m][s] < values["parent"][m][s]
                   for s in both)
        print(f"{m} {wins} / {len(both)}")


if __name__ == "__main__":
    main()
