#!/usr/bin/env python3
"""Steadiness record: run every workload N times, interleaved in time,
one seed per round, and write each run (metrics and host probes) plus
each metric's median, quartiles and quartile spread to the record.

    python3 layerbench/steadiness.py --runs 10 --label "same tree, set A"

Run from the root of a checkout. Appends to ``layerbench/steadiness.jsonl``
and rewrites ``layerbench/STEADINESS.md`` from every run recorded there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(HERE, "steadiness.jsonl")
REPORT = os.path.join(HERE, "STEADINESS.md")


def bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, label: str) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"label": label, "workload": workload, "seed": seed,
           "started": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t)),
           "elapsed_s": time.time() - t, "exit": p.returncode}
    try:
        rec["result"] = json.loads(lines[-1])
        extra = [ln for ln in lines if ln.startswith("# run-record ")]
        rec["record"] = json.loads(extra[-1][len("# run-record "):])
    except (IndexError, ValueError):
        rec["result"] = None
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


#: Reported in every run record but gated by no bound.
UNGATED = ("cpu_s_per_query",)


def value(run: dict, name: str) -> float:
    """A metric of one recorded run: from its result, else its record."""
    m = run["result"]["metrics"].get(name)
    return m["value"] if m else run["record"][name]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def report() -> None:
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    with open(RUNS) as f:
        runs = [json.loads(ln) for ln in f if ln.strip()]
    out = ["# Steadiness record", "",
           "Untraced runs of this tree made with `layerbench/steadiness.py`, "
           "interleaved across workloads in time. Spread = (Q3 - Q1) / median "
           "over the runs of one set, with `statistics.quantiles(n=4)`. "
           "Host probe = seconds of a fixed single-thread loop before/after "
           "the timed phase (not part of any metric). Steal = the share of "
           "the machine's CPU time the hypervisor gave to other guests "
           "during the timed phase.", ""]
    for label in dict.fromkeys(r["label"] for r in runs):
        out += [f"## {label}", ""]
        for w in [w["name"] for w in spec["workloads"]]:
            rs = [r for r in runs if r["label"] == label and r["workload"] == w]
            good = [r for r in rs if r["result"] and r["result"]["correct"]]
            if not rs:
                continue
            out += [f"### {w}: {len(good)} of {len(rs)} runs correct", ""]
            names = list(bounds) + list(UNGATED)
            out.append("| started (UTC) | seed | " + " | ".join(names)
                       + " | probe before s | probe after s | steal % | run s |")
            out.append("|" + "---|" * (len(names) + 6))
            for r in rs:
                if not r["result"]:
                    out.append(f"| {r['started']} | {r['seed']} | failed |")
                    continue
                rec = r["record"]
                out.append(
                    f"| {r['started']} | {r['seed']} | "
                    + " | ".join(f"{value(r, n):.4g}" for n in names)
                    + f" | {rec['host_probe_before_s']:.4f}"
                    f" | {rec['host_probe_after_s']:.4f}"
                    f" | {100 * rec['steal_share']:.1f} | {r['elapsed_s']:.1f} |")
            out += ["", "| metric | median | Q1 | Q3 | spread | bound |",
                    "|---|---|---|---|---|---|"]
            for n in names:
                vals = [value(r, n) for r in good]
                if len(vals) >= 2:
                    med, q1, q3, sp = spread(vals)
                    out.append(f"| {n} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                               f"{sp:.3f} | {bounds.get(n, 'not gated')} |")
            probes = [r["record"]["host_probe_before_s"] for r in good] + \
                     [r["record"]["host_probe_after_s"] for r in good]
            if len(probes) >= 2:
                med, q1, q3, sp = spread(probes)
                out.append(f"| host probe | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                           f"{sp:.3f} | - |")
            out.append("")
    out += compare_sets(runs, spec)
    with open(REPORT, "w") as f:
        f.write("\n".join(out))


def compare_sets(runs: list[dict], spec: dict) -> list[str]:
    """Median of each end-to-end metric per set, and how much worse the
    later set's median is than the first set's, against the bound."""
    labels = list(dict.fromkeys(r["label"] for r in runs))
    if len(labels) < 2:
        return []
    first = labels[0]
    out = ["## Set against set", "",
           f"Worse = how much each later set's median is worse than the "
           f"median of \"{first}\", as a share of it (negative: better).", "",
           "| workload | metric | " + " | ".join(labels) + " | worse | bound |",
           "|---|---|" + "---|" * (len(labels) + 2)]
    for w in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            meds = []
            for label in labels:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["label"] == label and r["workload"] == w
                        and r["result"] and r["result"]["correct"]]
                meds.append(statistics.median(vals) if vals else float("nan"))
            sign = 1 if m["better"] == "lower" else -1
            worse = max(sign * (x - meds[0]) / meds[0] for x in meds[1:])
            out.append(f"| {w} | {m['name']} | "
                       + " | ".join(f"{x:.4g}" for x in meds)
                       + f" | {worse:+.3f} | {m['bound']} |")
    return out + [""]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--label", required=True)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--report-only", action="store_true")
    a = ap.parse_args()
    if not a.report_only:
        spec = bench_spec()
        names = a.workloads.split(",") if a.workloads else \
            [w["name"] for w in spec["workloads"]]
        for i in range(a.runs):
            for w in names:
                rec = one_run(w, a.first_seed + i, spec["run_seconds"], a.label)
                with open(RUNS, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                r = rec["result"]
                print(f"{rec['started']} {w} seed {rec['seed']}: "
                      + (json.dumps(r["metrics"]) if r else "FAILED"), flush=True)
    report()
    return 0


if __name__ == "__main__":
    sys.exit(main())
