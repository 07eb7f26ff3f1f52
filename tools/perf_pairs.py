#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

    python3 tools/perf_pairs.py --parent ../graft-parent --change . \\
        --workload curate --seeds 101-110 [--seconds 10] [--log pairs.jsonl]
    python3 tools/perf_pairs.py --report pairs.jsonl

Runs `python3 perfbench/run.py --workload W --seed S --seconds X --trace 0`
once in each checkout per seed, alternating which side runs first (the
first seed runs the parent first). Each run's end-to-end metrics are
appended to the --log file as one JSON line, so an interrupted session can
still be reported. The summary gives, per metric, each side's median and
quartiles, the change's wins (ties count for neither side) and whether the
gain rule holds: the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's interquartile range. The
direction of "better" comes from BENCHMARK.json. Only the checkouts'
benchmark is run; nothing under perfbench/ is written by this script.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"exit": p.returncode}
    if p.returncode == 0 and lines:
        last = json.loads(lines[-1])
        rec.update(correct=last["correct"], failed=last["failed"],
                   metrics={k: v["value"] for k, v in last["metrics"].items()})
        for l in lines:
            if l.startswith("# result_sha:"):
                rec["result_sha"] = l.split(":", 1)[1].strip()
    else:
        rec["stderr_tail"] = p.stderr[-800:]
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(records, bench):
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    pairs = {}
    for r in records:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    done = [p for s, p in sorted(pairs.items())
            if all(p.get(k, {}).get("metrics") for k in ("parent", "change"))]
    failed = [r for r in records if not r.get("metrics") or not r.get("correct")]
    print(f"pairs complete: {len(done)}; failed or incorrect runs: {len(failed)}")
    for r in failed:
        print(f"  seed {r['seed']} {r['side']}: exit {r['exit']}")
    shas = {(r["seed"], r.get("result_sha")) for r in records if r.get("result_sha")}
    diff = sorted({s for s, _ in shas if sum(1 for t, _ in shas if t == s) > 1})
    print("result hashes equal within every pair" if not diff
          else f"result hashes differ on seeds {diff}")
    if not done:
        return
    for name in sorted(done[0]["parent"]["metrics"]):
        lower = better.get(name, "lower") == "lower"
        par = [p["parent"]["metrics"][name] for p in done]
        chg = [p["change"]["metrics"][name] for p in done]
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        losses = sum(1 for a, b in zip(par, chg) if (b > a if lower else b < a))
        pq1, pm, pq3 = quartiles(par)
        cq1, cm, cq3 = quartiles(chg)
        gain = wins >= 0.9 * len(done) and \
            ((pm - cm) if lower else (cm - pm)) > (pq3 - pq1)
        print(f"\n{name} ({'lower' if lower else 'higher'} is better)")
        print(f"  parent median {pm:.4g}  quartiles {pq1:.4g} .. {pq3:.4g}")
        print(f"  change median {cm:.4g}  quartiles {cq1:.4g} .. {cq3:.4g}")
        print(f"  change/parent median {cm / pm:.3f}; change wins {wins}, "
              f"loses {losses} of {len(done)}; gain rule "
              f"{'holds' if gain else 'does not hold'}")
        print("  seed   parent   change")
        for s, p in sorted(pairs.items()):
            if p in done:
                print(f"  {s:<5}  {p['parent']['metrics'][name]:<7.4g}  "
                      f"{p['change']['metrics'][name]:.4g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 101-110 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--log", default="perf_pairs.jsonl",
                    help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", help="summarize an existing log and exit")
    a = ap.parse_args()
    if a.report:
        recs = [json.loads(l) for l in open(a.report) if l.strip()]
        root = Path(__file__).resolve().parent.parent
        report(recs, json.loads((root / "BENCHMARK.json").read_text()))
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    records = []
    with open(a.log, "a") as log:
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = run_one(sides[side], a.workload, seed, a.seconds)
                rec.update(seed=seed, side=side, workload=a.workload, order=i % 2)
                records.append(rec)
                log.write(json.dumps(rec) + "\n")
                log.flush()
                v = rec.get("metrics", {})
                print(f"seed {seed} {side}: " + (", ".join(
                    f"{k}={x:.4g}" for k, x in sorted(v.items())) or
                    f"failed (exit {rec['exit']})"), flush=True)
    report(records, json.loads((sides["parent"] / "BENCHMARK.json").read_text()))


if __name__ == "__main__":
    main()
