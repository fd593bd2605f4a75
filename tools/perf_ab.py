#!/usr/bin/env python3
"""Alternating parent/change A/B of one perfbench workload.

    tools/perf_ab.py --parent <checkout> --change <checkout> \\
        --workload {migrate,curate,board} --seeds 1101-1112 \\
        [--seconds 5] [--trace 0] [--claim items_per_s] [--out FILE]

Runs `python3 perfbench/run.py --workload W --seed S --seconds N
--trace T` once per side for every seed, from each checkout's root.
Pair i runs the parent first when i is even and the change first when
i is odd, so neither side always gets the warmer or the quieter slot.

With `--trace 0` it prints (and with `--out` appends to FILE) a section
of one summary line per end-to-end metric, median [quartiles] per
side, the share of pairs the change wins and the parent's IQR, then
one table row per run.  With `--claim M` it ends with the verdict on a
claimed gain in M: the change must win at least 9 of every 10 pairs,
and its median must beat the parent's by more than the parent's IQR.
With `--trace 1` the section lists every per-layer metric, parent ->
change, for each pair.

No run is dropped.  A run that is not correct, has `failed` > 0 or
printed no result line is flagged in the table and in a `flagged:`
line, and any flagged run makes a claim verdict NOT MET.  Metric names,
units and directions come from the change's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """'1101-1112' or '1101,1105,1107' -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def order(i):
    """The sides of pair i in the order they run."""
    return ("parent", "change") if i % 2 == 0 else ("change", "parent")


def parse_result(stdout):
    """The contract line (the last JSON line of a perfbench run's stdout)
    as {correct, attempted, failed, metrics: {name: value}}, or None."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                res = json.loads(line)
            except ValueError:
                return None
            res["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
            return res
    return None


def flag(run):
    """Why a run must be looked at, or '' for a clean run."""
    res = run.get("result")
    if res is None:
        return "no result: " + run.get("error", "?")
    why = []
    if not res.get("correct"):
        why.append("incorrect")
    if res.get("failed", 0) > 0:
        why.append(f"failed={res['failed']}/{res.get('attempted')}")
    return ", ".join(why)


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs, metric, better):
    """One metric over the runs of all pairs.  `runs` holds dicts with
    pair, side and result; a pair counts toward the wins when both of
    its runs have a result (a missing result is never a win)."""
    vals = {"parent": [], "change": []}
    by_pair = {}
    for r in runs:
        if r.get("result") is None:
            by_pair.setdefault(r["pair"], {})[r["side"]] = None
            continue
        v = r["result"]["metrics"][metric]
        vals[r["side"]].append(v)
        by_pair.setdefault(r["pair"], {})[r["side"]] = v
    wins = 0
    for sides in by_pair.values():
        p, c = sides.get("parent"), sides.get("change")
        if p is not None and c is not None and (
                c < p if better == "lower" else c > p):
            wins += 1
    out = {"pairs": len(by_pair), "wins": wins}
    for side, xs in vals.items():
        out[side] = quartiles(sorted(xs)) if xs else None
    if out["parent"] and out["change"]:
        pq1, pmed, pq3 = out["parent"]
        cmed = out["change"][1]
        out["iqr"] = pq3 - pq1
        out["delta"] = cmed / pmed - 1 if pmed else float("nan")
        # how far the change's median beats the parent's, in the
        # metric's better direction
        out["gain"] = (pmed - cmed) if better == "lower" else (cmed - pmed)
    return out


def verdict(summary, runs):
    """(met, text) for a claimed gain in one metric."""
    flagged = [r for r in runs if flag(r)]
    pairs, wins = summary["pairs"], summary["wins"]
    ok_wins = pairs > 0 and wins * 10 >= pairs * 9
    ok_gain = "gain" in summary and summary["gain"] > summary["iqr"]
    met = ok_wins and ok_gain and not flagged
    text = (f"change wins {wins}/{pairs} pairs (needs >= 9/10: "
            f"{'yes' if ok_wins else 'no'}); median gain "
            f"{fmt(summary.get('gain', float('nan')))} vs parent IQR "
            f"{fmt(summary.get('iqr', float('nan')))} ("
            f"{'yes' if ok_gain else 'no'}); flagged runs {len(flagged)}"
            f" -> {'MET' if met else 'NOT MET'}")
    return met, text


def fmt(v):
    """4 significant digits, without an exponent on large figures."""
    return f"{v:.0f}" if abs(v) >= 1e4 else f"{v:.4g}"


def summary_line(name, s):
    if not (s["parent"] and s["change"]):
        return f"{name:<14} no results on one side"
    pq1, pmed, pq3 = s["parent"]
    cq1, cmed, cq3 = s["change"]
    return (f"{name:<14} parent med {fmt(pmed)} [q1 {fmt(pq1)} q3 {fmt(pq3)}]"
            f"  change med {fmt(cmed)} [q1 {fmt(cq1)} q3 {fmt(cq3)}]"
            f"  delta {s['delta'] * 100:+.1f}%  change wins "
            f"{s['wins']}/{s['pairs']}  parentIQR {fmt(s['iqr'])}")


def run_table(runs, names):
    width = max(11, *(len(n) for n in names))
    lines = ["pair seed side   " + " ".join(f"{n:>{width}}" for n in names)]
    for r in runs:
        row = f"{r['pair']:>4} {r['seed']:>4} {r['side']:<6} "
        res = r.get("result")
        if res is not None:
            row += " ".join(f"{fmt(res['metrics'][n]):>{width}}" for n in names)
        why = flag(r)
        lines.append(row + (f"  FLAGGED: {why}" if why else ""))
    return lines


def flagged_line(runs):
    flagged = [r for r in runs if flag(r)]
    return f"flagged: {len(flagged)} of {len(runs)} runs" + "".join(
        f"; pair {r['pair']} {r['side']}: {flag(r)}" for r in flagged)


def section(workload, seeds, runs, spec, claim=None, title=""):
    """The text block for one --trace 0 A/B."""
    names = sorted(m["name"] for m in spec["end_to_end"])
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    pairs = len(seeds)
    head = f"== {workload}: {pairs} pairs, seeds {seed_text(seeds)}"
    if title:
        head += f" ({title})"
    lines = [head]
    sums = {n: summarize(runs, n, better[n]) for n in names}
    lines += [summary_line(n, sums[n]) for n in names]
    lines.append(flagged_line(runs))
    if claim:
        lines.append(f"claim {claim}: " + verdict(sums[claim], runs)[1])
    return lines + run_table(runs, names)


def trace_section(workload, seeds, runs, spec):
    """The text block for --trace 1 pairs: each layer, parent -> change."""
    lines = [f"== {workload}, traced pairs (--trace 1), seeds "
             f"{seed_text(seeds)}; per pair: parent -> change",
             flagged_line(runs)]
    by_pair = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r.get("result")
    for m in spec["per_layer"]:
        cells = []
        for p in sorted(by_pair):
            sides = by_pair[p]
            cells.append(" -> ".join(
                fmt(sides[s]["metrics"][m["name"]]) if sides.get(s) else "-"
                for s in ("parent", "change")))
        lines.append(f"{m['name']:<26} " + " | ".join(
            f"{c:>20}" for c in cells) + f"  {m['unit']}")
    return lines


def seed_text(seeds):
    contiguous = seeds == list(range(seeds[0], seeds[0] + len(seeds)))
    return (f"{seeds[0]}-{seeds[-1]}" if contiguous and len(seeds) > 1
            else ",".join(map(str, seeds)))


def perfbench(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    res = parse_result(p.stdout)
    run = {"result": res}
    if res is None:
        tail = (p.stderr.strip().splitlines() or ["(no stderr)"])[-1]
        run["error"] = f"exit {p.returncode}: {tail[:200]}"
    return run


def revision(checkout):
    def git(*args):
        return subprocess.run(["git", "-C", checkout, *args],
                              capture_output=True, text=True).stdout.strip()
    rev = git("rev-parse", "--short", "HEAD") or "?"
    return rev + ("+uncommitted" if git("status", "--porcelain", "--",
                                        "src", "perfbench") else "")


def header(parent, change, seconds, trace):
    mem = "?"
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])
        mem = f"{kb / 1024 / 1024:.0f} GiB RAM"
    except (OSError, ValueError, IndexError):
        pass
    return [
        f"perfbench A/B: parent {revision(parent)} against change "
        f"{revision(change)}.",
        f"{os.cpu_count()}-core host, {mem}. Each run: `python3 perfbench/run.py"
        f" --workload W --seed S --seconds {seconds} --trace {trace}` from a "
        "checkout of that side; pairs alternate which side runs first.",
        "Summary columns: median [quartiles]; 'wins' counts pairs where the "
        "change is better; 'parentIQR' is q3 - q1 of the parent's runs.",
        "",
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout root")
    ap.add_argument("--change", required=True, help="change checkout root")
    ap.add_argument("--workload", required=True,
                    choices=("migrate", "curate", "board"))
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="'A-B' or a comma list; one pair per seed")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--claim", help="end-to-end metric with a claimed gain")
    ap.add_argument("--title", default="", help="note for the section head")
    ap.add_argument("--out", help="append the section to this file")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    if a.claim and a.claim not in better:
        ap.error(f"--claim {a.claim} is not an end-to-end metric")
    checkouts = {"parent": a.parent, "change": a.change}
    runs = []
    for i, seed in enumerate(a.seeds):
        for side in order(i):
            run = perfbench(checkouts[side], a.workload, seed, a.seconds, a.trace)
            run.update(pair=i, seed=seed, side=side)
            runs.append(run)
            m = run["result"]["metrics"] if run["result"] else {}
            print(f"[perf_ab] pair {i} seed {seed} {side}: " + (
                " ".join(f"{k}={fmt(v)}" for k, v in sorted(m.items())
                         if a.trace == 0) or "done")
                + (f"  FLAGGED: {flag(run)}" if flag(run) else ""),
                file=sys.stderr, flush=True)
    lines = (trace_section(a.workload, a.seeds, runs, spec) if a.trace
             else section(a.workload, a.seeds, runs, spec, a.claim, a.title))
    text = "\n".join(lines) + "\n"
    print(text)
    if a.out:
        fresh = not os.path.exists(a.out)
        with open(a.out, "a") as f:
            if fresh:
                f.write("\n".join(header(a.parent, a.change, a.seconds,
                                         a.trace)) + "\n")
            else:
                f.write("\n")
            f.write(text)
    if a.claim:
        met, _ = verdict(summarize(runs, a.claim, better[a.claim]), runs)
        sys.exit(0 if met else 1)


if __name__ == "__main__":
    main()
