#!/usr/bin/env python3
"""A/B two checkouts with the repository benchmark, in alternating pairs.

Usage (from any directory):

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload bi_mix --pairs 10 [--seed0 11] [--seconds 5] [--trace 0] \\
        [--record ab.jsonl]
    python3 tools/perfbench_ab.py --from ab.jsonl     # re-print a table

Each pair runs `perfbench/run.py` once in each checkout with the same
seed (seed0 + pair index), and pairs are matched by that seed, so
batches appended to one `--record` with different `--seed0` values
combine in `--from`; the side that goes first alternates from
pair to pair, so a box that drifts slower or faster during the session
does not favour one side. Run nothing else on the box meanwhile. Every
run's result line is appended to `--record` as it lands.

For every metric of the workload (`BENCHMARK.json`, end-to-end metrics
for `--trace 0`, per-layer ones for `--trace 1`) the table shows both
medians, the change against the parent, the parent's interquartile
range (`statistics.quantiles(n=4)`, as perfbench/README.md computes
spreads) and in how many pairs the change was better. The verdict
column applies perfbench/README.md's rule for calling a change a win —
better in at least nine of ten pairs, and the medians apart by more
than the parent's IQR, over at least ten pairs — and, for end-to-end
metrics, flags a change whose median is worse than the parent's by
more than the metric's bound.
"""
import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1200  # a first run in a checkout builds it first


def stop(signum, _frame):
    # an exception, not the default exit: subprocess.run then kills the
    # benchmark it is waiting for, and waits until it has ended
    raise SystemExit(f"perfbench_ab: stopped by signal {signum}")


def run_once(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"perfbench_ab: run failed in {checkout} "
                         f"(seed {seed}, exit {r.returncode})")
    res = json.loads(lines[-1])
    return {"correct": res["correct"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def table(records, spec, trace):
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    # a pair is the two sides' runs on one seed: keyed by seed, batches
    # appended to one record (each starting its pair index at 0, with
    # --seed0 moved on) keep all their pairs
    pairs = {}
    for r in records:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    done = [p for p in sorted(pairs) if len(pairs[p]) == 2]
    n = len(done)
    need = math.ceil(0.9 * n)
    rows = [("metric", "parent median", "change median", "delta",
             "parent IQR", "change better", "verdict")]
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        par = [pairs[p]["parent"]["metrics"][name] for p in done]
        chg = [pairs[p]["change"]["metrics"][name] for p in done]
        pm, cm, spread = statistics.median(par), statistics.median(chg), iqr(par)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        delta = (cm - pm) / pm if pm else 0.0
        worse = delta if lower else -delta
        if wins >= need and abs(cm - pm) > spread and worse < 0:
            verdict = "gain" if n >= 10 else f"better (only {n} pairs)"
        elif "bound" in m and worse > m["bound"]:
            verdict = f"WORSE than bound {m['bound']}"
        elif "bound" in m:
            verdict = "within bound"
        else:
            verdict = "flat"
        rows.append((name, f"{pm:.4g}", f"{cm:.4g}", f"{100 * delta:+.1f} %",
                     f"{spread:.3g}", f"{wins}/{n}", verdict))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    out = ["| " + " | ".join(c.ljust(w) for c, w in zip(r, widths)) + " |"
           for r in rows]
    out.insert(1, "| " + " | ".join("-" * w for w in widths) + " |")
    bad = [f"{r['side']} seed {r['seed']}"
           for r in records if not r["correct"]]
    out.append(f"{n} pairs; runs not correct: {bad or 'none'}")
    return "\n".join(out)


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append every run's result here (JSON lines)")
    ap.add_argument("--from", dest="from_file",
                    help="print the table of a recorded A/B instead of running one")
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.from_file:
        with open(args.from_file) as f:
            records = [json.loads(line) for line in f if line.strip()]
        print(table(records, spec, records[0]["trace"]))
        return
    if not (args.parent and args.change and args.workload):
        ap.error("--parent, --change and --workload are required to run an A/B")
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    records = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(checkouts[side], args, seed)
            r.update(pair=i, side=side, seed=seed, workload=args.workload,
                     trace=args.trace)
            records.append(r)
            if args.record:
                with open(args.record, "a") as f:
                    f.write(json.dumps(r) + "\n")
            print(f"pair {i} seed {seed} {side}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in r["metrics"].items()),
                file=sys.stderr, flush=True)
    print(table(records, spec, args.trace))


if __name__ == "__main__":
    main()
