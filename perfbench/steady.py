"""Steadiness tool.

Run a set of seeds and keep the result lines:

    python3 perfbench/steady.py run --workload kg_build --seeds 1-10 --out a.jsonl

Report each end-to-end metric's median, quartiles and spread per
workload (spread = (q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them), and whether the
spread stays within the metric's bound from BENCHMARK.json — every
metric, ``setup_s`` included:

    python3 perfbench/steady.py report a.jsonl

Given a second set, also report whether the two medians agree within
the bound: ``|b - a| / min(a, b)``, in either direction, since both
sets run the same code:

    python3 perfbench/steady.py report a.jsonl b.jsonl

Traced runs (``run --trace 1``) in a set add a tracing-overhead line:
their own end-to-end figures against the set's untraced medians.

Exit status is 1 when any check fails."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(args, spec: dict) -> int:
    with open(args.out, "a") as out:
        for seed in parse_seeds(args.seeds):
            cmd = spec["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            record = next(
                (json.loads(x[len("run record: "):]) for x in lines if x.startswith("run record: ")),
                None,
            )
            out.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                  "returncode": proc.returncode, "result": result,
                                  "record": record}) + "\n")
            out.flush()
            brief = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
            ok = result is not None and result["correct"]
            print(f"{args.workload} seed {seed}: rc={proc.returncode} correct={ok} {brief}",
                  flush=True)
            if result is None:
                sys.stderr.write(proc.stderr[-3000:])
    return 0


def summarize(path: str, spec: dict) -> dict:
    """workload → metric → {median, q1, q3, spread, n}; traced runs
    contribute their end-to-end numbers under ``_traced``."""
    values: dict[str, dict[str, list[float]]] = {}
    traced: dict[str, dict[str, list[float]]] = {}
    bad: dict[str, int] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            res = rec["result"]
            if rec.get("trace"):
                if res is not None and rec.get("record"):
                    for k, v in rec["record"].get("e2e_traced", {}).items():
                        traced.setdefault(rec["workload"], {}).setdefault(k, []).append(v)
                continue
            if res is None or not res["correct"]:
                bad[rec["workload"]] = bad.get(rec["workload"], 0) + 1
                continue
            for m in spec["end_to_end"]:
                values.setdefault(rec["workload"], {}).setdefault(m["name"], []).append(
                    res["metrics"][m["name"]]["value"]
                )
    out: dict = {}
    for wl, metrics in values.items():
        for name, xs in metrics.items():
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            out.setdefault(wl, {})[name] = {
                "n": len(xs), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            }
        out[wl]["_failed_runs"] = bad.get(wl, 0)
        out[wl]["_traced"] = {k: statistics.median(v) for k, v in traced.get(wl, {}).items()}
    return out


def cmd_report(args, spec: dict) -> int:
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = [summarize(p, spec) for p in args.sets]
    ok = True
    for wl in sorted(sets[0]):
        print(f"== {wl}")
        for i, s in enumerate(sets):
            if s.get(wl, {}).get("_failed_runs"):
                ok = False
                print(f"  set {i + 1}: {s[wl]['_failed_runs']} failed or incorrect runs")
        for name, m in bounds.items():
            row = []
            for s in sets:
                st = s.get(wl, {}).get(name)
                if st is None:
                    row.append("missing")
                    ok = False
                    continue
                steady = st["spread"] <= m["bound"]
                ok &= steady
                row.append(
                    f"n={st['n']} median={st['median']:.4g} q1={st['q1']:.4g} q3={st['q3']:.4g}"
                    f" spread={st['spread']:.3f}{'' if steady else ' (> bound)'}"
                )
            line = f"  {name} [{m['unit']}, {m['better']}, bound {m['bound']}]: " + " | ".join(row)
            if len(sets) == 2 and all(s.get(wl, {}).get(name) for s in sets):
                a, b = sets[0][wl][name]["median"], sets[1][wl][name]["median"]
                gap = abs(b - a) / min(a, b)
                agree = gap <= m["bound"]
                ok &= agree
                line += f" | medians differ by {gap:.3f} ({'ok' if agree else 'EXCEEDS BOUND'})"
            print(line)
        for i, s in enumerate(sets):
            tr = s.get(wl, {}).get("_traced", {})
            for name, v in tr.items():
                base = s[wl].get(name, {}).get("median")
                if base:
                    print(f"  tracing overhead, set {i + 1}, {name}: traced median {v:.4g}"
                          f" vs untraced {base:.4g} ({(v - base) / base:+.1%})")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args()
    spec = load_spec(os.getcwd())
    return cmd_run(args, spec) if args.cmd == "run" else cmd_report(args, spec)


if __name__ == "__main__":
    sys.exit(main())
