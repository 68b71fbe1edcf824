"""Steadiness check: run the benchmark twice on the same commit and compare.

    python3 e2ebench/steady.py --runs 10

For each set, runs every workload ``--runs`` times with a different seed
(untraced), then reports each (workload, metric) median, quartiles and
sample count, and whether the two sets agree within BENCHMARK.json's
bounds: the spread (interquartile distance over median) of every metric
within its bound, and the two sets' medians apart by no more than the
bound, in either direction. Run lines are kept under
``.e2ebench_out/steady/``. Exit code 0 when everything agrees.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(spec: dict, workloads: list[str], runs: int, seed0: int, out: str) -> None:
    for i in range(runs):
        for wl in workloads:
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed0 + i),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            with open(os.path.join(out, f"{wl}.jsonl"), "a") as f:
                f.write(json.dumps({"seed": seed0 + i, "code": proc.returncode,
                                    "result": json.loads(line) if line else None}) + "\n")
            print(f"{os.path.basename(out)} {wl} seed={seed0 + i} exit={proc.returncode}",
                  file=sys.stderr, flush=True)


def read_set(out: str, wl: str) -> list[dict]:
    with open(os.path.join(out, f"{wl}.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(spec: dict, sets: list[dict[str, list[dict]]]) -> bool:
    ok = True
    for wl in sets[0]:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            summaries = []
            for runs in sets:
                good = [r["result"] for r in runs[wl] if r["result"] and r["result"]["correct"]]
                if len(good) < len(runs[wl]):
                    ok = False
                summaries.append(stats.summarize(
                    [r["metrics"][name]["value"] for r in good]))
            line = [f"{wl:<10} {name:<12}"]
            for s in summaries:
                steady = s["spread"] <= bound
                ok &= steady
                line.append(f"n={s['n']} med={s['median']:.4g} q1={s['q1']:.4g} "
                            f"q3={s['q3']:.4g} spread={s['spread']:.3f}"
                            f"{'' if steady else ' (>bound)'}")
            a, b = summaries[0]["median"], summaries[1]["median"]
            drift = (b - a) / a
            agree = abs(drift) <= bound
            ok &= agree
            line.append(f"drift={drift:+.3f} bound={bound} "
                        f"{'agree' if agree else 'DISAGREE'}")
            print(" | ".join(line))
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    root = os.path.join(REPO, ".e2ebench_out", "steady")
    dirs = [os.path.join(root, f"set{k}") for k in (1, 2)]
    for k, out in enumerate(dirs):
        os.makedirs(out, exist_ok=True)
        for wl in workloads:
            open(os.path.join(out, f"{wl}.jsonl"), "w").close()
        run_set(spec, workloads, args.runs, 1000 * (k + 1), out)
    sets = [{wl: read_set(out, wl) for wl in workloads} for out in dirs]
    ok = compare(spec, sets)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
