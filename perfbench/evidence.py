"""Evidence runs for the benchmark: steadiness, layer table, size sweep.

    python3 perfbench/evidence.py steadiness
    python3 perfbench/evidence.py layers
    python3 perfbench/evidence.py sizes

Every run measures for ``run_seconds`` from ``BENCHMARK.json``, as the
gated runs do, and steadiness reports its ``end_to_end`` metrics.

``steadiness`` runs two separate sets of five runs of every workload,
alternating set A and set B run by run, each run a fresh process with
its own seed.  It writes ``perfbench/results/steadiness.json``: per
workload and end-to-end metric, each set's median and quartiles, the
spread of all runs (quartile distance over median, the figure a bound
must cover) and the gap between the two sets' medians.  It also records
each run's wall time, which sets how many runs fit in a time budget.

``layers`` makes one traced run per workload (seed 1) and writes
``perfbench/results/layers_<workload>.json``: every per-layer metric,
each layer's share of the traced round, and each layer's share of the
cold round that timed runs measure, beside the cold-start gap that no
layer accounts for.  ``perfbench/results/PREDICTIONS.md`` says which
end-to-end metric each layer metric should move.

``sizes`` makes the same traced run at the sizes in ``SIZES``, the
workload's class attributes set before the run starts, and writes
``perfbench/results/sizes.json``: per size the run's wall time, the
rounds and the layer shares.  It is the evidence for the sizes the
workloads use.

Run from the root of a checkout, like ``run.py``.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
RESULTS = HERE / "results"
sys.path.insert(0, str(HERE))

from run import WORKLOAD_NAMES  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SECONDS = BENCHMARK["run_seconds"]
END_TO_END = [m["name"] for m in BENCHMARK["end_to_end"]]
RUNS = 5  # per set
LAYER_SEED = 1
MODES = ("steadiness", "layers", "sizes")
# the workload class attributes each ``sizes`` run sets
SIZES = {
    "drain": [{"n": 5_000}, {"n": 20_000}, {"n": 50_000}],
    "recrawl": [
        {"aged": 30_000, "listing": 3_000, "new": 60},
        {"aged": 300_000, "listing": 30_000, "new": 600},
        {"aged": 1_000_000, "listing": 100_000, "new": 2_000},
    ],
}
# run.py with the workload's sizes set first: argv is the sizes as JSON,
# then run.py's own arguments
SIZED_RUN = """
import json, sys
sys.path.insert(0, "perfbench")
import run, workloads
for k, v in json.loads(sys.argv[1]).items():
    setattr(workloads.WORKLOADS[sys.argv[3]], k, v)
sys.exit(run.main(sys.argv[2:]))
"""
# layer wall times that sit inside the round span
ROUND_LAYERS = ("seen.wall_s", "politeness.wall_s", "fetch.wall_s",
                "catalog.commit_s", "seen.filter_update_s")


def run_once(workload: str, seed: int, trace: int,
             sizes: dict | None = None) -> dict:
    program = [str(HERE / "run.py")]
    if sizes is not None:
        program = ["-c", SIZED_RUN, json.dumps(sizes)]
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, *program, "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
        capture_output=True, text=True, cwd=HERE.parent,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           + proc.stderr[-4000:])
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["run_wall_s"] = wall
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "values": values}


def steadiness() -> dict:
    sets: dict[str, dict[str, list[dict]]] = {
        w: {"A": [], "B": []} for w in WORKLOAD_NAMES}
    for i in range(RUNS):
        for name, base in (("A", 100), ("B", 200)):
            for w in WORKLOAD_NAMES:
                r = run_once(w, base + i, 0)
                sets[w][name].append(r)
                print(f"{w} set {name} seed {base + i}: "
                      f"{r['run_wall_s']:.1f}s correct={r['correct']}",
                      file=sys.stderr, flush=True)
    report: dict = {"runs_per_set": RUNS, "seconds": SECONDS, "workloads": {}}
    for w, by_set in sets.items():
        everything = by_set["A"] + by_set["B"]
        wr: dict = {
            "all_correct": all(r["correct"] for r in everything),
            "failed": sum(r["failed"] for r in everything),
            "run_wall_s": summary([r["run_wall_s"] for r in everything]),
            "metrics": {},
        }
        for m in END_TO_END:
            a = summary([r["metrics"][m]["value"] for r in by_set["A"]])
            b = summary([r["metrics"][m]["value"] for r in by_set["B"]])
            all_v = summary([r["metrics"][m]["value"] for r in everything])
            wr["metrics"][m] = {
                "unit": everything[0]["metrics"][m]["unit"],
                "A": a, "B": b,
                "spread_all": (all_v["q3"] - all_v["q1"]) / all_v["median"],
                "gap_between_sets": abs(a["median"] - b["median"])
                / min(a["median"], b["median"]),
            }
        report["workloads"][w] = wr
    return report


def layer_doc(workload: str, r: dict) -> dict:
    """A traced run's metrics with each round layer's share of the round."""
    m = {k: v["value"] for k, v in r["metrics"].items()}
    traced, warm, cold = m["round.wall_s"], m["round.warm_s"], m["round.cold_s"]
    return {
        "workload": workload, "seed": LAYER_SEED, "seconds": SECONDS,
        "correct": r["correct"], "failed": r["failed"],
        "run_wall_s": r["run_wall_s"],
        "metrics": r["metrics"],
        "share_of_traced_round": {k: m[k] / traced for k in ROUND_LAYERS},
        # a layer's traced time scaled to an untraced warm round, over
        # the cold round a timed run measures; the cold-start gap (cold
        # minus warm round) belongs to no layer
        "share_of_cold_round": {
            **{k: m[k] * warm / traced / cold for k in ROUND_LAYERS},
            "cold_start_gap": (cold - warm) / cold,
        },
    }


def layers() -> None:
    for w in WORKLOAD_NAMES:
        doc = layer_doc(w, run_once(w, LAYER_SEED, 1))
        path = RESULTS / f"layers_{w}.json"
        path.write_text(json.dumps(doc, indent=1) + "\n")
        print(f"wrote {path}", file=sys.stderr)


def sizes() -> list[dict]:
    out = []
    for w, options in SIZES.items():
        for sz in options:
            doc = layer_doc(w, run_once(w, LAYER_SEED, 1, sz))
            out.append({"sizes": sz, **doc})
            print(f"{w} {sz}: {doc['run_wall_s']:.1f}s", file=sys.stderr,
                  flush=True)
    return out


def main() -> int:
    if len(sys.argv) != 2 or sys.argv[1] not in MODES:
        print(f"usage: evidence.py {'|'.join(MODES)}", file=sys.stderr)
        return 2
    RESULTS.mkdir(exist_ok=True)
    if sys.argv[1] == "steadiness":
        path = RESULTS / "steadiness.json"
        path.write_text(json.dumps(steadiness(), indent=1) + "\n")
        print(f"wrote {path}", file=sys.stderr)
    elif sys.argv[1] == "layers":
        layers()
    else:
        path = RESULTS / "sizes.json"
        path.write_text(json.dumps(sizes(), indent=1) + "\n")
        print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
