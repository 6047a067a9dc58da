#!/usr/bin/env python3
"""Run every workload untraced and traced on one seed and write the
per-layer numbers, the tracing overhead and the per-request rows to
perfbench/results/traced_seed<N>.{json,md}.

    python3 perfbench/trace_report.py --seed 1 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    report, md = {}, [f"# Traced run, seed {a.seed}, {a.seconds:g} s per run", ""]
    for w in ("lookup", "pipeline"):
        plain, traced = run(w, a.seed, a.seconds, 0), run(w, a.seed, a.seconds, 1)
        overhead = {k: traced["end_to_end"][k] / v - 1 for k, v in plain["end_to_end"].items()
                    if v}
        report[w] = {
            "untraced": plain["end_to_end"], "traced": traced["end_to_end"],
            "tracing_overhead": overhead, "per_layer": traced["per_layer"],
            "per_layer_by_group": traced["per_layer_by_group"],
            "failed": plain["failed"], "attempted": plain["attempted"],
            "failures": plain["failures"], "stale_frac": plain["stale_frac"],
            "stale_answers": plain["stale_answers"], "rows": traced["rows"],
            "host": {k: plain[k] for k in ("nproc", "heap_max_mb", "probe_before",
                                            "probe_after", "source_digest")},
        }
        md += [f"## {w}", "",
               f"failed {plain['failed']} of {plain['attempted']}"
               f"{' (' + ', '.join(sorted({f[0] for f in plain['failures']})) + ')' if plain['failures'] else ''};"
               f" stale_frac {plain['stale_frac']:.3f} ({', '.join(plain['stale_answers']) or 'none'})",
               "", "| end-to-end | untraced | traced | overhead |", "|---|---|---|---|"]
        md += [f"| {k} | {v:.4g} | {traced['end_to_end'][k]:.4g} | {overhead.get(k, 0):+.1%} |"
               for k, v in plain["end_to_end"].items()]
        groups = sorted(traced["per_layer_by_group"])
        md += ["", "| per-layer (mean per operation) | all | " + " | ".join(groups) + " |",
               "|---|---|" + "---|" * len(groups)]
        by_group = traced["per_layer_by_group"]
        md += [f"| {k} ({v['unit']}) | {v['value']:.4g} | " +
               " | ".join(f"{by_group[g][k]:.4g}" if k in by_group[g] else "—"
                          for g in groups) + " |"
               for k, v in traced["per_layer"].items()]
        md.append("")
    out = os.path.join(HERE, "results", f"traced_seed{a.seed}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".json", "w") as f:
        json.dump(report, f, indent=1)
    with open(out + ".md", "w") as f:
        f.write("\n".join(md))


if __name__ == "__main__":
    main()
