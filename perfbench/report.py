"""Repeated benchmark runs -> medians, quartiles and the per-layer table.

    python3 perfbench/report.py --seeds 1-10 [--workloads suite,resume] \
        [--trace-seeds 1] [--out perfbench/RESULTS.md]

Runs `perfbench/run.py` once per (workload, seed) with --trace 0, one after
the other (never two Spark runs at once), then once per trace seed with
--trace 1. For every end-to-end metric it prints the median, the quartiles
(statistics.quantiles, n=4) and their spread as a share of the median; for
the traced runs it prints each span's eight fields per op, and the tracing
overhead as traced minus untraced docs_per_s. Run from the repository root.
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
EXTRA = ("op_fail_ratio", "out_bytes_per_doc", "host_steal_s")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run.py process; its JSON line plus the `name value unit` lines
    and the span table printed before it, and the process's wall time."""
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t
    out["extra"], out["spans"] = {}, {}
    header = None
    for line in lines[:-1]:
        parts = line.split()
        if parts[0] == "span":
            header = parts[1:]
        elif header and len(parts) == len(header) + 1:
            out["spans"][parts[0]] = dict(zip(header, map(float, parts[1:])))
        elif parts[0] in EXTRA:
            out["extra"][parts[0]] = float(parts[1])
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    if len(values) < 2:  # quantiles needs two points
        return values[0], values[0], values[0], 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None,
                    help="comma list; default: BENCHMARK.json's workloads")
    ap.add_argument("--trace-seeds", default="")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = bench["run_seconds"]

    md = [f"Runs: `run.py --seconds {secs}`, seeds {a.seeds}, "
          f"{len(os.sched_getaffinity(0))} CPUs.", ""]
    untraced: dict[str, float] = {}
    for w in names:
        runs = [run(w, s, secs, 0) for s in seeds(a.seeds)]
        for r in runs:
            print(w, json.dumps(r), file=sys.stderr, flush=True)
        md += [f"### {w}", "",
               f"{sum(r['attempted'] for r in runs)} ops attempted, "
               f"{sum(r['failed'] for r in runs)} failed, over {len(runs)} "
               "runs.", "",
               "| metric | unit | median | q1 | q3 | spread | bound |",
               "|---|---|---|---|---|---|---|"]
        for name, unit in [(k, v["unit"]) for k, v in
                           runs[0]["metrics"].items()]:
            med, q1, q3, sp = spread([r["metrics"][name]["value"]
                                      for r in runs])
            md.append(f"| {name} | {unit} | {med:.6g} | {q1:.6g} | "
                      f"{q3:.6g} | {sp:.3f} | {bounds.get(name, '')} |")
        for name in EXTRA:
            vals = [r["extra"][name] for r in runs if name in r["extra"]]
            if vals:
                unit = {"op_fail_ratio": "ratio",
                        "host_steal_s": "s"}.get(name, "bytes")
                md.append(f"| {name} | {unit}"
                          f" | {statistics.median(vals):.6g} | "
                          f"{min(vals):.6g} (min) | {max(vals):.6g} (max) "
                          "| | |")
        walls = [r["wall_s"] for r in runs]
        md.append(f"| run wall time | s | {statistics.median(walls):.4g} | "
                  f"{min(walls):.4g} (min) | {max(walls):.4g} (max) | | |")
        untraced[w] = statistics.median(
            r["metrics"]["docs_per_s"]["value"] for r in runs)
        md.append("")

    for s in seeds(a.trace_seeds) if a.trace_seeds else []:
        traced = {w: run(w, s, secs, 1) for w in names}
        md += [f"Traced run wall time: " + ", ".join(
            f"{w} {traced[w]['wall_s']:.4g} s" for w in names) + ".", ""]
        md += [f"### Per-layer spans, traced run, seed {s} (per op)", "",
               "| span | " + " | ".join(
                   f"{w} {f}" for w in names for f in ("wall_s", "jobs",
                                                        "cpu_s")) + " |",
               "|---|" + "---|" * (3 * len(names))]
        for span in traced[names[0]]["spans"]:
            md.append(f"| {span} | " + " | ".join(
                f"{traced[w]['spans'][span][f]:.4g}" for w in names
                for f in ("wall_s", "jobs", "cpu_s")) + " |")
        md += ["", "| span | workload | " + " | ".join(
            ("tasks", "gc_s", "shuffle_write_bytes", "spill_bytes",
             "output_bytes")) + " |", "|---|---|---|---|---|---|---|"]
        for span in traced[names[0]]["spans"]:
            for w in names:
                row = traced[w]["spans"][span]
                if row["jobs"]:
                    md.append(f"| {span} | {w} | " + " | ".join(
                        f"{row[f]:.6g}" for f in (
                            "tasks", "gc_s", "shuffle_write_bytes",
                            "spill_bytes", "output_bytes")) + " |")
        md += ["", "| count | " + " | ".join(names) + " |",
               "|---|" + "---|" * len(names)]
        for name in traced[names[0]]["metrics"]:
            if "." in name and name.rsplit(".", 1)[0] not in \
                    traced[names[0]]["spans"]:
                md.append(f"| {name} | " + " | ".join(
                    f"{traced[w]['metrics'][name]['value']:.6g}"
                    for w in names) + " |")
        md += ["", "Tracing overhead (traced minus untraced docs_per_s, "
               "untraced = median above):", ""]
        for w in names:
            t = traced[w]["metrics"]["trace.docs_per_s"]["value"]
            md.append(f"- {w}: {t:.6g} - {untraced.get(w, float('nan')):.6g}"
                      f" = {t - untraced.get(w, float('nan')):.6g} docs/s")
        md.append("")

    text = "\n".join(md)
    print(text)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
