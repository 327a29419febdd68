"""Spans for the traced run, and the per-layer metrics built from them.

A span times one call into a layer's public function and labels the Spark
jobs the call starts with `setJobGroup(<span>)`; `eventlog.group_totals`
then gives each span its jobs, tasks, CPU, GC, shuffle, spill and output
bytes. A span stays the current job group until the next span or `idle()`,
so jobs the program starts between two wrapped calls land in the span that
set them up.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from eventlog import FIELDS

ALL = ("wall_s",) + FIELDS
UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s",
         "gc_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "output_bytes": "bytes"}

# layer spans -> the fields kept in BENCHMARK.json's per-layer metrics (the
# full eight-field table is printed for every span)
_WRITE = ("wall_s", "jobs", "cpu_s", "output_bytes")
_SHUFFLE = ("wall_s", "jobs", "tasks", "cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes")
SPANS = {
    "session.get_spark": ("wall_s",),
    "functions.extract_text": ("wall_s", "jobs", "tasks", "cpu_s", "gc_s"),
    "model.build": ("wall_s", "jobs"),
    "engine.validate": ALL,
    "engine.verdicts": ("wall_s", "jobs", "tasks", "cpu_s", "gc_s"),
    "engine.violations": ("wall_s", "jobs", "cpu_s"),
    "engine.stats": ("wall_s", "jobs", "cpu_s"),
    "engine.hists": ("wall_s", "jobs", "cpu_s"),
    "uniqueness.gate_broadcast": ("wall_s", "jobs", "cpu_s",
                                  "shuffle_write_bytes"),
    "stats.column_stats": ("wall_s", "jobs", "cpu_s"),
    "stats.length_histograms": ("wall_s", "jobs", "cpu_s"),
    "drift.kl_divergence": ("wall_s", "jobs", "cpu_s"),
    "manifest.reconcile": ("wall_s", "jobs"),
    "manifest.completed_files": ("wall_s", "jobs", "cpu_s"),
    "manifest.write.verdicts": _WRITE,
    "manifest.write.violations": _WRITE,
    "manifest.write.stats": _WRITE,
    "manifest.write.hists": _WRITE,
    "manifest.commit": _WRITE,
    "manifest.input_files_df": ("wall_s", "jobs", "cpu_s"),
    "dedup.exact_drop_list": _SHUFFLE,
    "dedup.minhash_candidates": _SHUFFLE,
    "dedup.ngram_jaccard": _SHUFFLE,
    "dedup.connected_components": _SHUFFLE,
    "dedup.apply_drops": ("wall_s", "jobs", "cpu_s"),
}
# counts recorded at span boundaries: name -> (unit, better)
COUNTS = {
    "engine.persist_bytes": ("bytes", "lower"),
    "uniqueness.dup_keys": ("count", "lower"),
    "uniqueness.broadcast": ("count", "higher"),
    "manifest.bytes_written": ("bytes", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_edges": ("count", "higher"),
    "dedup.edge_yield": ("ratio", "higher"),
    "dedup.cc_jobs": ("count", "lower"),
    "dedup.dropped": ("count", "higher"),
    "trace.docs_per_s": ("1/s", "higher"),
    "trace.op_s_p50": ("s", "lower"),
    "trace.ops": ("count", "higher"),
}


def per_layer_spec() -> list[dict]:
    """The per-layer metric list, as recorded in BENCHMARK.json."""
    out = [{"name": f"{span}.{f}", "unit": UNITS[f], "better": "lower"}
           for span, fields in SPANS.items() for f in fields]
    out += [{"name": n, "unit": u, "better": b}
            for n, (u, b) in COUNTS.items()]
    return out


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.wall: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0

    def idle(self) -> None:
        """Jobs from here on belong to the benchmark, not to a layer."""
        self.sc.setJobGroup("bench", "bench")

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def persisted_bytes(self) -> int:
        """Memory plus disk size of every RDD/DataFrame persisted now."""
        return sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())


def layer_table(tracer: Tracer, totals: dict, ops: int) -> dict:
    """{span: {field: value per op}} for every span, all eight fields.
    session.get_spark runs once per run and is reported as is."""
    table = {}
    for span in SPANS:
        per = 1 if span == "session.get_spark" else ops
        row = {"wall_s": tracer.wall.get(span, 0.0) / per}
        row.update({f: totals.get(span, {}).get(f, 0) / per for f in FIELDS})
        table[span] = row
    return table


def per_layer_metrics(table: dict, counts: dict, ops: int) -> dict:
    out = {}
    for span, fields in SPANS.items():
        for f in fields:
            out[f"{span}.{f}"] = {"value": table[span][f], "unit": UNITS[f]}
    for n, (unit, _) in COUNTS.items():
        out[n] = {"value": counts.get(n, 0) / (1 if n.startswith("trace.")
                                                 else ops), "unit": unit}
    return out
