#!/usr/bin/env python3
"""Tiny-input self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload on tiny inputs, untraced and traced, and asserts that
every operation passed its output checks, that the result line carries
exactly the metrics BENCHMARK.json declares (with their units), and that
the report names every workload-specific figure with its unit.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Figures each workload prints in its report: (name, unit).
NAMED = {
    "extract": [("extract_records_docs_per_s", "docs/s"), ("extract_spans_docs_per_s", "docs/s")],
    "curate": [("curate_s", "s")],
    "ingest_graph": [("ingest_docs_per_s", "docs/s"), ("graph_s", "s")],
}
COMMON = [("setup_s", "s"), ("heap_peak_mb", "MB"), ("error_rate", "failed/attempted")]
CALLS = {
    "extract": ["extract_records", "extract_spans"],
    "curate": ["gopher", "exact_dedup", "minhash_pairs", "components", "decontaminate",
               "chunk", "pack"],
    "ingest_graph": ["resumable_write", "report", "kg_nodes", "kg_edges"],
}
CALL_QUANTITIES = [("wall_s", "s"), ("self_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                   ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "max/median")]
COUNTS = {
    "extract": [],
    "curate": [("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
               ("dedup.verify_yield", "ratio"), ("dedup.dropped_buckets", "count")]
              + [(f"curate.n_{s}", "count") for s in
                 ("input", "quality", "dedup", "neardup", "train", "chunks", "packs")],
    "ingest_graph": [("ingest.bytes_written_per_doc", "bytes"), ("ingest.files_written", "count"),
                     ("kg.nodes", "count"), ("kg.edges", "count")],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stdout}"
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return lines[:-1], json.loads(lines[-1])


def reported(lines, name, unit):
    pat = re.compile(r"\] " + re.escape(name) + r" = -?[0-9.]+ " + re.escape(unit) + r"(\s|$)")
    return any(pat.search(l) for l in lines)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or list(NAMED)
    for w in workloads:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            report, result = run(w, trace)
            assert result["correct"] is True and result["failed"] == 0, (w, trace, result)
            assert result["attempted"] >= 1, (w, trace, result)
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != declared {want}"
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)), (w, k, v)
            expected = (NAMED[w] + COMMON if trace == 0 else
                        [(f"pipeline.{c}.{q}", u) for c in CALLS[w] for q, u in CALL_QUANTITIES]
                        + COUNTS[w] + [(m["name"], m["unit"]) for m in declared])
            missing = [n for n, u in expected if not reported(report, n, u)]
            assert not missing, f"{w} trace={trace}: report lacks {missing}"
            print(f"ok {w} trace={trace}: {len(result['metrics'])} metrics, "
                  f"{len(expected)} report figures, {result['attempted']} operations", flush=True)


if __name__ == "__main__":
    main()
