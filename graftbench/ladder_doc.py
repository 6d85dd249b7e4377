#!/usr/bin/env python3
"""Writes graftbench/TIER_LADDER.md from a scalar_ladder run's result file:
per tier, ns/row and the ratio to the codegen tier, next to the reference's
published per-tier ratios (BASELINE.md: WASM x10, JS x55, Python x115 over
the native kernel, gcd on a 1024-row batch, single thread).

    python3 graftbench/run.py --workload scalar_ladder --seed 1 --seconds 6 --trace 0
    python3 graftbench/ladder_doc.py [graftbench/work/scalar_ladder/result.json]
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = {"codegen": "1 (native)", "wasm": "10", "js": "55", "python": "115"}
ORDER = ("codegen", "columnar", "invoke", "wasm_batch", "wasm", "script", "ipc", "flight",
         "js", "python")


def render(result):
    d = result["detail"]
    rates = {k.split(".", 1)[1]: v for k, v in d["op_rows_per_s"].items()}
    base = 1e9 / rates["codegen"]
    host = d["host"]
    lines = [
        "# Tier ladder",
        "",
        "Generated by `graftbench/ladder_doc.py` from one untraced `scalar_ladder` run",
        f"(seed {d['seed']}, {d['nproc']} cores, Spark local[{d['nproc']}], "
        f"load average at entry {host['loadavg_entry'][0]:.2f}, "
        f"CPU steal during the run {host['steal_jiffies_delta']} jiffies, host-speed factor "
        f"{d['host_factor']:.3f}; see README.md).",
        "Each tier evaluates `gcd(int, int)` over the same seeded parquet rows; ns/row is",
        "the median wall time of the tier's timed query over its rows, on all cores, so it",
        "includes the parquet scan, the job and the sum that every tier shares (the",
        "`codegen` tier is that floor plus the native kernel). The `script` tier runs one",
        "Euclid step instead of gcd, because its language has no loops or recursion.",
        "",
        "The reference ratios are per-batch kernel times on one thread (BASELINE.md); the",
        "ratios here are whole-query times on all cores, so they compare shape, not size.",
        "",
        "| tier | rows/s | ns/row | x codegen | reference x native |",
        "|---|---:|---:|---:|---:|",
    ]
    for t in ORDER:
        if t not in rates:
            lines.append(f"| {t} | absent | | | {REFERENCE.get(t, '')} |")
            continue
        ns = 1e9 / rates[t]
        lines.append(f"| {t} | {rates[t]:,.0f} | {ns:.1f} | {ns / base:.2f} | "
                     f"{REFERENCE.get(t, '-')} |")
    return "\n".join(lines) + "\n"


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        HERE, "work", "scalar_ladder", "result.json")
    with open(src) as f:
        result = json.load(f)
    with open(os.path.join(HERE, "TIER_LADDER.md"), "w") as f:
        f.write(render(result))


if __name__ == "__main__":
    main()
