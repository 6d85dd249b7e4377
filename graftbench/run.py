#!/usr/bin/env python3
"""graft benchmark: one workload run, from the root of a graft checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one benchmark JVM on
Spark local[nproc], checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. A detail line (host state, per-tier rates, sample counts) precedes
it; the full detail is also written to graftbench/work/<workload>/result.json.
"""
import argparse
import ctypes
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("scalar_ladder", "short_queries")
BUILD_DIR = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 165
# the heap is pinned and pre-touched, so the resident-set metric measures
# what grows beside it (metaspace, code cache, Arrow and netty buffers,
# thread stacks) instead of the collector's sizing decisions
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- host state -------------------------------------------------------------

def steal_jiffies():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    return -1


def host_state():
    return {"loadavg": list(os.getloadavg()), "steal_jiffies": steal_jiffies(),
            "t": time.time()}


# ---- processes --------------------------------------------------------------

def become_subreaper():
    """Adopt orphaned descendants (sidecar workers the JVM leaves behind), so
    they can be waited for before this script exits."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except Exception:
        pass


def children():
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == os.getpid():
                        pids.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return pids


def reap_all(grace_s=5.0):
    """Terminate and wait for every remaining descendant."""
    deadline = time.time() + grace_s
    sent_term = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = children()
        if not left:
            return
        if not sent_term:
            for p in left:
                try:
                    os.kill(p, signal.SIGTERM)
                except ProcessLookupError:
                    pass
            sent_term = True
        elif time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ---- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark (once per source state); return the
    runtime classpath."""
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD_DIR, "stamp")
    cp_f = os.path.join(BUILD_DIR, "classpath")
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building graft and the benchmark (sbt)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


# ---- correctness: the DuckDB oracle rule of tools/check.py -------------------

def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, list) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def oracle_checks(out_dir, data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            s_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            d_df = con.sql(sql).df()
            sc, dc = sorted(s_df.columns), sorted(d_df.columns)
            if sc != dc:
                raise ValueError(f"columns differ spark={sc} duck={dc}")
            rows = lambda df, cols: sorted((tuple(norm(v) for v in r) for r in
                                            df[cols].itertuples(index=False, name=None)),
                                           key=repr)
            s_rows, d_rows = rows(s_df, sc), rows(d_df, dc)
            ok = s_rows == d_rows
            detail = f"{len(s_rows)} rows" if ok else \
                f"mismatch: {len(s_rows)} vs {len(d_rows)} rows"
        except Exception as e:  # a query the oracle cannot compare is a failure
            ok, detail = False, str(e)[:300]
        checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
    return checks


# ---- main -------------------------------------------------------------------

def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Graft.scala"),
                 os.path.join("tools", "pyudf_server.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")

    host_in = host_state()
    become_subreaper()
    # a terminated run still stops and waits for everything it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    gen_s = 0.0
    if args.workload == "short_queries":
        import tpch_gen
        t0 = time.perf_counter()
        tpch_gen.generate(args.seed, data)
        gen_s = time.perf_counter() - t0

    raw_f = os.path.join(work, "raw.json")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main",
                                 "--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                                 "--work", work, "--data", data, "--out", raw_f]
    # the JVM's stdout goes to stderr: the last stdout line is the result
    jvm = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    rc = "interrupted"
    try:
        rc = jvm.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if jvm.poll() is None:
            jvm.terminate()
            try:
                jvm.wait(timeout=10)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        reap_all()
    if rc != 0 or not os.path.isfile(raw_f):
        fail(f"benchmark JVM failed ({rc})", 1)
    with open(raw_f) as f:
        raw = json.load(f)

    checks = list(raw["checks"])
    if args.workload == "short_queries":
        checks += oracle_checks(raw["facts"]["query_out"], data)
    attempted, failed, frac = metrics.failed_frac(raw["ops"], checks)

    if args.trace:
        spans = [json.loads(ln) for ln in open(raw["trace"]["spans_file"])]
        values = metrics.per_layer(raw, spans)
        detail = {"samples": {k: len(v) for k, v in raw["trace"]["samples"].items()}}
    else:
        values, detail = metrics.end_to_end(raw, extra_setup_s=gen_s)

    out = {}
    for name, unit in declared_metrics(args.trace):
        if name not in values:
            fail(f"metric {name} was not measured")
        out[name] = {"value": values[name], "unit": unit}

    host_out = host_state()
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": raw["nproc"], "failed_frac": frac, "absent": metrics.ABSENT,
        "host": {"loadavg_entry": host_in["loadavg"], "loadavg_exit": host_out["loadavg"],
                 "steal_jiffies_delta": host_out["steal_jiffies"] - host_in["steal_jiffies"],
                 "wall_s": host_out["t"] - host_in["t"]},
        "setup": dict(raw["setup"], data_gen_s=gen_s),
        "failures": [c for c in checks if not c["ok"]] +
                    [o for o in raw["ops"] if not o["ok"]],
        "facts": raw["facts"]})
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "metrics": out}, f, indent=1)
    print("# detail " + json.dumps(detail, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
