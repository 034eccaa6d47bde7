#!/usr/bin/env python3
"""Benchmark of the geo-db dataflow and its operator suite.

Runs one workload for a fixed measuring time, checks every output and
prints each metric by name with its unit. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from traced passes.

Usage (from the repository root):
  python3 perfbench/run.py --workload pipeline --seed 1 --seconds 12 --trace 0

The first run builds the program and the harness with sbt into
.bench_build/ and reuses the build while the sources are unchanged. Each
run works in a fresh directory under .bench_build/runs/ (inputs, outputs,
java.io.tmpdir, Spark local dirs) and deletes it afterwards. The full
record of each run is kept in .bench_build/results/ for perfbench/compare.py.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"

# Queries of the `operators` workload, one per operator module, so each
# op.* layer is loaded: the truss loop, a spatial join, filtered NSW
# search, dedup-store maintenance, a view roll-forward and erasure.
OPERATOR_QUERIES = [
    "cc20_ktruss", "geo02_radius_join", "ss40_filtered_nsw",
    "dd11_store_incremental", "mv01_agg_rollforward", "tp12_gdpr_erasure"]

WORKLOADS = {
    "pipeline": {"entities": 4000},
    "operators": {"sf": 0.001, "queries": OPERATOR_QUERIES},
}

LAYERS = ["extract.parse", "extract.tables", "post.cascade", "post.cleanup",
          "op.Similarity", "op.Dedup", "op.Geo", "op.DedupStore",
          "op.MatView", "op.Curation"]
COUNTERS = ["jobs", "tasks", "busy_s", "gc_s", "shuffle_bytes",
            "spill_bytes", "write_bytes", "gap_s"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    missing = [p for p in sources()[:4] if not p.is_file()]
    if missing or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: the program's sources are not here "
                         f"(missing {', '.join(map(str, missing)) or 'src/main/scala'})")
    digest = source_digest()
    stamp = BUILD / "classpath.json"
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest and all(
                os.path.exists(p) for p in saved["classpath"].split(os.pathsep)):
            return saved["classpath"], digest
    BUILD.mkdir(exist_ok=True)
    log("perfbench: building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    if proc.returncode != 0:
        log(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in proc.stdout.splitlines()
          if ln and not ln.startswith("[") and ".jar" in ln][-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp, digest


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def heap():
    """Half the machine's memory, between 2 and 8 GB."""
    kb = int(next(ln.split()[1] for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:")))
    return f"{min(8, max(2, kb // 2 // 1048576))}g"


def run_harness(classpath, args, run_dir):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", classpath, "graft.perfbench.Harness"] + args)
    with open(run_dir / "harness.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        log((run_dir / "harness.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: harness exited with code {code}")


def oracle_check(verify_dir, sf_dir, queries, report_path):
    """The DuckDB oracle compare of scripts/check.py, on the set-up pass's
    results. Returns {query: ok}."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import check  # noqa: E402 — the repository's own compare
    with contextlib.redirect_stdout(sys.stderr):
        check.main(str(verify_dir), str(sf_dir), set(queries), str(report_path))
    report = json.loads(report_path.read_text())
    oracles = json.loads((verify_dir / "oracle_sql.json").read_text())
    ok = {}
    for q in queries:
        if q in oracles:
            r = report.get(q, {})
            ok[q] = bool(r.get("hash_match") and r.get("schema_match"))
        else:
            ok[q] = (verify_dir / q).is_dir()
    return ok


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        return None
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def layer_metrics(rec):
    """Per-layer metrics from the traced passes: per pass, each counter
    summed over the layer's spans; reported as the median over passes."""
    spans = rec["spans"]
    cores = rec["cores"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_run = {s["id"]: [] for s in spans if s["name"] == "run"}
    for s in spans:
        if s["name"] != "run" and s["run"] in per_run:
            per_run[s["run"]].append(s)
    samples = {}

    def add(name, value):
        samples.setdefault(name, []).append(value)

    query_jobs = {}
    for run_id, ss in per_run.items():
        for layer in LAYERS:
            mine = [s for s in ss if s["name"] == layer]
            wall = sum(s["end_s"] - s["start_s"] for s in mine)
            kids = sum(c["end_s"] - c["start_s"] for s in mine
                       for c in children.get(s["id"], []))
            sums = {c: sum(s.get(c, 0) for s in mine) for c in COUNTERS}
            add(f"{layer}.wall_s", wall)
            add(f"{layer}.self_s", wall - kids)
            for c in COUNTERS:
                add(f"{layer}.{c}", sums[c])
            add(f"{layer}.idle_frac",
                1 - sums["busy_s"] / (wall * cores) if wall > 0 else 0.0)
        add("plan.wall_s", sum(s["end_s"] - s["start_s"] for s in ss
                               if s["name"] == "plan"))
    # Job counts of each operator call, in call order (trace file only).
    traced = [p for p in rec["passes"] if p["traced"]]
    for p, (run_id, ss) in zip(traced, per_run.items()):
        ops = [s for s in ss if s["name"].startswith("op.")]
        for c, s in zip(p["calls"], ops):
            query_jobs.setdefault(c["name"], []).append(s.get("jobs", 0))
    extra = rec["extra"]
    add_list = {
        "extract.parse.yield": extra.get("parse_yield", []),
        "extract.rows_per_entity": extra.get("rows_per_entity", []),
    }
    passes = rec["passes"]
    for key in ("lease_acq", "lease_blocked_ms"):
        vals = extra.get(key, [])
        add_list[f"maintain.{key}"] = [v for p, v in zip(passes, vals) if p["traced"]]
    out = {k: statistics.median(v) for k, v in samples.items()}
    for k, v in add_list.items():
        out[k] = statistics.median(v) if v else 0.0
    return out, query_jobs


def summarize(rec, oracle_ok):
    """End-to-end metrics and correctness counts of one run. For the
    operators, every call counts, the set-up pass's included; a call
    fails when it crashes, when its row count differs from the verified one,
    or when its query failed the oracle compare."""
    passes = rec["passes"]
    if rec["workload"] == "operators":
        extra = rec["extra"]
        setup = list(extra["setup_wall_s"])
        calls = [c for p in passes for c in p["calls"]]
        attempted = len(setup) + len(calls)
        failed = (sum(1 for q in setup
                      if q in extra["setup_errors"] or not oracle_ok.get(q))
                  + sum(1 for c in calls if not c["ok"] or not oracle_ok.get(c["name"])))
    else:
        # The untimed warm-up pass is checked too.
        attempted = len(passes) + 1
        failed = (sum(1 for p in passes if not p["ok"])
                  + (1 if rec["extra"]["setup_failed_checks"] else 0))
    run_s = statistics.median(p["wall_s"] for p in passes)
    m = {
        "run_s": run_s,
        "setup_s": rec["setup_s"],
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": rec["peak_rss_mb"],
        "failed_frac": failed / attempted,
    }
    if rec["workload"] == "operators":
        lat = [c["wall_s"] for p in passes for c in p["calls"]]
        m["op_p50_s"] = quantile(lat, 0.5)
        m["op_p90_s"] = quantile(lat, 0.9)
        m["op_samples"] = len(lat)
    else:
        ins = rec["inputs"]
        m["entities_per_s"] = ins["entities"] / run_s
        m["stored_bytes_ratio"] = rec["extra"]["stored_bytes"] / ins["dump_bytes"]
    m["passes"] = len(passes)
    return m, attempted, failed


def trace_overhead(workload, digest, params, traced_run_s):
    """Traced run_s minus the median run_s of the untraced runs recorded
    for the same workload, parameters and sources, with the number of
    those runs."""
    base = []
    for p in (BUILD / "results").glob(f"{workload}-*-trace0-*.json"):
        r = json.loads(p.read_text())
        st = r["stamp"]
        if st["source_digest"] == digest and st.get("params") == params:
            base.append(r["metrics"]["run_s"])
    if not base:
        return None, 0
    return traced_run_s - statistics.median(base), len(base)


UNITS = {"run_s": "s", "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
         "failed_frac": "1", "op_p50_s": "s", "op_p90_s": "s",
         "op_samples": "count", "entities_per_s": "1/s",
         "stored_bytes_ratio": "1", "passes": "count",
         "trace_overhead_s": "s", "trace_overhead_base_runs": "count"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_frac") or name.endswith(".yield") or name.endswith("per_entity"):
        return "1"
    if name.endswith("_ms"):
        return "ms"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath, digest = build()
    wl = WORKLOADS[a.workload]
    BUILD.mkdir(exist_ok=True)
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, work_dir = run_dir / "input", run_dir / "work"
    input_dir.mkdir(parents=True)
    work_dir.mkdir()
    result = run_dir / "result.json"
    try:
        if a.workload == "operators":
            sys.path.insert(0, str(BENCH))
            import gen_tables
            gen_tables.generate(input_dir, wl["sf"])
            params = wl["queries"]
        else:
            params = [str(wl["entities"])]
        run_harness(classpath, [a.workload, str(a.seed), str(a.seconds),
                                str(a.trace), str(input_dir), str(work_dir),
                                str(result)] + params, run_dir)
        rec = json.loads(result.read_text())
        oracle_ok = {}
        if a.workload == "operators":
            oracle_ok = oracle_check(work_dir / "verify", input_dir, wl["queries"],
                                     run_dir / "oracle.json")
            rec["oracle_ok"] = oracle_ok
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    m, attempted, failed = summarize(rec, oracle_ok)
    layers, query_jobs = layer_metrics(rec)
    if a.trace:
        over, n = trace_overhead(a.workload, digest, wl, m["run_s"])
        if over is not None:
            m["trace_overhead_s"] = over
            m["trace_overhead_base_runs"] = n
    rec["stamp"] = {"git_commit": git_commit(), "source_digest": digest,
                    "nproc": os.cpu_count(), "seed": a.seed,
                    "seconds": a.seconds, "trace": a.trace, "params": wl}
    rec["attempted"], rec["failed"] = attempted, failed
    rec["metrics"] = m
    rec["layer_metrics"] = layers
    rec["query_jobs"] = query_jobs
    if layers and a.trace:
        slow = max(LAYERS, key=lambda L: layers.get(f"{L}.wall_s", 0))
        rec["slowest_layer"] = {"layer": slow, **{
            k.split(".")[-1]: v for k, v in layers.items()
            if k.startswith(slow + ".")}}
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    out = results / f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
    out.write_text(json.dumps(rec, indent=1, sort_keys=True))

    # Human-readable report, then the one-line result.
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} commit={rec['stamp']['git_commit']} "
          f"digest={digest} nproc={os.cpu_count()} jvm={rec['jvm']} "
          f"spark={rec['spark']} loadavg={rec['loadavg_start']} -> "
          f"{rec['loadavg_end']} inputs={json.dumps(rec['inputs'])}")
    for k, v in m.items():
        print(f"  {k:<24} {v:>14.6g} {UNITS[k]}")
    if a.trace:
        for k in sorted(layers):
            print(f"  {k:<32} {layers[k]:>14.6g} {layer_unit(k)}")
        if "slowest_layer" in rec:
            print(f"  slowest layer: {json.dumps(rec['slowest_layer'])}")
    if failed:
        bad = sorted({c["name"] for p in rec["passes"] for c in p["calls"]
                      if not c["ok"]} | {c["name"] for p in rec["passes"]
                                         for c in p["checks"] if not c["ok"]}
                     | {q for q, ok in oracle_ok.items() if not ok}
                     | set(rec["extra"].get("setup_errors", {})))
        print(f"  FAILED: {', '.join(bad)}")
    print(f"  record: {out.relative_to(ROOT)}")

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else m
    metrics = {d["name"]: {"value": values.get(d["name"], 0.0), "unit": d["unit"]}
               for d in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
