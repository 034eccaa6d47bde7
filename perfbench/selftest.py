#!/usr/bin/env python3
"""Self-test of the benchmark's own checks: a wrong count, a wrong
fingerprint, a crashing call or a result the oracle rejects must count as
failed, never as a fast run.

Usage: python3 perfbench/selftest.py [--e2e]

Without flags it tests the check logic of perfbench/run.py on synthetic
run records and the oracle compare on a tiny generated table directory
(a few seconds, no JVM). --e2e also runs the `operators` workload, in
process, with one query name that does not exist and expects the run to
report it failed.
"""
import contextlib
import copy
import io
import json
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import compare  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def pipeline_record(**check_results):
    checks = [{"name": n, "ok": ok, "detail": ""}
              for n, ok in {"cities": True, "final_cities_labels": True,
                            "fingerprint": True, **check_results}.items()]
    return {"workload": "pipeline", "setup_s": 5.0, "peak_rss_mb": 900.0,
            "inputs": {"entities": 2000, "dump_bytes": 1000},
            "extra": {"stored_bytes": 100, "setup_failed_checks": []},
            "passes": [{"traced": False, "wall_s": 1.0, "cpu_s": 2.0,
                        "ok": all(c["ok"] for c in checks), "calls": [],
                        "checks": checks}]}


def operators_record():
    call = {"name": "q1", "layer": "op.Dedup", "wall_s": 0.5, "rows": 3,
            "ok": True, "error": ""}
    return {"workload": "operators", "setup_s": 5.0, "peak_rss_mb": 900.0,
            "inputs": {}, "extra": {"setup_wall_s": {"q1": 1.0},
                                    "setup_errors": {}},
            "passes": [{"traced": False, "wall_s": 0.5, "cpu_s": 1.0,
                        "ok": True, "calls": [call], "checks": []}]}


def failed(rec, oracle_ok=None):
    return run.summarize(rec, oracle_ok or {})[2]


def test_summarize():
    assert failed(pipeline_record()) == 0
    assert failed(pipeline_record(cities=False)) == 1, "wrong count"
    assert failed(pipeline_record(fingerprint=False)) == 1, "wrong fingerprint"
    warm = pipeline_record()
    warm["extra"]["setup_failed_checks"] = ["cities: 1 (want 953)"]
    assert failed(warm) == 1, "wrong count in the warm-up pass"

    ok = {"q1": True}
    assert failed(operators_record(), ok) == 0
    crash = operators_record()
    crash["passes"][0]["calls"][0].update(rows=-1, ok=False, error="boom")
    assert failed(crash, ok) == 1, "crashing call"
    rows = operators_record()
    rows["passes"][0]["calls"][0].update(rows=4, ok=False)
    assert failed(rows, ok) == 1, "row count differs from the verified one"
    assert failed(operators_record(), {"q1": False}) == 2, "oracle mismatch"
    setup = operators_record()
    setup["extra"]["setup_errors"] = {"q1": "boom"}
    assert failed(setup, ok) == 1, "set-up crash"
    # A failed run is never reported as correct, however fast it is.
    fast = copy.deepcopy(crash)
    fast["passes"][0]["wall_s"] = 1e-6
    m, attempted, n = run.summarize(fast, ok)
    assert n > 0 and m["failed_frac"] == n / attempted


def test_oracle_compare():
    run.BUILD.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
        d = Path(d)
        gen_tables.generate(d / "sf", sf=0.0001)
        verify = d / "verify"
        sql = "SELECT r_regionkey AS k, r_name AS name FROM region"
        good = pa.table({"k": pa.array(range(5), pa.int32()),
                         "name": gen_tables.REGIONS})
        bad = good.set_column(1, "name", pa.array(
            gen_tables.REGIONS[:4] + ["ATLANTIS"]))
        for q, t in {"q_ok": good, "q_bad": bad}.items():
            (verify / q).mkdir(parents=True)
            pq.write_table(t, verify / q / "part-0.parquet")
        (verify / "oracle_sql.json").write_text(json.dumps(
            {"q_ok": sql, "q_bad": sql, "q_crash": sql}))
        ok = run.oracle_check(verify, d / "sf", ["q_ok", "q_bad", "q_crash"],
                              d / "report.json")
        assert ok == {"q_ok": True, "q_bad": False, "q_crash": False}, ok


def test_compare_failed():
    """A change that is faster on every seed but fails more calls than the
    base reads "failed", never "improved"."""
    names = [m["name"] for m in json.loads(
        (run.ROOT / "BENCHMARK.json").read_text())["end_to_end"]]
    run.BUILD.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
        for side, value, failed_seeds in (("base", 10.0, []), ("change", 5.0, [3])):
            (Path(d) / side).mkdir()
            for seed in range(10):
                rec = {"workload": "pipeline", "stamp": {"seed": seed, "trace": 0},
                       "metrics": {n: value + seed / 100 for n in names},
                       "attempted": 2, "failed": int(seed in failed_seeds)}
                (Path(d) / side / f"{seed}.json").write_text(json.dumps(rec))
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            compare.main(Path(d) / "base", Path(d) / "change")
        rows = [ln.split() for ln in out.getvalue().splitlines()
                if ln.startswith("pipeline") and ln.split()[1] in names]
        assert len(rows) == len(names) and all("failed" in r for r in rows), out.getvalue()


def test_e2e():
    run.WORKLOADS["operators"]["queries"] = ["mv02_event_rollforward", "no_such_query"]
    argv, sys.argv = sys.argv, ["run.py", "--workload", "operators",
                                "--seed", "1", "--seconds", "1"]
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            run.main()
    finally:
        sys.argv = argv
    r = json.loads(out.getvalue().strip().splitlines()[-1])
    # The bad query fails in set-up and in each timed pass; the good one
    # passes.
    assert r["correct"] is False and r["failed"] == r["attempted"] // 2, r


if __name__ == "__main__":
    tests = [test_summarize, test_oracle_compare, test_compare_failed]
    if "--e2e" in sys.argv:
        tests.append(test_e2e)
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
