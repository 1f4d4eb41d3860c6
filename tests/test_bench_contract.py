"""The bench's driver contract, pinned (r14 VERDICT "what's wrong" #2):

the driver parses the LAST stdout line of a bench run as one JSON
object.  The r13 round lost its entire round-over-round comparison
because that line, while emitted, arrived truncated in the driver's
capture and nothing in-repo had ever asserted the contract.  This test
runs the real bench.py as a subprocess (tiny query subset, sf0.001, no
oracle pass) and pins:

- exit 0 and a parseable last stdout line,
- every headline scalar present AND serialized BEFORE the big
  per-query dicts (so a tail-truncated capture that keeps the head
  still yields the totals),
- the run-config stamp (cpus, sf_dir) the regression gate keys on,
- the detail file mirrors the same record.

It also pins the regression gate's cross-config refusal: a detail file
stamped with a different core count must produce a SKIPPED report, not
per-query flags (the r14 driver's local[8] scaling run wrote four
spurious flags against the local[32] detail), while the same data dir
spelled differently must still diff.  And it pins bench.time_query's
build/exec job split, which tools/quiet_bench.py reports.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_stdout_last_line_is_headline_first_json(tmp_path):
    detail = tmp_path / "detail.json"
    regress = tmp_path / "regressions.md"
    env = dict(os.environ)
    # explicit, so the cpus stamp is checked against a known count, not
    # against the same fallback default the bench itself would use
    cpus = 2
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_ONLY": r"^(scan_count|table_stats)$",
            "SPARK_GRAFT_BENCH_ORACLE": "0",
            "SPARK_GRAFT_BENCH_DETAIL": str(detail),
            "SPARK_GRAFT_BENCH_REGRESSIONS": str(regress),
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    last = lines[-1]
    out = json.loads(last)  # THE contract: last stdout line parses

    # headline scalars all present
    for key in (
        "metric",
        "value",
        "unit",
        "sf",
        "cpus",
        "sf_dir",
        "setup_sec",
        "n_queries",
        "floor_sec",
        "stream_floor_sec",
        "queries",
    ):
        assert key in out, f"missing {key}"
    assert out["metric"] == "declared_query_set_wall_sec"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["sf_dir"] == "/root/testdata/sf0.001"
    assert out["cpus"] == cpus
    assert set(out["queries"]) == {"scan_count", "table_stats"}
    assert out["n_queries"] == 2
    assert abs(out["value"] - sum(out["queries"].values())) < 1e-6

    # serialization order: every headline scalar precedes the big
    # per-query dicts, so a head-kept truncation still yields totals
    q_pos = last.index('"queries"')
    for key in ("metric", "value", "unit", "sf", "cpus", "n_queries",
                "floor_sec", "stream_floor_sec"):
        assert last.index(f'"{key}"') < q_pos, (
            f"headline field {key} serialized after the queries dict"
        )

    # the on-disk detail file mirrors the same record
    with open(detail) as f:
        disk = json.load(f)
    assert disk["value"] == out["value"]
    assert disk["cpus"] == out["cpus"]
    assert disk["queries"] == out["queries"]

    # cross-config refusal: rewrite the detail stamped at a different
    # core count and re-run the gate directly — it must write a
    # SKIPPED report and flag nothing
    sys.path.insert(0, REPO)
    import bench as benchmod

    disk["cpus"] = 8 if out["cpus"] != 8 else 4
    with open(detail, "w") as f:
        json.dump(disk, f)
    benchmod._emit_regressions(str(detail), out, report_path=str(regress))
    report = regress.read_text()
    assert "SKIPPED: cross-config diff refused" in report
    assert "| scan_count |" not in report and "| table_stats |" not in report

    # the same data dir spelled with a trailing slash is the same
    # config: the gate compares realpaths and diffs
    disk["cpus"] = out["cpus"]
    disk["sf_dir"] = out["sf_dir"] + "/"
    with open(detail, "w") as f:
        json.dump(disk, f)
    benchmod._emit_regressions(str(detail), out, report_path=str(regress))
    report = regress.read_text()
    assert "SKIPPED" not in report
    assert "shared queries: 2" in report


def test_time_query_splits_jobs_by_phase(spark):
    """bench.time_query charges a builder's own driver-side jobs to
    build_jobs and the noop-sink write to exec_jobs."""
    sys.path.insert(0, REPO)
    import bench as benchmod

    def eager(spark, sf_dir):
        n = len(spark.range(10).collect())  # a job while building
        return spark.range(n)

    def pure(spark, sf_dir):
        return spark.range(10)

    e = benchmod.time_query(spark, eager, "/unused")
    p = benchmod.time_query(spark, pure, "/unused")
    assert e["build_jobs"] >= 1
    assert p["build_jobs"] == 0
    assert e["exec_jobs"] >= 1 and p["exec_jobs"] >= 1
    for r in (e, p):
        assert r["build_s"] >= 0 and r["exec_s"] > 0
