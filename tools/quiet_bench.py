"""Quiet best-of-3 re-measure of named queries, for regression triage
and sf1 growth rows.

One warm session (bench.py's warm_session), fixtures and stream source
exports prebuilt untimed, then each named query run 3 times through
bench.time_query, the same noop-sink timing the bench uses.  Per query
it prints every run, the best run with its build/exec split and the
Spark jobs each phase submitted, and the DuckDB oracle time on the same
data; STREAMING_QUERIES rows also get the state counts of their last
run (streaming/events.LAST_RUN_METRICS).

With --sf1 DIR the runs repeat at DIR (the perf-only scale-up built by
tools/make_scale_data.py), growth ratios DIR/base are added, and the
rows are merged into BENCH_SF1.json[NAME].  Row keys carry the data
dir's basename (spark_sf0_1, oracle_sf1, ...).

Usage:  python3 tools/quiet_bench.py q... [--sf1 DIR --section NAME]
        SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 (the base dir, default)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

RUNS = 3

# the int8 oracle re-derives quantization + integer scoring in SQL and
# its DuckDB spill filled 78 GB of temp disk at sf1 before dying —
# recorded as null there, the Spark side still runs
ORACLE_SKIP_SF1 = {"similarity_int8_topk"}

# growth ratio (DIR / base) name per measured key
_GROWTH = {
    "spark": "spark_growth",
    "oracle": "oracle_growth",
    "input_rows": "input_growth",
    "state_rows_peak": "state_growth",
}


def _label(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")


def _state_counts(metrics: dict) -> dict:
    """Fold every streaming sub-query's metrics of one run (a runner
    may start more than one, e.g. ingest + read)."""
    m = {"input_rows": 0, "state_rows_peak": 0, "state_bytes_peak": 0}
    for v in metrics.values():
        m["input_rows"] += v["input_rows"]
        m["state_rows_peak"] = max(
            m["state_rows_peak"], v["state_rows_peak"]
        )
        m["state_bytes_peak"] = max(
            m["state_bytes_peak"], v["state_bytes_peak"]
        )
    return m


def measure(spark, entrymod, names, sf_dir, skip_oracle=()) -> dict:
    """{name: row} for one data dir; row keys end in the dir's label."""
    from olap_storage_engine_spark.streaming import events as sev

    lab = _label(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = bench.connect_with_views(sf_dir)
    out: dict[str, dict] = {}
    for name in names:
        runs = []
        for _ in range(RUNS):
            sev.LAST_RUN_METRICS.clear()
            runs.append(bench.time_query(spark, qs[name], sf_dir))
        totals = [round(r["build_s"] + r["exec_s"], 3) for r in runs]
        best = runs[totals.index(min(totals))]
        row = {
            f"runs_{lab}": totals,
            f"spark_{lab}": min(totals),
            f"build_s_{lab}": round(best["build_s"], 3),
            f"exec_s_{lab}": round(best["exec_s"], 3),
            f"build_jobs_{lab}": best["build_jobs"],
            f"exec_jobs_{lab}": best["exec_jobs"],
        }
        if name in entrymod.STREAMING_QUERIES:
            for k, v in _state_counts(sev.LAST_RUN_METRICS).items():
                row[f"{k}_{lab}"] = v
        row[f"oracle_{lab}"] = None
        if name not in skip_oracle:
            t0 = time.time()
            try:
                con.execute(oracles[name]).fetchall()
                row[f"oracle_{lab}"] = round(time.time() - t0, 3)
            except Exception as exc:
                row[f"oracle_err_{lab}"] = str(exc)[:120]
        out[name] = row
        print(json.dumps({name: row}), file=sys.stderr, flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("names", nargs="+", metavar="q")
    ap.add_argument("--sf1", metavar="DIR")
    ap.add_argument("--section", metavar="NAME")
    args = ap.parse_args()
    if bool(args.sf1) != bool(args.section):
        ap.error("--sf1 and --section go together")

    import __spark_entry__ as entrymod
    from olap_storage_engine_spark import get_spark
    from olap_storage_engine_spark.fixtures import build_all
    from olap_storage_engine_spark.streaming.events import (
        prewarm_stream_sources,
    )

    unknown = [n for n in args.names if n not in entrymod.queries()]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    dirs = [bench.SF_DIR] + ([args.sf1] if args.sf1 else [])
    for d in dirs:
        build_all(spark, d)
        prewarm_stream_sources(spark, d)
    bench.warm_session(spark)

    out = measure(spark, entrymod, args.names, bench.SF_DIR)
    if args.sf1:
        big = measure(
            spark, entrymod, args.names, args.sf1, ORACLE_SKIP_SF1
        )
        base_lab, big_lab = _label(bench.SF_DIR), _label(args.sf1)
        for name, row in out.items():
            row.update(big[name])
            for key, growth in _GROWTH.items():
                lo = row.get(f"{key}_{base_lab}")
                hi = row.get(f"{key}_{big_lab}")
                if lo and hi is not None:
                    row[growth] = round(hi / lo, 2)
        path = os.path.join(REPO, "BENCH_SF1.json")
        with open(path) as f:
            doc = json.load(f)
        doc.setdefault(args.section, {}).update(out)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"merged {len(out)} rows into {path}[{args.section}]",
              file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
