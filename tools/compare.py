"""Local replica of the driver's correctness gate: run each declared
query on Spark AND its DuckDB oracle on the same sf dir, compare
row-count + schema-width + order-insensitive values.

Usage:  python tools/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    try:
        import datetime

        if isinstance(v, datetime.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, datetime.date):
            return v.isoformat()
    except Exception:
        pass
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def canon_rows(cols, rows):
    """Sort columns by name, canonicalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def compare_query(spark, name: str, sf_dir: str, queries, oracles):
    from bench import connect_with_views

    sdf = queries[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = connect_with_views(sf_dir)
    sql = oracles.get(name)
    if sql is None:
        return {
            "name": name, "status": "rows_only", "spark_rows": len(s_rows)
        }
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    sc, s_canon = canon_rows(s_cols, s_rows)
    dc, d_canon = canon_rows(d_cols, d_rows)

    status = "OK"
    detail = ""
    if sc != dc:
        status = "SCHEMA_MISMATCH"
        detail = f"spark={sc} duck={dc}"
    elif len(s_canon) != len(d_canon):
        status = "ROWCOUNT_MISMATCH"
        detail = f"spark={len(s_canon)} duck={len(d_canon)}"
    elif s_canon != d_canon:
        status = "VALUE_MISMATCH"
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:3]
        detail = f"{len([1 for a, b in zip(s_canon, d_canon) if a != b])} differing rows; first: {diffs}"
    return {
        "name": name,
        "status": status,
        "rows": len(s_canon),
        "detail": detail,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as e
    from olap_storage_engine_spark import get_spark

    spark = get_spark(shuffle_partitions=8)
    qs = e.queries()
    os_ = e.oracle_sql()
    names = sys.argv[2:] or list(qs)
    failed = []
    results = {}
    for name in names:
        try:
            r = compare_query(spark, name, sf_dir, qs, os_)
        except Exception as ex:
            r = {"name": name, "status": "ERROR", "detail": str(ex)[:300]}
        results[name] = r
        # queries may persist shared intermediates within their own
        # run (the corpus_prep probe/final sharing); isolate queries
        # the same way bench.py does
        spark.catalog.clearCache()
        line = f"{r['name']:28s} {r['status']:18s} {r.get('rows', '')} {r.get('detail', '')[:220]}"
        print(line, flush=True)
        if r["status"] not in ("OK", "rows_only"):
            failed.append(r["name"])
    out_path = os.environ.get("LOCALCHECK_OUT")
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n": len(names), "failed": failed,
                 "results": results},
                f, indent=1,
            )
    print(f"\n{len(names) - len(failed)}/{len(names)} green; failed: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
