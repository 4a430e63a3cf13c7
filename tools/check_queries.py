"""Local emulation of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` via DuckDB
on the same sf dir, compare row count + column names + order-insensitive
exact values. Usage: python tools/check_queries.py [sf_dir] [name...]"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, ".")


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return str(v)


def _norm(df):
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return cols, rows


def main():
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # staged-gold oracles (pure-python goldens written per sf dir) bind
    # their sf at import time — point them at the gate's sf BEFORE the
    # entry module loads, or they silently compare against sf0.01 golds
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from ocr_to_csv_spark import scratch
    from ocr_to_csv_spark.session import get_spark

    spark = get_spark("check_queries")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with scratch.scope():  # staged state dies once consumed here
                got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(got),
                             "spark_sec": round(t_spark, 2)}
            print(f"rows  {name}: {len(got)} rows (no oracle) [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {e}"}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        t_duck = time.time() - t0
        gc, gr = _norm(got)
        ec, er = _norm(exp)
        if gc != ec:
            failures.append(name)
            results[name] = {"status": "fail", "err": f"columns {gc} vs {ec}"}
            print(f"FAIL  {name}: columns {gc} vs {ec}")
        elif len(gr) != len(er):
            failures.append(name)
            results[name] = {"status": "fail",
                             "err": f"rowcount {len(gr)} vs {len(er)}"}
            print(f"FAIL  {name}: rowcount {len(gr)} vs {len(er)}")
        elif gr != er:
            failures.append(name)
            bad = [(a, b) for a, b in zip(gr, er) if a != b][:3]
            results[name] = {"status": "fail", "err": f"values differ: {bad}"}
            print(f"FAIL  {name}: values differ; first diffs: {bad}")
        else:
            results[name] = {"status": "pass", "rows": len(gr),
                             "rows_match": True, "schema_match": True,
                             "hash_match": True,
                             "spark_sec": round(t_spark, 2),
                             "duck_sec": round(t_duck, 2)}
            print(f"OK    {name}: {len(gr)} rows [spark {t_spark:.1f}s, duck {t_duck:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    out_json = os.environ.get("CHECK_JSON_OUT")
    if out_json:
        n_pass = sum(1 for r in results.values() if r["status"] == "pass")
        with open(out_json, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(results),
                 "n_pass": n_pass, "n_fail": len(failures),
                 "queries": results},
                f, indent=1, sort_keys=True,
            )
        print(f"wrote {out_json}: {n_pass}/{len(results)} pass")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
