"""Local mimic of the driver's t2 correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at sf0.01, compare row count + sorted column names + values (rows sorted by
all columns; floats compared exactly — both sides pre-round). It imports the
contract and the package of the checkout it sits in, prints the contract's
path, and exits 1 when any query is BAD (error or mismatch).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                import numpy as np

                av = av.astype(float).round(9)
                bv = bv.astype(float).round(9)
                neq = ~(np.isclose(av, bv, rtol=0, atol=1e-9) | (av.isna() & bv.isna()))
            else:
                neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                    f"spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    import __spark_entry__ as entrymod

    print(f"contract: {Path(entrymod.__file__).resolve()}", flush=True)
    qs = {n: fn for n, fn in entrymod.queries().items() if not ONLY or n in ONLY}
    results = {}
    if qs:
        from etl_processes_spark.session import get_spark

        spark = get_spark("check_oracles")
        spark.sparkContext.setLogLevel("ERROR")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        oracles = entrymod.oracle_sql(SF_DIR)
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            results[name] = ("SPARK-ERROR", traceback.format_exc(limit=4))
            print(f"[{name}] SPARK-ERROR", flush=True)
            continue
        el = time.time() - t0
        if name not in oracles:
            results[name] = ("ROWS-ONLY", f"{len(sdf)} rows, {el:.1f}s")
            print(f"[{name}] ROWS-ONLY {len(sdf)} rows ({el:.1f}s)", flush=True)
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            results[name] = ("DUCK-ERROR", traceback.format_exc(limit=4))
            print(f"[{name}] DUCK-ERROR", flush=True)
            continue
        try:
            problems = compare(name, sdf, ddf)
        except Exception:
            # a comparison crash (e.g. mixed float/object dtype coercion)
            # must cost only this query's verdict, not the whole run
            results[name] = ("COMPARE-ERROR", traceback.format_exc(limit=4))
            print(f"[{name}] COMPARE-ERROR", flush=True)
            continue
        if problems:
            results[name] = ("MISMATCH", problems)
            print(f"[{name}] MISMATCH: {problems[:3]}", flush=True)
        else:
            results[name] = ("OK", f"{len(sdf)} rows, {el:.1f}s")
            print(f"[{name}] OK {len(sdf)} rows ({el:.1f}s)", flush=True)

    print("\n==== SUMMARY ====", flush=True)
    ok = sum(1 for s, _ in results.values() if s == "OK")
    ro = sum(1 for s, _ in results.values() if s == "ROWS-ONLY")
    bad = {n: v for n, v in results.items() if v[0] not in ("OK", "ROWS-ONLY")}
    print(f"OK={ok} ROWS-ONLY={ro} BAD={len(bad)}", flush=True)
    for n, (s, detail) in bad.items():
        print(f"--- {n}: {s}\n{detail}\n", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
