"""Local replica of the driver's correctness gate: run queries() vs
oracle_sql() at sf0.01, compare rows/schema/value-hash (columns sorted by
name, md5 over row-sorted values). Usage: python scripts/check_oracle.py [q1 q2 ...]
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import duckdb
import pandas as pd

import __spark_entry__ as entry
from b2xtranslator_spark.plans.session import build_session

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> tuple:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        else:
            try:
                pdf[c] = pdf[c].astype("float64").round(6)
            except (ValueError, TypeError):
                pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return len(pdf), tuple(pdf.columns), pd.util.hash_pandas_object(pdf, index=False).sum()


def main():
    names = sys.argv[1:]
    qs = entry.queries()
    oq = entry.oracle_sql()
    if not names:
        names = [n for n in qs if n in oq]
    spark = build_session(app_name="b2x-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    fails = 0
    for name in names:
        spdf = qs[name](spark, SF_DIR).toPandas()
        if name not in oq:
            print(f"{name}: no_oracle spark_rows={len(spdf)}")
            continue
        odf = con.execute(oq[name]).df()
        sr, sc, sh = canon(spdf)
        orr, oc, oh = canon(odf)
        ok = (sr == orr) and (sc == oc) and (sh == oh)
        print(f"{name}: rows {sr}/{orr} schema_match={sc == oc} hash_match={sh == oh} {'PASS' if ok else 'FAIL'}")
        if not ok:
            fails += 1
            if sc != oc:
                print("  spark cols:", sc, "\n  oracle cols:", oc)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
