"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count + schema (column names) + order-insensitive
values. Usage: python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from osm_addr_bot_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def compare(name, sdf, sql, con) -> str:
    spark_rows = sdf.collect()
    scols = sorted(sdf.columns)
    try:
        res = con.execute(sql)
        ocols_raw = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"ORACLE-ERROR: {str(e).splitlines()[0][:160]}"
    ocols = sorted(ocols_raw)
    if scols != ocols:
        return f"SCHEMA-MISMATCH spark={scols} oracle={ocols}"
    if len(spark_rows) != len(orows):
        return f"ROWS-MISMATCH spark={len(spark_rows)} oracle={len(orows)}"
    # dtype-strict: the driver's value-hash is TYPE-sensitive (e.g. DuckDB
    # HUGEINT fetches as float while Spark emits int — values equal, hash
    # not). Compare the python type of the first non-null cell per column.
    if spark_rows and orows:
        omap_raw = {c: i for i, c in enumerate(ocols_raw)}
        for c in scols:
            st = next((type(r[c]).__name__ for r in spark_rows if r[c] is not None), None)
            ot = next((type(r[omap_raw[c]]).__name__ for r in orows if r[omap_raw[c]] is not None), None)
            if st is not None and ot is not None and st != ot:
                return f"TYPE-MISMATCH col={c} spark={st} oracle={ot}"
    def sort_key(t):  # null-safe, mixed-type-safe ordering
        return tuple((v is None, str(v)) for v in t)

    sset = sorted(
        (tuple(norm_cell(r[c]) for c in scols) for r in spark_rows), key=sort_key
    )
    omap = {c: i for i, c in enumerate(ocols_raw)}
    oset = sorted(
        (tuple(norm_cell(r[omap[c]]) for c in scols) for r in orows), key=sort_key
    )
    if sset != oset:
        diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
        return f"VALUES-MISMATCH n={len(spark_rows)} first_diffs={diff}"
    return f"OK rows={len(spark_rows)}"


def main():
    only = set(sys.argv[1:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            if name not in oracles:
                n = sdf.count()
                print(f"{name:32s} ROWS-ONLY rows={n} ({time.time()-t0:.1f}s)")
                continue
            verdict = compare(name, sdf, oracles[name], con)
        except Exception as e:  # noqa: BLE001
            verdict = f"SPARK-ERROR: {str(e).splitlines()[0][:160]}"
        status = "PASS" if verdict.startswith("OK") else "FAIL"
        if status == "FAIL":
            failed.append(name)
        print(f"{name:32s} {verdict} ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL PASS' if not failed else 'FAILED: ' + ', '.join(failed)}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
