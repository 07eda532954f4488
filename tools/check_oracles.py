"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare
row-count, sorted column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

A FULL-registry run (no query filter) also writes CORRECTNESS_local.json
-- the committed round-close artifact proving every registered query has
a recorded green row, so a late registration can never ship unchecked
(round-4 lesson: the driver's sweep predated nine registrations).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    import __spark_entry__ as E
    from datasketches_server_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = records[name] = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(rows)
        except Exception as ex:
            failures.append(name)
            rec["err"] = f"spark error: {str(ex)[:300]}"
            print(f"FAIL  {name}: {rec['err']}")
            continue
        if name not in oracles:
            rec.update(rows_match=len(rows) >= 0, err="rows-only (no oracle)")
            print(f"rows  {name}: {len(rows)} rows (no oracle)")
            continue
        try:
            o = con.sql(oracles[name])
            ocols = o.columns
            orows = o.fetchall()
            rec["oracle_rows"] = len(orows)
        except Exception as ex:
            failures.append(name)
            rec["err"] = f"duckdb error: {str(ex)[:300]}"
            print(f"FAIL  {name}: {rec['err']}")
            continue
        problems = []
        rec["rows_match"] = len(rows) == len(orows)
        if not rec["rows_match"]:
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        rec["schema_match"] = sorted(c.lower() for c in cols) == sorted(
            c.lower() for c in ocols
        )
        if not rec["schema_match"]:
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if not problems:
            h1, h2 = value_hash(rows, cols), value_hash(orows, ocols)
            rec["hash_match"] = h1 == h2
            if h1 != h2:
                problems.append("value-hash mismatch")
                # show first differing normalized line
                order1 = sorted(range(len(cols)), key=lambda i: cols[i])
                order2 = sorted(range(len(ocols)), key=lambda i: ocols[i])
                l1 = sorted("|".join(norm_cell(r[i]) for i in order1) for r in rows)
                l2 = sorted("|".join(norm_cell(r[i]) for i in order2) for r in orows)
                for x, y in zip(l1, l2):
                    if x != y:
                        print(f"      spark : {x[:200]}\n      duckdb: {y[:200]}")
                        break
        if problems:
            failures.append(name)
            rec["err"] = "; ".join(problems)
            print(f"FAIL  {name}: {rec['err']}")
        else:
            print(f"OK    {name}: {len(rows)} rows")

    from datasketches_server_spark.plans import queries as Q

    print(f"\ndedup_pipeline builds this sweep: {Q._DEDUP_MEMO_BUILDS} "
          f"(memoized across {sum(1 for n in records if n.startswith(('q24','q26','q37','q38','q55','q56','q61','q62')))} q24-family queries)")
    Q.clear_dedup_memo()
    print(f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    if not only:  # full-registry sweep -> committed round-close artifact
        art = os.path.join(REPO, "CORRECTNESS_local.json")
        with open(art, "w") as f:
            json.dump(
                {
                    "_meta": {
                        "sf_dir": sf_dir,
                        "n_queries": len(records),
                        "n_failures": len(failures),
                        "generated_unix": int(time.time()),
                        "tool": "tools/check_oracles.py",
                    },
                    **records,
                },
                f,
                indent=2,
            )
        print(f"wrote {art} ({len(records)} queries)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
