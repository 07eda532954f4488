"""The registered dedup/similarity operator queries, run once each in a
traced run and checked against their DuckDB oracles.

They run in the traced run of sketch_service, not of full_dedup: the
full_dedup traced run already holds the staged passes and the ingest
chain, and with the queries too it came within 30 s of the 180 s limit
on a busy host, while the sketch_service traced run had time to spare."""

from __future__ import annotations

import os

from common import value_hash
from gen import write_sf_dir

N_DOCS = 300            # documents/embeddings rows for the operator queries
OPERATOR_QUERIES = {
    "prefix": "q46_prefix_dedup_assignments",
    "exactsubstr": "q47_exactsubstr_coverage",
    "ssjoin": "q111_allpairs_ssjoin",
    "winnowing": "q127_winnowing_pairs",
    "ann_cosine": "q31_ann_lsh_cosine",
}


def run_operator_queries(spark, res, tr, work: str, seed: int) -> None:
    """Each query on seeded documents and embeddings tables, one span and
    Spark job description per query; wall and row count into res.metrics,
    and a check against the DuckDB oracle of the same query."""
    import duckdb

    import __spark_entry__ as E
    from datasketches_server_spark.plans import queries as Q

    sf = os.path.join(work, "sf")
    write_sf_dir(sf, N_DOCS, seed)
    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for op, qname in OPERATOR_QUERIES.items():
        with tr.span(op, op) as s:
            df = getattr(Q, qname)(spark, sf)
            rows = [tuple(r) for r in df.collect()]
        res.metrics[f"{op}.wall_s"] = s["end"] - s["start"]
        res.metrics[f"{op}.rows_out"] = len(rows)
        o = con.sql(oracles[qname])
        orows = o.fetchall()
        same = len(rows) == len(orows) and value_hash(rows, df.columns) == value_hash(orows, o.columns)
        res.check(f"{qname} == duckdb oracle", same, f"{len(rows)} vs {len(orows)} rows")
    con.close()


def operator_layer_metrics(res, stage: dict) -> None:
    for op in OPERATOR_QUERIES:
        a = stage.get(op, {})
        res.metrics[f"{op}.task_s"] = a.get("task_s", 0.0)
        res.metrics[f"{op}.shuffle_mb"] = a.get("shuffle_mb", 0.0)
