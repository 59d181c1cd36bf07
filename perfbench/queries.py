"""The nine registered queries that cover the standalone operators.

The pipeline never calls the standalone detector UDFs, ``operators.dedup``
or ``operators.containment``; these queries do. Each runs once over a
seeded ``documents`` table (``gen.documents``) and its rows are compared
with its ``oracle_sql`` twin run by DuckDB on the same table.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

# (query names, documents rows): the detectors at 300 rows, the
# containment family, whose word-set lattice grows fast with row count on
# a 30-word vocabulary, at 120
GROUPS = (
    (
        (
            "dedup_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_substring",
            "connected_components",
        ),
        300,
    ),
    (("containment_join", "minimal_elements", "lattice_recall", "minel_stats"), 120),
)
NAMES = tuple(q for names, _n in GROUPS for q in names)


def _run(query, spark, sf_dir: str):
    # building some of these DataFrames already runs jobs (eager
    # checkpoints), so the timed call covers construction and collect
    df = query(spark, sf_dir)
    return df, df.collect()


def run_queries(spark, tracer, root: str, seed: int) -> tuple[dict[str, float], list[str]]:
    """({query: wall seconds}, [failure descriptions])."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import multiset

    from gen import documents

    qs, oracles = entry.queries(), entry.oracle_sql()
    walls: dict[str, float] = {}
    failures: list[str] = []
    for names, n_rows in GROUPS:
        sf_dir = os.path.join(root, f"documents_{n_rows}")
        os.makedirs(sf_dir)
        path = os.path.join(sf_dir, "documents.parquet")
        pq.write_table(pa.table(documents(seed, n_rows)), path)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for q in names:
                t0 = time.perf_counter()
                df, rows = tracer.span(f"query.{q}", _run, qs[q], spark, sf_dir)
                walls[q] = time.perf_counter() - t0
                rel = con.sql(oracles[q])
                want = multiset(rel.fetchall(), [d[0] for d in rel.description])
                if sorted(df.columns) != sorted(d[0] for d in rel.description):
                    failures.append(f"{q}: columns {df.columns} differ from the oracle")
                elif multiset(rows, df.columns) != want:
                    failures.append(f"{q}: rows differ from the oracle")
        finally:
            con.close()
    return walls, failures
