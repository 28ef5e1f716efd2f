"""DuckDB oracle checksums of the registry rows a query workload runs.

They are computed before timing starts, on the same corpus the run
reads, and every op's result is compared with its row's checksum.
"""

from __future__ import annotations

import duckdb

from lakebench import checksum, corpus


def lsh_pairs_by_join(registry_sql: str) -> str:
    """dd_lsh_candidates' oracle restated as a join on shared shingles.

    The registry oracle compares every document pair's shingle lists
    with nested list functions, O(docs² · shingles²): 8 s at sf0.01 and
    hours at sf0.1. Pairs sharing no shingle have Jaccard 0 and fail the
    0.3 cut, so counting shared shingles over a join on the shingle
    gives the same pairs and the same quotient of the same integers.
    The benchmark's tests check that the two agree on the small corpora.
    """
    cte = registry_sql.split("SELECT * FROM (")[0]
    return cte + """,
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    n AS (SELECT doc_id, len(s) AS k FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (na.k + nb.k - c) AS jaccard
    FROM inter JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (na.k + nb.k - c) >= 0.3
    """


def oracle_sql(name: str) -> str:
    """The registry's oracle SQL for ``name``, restated where the registry
    form is too slow to run before every benchmark run."""
    from pg_lake_spark.queries import QUERIES

    sql = QUERIES[name].oracle
    return lsh_pairs_by_join(sql) if name == "dd_lsh_candidates" else sql


def expected(names: list[str], sf_dir: str) -> dict[str, dict]:
    """Oracle checksum of each row in ``names`` over the corpus ``sf_dir``."""
    con = duckdb.connect()
    try:
        corpus.register_duck_views(con, sf_dir)
        return {n: checksum.duck_checksum(con, oracle_sql(n)) for n in names}
    finally:
        con.close()
