"""Output checks: order-insensitive row digests and their expected values.

A digest is ``[row_count, sha256]`` computed with ``tools/check.py``'s
``frame_hash`` (the engine's oracle-gate comparison). Expected digests
come from three places:

- registered queries: the query's DuckDB oracle over the benchmark
  dataset (``oracle_digests``, computed once per build);
- parameterised handlers: ``digests.json`` beside this file, recorded
  by ``python3 perfbench/run.py --record`` at the seed commit;
- ingest steps: DuckDB SQL over the source events, built per pass from
  the pass's seeded delta days (``ingest_expected_sql``).
"""

from __future__ import annotations

import json
import os

import duckdb

# The package first: tools/check.py prepends a fixed checkout path to
# sys.path, and the code measured must be this checkout's.
from listenbrainz_server_spark.catalog import TPCH_TABLES, table_path
from tools.check import frame_hash  # noqa: I001

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = os.path.join(HERE, "digests.json")


def digest(cols: list[str], rows: list[tuple]) -> list:
    h, n = frame_hash(cols, rows)
    return [n, h]


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
        )
    return con


def sql_digest(con: duckdb.DuckDBPyConnection, sql: str) -> list:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, list]:
    from listenbrainz_server_spark.queries import load_all

    registry = load_all()
    con = duck(data_dir)
    return {n: sql_digest(con, registry[n].oracle) for n in names}


def load_recorded() -> dict[str, list]:
    if not os.path.exists(RECORDED):
        return {}
    with open(RECORDED) as f:
        return json.load(f)


def user_entity_counts_sql(where: str) -> str:
    """The ``user_entity`` partial (per user × event_type counts)."""
    return (
        "SELECT user_id, event_type, COUNT(*) AS listen_count FROM events "
        f"WHERE {where} GROUP BY user_id, event_type"
    )


def final_user_entity_sql(where: str) -> str:
    """``plans.incremental_stats.final_user_entity_stats`` (k=1000) over
    the events selected by ``where``."""
    return f"""
    WITH agg AS ({user_entity_counts_sql(where)})
    SELECT user_id, event_type, listen_count,
           CAST(SUM(listen_count) OVER (PARTITION BY user_id) AS BIGINT) AS total_count,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY listen_count DESC, event_type) AS BIGINT) AS rank
    FROM agg
    QUALIFY rank <= 1000
    """


def ingest_expected_sql(step: str, where: str = "TRUE") -> str:
    return {
        "import.dump.full": "SELECT * FROM events",
        "import.compact_listens": "SELECT *, CAST(ts AS DATE) AS day FROM events",
        "import.deleted_listens": "SELECT * FROM events WHERE event_id % 100 <> 0",
        "partial": user_entity_counts_sql(where),
        "final": final_user_entity_sql(where),
    }[step]
