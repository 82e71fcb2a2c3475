"""Independent answers the benchmark checks the program against.

DuckDB twins run on the same generated inputs the program reads: the
three curated fact tables (the wallet-profits one is the catalog's own
oracle SQL) and a SQL twin of `whale_counts`. The fact tables the
program lands are read back and digested by DuckDB too, so both sides
of a comparison go through one digest function. The corpus answers come
from the generator, which knows what it planted.
"""

from __future__ import annotations

import os

import duckdb


def _connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    return con


def _fact_sql() -> dict[str, str]:
    """DuckDB twins of the three curated fact tables through the last
    day of the raw inputs. Profits is the catalog's own oracle for
    `q22_wallet_profits_kernel`; transfers and market data reuse the
    engine's oracle SQL for the daily aggregations."""
    from etl_pipelines_spark.queries import QUERIES
    from etl_pipelines_spark.queries.timeseries import DAILY_PRICES_SQL, TRANSFERS_SQL

    return {
        "coin_wallet_transfers": f"""
            SELECT coin_id, wallet_address, date, net_transfers,
                   CAST(SUM(net_transfers) OVER (
                       PARTITION BY coin_id, wallet_address ORDER BY date
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance
            FROM ({TRANSFERS_SQL})""",
        # densify each coin from its first day to the global last day,
        # forward-fill price, days_imputed = days since the last real price
        "coin_market_data": f"""
            WITH p AS ({DAILY_PRICES_SQL}),
            first_day AS (SELECT coin_id, MIN(date) AS d0 FROM p GROUP BY coin_id),
            last_day AS (SELECT MAX(date) AS d1 FROM p),
            grid AS (
                SELECT coin_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
                FROM first_day, last_day
            ),
            j AS (
                SELECT g.coin_id, g.date, p.price,
                       MAX(CASE WHEN p.price IS NOT NULL THEN g.date END) OVER w AS last_real,
                       last_value(p.price IGNORE NULLS) OVER w AS filled
                FROM grid g LEFT JOIN p ON g.coin_id = p.coin_id AND g.date = p.date
                WINDOW w AS (PARTITION BY g.coin_id ORDER BY g.date
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT coin_id, date, filled AS price,
                   CASE WHEN price IS NULL THEN CAST(date_diff('day', last_real, date) AS BIGINT)
                   END AS days_imputed
            FROM j""",
        "coin_wallet_profits": QUERIES["q22_wallet_profits_kernel"].oracle,
    }


def _digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, int]:
    """(n_rows, digest) of a query, digested over its sorted column
    names with the engine's `row_digest_sql`, the DuckDB twin of its
    `table_digest`."""
    from etl_pipelines_spark.operators.tablediff import row_digest_sql

    cols = sorted(c[0] for c in con.execute(f"DESCRIBE ({sql})").fetchall())
    n, digest = con.execute(
        "SELECT count(*), CAST(SUM(CAST(("
        f"{row_digest_sql(cols)}) AS DECIMAL(38,0))) AS DECIMAL(38,0)) "
        f"FROM ({sql})"
    ).fetchone()
    return int(n), int(digest)


def fact_digests(raw_dir: str, work_dir: str) -> dict[str, tuple[int, int]]:
    """{table: (n_rows, digest)} of the DuckDB twins over `raw_dir`."""
    con = _connect(work_dir)
    try:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
            f"'{raw_dir}/lineitem.parquet/*.parquet')"
        )
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{raw_dir}/orders.parquet')")
        return {table: _digest(con, sql) for table, sql in _fact_sql().items()}
    finally:
        con.close()


def landed_digests(wh_dir: str, work_dir: str) -> dict[str, tuple[int, int]]:
    """{table: (n_rows, digest)} of the fact tables the program wrote
    under `wh_dir`, read back from its date-partitioned parquet and
    digested the same way as the twins."""
    con = _connect(work_dir)
    try:
        return {
            t: _digest(con, f"SELECT * FROM read_parquet('{wh_dir}/{t}/*/*.parquet', "
                            "hive_partitioning = true)")
            for t in _fact_sql()
        }
    finally:
        con.close()


def whale_counts_twin(
    cwt_dir: str, coin_id: int, shrimp: float, whale: float, work_dir: str
) -> list[tuple[str, int, int, int]]:
    """SQL twin of `plans.whale_chart.whale_counts` over one coin of the
    landed `coin_wallet_transfers`: per-wallet running balance, daily
    grid from each wallet's first day to the coin's last day, forward
    fill, bucket, count per day."""
    con = _connect(work_dir)
    try:
        rows = con.execute(f"""
            WITH t AS (
                SELECT wallet_address AS w, CAST(date AS DATE) AS d, net_transfers AS x
                FROM read_parquet('{cwt_dir}/*/*.parquet', hive_partitioning = true)
                WHERE coin_id = {int(coin_id)}
            ),
            daily AS (SELECT w, d, SUM(x) AS net FROM t GROUP BY w, d),
            bal AS (
                SELECT w, d, SUM(net) OVER (
                    PARTITION BY w ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
                FROM daily
            ),
            first_day AS (SELECT w, MIN(d) AS d0 FROM bal GROUP BY w),
            last_day AS (SELECT MAX(d) AS d1 FROM bal),
            grid AS (
                SELECT w, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
                FROM first_day, last_day
            ),
            filled AS (
                SELECT g.w, g.d, last_value(b.b IGNORE NULLS) OVER (
                    PARTITION BY g.w ORDER BY g.d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
                FROM grid g LEFT JOIN bal b ON g.w = b.w AND g.d = b.d
            )
            SELECT CAST(d AS VARCHAR),
                   CAST(SUM(CASE WHEN bal < {shrimp!r} THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN bal >= {shrimp!r} AND bal < {whale!r} THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN bal >= {whale!r} THEN 1 ELSE 0 END) AS BIGINT)
            FROM filled GROUP BY d ORDER BY d
        """).fetchall()
    finally:
        con.close()
    return [(d, int(s), int(m), int(w)) for d, s, m, w in rows]


def spec_rows(spec: dict) -> list[tuple[str, int, int, int]]:
    """The (date, small, medium, whale) rows a whale-chart spec encodes."""
    series = {s["name"]: s["values"] for s in spec["series"]}
    return list(zip(spec["x"]["values"], series["small"], series["medium"], series["whale"]))


def declared_audits(config: dict) -> int:
    """Audit results a full refresh must report: one per column-rule
    type and one per table check, for every table in the config."""
    n = 0
    for spec in config.values():
        spec = spec or {}
        rule_types = {r for rules in (spec.get("columns") or {}).values() for r in rules}
        n += len(rule_types) + len(spec.get("checks") or [])
    return n
