"""Independent correctness checks: DuckDB reads the same parquet.

Nothing here goes through Spark. API answers are compared with the
equivalent DuckDB point, page and keyset queries; the sync target is
compared with a DuckDB latest-wins merge of every landed batch; the
dedup keep-list with the registry's chained DuckDB replay of the
streaming index; export totals with a DuckDB recomputation of the
token-budget shard arithmetic; analytics results by value hash against
their registered DuckDB oracle.
"""

from __future__ import annotations

import tempfile

import duckdb

# the repository's own oracle-hash rule, so the two cannot drift apart
from tools.verify_oracle import table_hash

EVENT_COLS = "event_id, ts, user_id, event_type, value"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def rows_of(spark_rows, cols: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in spark_rows]


class ApiOracle:
    """Answers the API surface's questions from the base parquet."""

    def __init__(self, base_dir: str):
        self.con = connect()
        self.con.execute(f"CREATE TABLE events AS SELECT * FROM '{base_dir}/events.parquet'")
        self.con.execute(f"CREATE TABLE customer AS SELECT * FROM '{base_dir}/customer.parquet'")
        self.cols = [d[0] for d in self.con.execute("SELECT * FROM events LIMIT 0").description]

    def _q(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def expected(self, req: dict) -> tuple[list[str], list[tuple], bool]:
        """(columns, rows, ordered) the request must return."""
        c = ", ".join(self.cols)
        op = req["op"]
        if op == "get_activity":
            return self.cols, self._q(f"SELECT {c} FROM events WHERE event_id = ?", [req["id"]]), False
        if op in ("list_offset", "list_deep"):
            sql = f"SELECT {c} FROM events ORDER BY ts DESC, event_id DESC LIMIT ? OFFSET ?"
            return self.cols, self._q(sql, [req["limit"], req["offset"]]), True
        if op == "list_keyset":
            sql = (
                f"SELECT {c} FROM events WHERE ts < make_timestamp(?) "
                "OR (ts = make_timestamp(?) AND event_id < ?) "
                "ORDER BY ts DESC, event_id DESC LIMIT ?"
            )
            p = [req["cursor_us"], req["cursor_us"], req["cursor_id"], req["limit"]]
            return self.cols, self._q(sql, p), True
        if op == "user_lookup":
            sql = (
                "SELECT c_custkey AS user_id, c_name AS username, "
                "c_custkey + 10000000 AS athlete_id FROM customer WHERE c_custkey = ?"
            )
            return ["user_id", "username", "athlete_id"], self._q(sql, [req["user_id"]]), False
        if op == "sync_window":
            sql = (
                f"SELECT {c} FROM events WHERE ts >= "
                f"(SELECT max(ts) FROM events) - INTERVAL {int(req['days'])} DAY"
            )
            return self.cols, self._q(sql), False
        raise ValueError(op)

    def matches(self, req: dict, spark_rows) -> bool:
        cols, want, ordered = self.expected(req)
        got = rows_of(spark_rows, cols)
        if not ordered:
            return sorted(got) == sorted(want)
        # offset pages come back unordered (a row_number filter); compare
        # them as sets — the page membership IS the ordering contract
        if req["op"] != "list_keyset":
            return sorted(got) == sorted(want)
        return got == want


def sync_target_matches(base_dir: str, landed: list[str], target_dir: str) -> bool:
    """The target equals a latest-wins merge of the base and every landed
    batch in landing order (ties go to the later batch)."""
    con = connect()
    parts = [f"SELECT {EVENT_COLS}, 0 AS src FROM '{base_dir}/events.parquet'"]
    parts += [
        f"SELECT {EVENT_COLS}, {i + 1} AS src FROM '{p}'" for i, p in enumerate(landed)
    ]
    con.execute(
        "CREATE TABLE want AS SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value "
        f"FROM ({' UNION ALL '.join(parts)}) "
        "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY epoch_us(ts) DESC, src DESC) = 1"
    )
    con.execute(
        "CREATE TABLE got AS SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value "
        f"FROM read_parquet('{target_dir}/*/*.parquet')"
    )
    (n_want,) = con.execute("SELECT count(*) FROM want").fetchone()
    (n_got,) = con.execute("SELECT count(*) FROM got").fetchone()
    (diff,) = con.execute(
        "SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM got) "
        "UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
    ).fetchone()
    con.close()
    return n_want == n_got and diff == 0


def dedup_keep_list(oracle_sql: str, landing_glob: str) -> set[int]:
    """Run the registry's streaming-index replay over the landed docs."""
    con = connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{landing_glob}')")
    out = {int(r[0]) for r in con.execute(oracle_sql).fetchall()}
    con.close()
    return out


def kept_ids(kept_dir: str) -> set[int]:
    con = connect()
    out = {int(r[0]) for r in con.execute(f"SELECT doc_id FROM read_parquet('{kept_dir}/batch=*/*.parquet')").fetchall()}
    con.close()
    return out


def export_shards(kept_dir: str, target_tokens: int) -> list[tuple]:
    """(shard_id, n_docs, n_tokens) per shard: exclusive token prefix sum
    in (h, doc_id) order, integer-divided by the shard token budget."""
    con = connect()
    rows = con.execute(
        f"""
        WITH kept AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS h,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM read_parquet('{kept_dir}/batch=*/*.parquet')
        ), cum AS (
            SELECT n_tokens, sum(n_tokens) OVER (ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
            FROM kept
        )
        SELECT CAST(cum_excl // {target_tokens} AS BIGINT), CAST(count(*) AS BIGINT),
               CAST(sum(n_tokens) AS BIGINT)
        FROM cum GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    con.close()
    return rows


# -- registry oracle comparison ----------------------------------------------
class RegistryOracle:
    """DuckDB views named like the catalog's tables, over the base dir."""

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

    def __init__(self, base_dir: str):
        self.con = connect()
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'")

    def matches(self, sql: str, spark_cols: list[str], spark_rows) -> bool:
        rel = self.con.sql(sql)
        dcols = [c.lower() for c in rel.columns]
        drows = rel.fetchall()
        scols = [c.lower() for c in spark_cols]
        return (
            sorted(scols) == sorted(dcols)
            and len(spark_rows) == len(drows)
            and table_hash(scols, [tuple(r) for r in spark_rows]) == table_hash(dcols, drows)
        )
