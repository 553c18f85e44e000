"""Output checks with DuckDB as the independent oracle.

Every check compares what the engine produced against SQL that DuckDB
runs over the same input files, by row count and an order-insensitive
digest of the values. Nothing here runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _norm(v) -> str:
    """One cell as text, stable across Spark/DuckDB type drift: floats
    to 9 significant digits (kills last-ulp summation noise), NaN and
    NULL spelled out, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def digest(cols, rows) -> tuple[int, str]:
    """(row count, md5 of the sorted rows with columns in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def sql_digest(con, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())


def rel_digest(con, sql: str) -> tuple[int, str]:
    """(row count, sum of per-row hashes) computed inside DuckDB, for
    results too large to fetch; columns hash in name order, so only
    names, types and values matter."""
    cols = ", ".join(f'"{c}"' for c in sorted(con.sql(sql).columns))
    n, h = con.sql(
        f"SELECT count(*), sum(hash({cols})::HUGEINT)::VARCHAR FROM ({sql})"
    ).fetchone()
    return n, h


def parquet_digest(con, path: str) -> tuple[int, str]:
    """:func:`rel_digest` of a Spark-written Parquet directory."""
    return rel_digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


# --- detections_topx ------------------------------------------------------

_DEDUP = """
    SELECT detection_oid,
           min(geographical_location_oid) AS loc,
           min(video_camera_oid) AS cam,
           min(item_name) AS item_name
    FROM read_parquet('{a}/*.parquet')
    GROUP BY detection_oid
"""

DETECTION_ORACLES = {
    "top_items": """
        WITH d AS ({dedup}),
        c AS (SELECT loc, item_name, count(*) AS cnt FROM d GROUP BY 1, 2),
        r AS (
            SELECT loc, item_name, row_number() OVER (
                PARTITION BY loc ORDER BY cnt DESC, item_name ASC NULLS FIRST
            ) AS rk FROM c
        )
        SELECT coalesce(b.geographical_location, 'Unknown')
                   AS geographical_location,
               CAST(r.rk AS VARCHAR) AS item_rank,
               r.item_name
        FROM r LEFT JOIN read_parquet('{b}/*.parquet') b
          ON r.loc = b.geographical_location_oid
        WHERE r.rk <= {top_x}
    """,
    "item_count": """
        WITH d AS ({dedup})
        SELECT loc AS geographical_location_oid, item_name, count(*) AS count
        FROM d GROUP BY 1, 2
    """,
    "location_stats": """
        WITH d AS ({dedup}),
        m AS (
            SELECT loc, cam, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY loc ORDER BY count(*) DESC, cam ASC
                   ) AS rk
            FROM d GROUP BY 1, 2
        )
        SELECT d.loc AS geographical_location_oid,
               count(*) AS total_detections,
               count(DISTINCT d.item_name) AS unique_items,
               any_value(m.cam) AS most_active_camera
        FROM d JOIN m ON d.loc = m.loc AND m.rk = 1
        GROUP BY d.loc
    """,
}


def detection_expected(data_a: str, data_b: str, top_x: int) -> dict:
    """Expected (count, digest) of each detections output."""
    con = connect()
    dedup = _DEDUP.format(a=data_a)
    out = {
        name: rel_digest(con, sql.format(dedup=dedup, b=data_b, top_x=top_x))
        for name, sql in DETECTION_ORACLES.items()
    }
    con.close()
    return out


# --- txtable_cdc ----------------------------------------------------------

_KEY = "detection_oid"
_COLS = (
    "geographical_location_oid, video_camera_oid, detection_oid, "
    "item_name, timestamp_detected"
)


class TxReplay:
    """The txtable_cdc op sequence replayed in DuckDB: the table state
    after every committed version, and the per-version change count the
    engine's key-level change feed must report (keys added, removed, or
    whose row changed)."""

    def __init__(self, base_dir: str):
        self.con = connect()
        self.con.execute(
            f"CREATE TABLE t AS SELECT {_COLS} "
            f"FROM read_parquet('{base_dir}/*.parquet')"
        )
        self.changes = 0

    def _step(self, mutate) -> None:
        self.con.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM t")
        mutate()
        cols = [c.strip() for c in _COLS.split(",")]
        old = ", ".join(f"prev.{c}" for c in cols)
        new = ", ".join(f"t.{c}" for c in cols)
        self.changes += self.con.sql(
            f"""SELECT count(*) FROM prev FULL OUTER JOIN t
                  ON prev.{_KEY} = t.{_KEY}
                WHERE row({old}) IS DISTINCT FROM row({new})"""
        ).fetchone()[0]

    def ingest(self, arrow_table) -> None:
        def go():
            self.con.register("batch", arrow_table)
            self.con.execute(f"INSERT INTO t SELECT {_COLS} FROM batch")
            self.con.unregister("batch")

        self._step(go)

    def merge(self, arrow_table) -> None:
        """Latest version wins per key across table and batch, the
        batch winning ties; a winning tombstone deletes the key."""

        def go():
            self.con.register("batch", arrow_table)
            self.con.execute(
                f"""CREATE OR REPLACE TABLE t AS
                SELECT {_COLS} FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY {_KEY}
                        ORDER BY timestamp_detected DESC, src DESC
                    ) AS rn FROM (
                        SELECT {_COLS}, 'U' AS op, 0 AS src FROM t
                        UNION ALL
                        SELECT {_COLS}, op, 1 AS src FROM batch
                    )
                ) WHERE rn = 1 AND op <> 'D'"""
            )
            self.con.unregister("batch")

        self._step(go)

    def delete_cameras(self, cameras) -> None:
        in_list = ", ".join(str(c) for c in cameras)
        self._step(
            lambda: self.con.execute(
                f"DELETE FROM t WHERE video_camera_oid IN ({in_list})"
            )
        )

    def where_digest(self, predicate: str) -> tuple[int, str]:
        return sql_digest(self.con, f"SELECT {_COLS} FROM t WHERE {predicate}")

    def snapshot_mismatch(self, arrow_table) -> int:
        """Rows in exactly one of the engine's snapshot and the replay
        (multiset difference both ways); 0 when they agree."""
        self.con.register("snap", arrow_table)
        n = self.con.sql(
            f"""SELECT (SELECT count(*) FROM (
                    SELECT {_COLS} FROM snap EXCEPT ALL SELECT {_COLS} FROM t))
                 + (SELECT count(*) FROM (
                    SELECT {_COLS} FROM t EXCEPT ALL SELECT {_COLS} FROM snap))"""
        ).fetchone()[0]
        self.con.unregister("snap")
        return n

    def close(self) -> None:
        self.con.close()


# --- corpus_near_dup ------------------------------------------------------

CORPUS_KEYS = ("ngram_jaccard_pairs", "near_dup_clusters", "hybrid_rrf_topk")


def corpus_expected(corpus_dir: str) -> dict:
    """Expected (count, digest) per corpus op, from the engine's own
    registry oracle SQL run over the benchmark's input directory."""
    from parquet_combiner_spark.functions import PIPELINE_ORACLE_SQL

    con = connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(corpus_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {k: sql_digest(con, PIPELINE_ORACLE_SQL[k]) for k in CORPUS_KEYS}
    con.close()
    return out
