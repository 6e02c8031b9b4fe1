"""Expected outputs, computed with DuckDB from the generated inputs only.

CDC: last-writer-wins by `lsn` per (conv_id, turn_idx) over the feed
files, winning deletes dropped, text normalized with
`trim(regexp_replace(text, '\\s+', ' ', 'g'))`. The engine's table and the
DuckDB rows are compared through one order-independent digest (row count
and bit_xor of xxhash64 over the five payload columns), evaluated by Spark
on both sides so the hash function is the same. A changelog read is
checked the same way against the rows the applies of its batches must
write: each batch's events minus the redelivered copies of earlier batches
(the lsn-ordered watermark filter drops those), last writer per key.

Queries: each headline query's `oracle_sql()` answer, rows normalized as
`tools/check_oracles.py` does, reduced to a sha256 over the sorted rows.
The answers depend only on the curation tables and the oracle SQL, so they
are computed once and cached under a name derived from both.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
from pyspark.sql import functions as F

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool"]
CHANGE_COLS = PAYLOAD + ["_lsn", "_change_type"]
NORM_TEXT = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
CURATION_TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]


class FeedOracle:
    def __init__(self, feed_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        glob = os.path.join(feed_dir, "v*", "batch=*", "*.parquet")
        self.con.execute(
            "CREATE VIEW ev AS SELECT * FROM read_parquet("
            f"'{glob}', hive_partitioning = true, union_by_name = true)"
        )

    def _state_sql(self, upto_batch: int | None, conv_ids: list[str] | None) -> str:
        where = []
        if upto_batch is not None:
            where.append(f"batch <= 'b{upto_batch:09d}'")
        if conv_ids:
            where.append("conv_id IN (" + ",".join(f"'{c}'" for c in conv_ids) + ")")
        cond = ("WHERE " + " AND ".join(where)) if where else ""
        return (
            f"SELECT conv_id, turn_idx, role, {NORM_TEXT} AS text, tool FROM ("
            f"SELECT * FROM ev {cond} QUALIFY row_number() OVER "
            "(PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) = 1) WHERE op <> 'D'"
        )

    def state_arrow(self, upto_batch: int | None = None):
        return self.con.sql(self._state_sql(upto_batch, None)).arrow()

    def state_rows(self, upto_batch: int | None, conv_ids: list[str]) -> list[tuple]:
        return sorted(self.con.sql(self._state_sql(upto_batch, conv_ids)).fetchall())

    def _changes_sql(self, batches: tuple[int, ...]) -> str:
        names = ",".join(f"'b{b:09d}'" for b in batches)
        return (
            f"SELECT conv_id, turn_idx, role, {NORM_TEXT} AS text, tool, lsn AS _lsn, "
            "CASE WHEN op = 'D' THEN 'delete' ELSE 'upsert' END AS _change_type "
            f"FROM ev e WHERE batch IN ({names}) "
            "AND NOT EXISTS (SELECT 1 FROM ev p WHERE p.lsn = e.lsn AND p.batch < e.batch) "
            "QUALIFY row_number() OVER (PARTITION BY batch, conv_id, turn_idx ORDER BY lsn DESC) = 1"
        )

    def changes_arrow(self, batches: tuple[int, ...]):
        """The changelog rows that applying `batches` in order writes."""
        return self.con.sql(self._changes_sql(batches)).arrow()

    def changes_rows(self, batches: tuple[int, ...]) -> int:
        return self.con.sql(f"SELECT count(*) FROM ({self._changes_sql(batches)})").fetchone()[0]

    def live_rows(self, upto_batch: int | None) -> int:
        return self.con.sql(f"SELECT count(*) FROM ({self._state_sql(upto_batch, None)})").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def digest(df, names: list[str] = PAYLOAD) -> tuple[int, int]:
    """(rows, bit_xor of per-row xxhash64) over `names`, each hashed as a
    string; a table that has not evolved yet reads `tool` as null."""
    cols = [
        (F.col(c) if c in df.columns else F.lit(None)).cast("string") for c in names
    ]
    r = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def expected_digest(spark, arrow_table, names: list[str] = PAYLOAD) -> tuple[int, int]:
    return digest(spark.createDataFrame(arrow_table), names)


def point_rows(rows) -> list[tuple]:
    return sorted(tuple(r.asDict().get(c) for c in PAYLOAD) for r in rows)


# ---------------------------------------------------------------------------
# query answers
# ---------------------------------------------------------------------------
def rows_digest(cols: list[str], rows) -> dict:
    from tools.check_oracles import normrow

    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    norm = sorted(normrow(tuple(r[i] for i in idx)) for r in (tuple(x) for x in rows))
    h = hashlib.sha256(repr(norm).encode()).hexdigest()
    return {"cols": order, "rows": len(norm), "sha256": h}


def query_answers(sf_dir: str, names: list[str], cache_dir: str) -> dict[str, dict]:
    """{query: rows_digest} of the DuckDB oracle, cached in cache_dir."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    key = hashlib.sha256(repr((sf_dir, [sql[n] for n in names])).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in CURATION_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for n in names:
        rel = con.sql(sql[n])
        out[n] = rows_digest(list(rel.columns), rel.fetchall())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
