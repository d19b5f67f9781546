"""DuckDB replays of the keyed-table workloads: the expected table
state after each write, computed from the same input files the
program read."""

from __future__ import annotations

import duckdb

from .data import FEATURES, PIPELINE_COLS

_COLS = ", ".join(PIPELINE_COLS)
# The engine's in-batch dedup keeps, per key, the row that sorts first
# by every non-key column descending with NULLs last
# (operators.merge.prepare_source with no order_by).
_TIE = ", ".join(f"{c} DESC NULLS LAST" for c in [*FEATURES, "score"])


class KeyedReplay:
    """Latest-per-key, null-skip, NULL-key-dropping upsert replay."""

    def __init__(self, base_parquet: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"CREATE TABLE state AS SELECT {_COLS} FROM "
            f"read_parquet('{base_parquet}/**/*.parquet')")
        self.version = 0

    def apply(self, src_parquet: str) -> dict:
        """Fold one source file into the state; returns the engine's
        write-result counts for it (n_matched/n_upserted/n_untouched)."""
        con = self.con
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE src AS
            SELECT {_COLS} FROM (
              SELECT *, row_number() OVER (PARTITION BY _id ORDER BY {_TIE}) rn
              FROM read_parquet('{src_parquet}') WHERE _id IS NOT NULL)
            WHERE rn = 1""")
        n_src, n_state, matched = con.execute("""
            SELECT (SELECT count(*) FROM src), (SELECT count(*) FROM state),
                   (SELECT count(*) FROM src JOIN state USING (_id))""").fetchone()
        merged = ", ".join(f"coalesce(s.{c}, t.{c}) AS {c}"
                           for c in [*FEATURES, "score"])
        con.execute(f"""
            CREATE OR REPLACE TABLE state AS
            SELECT coalesce(s._id, t._id) AS _id, {merged}
            FROM state t FULL OUTER JOIN src s ON t._id = s._id""")
        self.version += 1
        return {"n_matched": matched, "n_upserted": n_src - matched,
                "n_untouched": n_state - matched}

    def rows(self, where: str) -> list[tuple]:
        return self.con.execute(
            f"SELECT {_COLS} FROM state WHERE {where} ORDER BY _id").fetchall()

    def diff_table(self, out_parquet: str, corrupt: bool = False) -> int:
        """Rows in the program's output and not in the replay, plus
        the reverse (multiset difference). `corrupt` alters one output
        row first, to show the check is not vacuous."""
        con = self.con
        con.execute(f"CREATE OR REPLACE TABLE got AS SELECT {_COLS} FROM "
                    f"read_parquet('{out_parquet}/**/*.parquet')")
        if corrupt:
            con.execute("UPDATE got SET score = score + 1 "
                        "WHERE _id = (SELECT min(_id) FROM got)")
        a = con.execute("SELECT count(*) FROM (SELECT * FROM got "
                        "EXCEPT ALL SELECT * FROM state)").fetchone()[0]
        b = con.execute("SELECT count(*) FROM (SELECT * FROM state "
                        "EXCEPT ALL SELECT * FROM got)").fetchone()[0]
        return a + b

    def close(self) -> None:
        self.con.close()
