"""Expected results, computed by DuckDB from the generated records.

The payload fields are extracted once into a flat DuckDB table, so each
expected aggregate is a small query.  All of it runs outside the timed
regions.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

#: flat view of the payload; column names match the ``-c`` mapping names
_FLAT = """
SELECT event_id, user_id % 4 AS part, event_type,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.payload.VP.lat') AS DOUBLE) AS lat,
       CAST(json_extract_string(props, '$.payload.VP.long') AS DOUBLE) AS long,
       CAST(json_extract_string(props, '$.payload.VP.veh') AS INTEGER) AS veh,
       json_extract_string(props, '$.payload.VP.route') AS route,
       CAST(json_extract_string(props, '$.payload.VP.spd') AS DOUBLE) AS speed,
       json_extract_string(props, '$.payload.VP.tst') AS tst,
       epoch_us(CAST(json_extract_string(props, '$.payload.VP.tst')
                     AS TIMESTAMPTZ)) AS tst_us
FROM src
"""


class Oracle:
    #: DuckDB threads; the oracle runs between timed ops, so it is kept
    #: small rather than fast
    THREADS = 2

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {self.THREADS}")
        self._n = 0

    def load(self, tbl: pa.Table) -> str:
        """Flatten ``tbl`` into a new DuckDB table; returns its name."""
        name = f"flat{self._n}"
        self._n += 1
        self.con.register("src", tbl)
        self.con.execute(f"CREATE TABLE {name} AS {_FLAT}")
        self.con.unregister("src")
        return name

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def same(got: list[tuple], want: list[tuple]) -> bool:
    """Row lists equal up to a relative tolerance of 1e-9 on floats (the
    two engines sum doubles in different orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
