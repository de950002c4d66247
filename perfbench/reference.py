"""Independent DuckDB reduction of the generated change log, and the checks
that compare the engine's outputs against it.

The reduction is last-writer-wins per ``(conv_id, turn_idx)``: the event
with the latest ``(ts, lsn)`` decides the key, and a delete there drops it.
That is ``oracle.reduce_events`` written as one SQL query over the parquet
files the engine reads; it shares no code with the engine.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

#: the reader-visible table columns, after the schema-evolution tranche
COLS = [
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("tool_call_id", pa.string()),
    ("tool_latency_ms", pa.float64()),
]
_NAMES = ", ".join(n for n, _ in COLS)


def _lww(source: str, partition: str, select: str) -> str:
    return (
        f"SELECT {select} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY {partition} ORDER BY ts DESC, lsn DESC) AS rn "
        f"FROM {source}) WHERE rn = 1 AND op <> 'delete'"
    )


def conform(table: pa.Table) -> pa.Table:
    """The engine's rows in the reference column order. Columns the table
    does not have yet (before the evolution tranche) read as null."""
    arrays = []
    for name, typ in COLS:
        if name in table.column_names:
            arrays.append(table.column(name).cast(typ))
        else:
            arrays.append(pa.nulls(table.num_rows, typ))
    return pa.Table.from_arrays(arrays, names=[n for n, _ in COLS])


class Reference:
    """The reduction of one generated input, held in an in-memory DuckDB."""

    def __init__(self, events_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW ev AS SELECT * FROM read_parquet("
            f"'{events_path}/epoch=*/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            "CREATE TABLE final AS " + _lww("ev", "conv_id, turn_idx", _NAMES)
        )
        self.events = self.con.execute("SELECT count(*) FROM ev").fetchone()[0]
        self.rows = self.con.execute("SELECT count(*) FROM final").fetchone()[0]

    def close(self) -> None:
        self.con.close()

    def final_diff(self, got: pa.Table) -> int:
        """Rows missing from ``got`` plus rows it has extra."""
        self.con.register("got", conform(got))
        try:
            return self.con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {_NAMES} FROM final "
                f"EXCEPT ALL SELECT {_NAMES} FROM got)) + (SELECT count(*) FROM "
                f"(SELECT {_NAMES} FROM got EXCEPT ALL SELECT {_NAMES} FROM final))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")

    def lookup_mismatches(
        self, lookups: list[tuple[int, str, int]], results: list[pa.Table]
    ) -> int:
        """Lookups whose rows differ from the reduction as of their epoch.

        ``lookups``: (lookup id, conv_id, last applied epoch) per lookup;
        ``results``: the rows each lookup returned, in the same order."""
        if not lookups:
            return 0
        spec = pa.table(
            {
                "i": [i for i, _, _ in lookups],
                "conv_id": [c for _, c, _ in lookups],
                "upto": [e for _, _, e in lookups],
            }
        )
        got = pa.concat_tables(
            conform(t).append_column("i", pa.array([i] * t.num_rows, pa.int64()))
            for (i, _, _), t in zip(lookups, results)
        )
        want = _lww(
            "(SELECT s.i, e.* FROM spec s JOIN ev e "
            "ON e.conv_id = s.conv_id AND e.epoch <= s.upto)",
            "i, conv_id, turn_idx",
            f"i, {_NAMES}",
        )
        q = (
            f"WITH want AS ({want}), "
            f"d AS ((SELECT i, {_NAMES} FROM want EXCEPT ALL "
            f"SELECT i, {_NAMES} FROM got) UNION ALL (SELECT i, {_NAMES} "
            f"FROM got EXCEPT ALL SELECT i, {_NAMES} FROM want)) "
            "SELECT count(DISTINCT i) FROM d"
        )
        self.con.register("spec", spec)
        self.con.register("got", got)
        try:
            return self.con.execute(q).fetchone()[0]
        finally:
            self.con.unregister("spec")
            self.con.unregister("got")
