"""Independent correctness gate: DuckDB computes each workload's expected
final table straight from the generated WAL and compares it with the
engine's table in both directions.

Nothing here imports the engine. Whole-row workloads use last-writer-wins
by (ts, lsn, op) through a window; the Mongo workload parses each oplog
line itself and resolves each cell to its latest write.
"""

from __future__ import annotations

import duckdb

# the generated text is ASCII and single-spaced, so the engine's
# normalize_text (NFC, control-char strip, whitespace collapse) is the
# identity on it; the gate checks that instead of re-implementing NFC
_NORMALIZED = (
    "text IS NULL OR (regexp_full_match(text, '[ -~]*') "
    "AND text = trim(regexp_replace(text, '\\s+', ' ', 'g')))"
)


def _list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _whole_row(con, wal: list[str]) -> None:
    con.sql(
        f"CREATE VIEW wal AS SELECT * REPLACE (CAST(turn_idx AS BIGINT) AS turn_idx) "
        f"FROM read_parquet({_list(wal)}, union_by_name = true)"
    )
    con.sql(
        "CREATE TABLE expected AS SELECT * FROM ("
        " SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx"
        "  ORDER BY ts DESC, lsn DESC, op DESC) AS rn FROM wal)"
        " WHERE rn = 1 AND op <> 'D'"
    )


def _mongo_cells(con, wal: list[str], cells_in: list[str]) -> None:
    """Cell-level expected state; every cell column is a string."""
    cell_t = ", ".join(f'"{c}": "VARCHAR"' for c in cells_in)
    flag_t = ", ".join(f'"{c}": "BOOLEAN"' for c in cells_in)
    keys_t = '"conv_id": "VARCHAR", "turn_idx": "INTEGER"'
    shape = (
        '{"ts": {"$timestamp": {"t": "BIGINT", "i": "BIGINT"}}, '
        '"op": "VARCHAR", "ns": "VARCHAR", '
        f'"o": {{{keys_t}, {cell_t}, "$set": {{{cell_t}}}, "$unset": {{{flag_t}}}}}, '
        f'"o2": {{{keys_t}}}}}'
    )
    # each line on its own, as the engine's text source splits them: a
    # line that is not valid JSON (a truncated envelope) is an all-null
    # row. read_json would let an unclosed line run on into the next.
    con.sql(
        f"CREATE VIEW lines AS SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line "
        f"FROM read_text({_list(wal)})"
    )
    con.sql(
        "CREATE VIEW raw AS SELECT r.ts AS ts, r.op AS op, r.o AS o, r.o2 AS o2 FROM ("
        f" SELECT CASE WHEN json_valid(line) THEN json_transform(line, '{shape}') END AS r"
        " FROM lines)"
    )
    patch = "(op = 'u' AND (o.\"$set\" IS NOT NULL OR o.\"$unset\" IS NOT NULL))"
    cells = []
    for c in cells_in:
        unset = f"coalesce(o.\"$unset\".{c}, false)"
        cells.append(
            f"CASE WHEN {patch} THEN (o.\"$set\".{c} IS NOT NULL OR {unset}) "
            f"ELSE true END AS w_{c}"
        )
        cells.append(
            f"CASE WHEN {patch} THEN (CASE WHEN {unset} THEN NULL ELSE o.\"$set\".{c} END) "
            f"ELSE o.{c} END AS v_{c}"
        )
    con.sql(
        "CREATE TABLE ev AS SELECT"
        " CASE op WHEN 'i' THEN 'I' WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' END AS op,"
        " ts.\"$timestamp\".t AS t,"
        " CAST(ts.\"$timestamp\".t AS HUGEINT) * 4294967296 + ts.\"$timestamp\".i AS ord,"
        " coalesce(o2.conv_id, o.conv_id) AS conv_id,"
        " CAST(coalesce(o2.turn_idx, o.turn_idx) AS BIGINT) AS turn_idx, "
        + ", ".join(cells)
        + " FROM raw"
    )
    con.sql(
        "CREATE VIEW valid AS SELECT * FROM ev WHERE op IS NOT NULL"
        " AND conv_id IS NOT NULL AND turn_idx IS NOT NULL AND t IS NOT NULL"
    )
    # a delete shadows every cell written before it; the row lives iff a
    # non-delete event is newer than the latest delete
    con.sql(
        "CREATE VIEW tomb AS SELECT conv_id, turn_idx,"
        " max(ord) FILTER (WHERE op = 'D') AS del_ord FROM valid GROUP BY ALL"
    )
    vis = "(m.del_ord IS NULL OR v.ord > m.del_ord)"
    resolved = ", ".join(
        f"first(v.v_{c} ORDER BY v.ord DESC) FILTER (WHERE v.op <> 'D' AND v.w_{c} AND {vis}) AS {c}"
        for c in cells_in
    )
    con.sql(
        "CREATE TABLE expected AS SELECT v.conv_id, v.turn_idx, "
        + resolved
        + f", to_timestamp(first(v.t ORDER BY v.ord DESC) FILTER (WHERE v.op <> 'D')) AS ts"
        f" FROM valid v JOIN tomb m USING (conv_id, turn_idx)"
        f" GROUP BY v.conv_id, v.turn_idx"
        f" HAVING max(v.ord) FILTER (WHERE v.op <> 'D' AND {vis}) IS NOT NULL"
    )


def check(inputs: dict, actual_dir: str) -> dict:
    """Compare the engine's final table (parquet under ``actual_dir``) with
    the oracle. Returns mismatch and row counts (and, for the Mongo
    workload, expected and actual dead-letter counts)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        con.sql(f"CREATE VIEW actual_raw AS SELECT * FROM read_parquet('{actual_dir}/*.parquet')")
        cols = [c for c in con.sql("SELECT * FROM actual_raw LIMIT 0").columns]
        if inputs["kind"] == "whole_row":
            _whole_row(con, inputs["wal"])
            src = "wal"
        else:
            _mongo_cells(con, inputs["wal"], [c for c in cols if c not in ("conv_id", "turn_idx", "ts")])
            src = "valid"
        (not_normalized,) = con.sql(
            f"SELECT count(*) FROM (SELECT {'text' if src == 'wal' else 'v_text AS text'} "
            f"FROM {src}) WHERE NOT ({_NORMALIZED})"
        ).fetchone()
        if not_normalized:
            raise AssertionError(
                f"{not_normalized} generated texts are not ASCII single-spaced; "
                "the oracle's identity normalize does not hold"
            )

        def proj(rel: str) -> str:
            return ", ".join(
                f"epoch_us({c}) AS {c}" if c == "ts"
                else f"CAST({c} AS BIGINT) AS {c}" if c == "turn_idx"
                else c
                for c in cols
            ) + f" FROM {rel}"

        con.sql(f"CREATE VIEW a AS SELECT {proj('actual_raw')}")
        con.sql(f"CREATE VIEW e AS SELECT {proj('expected')}")
        (extra,) = con.sql("SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e)").fetchone()
        (missing,) = con.sql("SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a)").fetchone()
        (rows,) = con.sql("SELECT count(*) FROM a").fetchone()
        (expected_rows,) = con.sql("SELECT count(*) FROM e").fetchone()
        out = {
            "state_mismatch_rows": int(extra + missing),
            "rows": int(rows),
            "expected_rows": int(expected_rows),
        }
        if inputs["kind"] == "mongo_cells":
            invalid = "op IS NULL OR conv_id IS NULL OR turn_idx IS NULL OR t IS NULL"
            (dead_expected,) = con.sql(f"SELECT count(*) FROM ev WHERE {invalid}").fetchone()
            (dead,) = con.sql(
                f"SELECT count(*) FROM read_parquet('{inputs['dead_dir']}/*.parquet')"
            ).fetchone()
            out["dead_expected"] = int(dead_expected)
            out["dead_rows"] = int(dead)
            # every malformed envelope in the dead letter, exactly once
            out["dead_ok"] = dead == dead_expected
        return out
    finally:
        con.close()
