"""Independent output checks, computed with DuckDB from the generator's
input and truth files (never from the program's own code or counts).

Batch: each sink's (row count, checksum of doc_id + payload) must equal
the oracle's, and the count must equal the generator's closed form.
Stream: every generated event must land exactly once in each sink its
routes name; a file is verified when all of its events do.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

from gen import SOURCE_CLASS, Inputs

_CLASS_VALUES = ", ".join(f"('{s}', '{c}')" for s, c in SOURCE_CLASS.items())

# route predicates over generator truth, one per sink (flagship ROUTES)
_FLAG_ROUTES = {
    "sink_errors": "malformed OR level = 'ERROR'",
    "sink_edge": "cls = 'edge' AND (malformed OR level <> 'DEBUG')",
    "sink_service": "cls = 'service'",
    "sink_rest": "NOT (cls = 'edge' AND (malformed OR level <> 'DEBUG')) "
                 "AND cls <> 'service'",
    "dlq": "malformed",
}

# perfbench/conf_parse.conf outputs: exactly one sink per event
_CONF_SINK = ("CASE WHEN malformed THEN 'dlq' "
              "WHEN level = 'ERROR' OR status >= 500 THEN 'alerts' "
              "ELSE 'events' END")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.tmp')}'")
    return con


def flagship_oracle(inp: Inputs) -> dict[str, tuple[int, int]]:
    """sink -> (rows, checksum) expected from the input parquet."""
    con = _con()
    con.execute(f"""
        CREATE TEMP VIEW ev AS
        SELECT i.doc_id, i.tokens, t.level, t.malformed,
               coalesce(c.cls, 'unknown') AS cls
        FROM read_parquet('{inp.input_dir}/*.parquet') i
        JOIN read_parquet('{inp.truth}') t USING (doc_id)
        LEFT JOIN (VALUES {_CLASS_VALUES}) c(source, cls) ON c.source = i.source
    """)
    out = {}
    for sink, pred in _FLAG_ROUTES.items():
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(doc_id, tokens)::HUGEINT), 0) "
            f"FROM ev WHERE {pred}").fetchone()
        out[sink] = (int(n), int(h))
    con.close()
    return out


def snapshot_files(table_root: str) -> list[str]:
    """Parquet files of a sink table's latest committed snapshot, read
    from its JSON manifest."""
    snaps = sorted(glob.glob(os.path.join(table_root, "_snapshots", "*.json")))
    if not snaps:
        return []
    with open(snaps[-1]) as f:
        dirs = json.load(f)["files"]
    files: list[str] = []
    for d in dirs:
        files += glob.glob(os.path.join(table_root, d, "**", "*.parquet"), recursive=True)
    return sorted(files)


def flagship_sink_sums(sinks_root: str, sinks) -> dict[str, tuple[int, int]]:
    con = _con()
    out = {}
    for sink in sinks:
        files = snapshot_files(os.path.join(sinks_root, sink))
        if not files:
            out[sink] = (0, 0)
            continue
        n, h = con.execute(
            "SELECT count(*), coalesce(sum(hash(doc_id, tokens)::HUGEINT), 0) "
            "FROM read_parquet(?)", [files]).fetchone()
        out[sink] = (int(n), int(h))
    con.close()
    return out


def check_flagship_pass(sinks_root: str, oracle: dict, closed_form: dict) -> list[str]:
    """Problems found in one batch pass's sinks (empty when verified)."""
    got = flagship_sink_sums(sinks_root, oracle)
    problems = []
    for sink, (n, h) in oracle.items():
        gn, gh = got[sink]
        if gn != closed_form[sink]:
            problems.append(f"{sink}: {gn} rows, closed form {closed_form[sink]}")
        if (gn, gh) != (n, h):
            problems.append(f"{sink}: (rows, checksum) {(gn, gh)} != oracle {(n, h)}")
    return problems


def check_stream(sinks_root: str, inp: Inputs):
    """Check the unified stream layout `sink=<name>/_batch_id=<id>/`.

    Returns (file_idx -> last micro-batch id holding its events, file
    indices whose events did not all land exactly once in their sink
    with the parsed status intact, number of sink rows whose doc_id no
    generated event has, rows per sink)."""
    pattern = os.path.join(sinks_root, "sink=*", "_batch_id=*", "*.parquet")
    con = _con()
    con.execute(f"""
        CREATE TEMP VIEW exp AS
        SELECT doc_id, file_idx, {_CONF_SINK} AS sink,
               CASE WHEN malformed THEN NULL ELSE status END AS status
        FROM read_parquet('{inp.truth}')
    """)
    if glob.glob(pattern):
        con.execute(f"""
            CREATE TEMP VIEW got AS
            SELECT doc_id, sink, CAST(_batch_id AS BIGINT) AS batch_id, status
            FROM read_parquet('{pattern}', hive_partitioning = true)
        """)
    else:
        con.execute("CREATE TEMP VIEW got AS SELECT NULL::VARCHAR doc_id, "
                    "NULL::VARCHAR sink, NULL::BIGINT batch_id, NULL::BIGINT status "
                    "WHERE false")
    rows = con.execute("""
        WITH g AS (
            SELECT doc_id, sink, count(*) AS n, max(batch_id) AS batch_id,
                   min(status) AS smin, max(status) AS smax
            FROM got GROUP BY doc_id, sink
        )
        SELECT e.file_idx,
               max(g.batch_id) AS batch_id,
               bool_and(coalesce(g.n = 1 AND g.smin IS NOT DISTINCT FROM e.status
                                 AND g.smax IS NOT DISTINCT FROM e.status,
                                 false)) AS ok
        FROM exp e LEFT JOIN g USING (doc_id, sink)
        GROUP BY e.file_idx
    """).fetchall()
    # rows in a sink their event does not route to: blame the event's file
    stray = con.execute("""
        SELECT t.file_idx FROM got g
        LEFT JOIN (SELECT DISTINCT doc_id, file_idx FROM exp) t USING (doc_id)
        WHERE NOT EXISTS (SELECT 1 FROM exp e
                          WHERE e.doc_id = g.doc_id AND e.sink = g.sink)
    """).fetchall()
    sink_rows = dict(con.execute("SELECT sink, count(*) FROM got GROUP BY sink").fetchall())
    con.close()
    batch_of = {int(f): int(b) for f, b, _ in rows if b is not None}
    bad = {int(f) for f, _, ok in rows if not ok}
    bad |= {int(f) for (f,) in stray if f is not None}
    return batch_of, bad, sum(1 for (f,) in stray if f is None), sink_rows
