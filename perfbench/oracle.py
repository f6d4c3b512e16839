"""Checks graft's outputs against computations made apart from graft:
DuckDB over the same parquet inputs, canonicalized by the project's
`tools/check.py` (columns sorted by name, values stringified, rows
sorted, strict type parity)."""
import pathlib
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.append(str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
from check import TABLES, norm_rows, tnorm  # noqa: E402  (tools/check.py)


def connect(base, extra_docs=()):
    """DuckDB with one view per table of `base`; `documents` may be a
    directory of parquet files, and `extra_docs` are appended to it."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    base = pathlib.Path(base)
    for t in TABLES:
        p = base / f"{t}.parquet"
        files = sorted(str(f) for f in p.glob("*.parquet")) if p.is_dir() else [str(p)]
        if t == "documents":
            files = [f for f in files if pathlib.Path(f).name.startswith("part-")]
            files += [str(f) for f in extra_docs]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    return con


def expected(con, sql):
    """DuckDB's result for `sql`: (types, columns, rows) canonicalized, or
    the error that kept it from running."""
    try:
        res = con.sql(sql)
        ocols = [c.lower() for c in res.columns]
        oarrow = res.arrow()
        orows = con.sql(sql).fetchall()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
    otypes = {c.lower(): tnorm(oarrow.schema.field(i).type) for i, c in enumerate(oarrow.column_names)}
    return (otypes, *norm_rows(ocols, orows))


def compare(want, result_dir):
    """None when graft's result at `result_dir` equals `want` (from
    `expected`), else why not."""
    if isinstance(want, str):
        return want
    otypes, oc, orr = want
    tbl = pq.read_table(result_dir)
    scols = [c.lower() for c in tbl.column_names]
    srows = list(zip(*[tbl.column(c).to_pylist() for c in tbl.column_names])) if tbl.num_rows else []
    stypes = {c.lower(): tnorm(tbl.schema.field(i).type) for i, c in enumerate(tbl.column_names)}
    if stypes != otypes:
        return f"type mismatch {stypes} vs {otypes}"
    sc, sr = norm_rows(scols, srows)
    if sc != oc:
        return f"schema mismatch {sc} vs {oc}"
    if sr != orr:
        return f"value mismatch ({len(sr)} vs {len(orr)} rows)"
    return None


def event_types(events_parquet):
    """{type: [count, sum(user_id)]} over a raw events file."""
    con = duckdb.connect()
    rows = con.sql(f"SELECT event_type, count(*), sum(user_id)::BIGINT "
                   f"FROM '{events_parquet}' GROUP BY 1").fetchall()
    return {t: [n, s] for t, n, s in rows}
