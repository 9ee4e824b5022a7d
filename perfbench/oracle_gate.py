"""DuckDB oracle gate, built on ``tests/oracle.py``'s canonicalisation.

Batch queries: each registered query's oracle SQL runs once per fixture,
after the timed set-up and before the timed loop, and its canonical
result is cached under the build dir. Served statements: the SQL text the client sent runs verbatim on
DuckDB after the timed loop, and the rendered rows are compared."""

from __future__ import annotations

import hashlib
import os
import pickle


def _oracle():
    # imported on use: tests.oracle pulls in the program package, whose
    # import cost belongs to the timed set-up
    from tests import oracle

    return oracle


def cached_oracles(build_dir: str, sf_dir: str, oracle_sql: dict[str, str]) -> dict:
    """name -> (sorted columns, type tokens, canonical rows) for each
    ``name -> oracle SQL`` of ``oracle_sql``. A cached result is keyed by
    the fixture's stamp, ``tests/oracle.py``'s source and the SQL text, so
    a change to any of them recomputes it. Call it after the timed set-up."""
    oracle = _oracle()
    with open(os.path.join(sf_dir, "READY"), "rb") as f:
        fixture_id = f.read()
    with open(oracle.__file__, "rb") as f:
        canon_src = f.read()
    cache_dir = os.path.join(build_dir, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for name, sql in oracle_sql.items():
            key = hashlib.sha256(b"\0".join((fixture_id, canon_src, sql.encode()))).hexdigest()
            path = os.path.join(cache_dir, f"{name}-{key[:20]}.pkl")
            if not os.path.exists(path):
                con = con or oracle.duckdb_connect(sf_dir)
                tbl = con.execute(sql).arrow()
                cols = list(tbl.schema.names)
                types = {f.name: oracle._canon_arrow_type(f.type) for f in tbl.schema}
                entry = (sorted(cols), oracle.canon_rows(cols, oracle._arrow_rows(tbl)), types)
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(entry, f)
                os.replace(path + ".tmp", path)
            with open(path, "rb") as f:
                cols, rows, types = pickle.load(f)
            out[name] = (cols, types, rows)
    finally:
        if con is not None:
            con.close()
    return out


def matches_batch(expected, columns, dtypes: dict[str, str], rows) -> bool:
    """The ``tests/oracle.compare`` verdict: same columns, no type-class
    difference, equal canonical rows."""
    oracle = _oracle()
    cols, types, want = expected
    if sorted(columns) != cols:
        return False
    for c in columns:
        st, at = oracle._canon_spark_type(dtypes[c]), types[c]
        if st != "?" and at != "?" and st != at:
            return False
    return oracle.canon_rows(list(columns), [tuple(r) for r in rows]) == want


# ---------------------------------------------------------------------------
# served statements


def _typed(lines: list[str], schema, delim: str):
    """Split the server's rendered rows and cast each column to the
    oracle's type (``NULL`` is the server's null)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = pc.split_pattern(pa.array(lines, pa.string()), delim)
    cols = []
    for i, field in enumerate(schema):
        col = pc.list_element(parts, i)
        col = pc.if_else(pc.equal(col, "NULL"), pa.scalar(None, pa.string()), col)
        cols.append(col.cast(field.type))
    return pa.Table.from_arrays(cols, schema=schema)


def matches_served(columns, got: list[str], duck, delim: str) -> bool:
    """Compare the rendered rows with the oracle's arrow table as typed,
    sorted tables; when they differ, compare 9-significant-digit canonical
    rows, which absorbs sums taken in another order."""
    import pyarrow as pa

    oracle = _oracle()
    if list(columns) != duck.schema.names or len(got) != duck.num_rows:
        return False
    if not got:
        return True
    try:
        mine = _typed(got, duck.schema, delim)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return False  # a value that does not parse as its column's type
    keys = [(c, "ascending") for c in columns]
    if mine.sort_by(keys).equals(duck.sort_by(keys)):
        return True
    return oracle.canon_rows(list(columns), oracle._arrow_rows(mine)) == oracle.canon_rows(
        list(columns), oracle._arrow_rows(duck)
    )


def memory_connection(sf_dir: str):
    """``tests/oracle.duckdb_connect`` with each fixture view materialised
    in memory, so replaying many statements does not rescan parquet."""
    oracle = _oracle()
    con = oracle.duckdb_connect(sf_dir)
    for t in oracle.ALL_TABLES:
        con.execute(f"CREATE TABLE {t}_mem AS SELECT * FROM {t}")
        con.execute(f"DROP VIEW {t}")
        con.execute(f"ALTER TABLE {t}_mem RENAME TO {t}")
    return con


def run_duck(con, sql: str):
    """Run one statement on DuckDB; its result as an arrow table, or None
    for a statement that returns no result set."""
    cur = con.execute(sql)
    return None if cur.description is None else cur.arrow()
