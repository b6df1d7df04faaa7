"""Output checks: value hashes of the pipeline's marts and oracle
fingerprints of the registered queries."""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def value_hash(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, int]:
    """(rows, order-insensitive hash of every row) of a DuckDB relation.

    Doubles are rounded to six decimals: the weekly marts hold averages
    whose last bits depend on summation order, and an average of at most
    five 2-decimal values is never near a rounding tie at six decimals.
    Adding 0.0 folds -0.0 into 0.0.
    """
    cols = sorted(con.execute(f'DESCRIBE "{relation}"').fetchall())
    exprs = [
        f'round("{name}", 6) + 0.0' if typ == "DOUBLE" else f'"{name}"'
        for name, typ, *_ in cols
    ]
    n, h = con.execute(
        f'SELECT count(*), coalesce(sum(hash({", ".join(exprs)})), 0) FROM "{relation}"'
    ).fetchone()
    return int(n), int(h)


def verify_pipeline(tables: dict, qc: list, expected: dict) -> list[str]:
    """Every problem with one pipeline result: a row count that differs,
    a failed QC test, or a weekly mart whose value hash differs."""
    problems = [
        f"{name}: {got} rows, expected {want}"
        for name, want in expected["counts"].items()
        if (got := tables[name].count()) != want
    ]
    problems += [f"QC {r.test}({r.table}.{','.join(r.columns)}) failed" for r in qc if not r.passed]
    con = duckdb.connect()
    try:
        for name, want in expected["hashes"].items():
            con.register(name, tables[name].toArrow())
            if (got := value_hash(con, name)) != want:
                problems.append(f"{name}: value hash {got}, expected {want}")
    finally:
        con.close()
    return problems


def oracle_fingerprints(queries: dict, sf_dir: str, tables: list[str]) -> dict:
    """Each query's DuckDB oracle result in the repository's fingerprint
    format (``tools/check_oracle.frame_fingerprint``)."""
    fp = _load_check_oracle().frame_fingerprint
    con = duckdb.connect()
    try:
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, q in queries.items():
            cur = con.execute(q.oracle)
            out[name] = fp([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def spark_fingerprint(df) -> tuple:
    """A Spark result in the same fingerprint format as its oracle."""
    fp = _load_check_oracle().frame_fingerprint
    return fp(df.columns, [tuple(r) for r in df.collect()])
