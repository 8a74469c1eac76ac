"""Spark-vs-DuckDB comparison harness mirroring (strictly) the driver's
t2 check: row count, schema arity, and order-insensitive value comparison
with columns sorted by name. Stricter than a hash: full value diff.
Also the streaming-finals ≡ batch-features check the sessionizer tests
share."""

from __future__ import annotations

import math

import duckdb


def duck_for(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and represent with full precision
        return repr(v + 0.0)
    if isinstance(v, bool):
        return repr(int(v))
    return repr(v)


def _canon(rows: list[tuple], names: list[str]) -> list[tuple]:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(spark_df, con, sql: str, name: str = "?") -> None:
    sdf = spark_df.toPandas()
    ddf = con.execute(sql).fetchdf()
    s_names = sorted(sdf.columns.tolist())
    d_names = sorted(ddf.columns.tolist())
    assert s_names == d_names, f"{name}: column names differ\n spark={s_names}\n duck ={d_names}"
    s_rows = _canon([tuple(r) for r in sdf.itertuples(index=False)], sdf.columns.tolist())
    d_rows = _canon([tuple(r) for r in ddf.itertuples(index=False)], ddf.columns.tolist())
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    if s_rows != d_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def assert_finals_match(got_df, want_df) -> None:
    """A streaming sessionizer's final rows equal the batch whole-flow
    features, every oracle column; only the sumsq-derived std/variance
    features may differ from the exact two-pass batch numbers, by at
    most max(2, 0.1%)."""
    cols = want_df.columns
    want = sorted(tuple(str(v) for v in r) for r in want_df.select(*cols).collect())
    finals = got_df.filter("is_final")
    assert finals.count() == len(want), (
        f"expected {len(want)} finals, got {finals.count()}"
    )
    got = sorted(tuple(str(v) for v in r) for r in finals.select(*cols).collect())
    fuzzy = {i for i, c in enumerate(cols) if "std" in c or "variance" in c}
    for ra, rb in zip(got, want):
        for i, (va, vb) in enumerate(zip(ra, rb)):
            if va == vb:
                continue
            assert i in fuzzy, f"{cols[i]}: stream={va} batch={vb}"
            assert abs(int(va) - int(vb)) <= max(2, int(int(vb) * 0.001)), (
                f"{cols[i]}: stream={va} batch={vb}"
            )
