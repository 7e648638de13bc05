"""Output checks: registry results against their DuckDB oracles, and the
poll pipeline's delay statistics against the generator's ground truth."""

from __future__ import annotations

import hashlib
import math

import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def digest(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, content hash) of a result frame.

    The normalization of ``scripts/drive_contract.py``, copied because
    importing that script runs it: datetimes as µs isoformat strings,
    columns sorted by name, rows as sorted tuples of ``repr``.
    """
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype("datetime64[us]").map(lambda x: x.isoformat())
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(tuple(repr(v) for v in r) for r in pdf.itertuples(index=False))
    return len(pdf), tuple(pdf.columns), hashlib.sha256(repr(rows).encode()).hexdigest()[:12]


def oracle_frames(data_dir: str, sql: dict[str, str], threads: int, temp_dir: str) -> dict[str, pd.DataFrame]:
    """Every oracle in ``sql``, run by DuckDB over ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute(f"SET temp_directory='{temp_dir}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {name: con.execute(q).df() for name, q in sql.items()}
    finally:
        con.close()


def rounding_flips(got: pd.DataFrame, want: pd.DataFrame) -> int | None:
    """Number of float cells where two results differ only by one unit in
    the last decimal place the column is rounded to: ``round(sum(x), 2)``
    whose exact value is a half-cent, summed by the two engines in
    different orders, lands on either side of the boundary. ``None`` when
    the results differ in any other way: rows, columns, a non-float cell,
    an unrounded float, or a larger gap.
    """
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return None
    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"]
    others = [c for c in cols if c not in floats]
    a, b = (
        df[cols].sort_values(others + floats, kind="stable").reset_index(drop=True)
        for df in (got, want)
    )
    if digest(a[others]) != digest(b[others]):
        return None
    flips = 0
    for c in floats:
        x, y = a[c].tolist(), b[c].tolist()
        pairs = [(u, v) for u, v in zip(x, y) if repr(u) != repr(v)]
        if not pairs:
            continue
        k = _decimals(x + y)
        if not k or not all(math.isclose(abs(u - v), 10.0**-k, rel_tol=1e-6) for u, v in pairs):
            return None
        flips += len(pairs)
    return flips


def _decimals(values: list[float], most: int = 9) -> int | None:
    """The fewest decimals every finite value is rounded to, if any (0 for
    integral values, which get no tolerance)."""
    finite = [v for v in values if math.isfinite(v)]
    for k in range(most + 1):
        if all(round(v, k) == v for v in finite):
            return k
    return None


def stats_mismatches(rows: list, truth: dict[str, tuple]) -> list[str]:
    """Compare collected ``delay_stats(board, ["station7"])`` rows with
    ``PollFeed.truth()``; returns one message per disagreeing station."""
    got = {
        r["station7"]: (
            r["n_passages"], r["n_delayed"], r["n_cancelled"],
            r["avg_delay_s"], r["median_delay_s"], r["max_delay_s"],
        )
        for r in rows
    }
    bad = [f"missing station {s}" for s in truth.keys() - got.keys()]
    bad += [f"unexpected station {s}" for s in got.keys() - truth.keys()]
    for s in truth.keys() & got.keys():
        if not all(_same(a, b) for a, b in zip(got[s], truth[s])):
            bad.append(f"station {s}: got {got[s]}, expected {truth[s]}")
    return bad


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
