"""DuckDB oracle check of the results a run collected.

Each distinct query of a workload is checked once, outside the timed
section, against its ``ORACLE_SQL`` twin over the same parquet tables.
Both sides are canonicalised by ``scripts/verify_drive.frame_rows``, the
repository's oracle drive: columns sorted by name, NaN read as NULL,
floats rounded to 9 places, rows sorted by all columns; then compared
exactly.
"""

from __future__ import annotations

import os
from pathlib import Path

from scripts.verify_drive import frame_rows


def diff(spark_result, oracle_result) -> str | None:
    """First difference between two ``(columns, rows)`` results, or None."""
    sc, sr = frame_rows(*spark_result)
    oc, orows = frame_rows(*oracle_result)
    if sc != oc:
        return f"columns {sc} vs oracle {oc}"
    if len(sr) != len(orows):
        return f"{len(sr)} rows vs oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(sr, orows)):
        if a != b:
            return f"sorted row {i}: {a!r} vs oracle {b!r}"[:300]
    return None


def check(results: dict, sf_dir: str, tmp: Path) -> dict[str, str]:
    """Map of query name -> defect for every result that is an exception
    or differs from its oracle; empty when all match."""
    import duckdb

    from formula1_dataengineering_spark.plans import ORACLE_SQL

    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for f in sorted(Path(sf_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        defects = {}
        for name, res in results.items():
            if isinstance(res, BaseException):
                defects[name] = f"spark raised {type(res).__name__}: {res}"[:300]
                continue
            sql = ORACLE_SQL.get(name)
            if sql is None:
                defects[name] = "no oracle"
                continue
            cur = con.execute(sql)
            want = ([d[0] for d in cur.description], cur.fetchall())
            problem = diff(res, want)
            if problem is not None:
                defects[name] = problem
        return defects
    finally:
        con.close()
