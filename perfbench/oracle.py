"""Compares registry query outputs with DuckDB running the registry's
oracle SQL over the same tables.

The comparison is the row-sorted compare of scripts/check_oracle.py:
sorted column names, then every row with its cells normalised (NaN as
"NaN"), each side's rows sorted by repr, and the rows compared pairwise
with Python's ==. The registry_mix workload's check calls it after the
timed window, with the outputs it kept and the oracle SQL it wrote:

    python3 perfbench/oracle.py --data DIR --results DIR --sql FILE --out FILE

and reads one `query<TAB>ok|FAIL<TAB>detail` line per query from --out.
"""
import argparse
import json
import math
import sys
import tempfile
from pathlib import Path

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def sorted_rows(con, sql: str):
    cols = sorted(con.sql(sql).columns)
    rows = sorted((tuple(norm(v) for v in row)
                   for row in con.sql(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()),
                  key=repr)
    return cols, rows


def check(data_dir: str, results: Path, oracle_sql: dict, spill_dir: str) -> list:
    """One (query, ok, detail) per query of `oracle_sql`."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = []
    for q in sorted(oracle_sql):
        res = results / q
        if not res.exists():
            out.append((q, False, "no output written"))
            continue
        spark_cols, spark = sorted_rows(con, f"SELECT * FROM '{res}/*.parquet'")
        oracle_cols, oracle = sorted_rows(con, oracle_sql[q])
        detail = f"{len(spark)} rows vs {len(oracle)} from DuckDB"
        if spark_cols != oracle_cols:
            out.append((q, False, f"{detail}; columns {spark_cols} != {oracle_cols}"))
            continue
        bad = sum(a != b for a, b in zip(spark, oracle))
        if bad:
            detail += f"; {bad} rows differ"
        out.append((q, len(spark) == len(oracle) and not bad, detail))
    return out


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True, help="the test tables")
    ap.add_argument("--results", type=Path, required=True, help="one parquet directory per query")
    ap.add_argument("--sql", type=Path, required=True, help="oracle SQL keyed by query, as JSON")
    ap.add_argument("--out", type=Path, required=True, help="where the verdicts go")
    ap.add_argument("--spill", default=tempfile.gettempdir(), help="DuckDB's spill directory")
    a = ap.parse_args()
    verdicts = check(a.data, a.results, json.loads(a.sql.read_text()), a.spill)
    a.out.write_text("".join(f"{q}\t{'ok' if ok else 'FAIL'}\t{' '.join(d.split())}\n"
                             for q, ok, d in verdicts))
