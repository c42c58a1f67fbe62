"""Output check: each query's result against DuckDB running its oracle SQL.

The comparison follows tools/check_oracle.py: columns sorted by name, the
same row count, no type difference outside the integer family, and every
value equal in produced row order. A query without an oracle must return
at least one row.

Some oracles take DuckDB minutes on sf0.1 (the IVF refit behind
sink_model_artifact_refresh alone takes about two), far more than a run
may spend. perfbench/expected.json therefore keeps, per query, a digest of
the oracle's result together with the SHA-256 of the oracle SQL it came
from; a run compares digests and runs DuckDB only for an oracle whose SQL
changed since. Equal digests mean equal outputs under the comparison above.
Regenerate the file with: python3 perfbench/oracle.py
"""
import hashlib
import json
import math
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# integer widths a hash of the output normalizes; other type differences fail
INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    return con


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # -0.0 and 0.0 compare equal
    return repr(v)


def summary(rel):
    """Sorted column names, their types, row count and a digest of the rows
    in produced order with columns sorted by name."""
    cols = [c.lower() for c in rel.columns]
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    types = [str(rel.types[i]).upper() for i in perm]
    types = ["INTEGER FAMILY" if t in INT_FAMILY else t for t in types]
    h = hashlib.sha256()
    n = 0
    while True:
        chunk = rel.fetchmany(10000)
        if not chunk:
            break
        for row in chunk:
            h.update("\x1f".join(_canon(row[i]) for i in perm).encode())
            h.update(b"\x1e")
        n += len(chunk)
    return {"cols": [cols[i] for i in perm], "types": types, "rows": n, "digest": h.hexdigest()}


def compare(want, got):
    """None when two summaries agree, else the first difference."""
    if want["cols"] != got["cols"]:
        return f"columns: spark={got['cols']} oracle={want['cols']}"
    for c, ot, st in zip(want["cols"], want["types"], got["types"]):
        if ot != st:
            return f"type of {c}: oracle={ot} spark={st}"
    if want["rows"] != got["rows"]:
        return f"row count: spark={got['rows']} oracle={want['rows']}"
    if want["digest"] != got["digest"]:
        return "values differ from the oracle's"
    return None


def check(con, out_dir, oracle_sql, expected):
    """Returns None when the output at out_dir is correct, else the reason."""
    try:
        got = summary(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))
    except Exception as e:
        return f"output unreadable: {e}"
    if oracle_sql is None:
        return None if got["rows"] else "no oracle and an empty result"
    want = expected if expected and expected["sql_sha256"] == sql_sha(oracle_sql) else None
    if want is None:
        try:
            want = summary(con.sql(oracle_sql))
        except Exception as e:
            return f"oracle SQL failed: {e}"
    return compare(want, got)


def regenerate(fixture, oracles):
    con = connect(fixture)
    out = {}
    for name, sql in sorted(oracles.items()):
        out[name] = {"sql_sha256": sql_sha(sql), **summary(con.sql(sql))}
        print(name, out[name]["rows"], file=sys.stderr)
    EXPECTED.write_text(json.dumps(out, indent=0, sort_keys=True) + "\n")


if __name__ == "__main__":
    import build
    build.build()
    regenerate(HERE / "fixture" / "sf0.1", json.loads(build.ORACLES.read_text()))
