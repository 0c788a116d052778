"""Output checks for the benchmark's checked pass, replayed in DuckDB.

Each check compares one op's result with DuckDB's answer over the same
inputs: the column set, the row count and an order-independent digest
of the rows.

- "sql" checks: the op's parquet result against `SparkEntry.oracleSql`
  run over the pass's input tables. Values are compared as pandas
  renders them, rows sorted (the comparison tools/crosscheck.py makes
  for graft.Verify), since the two sides may type a value differently.
- "node" checks: a node_chain node's CSV output (typed by its metadata
  sidecar) against the node's join and derived column recomputed from
  the generated input CSVs. Both sides are DuckDB relations of the same
  types, so the digest is a sum of row hashes computed in DuckDB.

The first check that passes is also perturbed twice (one value
changed, one row dropped); both perturbations must be caught.
"""
import hashlib

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

LINEITEM = {"l_orderkey": "BIGINT", "l_partkey": "BIGINT",
            "l_quantity": "DOUBLE", "l_extendedprice": "DOUBLE",
            "l_discount": "DOUBLE"}
ORDERS = {"o_orderkey": "BIGINT", "o_custkey": "BIGINT",
          "o_totalprice": "DOUBLE", "o_orderpriority": "VARCHAR"}
DUCK_TYPE = {"long": "BIGINT", "double": "DOUBLE", "string": "VARCHAR",
             "integer": "INTEGER", "float": "FLOAT", "boolean": "BOOLEAN"}

# node_chain's three nodes, as DuckDB SQL over the generated CSVs
NODE_SQL = {
    "n1": """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice,
                    l_discount, o_custkey, o_orderpriority,
                    l_extendedprice * (1.0 - l_discount) AS revenue
             FROM li JOIN o ON l_orderkey = o_orderkey""",
    "n2": """SELECT n1.*, o_totalprice AS total2,
                    revenue / o_totalprice AS share
             FROM n1 JOIN o ON l_orderkey = o_orderkey""",
    "n3": """SELECT n2.*, o_totalprice AS total3,
                    share * l_quantity AS weighted
             FROM n2 JOIN o ON l_orderkey = o_orderkey""",
}


def _csv(path, cols):
    struct = ", ".join(f"'{k}': '{v}'" for k, v in cols.items())
    return (f"read_csv('{path}/*.csv', header=false, "
            f"columns={{{struct}}})")


def frame_digest(df):
    """(columns, rows, digest) of a pandas frame, row order ignored."""
    cols = sorted(df.columns)
    rows = sorted(tuple(str(v) for v in row)
                  for row in df[cols].itertuples(index=False))
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return cols, len(df), h.hexdigest()


def relation_digest(con, rel):
    """(columns, rows, digest) of a DuckDB relation, row order ignored:
    the sum of a hash of each row's values."""
    cols = sorted(con.sql(f"SELECT * FROM ({rel}) LIMIT 0").columns)
    keys = ", ".join(f'"{c}"' for c in cols)
    n, s = con.sql(f"SELECT count(*), sum(hash({keys})::HUGEINT) "
                   f"FROM ({rel})").fetchone()
    return cols, n, str(s)


def differs(g, e):
    """None when two digests agree, else a one-line reason."""
    if g[0] != e[0]:
        return f"columns {g[0]} vs {e[0]}"
    if g[1] != e[1]:
        return f"rows {g[1]} vs {e[1]}"
    if g[2] != e[2]:
        return "row digest differs"
    return None


def check_sql(c, con, selftest):
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{c['data']}/{t}.parquet'")
    got = con.sql(f"SELECT * FROM '{c['result']}/*.parquet'").fetchdf()
    exp = frame_digest(con.sql(c["oracle"]).fetchdf())
    why = differs(frame_digest(got), exp)
    if why or not selftest or len(got) < 2:
        return why, None
    changed = got.copy()
    col = sorted(changed.columns)[0]
    row = changed[col].first_valid_index()
    if row is None:
        return why, None
    v = changed.at[row, col]
    if pd.api.types.is_numeric_dtype(changed[col]):
        changed.at[row, col] = v + 1
    else:
        changed[col] = changed[col].astype(object)
        changed.at[row, col] = f"{v}~"
    dropped = got.iloc[1:]
    return why, all(differs(frame_digest(p), exp) for p in (changed, dropped))


def check_node(c, con, selftest):
    names = c["columns"].split(",")
    types = [DUCK_TYPE[t.strip().lower()] for t in c["types"].split(",")]
    got = _csv(c["result"], dict(zip(names, types)))
    con.sql(f"CREATE VIEW li AS SELECT * FROM "
            f"{_csv(c['data'] + '/lineitem', LINEITEM)}")
    con.sql(f"CREATE VIEW o AS SELECT * FROM "
            f"{_csv(c['data'] + '/orders', ORDERS)}")
    for node in ("n1", "n2", "n3"):
        con.sql(f"CREATE VIEW {node} AS {NODE_SQL[node]}")
    exp = relation_digest(con, f"SELECT * FROM {c['op']}")
    g = relation_digest(con, f"SELECT * FROM {got}")
    why = differs(g, exp)
    if why or not selftest or g[1] < 2:
        return why, None
    first = names[0]
    changed = (f"SELECT * REPLACE ({first} + CASE WHEN row_number() "
               f"OVER () = 1 THEN 1 ELSE 0 END AS {first}) FROM {got}")
    dropped = f"SELECT * FROM {got} LIMIT {g[1] - 1}"
    return why, all(differs(relation_digest(con, p), exp)
                    for p in (changed, dropped))


CHECKERS = {"sql": check_sql, "node": check_node}


def run_checks(checks):
    """Failures as (op, reason), and whether the self-test on the first
    passing check caught both perturbations."""
    failures, selftest = [], None
    for c in checks:
        con = duckdb.connect()
        try:
            why, caught = CHECKERS[c["kind"]](c, con, selftest is None)
            if caught is not None:
                selftest = caught
        except Exception as e:  # a check that cannot run is a failure
            why = f"check error: {e}"
        finally:
            con.close()
        if why:
            failures.append((c["op"], why))
    return failures, bool(selftest)
