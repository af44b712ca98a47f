"""Check curation query results against DuckDB.

Each result directory under OUT (one parquet directory per query, as the
benchmark's set-up pass writes them) is compared with DuckDB running the
query's ANSI SQL from OUT/oracle_sql.json over the same input tables:
row count, schema (column names and type families) and values (rows
sorted, floats compared to a relative 1e-6).

    python3 perfbench/oracle_check.py DATA_DIR OUT_DIR [--perturb QUERY]

`--perturb` drops one row of the named query's expected output, to show
that the check catches a wrong result. Prints one line per query and
exits 1 if any query fails.
"""
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "documents", "embeddings")


def family(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "time"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + family(t.value_type) + ">"
    return str(t)


def norm(v):
    """A value with floats kept as floats and containers as tuples."""
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def coarse(v):
    """Sort key that a float rounding difference cannot reorder."""
    if isinstance(v, float):
        return (1, "nan" if math.isnan(v) else float("%.3g" % v))
    if isinstance(v, tuple):
        return (2, tuple(coarse(x) for x in v))
    if v is None:
        return (0, "")
    return (3, str(v))


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def rows(table):
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    out = [tuple(norm(c[r]) for c in cols) for r in range(table.num_rows)]
    return sorted(out, key=coarse)


def check(data_dir, out_dir, perturb=None):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdicts = {}
    for name in sorted(sqls):
        v = {"rows_match": False, "schema_match": False, "values_match": False,
             "spark_rows": None, "oracle_rows": None, "err": None}
        verdicts[name] = v
        try:
            spark = pq.read_table(os.path.join(out_dir, name))
            oracle = con.execute(sqls[name]).arrow()
            if name == perturb and oracle.num_rows > 0:
                oracle = oracle.slice(1)
            v["spark_rows"], v["oracle_rows"] = spark.num_rows, oracle.num_rows
            v["rows_match"] = spark.num_rows == oracle.num_rows
            v["schema_match"] = (
                spark.schema.names == oracle.schema.names
                and [family(t) for t in spark.schema.types]
                == [family(t) for t in oracle.schema.types])
            a, b = rows(spark), rows(oracle)
            v["values_match"] = len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
        except Exception as e:  # a query that cannot be checked fails
            v["err"] = f"{type(e).__name__}: {e}"[:300]
    return verdicts


def ok(v):
    return v["rows_match"] and v["schema_match"] and v["values_match"] and not v["err"]


def main(argv):
    perturb = argv[argv.index("--perturb") + 1] if "--perturb" in argv else None
    verdicts = check(argv[1], argv[2], perturb)
    for name, v in verdicts.items():
        print(("ok   " if ok(v) else "FAIL ") + name + " " + json.dumps(v))
    bad = [n for n, v in verdicts.items() if not ok(v)]
    print(f"oracle: {len(verdicts) - len(bad)}/{len(verdicts)} queries match DuckDB")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
