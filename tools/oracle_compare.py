#!/usr/bin/env python3
"""Compare `graft.Verify` dumps, with the installed duckdb and pyarrow.

oracle mode -- a dump against its own DuckDB twins:

    python3 tools/oracle_compare.py oracle <dump_dir> <sf_dir>

  Runs each query's SQL from <dump_dir>/oracle_sql.json over the
  <sf_dir>/<table>.parquet files (one view per table) and compares the
  result with the Spark output in <dump_dir>/<query>/: column names, Arrow
  column type classes (integer, floating, temporal, decimal(p,s), ...),
  and row values (columns and rows sorted, floats at 6 significant
  digits, a date equal to its midnight timestamp).

diff mode -- two dumps of the same queries, e.g. parent and change:

    python3 tools/oracle_compare.py diff <dump_a> <dump_b>

  Compares each query's Arrow schema (names, types, nullability) and its
  exact row values, as a multiset (an unordered query may emit its rows
  in any order).

Both modes print one GREEN/RED line per query and a total, and exit 1 if
any query is red.
"""
import datetime
import glob
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def read_dump(dump, query):
    files = sorted(glob.glob(os.path.join(dump, query, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def family(t):
    """The type class two engines must agree on: integer widths, float
    widths and timestamp units differ between Spark's parquet and DuckDB's
    Arrow output without changing a value."""
    if pa.types.is_integer(t):
        return "integer"
    if pa.types.is_floating(t):
        return "floating"
    if pa.types.is_temporal(t):
        return "temporal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{family(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ", ".join(f"{f.name}: {family(f.type)}" for f in t) + ">"
    return str(t)


def canon(v, digits):
    """A sortable, printable form of one value."""
    if v is None:
        return (0, "")
    if isinstance(v, datetime.date):
        # a date and a midnight timestamp are the same day on both engines
        if not isinstance(v, datetime.datetime):
            v = datetime.datetime.combine(v, datetime.time())
        return (5, v.replace(tzinfo=None).isoformat())
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (1, f"{v:.{digits}g}" if digits else repr(v))
    if isinstance(v, (list, tuple)):
        return (2, tuple(canon(x, digits) for x in v))
    if isinstance(v, dict):
        return (3, tuple((k, canon(x, digits)) for k, x in sorted(v.items())))
    return (4, str(v))


def rows_of(table, digits):
    """The table's rows as a sorted list, columns in name order."""
    data = [table.column(c).to_pylist() for c in sorted(table.column_names)]
    return sorted(tuple(canon(col[i], digits) for col in data) for i in range(table.num_rows))


def oracle(dump, sf):
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    red = 0
    for q in sorted(sqls):
        got = read_dump(dump, q)
        problems = []
        if got is None:
            problems.append("no Spark output")
        else:
            want = con.execute(sqls[q]).arrow()
            if sorted(got.column_names) != sorted(want.column_names):
                problems.append(f"columns {sorted(got.column_names)} vs {sorted(want.column_names)}")
            else:
                for c in sorted(got.column_names):
                    tg, tw = got.schema.field(c).type, want.schema.field(c).type
                    if family(tg) != family(tw):
                        problems.append(f"type {c}: {tg} vs {tw}")
                if rows_of(got, 6) != rows_of(want, 6):
                    problems.append(f"rows differ ({got.num_rows} vs {want.num_rows})")
        red += bool(problems)
        print(f"{'RED  ' if problems else 'GREEN'} {q}" + (": " + "; ".join(problems) if problems else ""))
    print(f"{len(sqls) - red}/{len(sqls)} green")
    return red


def diff(a, b):
    queries = sorted({os.path.basename(os.path.dirname(p))
                      for d in (a, b) for p in glob.glob(os.path.join(d, "*", "*.parquet"))})
    red = 0
    for q in queries:
        ta, tb = read_dump(a, q), read_dump(b, q)
        problems = []
        if ta is None or tb is None:
            problems.append("missing in " + (a if ta is None else b))
        else:
            if ta.schema != tb.schema:
                problems.append(f"schema {ta.schema} vs {tb.schema}".replace("\n", ", "))
            elif rows_of(ta, None) != rows_of(tb, None):
                problems.append(f"rows differ ({ta.num_rows} vs {tb.num_rows})")
        red += bool(problems)
        print(f"{'RED  ' if problems else 'GREEN'} {q}" + (": " + "; ".join(problems) if problems else ""))
    print(f"{len(queries) - red}/{len(queries)} identical")
    return red


def main(argv):
    if len(argv) != 4 or argv[1] not in ("oracle", "diff"):
        sys.exit(__doc__)
    red = oracle(argv[2], argv[3]) if argv[1] == "oracle" else diff(argv[2], argv[3])
    sys.exit(1 if red else 0)


if __name__ == "__main__":
    main(sys.argv)
