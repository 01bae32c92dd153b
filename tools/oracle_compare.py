#!/usr/bin/env python3
"""Strict oracle compare: engine parquet vs DuckDB oracle SQL.

Canonicalizes BOTH sides inside DuckDB — every column rendered to
VARCHAR at full precision (timestamps first normalized to microseconds,
since the raw events parquet is TIMESTAMP_NS while Spark writes micros)
— then diffs with EXCEPT ALL both ways. This is representation-strict:
a DECIMAL(38,18) that differs only in rendering WILL be flagged, which
is exactly what the r2 driver gate did and the old `.round(6)` pandas
compare could not see.

It is also type-strict where a typed hash compare is: an oracle column
of a type Spark cannot write (HUGEINT, UHUGEINT or any unsigned integer,
e.g. what DuckDB's SUM(BIGINT) returns) fails the entry, because such a
compare fails on it even when the rendered values agree. Cast the
oracle column to the engine's type.

Usage: python3 tools/oracle_compare.py <sf_dir> <verify_out_dir> [query ...]
"""
import re, sys, json, duckdb

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


# types DuckDB can return and Spark cannot write, also inside nested types
NON_SPARK_TYPE = re.compile(r'\b(U?HUGEINT|UTINYINT|USMALLINT|UINTEGER|UBIGINT)\b')


def non_spark_columns(con, q):
    """(name, type) of each column of q whose type Spark cannot write."""
    return [(name, typ) for name, typ, *_ in con.sql(f"DESCRIBE ({q})").fetchall()
            if NON_SPARK_TYPE.search(typ.upper())]


def canon(con, q):
    """SELECT with columns sorted by name, each rendered to VARCHAR."""
    desc = con.sql(f"DESCRIBE ({q})").fetchall()
    cols = sorted((name, typ) for name, typ, *_ in desc)
    exprs = []
    for name, typ in cols:
        c = f'"{name}"'
        if 'TIMESTAMP' in typ.upper():
            c = f"CAST({c} AS TIMESTAMP)"  # NS → micros, like Spark
        exprs.append(f'CAST({c} AS VARCHAR) AS "{name}"')
    return f"SELECT {', '.join(exprs)} FROM ({q})"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = json.load(open(f'{out_dir}/oracle_sql.json'))
    bad = 0
    for name, sql in sorted(sqls.items()):
        if only and name not in only:
            continue
        got_q = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
        try:
            a, b = canon(con, sql), canon(con, got_q)
            nw = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            ng = con.sql(f"SELECT count(*) FROM ({got_q})").fetchone()[0]
            d = con.sql(f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) "
                        f"UNION ALL ({b} EXCEPT ALL {a}))").fetchone()[0]
            bad_types = non_spark_columns(con, sql)
            ok = (nw == ng) and d == 0 and not bad_types
            if bad_types:
                print(f"{name}: MISMATCH oracle column types Spark cannot write: "
                      + ", ".join(f"{c} {t}" for c, t in bad_types))
            else:
                print(f"{name}: {'MATCH' if ok else f'MISMATCH rows {nw} vs {ng}, {d} differing'}")
            if not ok:
                bad += 1
                for r in con.sql(f"({a} EXCEPT ALL {b}) LIMIT 3").fetchall():
                    print(f"  oracle-only: {r}")
                for r in con.sql(f"({b} EXCEPT ALL {a}) LIMIT 3").fetchall():
                    print(f"  engine-only: {r}")
        except Exception as e:
            bad += 1
            print(f"{name}: ERROR {e}")
    print(f"{'ALL STRICT-MATCH' if bad == 0 else f'{bad} FAILURES'}")
    sys.exit(1 if bad else 0)


if __name__ == '__main__':
    main()
