"""Output check: each op's warm-pass output against DuckDB.

The JVM harness dumps every op's output of its last warm pass as parquet
under `<work>/out/<op>/` and lists, in the raw results, the DuckDB views
over the generated inputs and each op's check SQL. Two kinds:

- oracle SQL (`SparkEntry.oracleSql` for query ops): the op passes when
  DuckDB's result has the same column names, value types and rows (columns
  sorted by name, rows sorted by all columns, exact compare), as the
  repository's own oracle compare does;
- violation SQL (the `scale` ops): run with the op's output as view `out`,
  it lists what is wrong; the op passes when it returns no rows.
"""
import glob

import duckdb


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort",
                          na_position="first")


def type_class(t):
    """Type classes that hash alike: int widths up to 64 bits are one class,
    DuckDB's HUGEINT (what an unsized integer SUM widens to) is another."""
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT"
    if t in ("TIMESTAMP_NS", "TIMESTAMP_US", "TIMESTAMP WITH TIME ZONE"):
        return "TIMESTAMP"
    return t


def compare(con, sql, files):
    """None when the parquet `files` hold exactly `sql`'s result, else why not."""
    if not files:
        return "no output written"
    orel = con.sql(sql)
    otypes = dict(zip(orel.columns, map(str, orel.types)))
    srel = con.sql(f"SELECT * FROM read_parquet({sorted(files)!r})")
    stypes = dict(zip(srel.columns, map(str, srel.types)))
    drift = [f"{c}: engine {stypes[c]}, duckdb {otypes[c]}" for c in stypes
             if c in otypes and type_class(stypes[c]) != type_class(otypes[c])]
    if drift:
        return "type drift: " + "; ".join(drift)
    exp, got = canon(orel.df()), canon(srel.df())
    if list(exp.columns) != list(got.columns):
        return f"columns differ: duckdb {list(exp.columns)}, engine {list(got.columns)}"
    if len(exp) != len(got):
        return f"row counts differ: duckdb {len(exp)}, engine {len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        both_na = e.isna() & g.isna()
        same = e.astype(object).where(~e.isna(), None) == g.astype(object).where(~g.isna(), None)
        if not (same | both_na).all():
            i = (~(same | both_na)).idxmax()
            return f"column {c} differs at sorted row {i}: duckdb {e[i]!r}, engine {g[i]!r}"
    return None


def violations(con, sql, files):
    """None when `sql`, run with the op's output as view `out`, lists no
    violations; else the first few."""
    if not files:
        return "no output written"
    con.execute(f"CREATE OR REPLACE VIEW out AS SELECT * FROM read_parquet({sorted(files)!r})")
    rows = con.sql(sql).fetchmany(3)
    return f"violations, e.g. {rows}" if rows else None


def check(views, oracle, violation_sql, out_dir):
    """{op: None | reason} for every op that has check SQL."""
    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    verdicts = {}
    checks = [(op, sql, compare) for op, sql in oracle.items()] + \
             [(op, sql, violations) for op, sql in violation_sql.items()]
    for op, sql, fn in sorted(checks, key=lambda c: c[0]):
        try:
            verdicts[op] = fn(con, sql, glob.glob(f"{out_dir}/{op}/*.parquet"))
        except Exception as e:  # one broken op must not hide the others
            verdicts[op] = f"check error: {e}"
    con.close()
    return verdicts
