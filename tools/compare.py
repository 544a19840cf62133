#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare (CORRECTNESS gate).

Usage: python3 tools/compare.py <sfDir> <outDir> [query ...]

Reads each <outDir>/<name> parquet dump written by graft.Verify, runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB with the test
tables registered as views, compares the column names and the classes of
their DuckDB types (DESCRIBE; see type_class), then sorts columns by name +
rows by all values and diffs. A dump whose values match but whose column
types differ (say TIMESTAMP WITH TIME ZONE against the oracle's TIMESTAMP)
fails. Queries without an oracle get a rows-present check (the gate's
"weaker rows-only" mode). Exit code 1 if any checked query fails.
"""
import sys, os, json, glob, math
import duckdb

def normalize(df):
    df = df[sorted(df.columns)]
    # stable stringification: NaN/None → '<null>'; floats via repr
    def cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            if math.isnan(v):
                return "<null>"
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return list(df.columns), rows

INTEGER_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}

def type_class(t):
    """The type classes the correctness gate tells apart: integer widths
    compare equal, and so do DATE and a naive TIMESTAMP; TIMESTAMP WITH TIME
    ZONE is a class of its own, so a UTC-adjusted timestamp dump fails
    against the oracle's TIMESTAMP."""
    if t in INTEGER_TYPES:
        return "INTEGER"
    if t == "DATE" or (t.startswith("TIMESTAMP") and "TIME ZONE" not in t):
        return "TIMESTAMP"
    return t

def column_types(con, sql):
    """{column name: DuckDB type} of a query's result, from DESCRIBE."""
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # register every testdata table (derived from the directory, so a new
    # table never needs a code change here)
    for path in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # check the union of oracled queries and dumped outputs, so an
    # oracle-less query that stops producing output still fails here
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    names = sorted(set(oracle) | dumped)
    unknown = only - set(names)
    if unknown:
        print(f"ERROR: unknown query filter(s): {sorted(unknown)}")
        sys.exit(2)
    checked, failed = 0, []
    for name in names:
        if only and name not in only:
            continue
        checked += 1
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failed.append(name)
            continue
        if name not in oracle:
            n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
            if n > 0:
                print(f"OK   {name} (rows-only: {n} rows, no oracle)")
            else:
                print(f"FAIL {name}: rows-only check found 0 rows")
                failed.append(name)
            continue
        try:
            dump_sql = f"SELECT * FROM read_parquet({files!r})"
            got = con.execute(dump_sql).fetch_df()
            exp = con.execute(oracle[name]).fetch_df()
            gt = column_types(con, dump_sql)
            et = column_types(con, oracle[name])
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failed.append(name)
            continue
        gc, gr = normalize(got)
        ec, er = normalize(exp)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}")
            failed.append(name)
        elif any(type_class(gt[c]) != type_class(et[c]) for c in gt):
            diff = {c: (gt[c], et[c]) for c in sorted(gt)
                    if type_class(gt[c]) != type_class(et[c])}
            print(f"FAIL {name}: column types differ (spark, duck): {diff}")
            failed.append(name)
        elif gr != er:
            n = sum(1 for a, b in zip(gr, er) if a != b) + abs(len(gr) - len(er))
            print(f"FAIL {name}: {len(gr)} vs {len(er)} rows, ~{n} differing")
            for a, b in list(zip(gr, er))[:2000]:
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
            if len(gr) != len(er):
                sg, se = set(gr), set(er)
                for r in list(sg - se)[:2]:
                    print(f"  only-spark: {r}")
                for r in list(se - sg)[:2]:
                    print(f"  only-duck : {r}")
            failed.append(name)
        else:
            print(f"OK   {name} ({len(gr)} rows)")
    print(f"\n{checked - len(failed)}/{checked} match")
    sys.exit(1 if failed else 0)

main()
