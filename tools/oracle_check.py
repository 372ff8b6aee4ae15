#!/usr/bin/env python3
"""Local self-check mirroring the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle_sql.json entry in DuckDB over <sfDir>'s tables, sorts columns by name
and rows by all columns, and diffs exactly. This is developer tooling only —
the engine itself is the Scala library under src/.
"""
import sys, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    # normalize ints (duckdb hugeint -> object) and floats
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df

def planes_check(con) -> int:
    """Pin the e08 mirror's CEIL(LOG2(k)) plane count to the engine's
    integer-exact bit-length planesFor around every power-of-two
    boundary of k (the spots where a libm log2 inexactness would
    mis-ceil). Returns the number of disagreements (0 expected)."""
    ks = sorted({k + d for k in (1 << p for p in range(1, 31))
                 for d in (-1, 0, 1)} | {1, 3, 5, 100})
    bad = 0
    for k in ks:
        # engine: planesFor over n = k*64 (TargetOccupancy=64) ->
        # ceil(log2(k)) via bit length, clamped to [1, 16]
        ceil_log2 = 0 if k <= 1 else (k - 1).bit_length()
        eng = min(16, max(1, ceil_log2))
        (sql,) = con.sql(
            "SELECT GREATEST(1, LEAST(16, CAST(CEIL(LOG2(CAST(GREATEST(1, "
            f"{k}) AS DOUBLE))) AS INT)))").fetchone()
        if sql != eng:
            print(f"FAIL planes self-check: k={k} sql={sql} engine={eng}")
            bad += 1
    return bad

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    import os
    # rows are sorted before every compare, so DuckDB's insertion-order
    # guarantee only costs memory here — off means large aggregations
    # stream instead of buffering (big-SF oracle runs spill TBs less)
    con.sql("SET preserve_insertion_order=false")
    # big-SF runs (sf30 pins) need explicit spill/memory budgets: the
    # d21 mirror materializes the shingle+token CTEs, and the default
    # temp dir (cwd/.tmp) sits on whatever disk the repo does
    for k in ("temp_directory", "memory_limit", "threads"):
        v = os.environ.get(f"ORACLE_{k.upper()}")
        if v:
            con.sql(f"SET {k}='{v}'")
    for t in TABLES:
        # driver testdata lays each table out as one file; Spark-generated
        # scale dirs (benchdata/sf*) are directories of part files
        path = f"{sfdir}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        if t == "events":
            # Spark-generated scale data stores ts as raw BIGINT nanos
            # (Spark cannot write TIMESTAMP_NS); rebuild the nanos
            # timestamp the oracles expect. Micros truncation is safe:
            # every mirror truncates to micros or coarser downstream.
            (ts_type,) = [d for d in con.sql(
                f"DESCRIBE SELECT ts FROM '{pat}'").fetchall()][0][1:2]
            if ts_type == "BIGINT":
                con.sql(f"CREATE VIEW {t} AS SELECT * REPLACE ("
                        f"CAST(make_timestamp(ts // 1000) AS TIMESTAMP_NS) AS ts)"
                        f" FROM '{pat}'")
                continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    n_fail += planes_check(con)
    for name in sorted(oracle):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = canon(con.sql(
            f"SELECT * FROM read_parquet({files!r})").df())
        try:
            duck_df = canon(con.sql(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
            n_fail += 1; continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}")
            n_fail += 1; continue
        # the driver hashes value REPRESENTATIONS: an integral Spark column
        # vs a float oracle column (DuckDB HUGEINT -> pandas float64, e.g.
        # an un-CAST window SUM) hashes "0" vs "0.0" and fails there even
        # though the values compare equal here. Flag the dtype-kind skew.
        kind_skew = [c for c in spark_df.columns
                     if spark_df[c].dtype.kind in "iu" and duck_df[c].dtype.kind == "f"
                     or spark_df[c].dtype.kind == "f" and duck_df[c].dtype.kind in "iu"]
        if kind_skew:
            print(f"FAIL {name}: int/float dtype skew on {kind_skew} "
                  f"(driver hash compares representations; CAST the oracle column)")
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(spark_df, duck_df,
                                          check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: {str(e)[:500]}"); n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
