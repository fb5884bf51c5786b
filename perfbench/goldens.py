#!/usr/bin/env python3
"""Regenerate perfbench/goldens.tsv and cross-check it against DuckDB.

    python3 perfbench/goldens.py

Runs the benchmark program's golden mode twice, in two JVMs with different entry
orders. Each run records, per QueryDef the benchmark uses, the row count
and the order-insensitive content hash the runs check against, and saves
the output as parquet. An entry keeps its hash only if both runs agree
on it and DuckDB, executing the entry's `oracleSql` over the same
tables, returns exactly the same rows (columns by name, rows sorted,
column type families equal). Entries without an oracle, or whose hash
varies between runs, are checked on their row count only; the last
column of the file says which check applies and why. An oracle mismatch
aborts without writing the file.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(build.HERE, "data")
OUT = os.path.join(build.HERE, "goldens.tsv")


def family(t):
    """Type family of a DuckDB type name or an Arrow type."""
    if isinstance(t, pa.DataType):
        if pa.types.is_decimal(t):
            return "decimal"
        if pa.types.is_integer(t):
            return "int"
        if pa.types.is_floating(t):
            return "float"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_boolean(t):
            return "bool"
        if pa.types.is_timestamp(t):
            return "timestamp"
        if pa.types.is_date(t):
            return "date"
        return "nested" if pa.types.is_nested(t) else str(t)
    s = str(t).upper()
    if s.startswith("DECIMAL"):
        return "decimal"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "int"
    if s in ("FLOAT", "DOUBLE"):
        return "float"
    if s == "VARCHAR":
        return "string"
    if s == "BOOLEAN":
        return "bool"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s == "DATE":
        return "date"
    if s.endswith("[]") or s.startswith(("STRUCT", "MAP")):
        return "nested"
    return s.lower()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        key = df.map(repr) if hasattr(df, "map") else df.applymap(repr)
        df = df.iloc[key.sort_values(by=list(df.columns), kind="mergesort").index]
    return df.reset_index(drop=True)


def oracle_diff(con, sql, spark_dir):
    """None if DuckDB's result equals the saved Spark output, else why."""
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    schema = pq.read_schema(files[0])
    rel = con.sql(sql)
    duck_df = rel.df()
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns: spark={sorted(spark_df.columns)} duckdb={sorted(duck_df.columns)}"
    sf = {n: family(t) for n, t in zip(schema.names, schema.types)}
    df_ = {n: family(t) for n, t in zip(rel.columns, rel.types)}
    for c in sf:
        if sf[c] != df_[c]:
            return f"column {c}: type spark={sf[c]} duckdb={df_[c]}"
    if len(spark_df) != len(duck_df):
        return f"rows: spark={len(spark_df)} duckdb={len(duck_df)}"
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if sf[c] == "float":
            av, bv = np.asarray(av, dtype=np.float64), np.asarray(bv, dtype=np.float64)
            if (~((av == bv) | (np.isnan(av) & np.isnan(bv)))).any():
                return f"column {c}: values differ"
        elif [repr(x) for x in av] != [repr(y) for y in bv]:
            if any(not (x == y or (pd.isna(x) and pd.isna(y))) for x, y in
                   zip(pd.Series(av).astype(object), pd.Series(bv).astype(object))):
                return f"column {c}: values differ"
    return None


def golden_run(classes, jars, seed, work):
    gdir = os.path.join(work, f"out{seed}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tsv = os.path.join(work, f"golden{seed}.tsv")
    cmd = run.java_cmd(classes, jars, os.path.join(work, "tmp")) + [
        "--mode", "golden", "--workload", "golden", "--seed", str(seed),
        "--cores", str(run.cores()), "--data", DATA, "--state", os.path.join(work, "state"),
        "--out", tsv, "--golden-dir", gdir]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   cwd=work)
    rows = {}
    for line in open(tsv):
        name, n, h = line.rstrip("\n").split("\t")
        rows[name] = (n, h)
    return rows, gdir


def main():
    classes, _ = build.build()
    jars = build.spark_jars()
    work = os.path.join(build.ROOT, ".bench_runs", "goldens")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        first, gdir = golden_run(classes, jars, 1, work)
        second, _ = golden_run(classes, jars, 2, work)
        oracles = json.load(open(os.path.join(gdir, "oracle_sql.json")))
        con = duckdb.connect()
        for f in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        lines, bad = [], []
        for name in sorted(first):
            rows, h = first[name]
            if second[name][0] != rows:
                bad.append(f"{name}: row count varies ({rows} vs {second[name][0]})")
                continue
            if name not in oracles:
                lines.append(f"{name}\t{rows}\t-\trows-only: no oracle")
                continue
            why = oracle_diff(con, oracles[name], os.path.join(gdir, name))
            if why:
                bad.append(f"{name}: differs from the DuckDB oracle: {why}")
            elif second[name][1] != h:
                lines.append(f"{name}\t{rows}\t-\trows-only: hash varies run to run")
            else:
                lines.append(f"{name}\t{rows}\t{h}\toracle")
        if bad:
            sys.exit("goldens not written:\n" + "\n".join(bad))
        with open(OUT, "w") as f:
            f.write("# name\trows\tcontent hash (- = row count only)\tcheck\n")
            f.write("\n".join(lines) + "\n")
        print(f"wrote {OUT}: {sum(l.endswith('oracle') for l in lines)} oracle-checked, "
              f"{sum('rows-only' in l for l in lines)} rows-only")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    main()
