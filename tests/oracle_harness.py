"""Local replica of the driver's correctness gate: run each Spark query
and its DuckDB oracle on the same parquet, compare row count + columns +
order-insensitive values. Used by test_oracle_diff.py and runnable
directly:  python tests/oracle_harness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def _canon_spark_type(t: str) -> str:
    """Collapse a Spark simpleString dtype to a comparable token."""
    t = t.lower()
    if t.startswith("array<"):
        return "array<" + _canon_spark_type(t[6:-1]) + ">"
    if t.startswith("decimal"):
        return t.replace(" ", "")
    return {
        "long": "bigint", "integer": "int", "short": "smallint",
        "byte": "tinyint", "timestamp_ntz": "timestamp",
    }.get(t, t)


def _canon_duck_type(t: str) -> str:
    """Collapse a DuckDB DESCRIBE type string to the same tokens. The
    known killer stays detectable: HUGEINT (what an uncast SUM yields)
    canonicalizes to decimal(38,0), mismatching Spark's bigint."""
    t = t.strip()
    if t.endswith("[]"):
        return "array<" + _canon_duck_type(t[:-2]) + ">"
    u = t.upper()
    if u.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    return {
        "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "smallint",
        "TINYINT": "tinyint", "HUGEINT": "decimal(38,0)",
        "UBIGINT": "uint64", "UINTEGER": "uint32",
        "USMALLINT": "uint16", "UTINYINT": "uint8",
        "DOUBLE": "double", "FLOAT": "float", "REAL": "float",
        "VARCHAR": "string", "BOOLEAN": "boolean", "DATE": "date",
    }.get(u, t.lower())


def type_drift(spark_df, con, oracle_sql: str) -> list[str]:
    """Columns whose Spark dtype and DuckDB dtype would hash differently
    under a dtype-sensitive comparator (the driver's gate). Uses
    DESCRIBE — planning only — so the oracle query is EXECUTED exactly
    once per gate run (it used to run twice, doubling the cost of the
    heavy recursive-CTE oracles)."""
    d_types = {
        r[0]: _canon_duck_type(r[1])
        for r in con.execute(f"DESCRIBE {oracle_sql}").fetchall()
    }
    drift = []
    for f in spark_df.schema.fields:
        st = _canon_spark_type(f.dataType.simpleString())
        dt = d_types.get(f.name)
        if dt is not None and st != dt:
            drift.append(f"{f.name}: spark={st} duckdb={dt}")
    return drift


def gate_record(spark_df, con, oracle_sql: str) -> tuple[dict, str]:
    """Run one Spark-vs-DuckDB comparison and emit the driver's
    per-query correctness record:
    {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
    err}. Mapping mirrors the driver's comparator: column-name
    mismatch -> schema_match false; dtype drift or value mismatch ->
    hash_match false (the driver's value hash is dtype-sensitive);
    row-count mismatch -> rows_match false."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(oracle_sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    rec = {
        "rows_match": len(s_rows) == len(d_rows),
        "schema_match": sorted(s_cols) == sorted(d_cols),
        "hash_match": True,
        "spark_rows": len(s_rows),
        "oracle_rows": len(d_rows),
        "err": None,
    }
    msg = f"OK ({len(s_rows)} rows)"
    if not rec["schema_match"]:
        rec["hash_match"] = False
        msg = f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
        return rec, msg
    drift = type_drift(spark_df, con, oracle_sql)
    if drift:
        rec["hash_match"] = False
        return rec, f"dtype drift (driver hash would differ): {drift}"
    if not rec["rows_match"]:
        rec["hash_match"] = False
        return rec, f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    sn, dn = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
    if sn != dn:
        rec["hash_match"] = False
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return rec, f"values differ, first diffs: {diff}"
    return rec, msg


def compare(name: str, spark_df, con, oracle_sql: str) -> tuple[bool, str]:
    rec, msg = gate_record(spark_df, con, oracle_sql)
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    return ok, msg


def main():
    from pyspark.sql import SparkSession

    # gate this checkout's queries, wherever it is cloned
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    import __spark_entry__ as entry_mod

    # --json PATH: also write every query's record (gate_record's
    # per-query format) to one JSON file, e.g. GATE_FULL_r14.json
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    # untimed warmup (cf. bench.py): pay JIT/codegen/scheduler
    # cold-start once so the FIRST query's reading measures the query
    # (q01 read 4.7-6.6 s cold vs ~0.5 s warm)
    from pyspark.sql import functions as _F

    spark.range(1_000_000).groupBy(
        (_F.col("id") % 7).alias("k")
    ).count().collect()

    # pipeline the one-time shared fixture builds (corpus tables +
    # base indexes, _fixtures.py) behind the early cheap queries: a
    # daemon thread builds them in a CLONED session (independent
    # SQLConf, shared context), and the memo hands the
    # late-registry consumers (q129/q140/q146/q148/q151) finished
    # artifacts. Same work, overlapped — exactly how a production
    # harness stages shared infrastructure.
    import threading as _threading

    def _prewarm():
        try:
            from delta_lake_spark.queries._fixtures import (
                docs_corpus_cdf,
                emb_corpus_cdf,
                fetch_parallel,
                lsh_base_index,
                winnow_base_index,
                pq_base_index,
                text_base_index,
            )

            s2 = spark.newSession()
            fetch_parallel(
                lambda: docs_corpus_cdf(s2, sf_dir),
                lambda: emb_corpus_cdf(s2, sf_dir),
                lambda: lsh_base_index(s2, sf_dir),
                lambda: winnow_base_index(s2, sf_dir),
                lambda: text_base_index(s2, sf_dir),
                lambda: pq_base_index(s2, sf_dir),
            )
        except Exception:
            pass  # consumers rebuild on demand; prewarm is best-effort

    _threading.Thread(target=_prewarm, daemon=True).start()

    con = duckdb_con(sf_dir)
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # a typo'd name silently shrinking the run looks like a pass —
        # surface it loudly and fail the run
        print(f"✗ unknown query names (not in queries()): {sorted(unknown)}")
        sys.exit(2)
    failed = []
    records: dict[str, dict] = {}
    import time as _time

    t_start = _time.monotonic()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = _time.monotonic()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                dt = _time.monotonic() - t0
                records[name] = {
                    "rows_match": n >= 0,
                    "schema_match": True,
                    "hash_match": None,  # rows-only: no oracle SQL
                    "spark_rows": n,
                    "oracle_rows": None,
                    "err": None,
                }
                print(f"  {name:40s} rows-only ({n} rows) [{dt:.1f}s]")
                continue
            rec, msg = gate_record(df, con, oracles[name])
            records[name] = rec
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            dt = _time.monotonic() - t0
            print(f"{'✓' if ok else '✗'} {name:40s} {msg} [{dt:.1f}s]")
            if not ok:
                failed.append(name)
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:200]}"
            records[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": err,
            }
            print(f"✗ {name:40s} EXCEPTION {err}")
            failed.append(name)
    total_s = _time.monotonic() - t_start
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else "")
          + f"  [{total_s:.1f}s total, {len(records)} queries]")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
