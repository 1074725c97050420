"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column
names and an order-insensitive value comparison. Usage:

    python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

Exit code 0 iff every checked query matches. ``--json`` additionally
writes a per-query record in the driver's CORRECTNESS format (the
committed ``CORRECTNESS_full.json`` artifact merges one such record per
scale factor).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events".split()


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written table (directory of part files) — e.g. the
            # scale-probe replicas under /tmp; fixtures are single files.
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif os.path.exists(path):
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return conn


# ---------------------------------------------------------------------------
# Dtype strictness (round-7, verdict item 2).
#
# normalize() below coerces every integer dtype to Int64 and every float
# to float64 BEFORE comparing — which masked exactly the class of
# divergence the driver's hasher catches: DuckDB promoting integer SUMs
# to HUGEINT (rendered as Decimal/float by the driver, as Int64 here).
# So before any value comparison we DESCRIBE the oracle SQL (no data is
# scanned) and check each oracle column's DuckDB type against the Spark
# schema through an explicit allowed mapping; HUGEINT/UHUGEINT are
# always fatal, DECIMAL is only legal when the Spark side is decimal.
# ---------------------------------------------------------------------------

_FORBIDDEN_DUCK_TYPES = {"HUGEINT", "UHUGEINT"}

# spark dtype (simpleString) -> acceptable DuckDB base types
_ALLOWED_DUCK = {
    "bigint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "int": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "smallint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "tinyint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "double": {"DOUBLE", "FLOAT"},
    "float": {"DOUBLE", "FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "binary": {"BLOB"},
}


def dtype_problems(
    spark_dtypes: list[tuple[str, str]], duck_types: list[tuple[str, str]]
) -> list[str]:
    """Strict oracle-vs-engine type check. ``spark_dtypes`` is
    ``DataFrame.dtypes``; ``duck_types`` is ``(name, type)`` from a
    DuckDB ``DESCRIBE`` of the oracle SQL."""
    problems = []
    duck = {name: dtype.upper() for name, dtype in duck_types}
    spark = dict(spark_dtypes)
    for col, dtype in duck.items():
        base = dtype.split("(")[0].strip()
        if base in _FORBIDDEN_DUCK_TYPES:
            problems.append(
                f"oracle col {col}: DuckDB type {dtype} is forbidden — "
                "CAST the oracle expression (DuckDB promotes integer "
                "SUMs to HUGEINT, which the driver hashes differently "
                "from Spark's bigint)"
            )
            continue
        stype = spark.get(col)
        if stype is None:
            # column-name mismatch is reported by compare(); skip here
            continue
        if stype.startswith("decimal"):
            if base != "DECIMAL":
                problems.append(
                    f"col {col}: spark {stype} vs oracle {dtype} (expected DECIMAL)"
                )
            continue
        if base == "DECIMAL":
            problems.append(
                f"oracle col {col}: DECIMAL {dtype} but spark side is "
                f"{stype} — cast the oracle to match"
            )
            continue
        if stype.startswith("array"):
            if not dtype.endswith("[]"):
                problems.append(f"col {col}: spark {stype} vs oracle {dtype}")
            continue
        if stype.startswith("timestamp"):
            if not base.startswith("TIMESTAMP"):
                problems.append(f"col {col}: spark {stype} vs oracle {dtype}")
            continue
        allowed = _ALLOWED_DUCK.get(stype)
        if allowed is None:
            continue  # exotic spark type (map/struct) — value compare decides
        if base not in allowed:
            problems.append(
                f"col {col}: spark {stype} vs oracle {dtype} "
                f"(allowed: {sorted(allowed)})"
            )
    return problems


def describe_oracle(
    conn: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str]]:
    """(name, DuckDB type) for the oracle's result — DESCRIBE only,
    nothing is scanned."""
    rows = conn.execute(f"DESCRIBE {sql.strip().rstrip(';')}").fetchall()
    return [(r[0], r[1]) for r in rows]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[col] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("Int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = normalize(spark_pdf.copy()), normalize(oracle_pdf.copy())
    for col in s.columns:
        a, b = s[col], o[col]
        if pd.api.types.is_float_dtype(a):
            import numpy as np

            eq = np.isclose(a.fillna(1.5e308), b.fillna(1.5e308), rtol=0, atol=0)
            exact = eq.all()
            close = np.isclose(a.fillna(1.5e308), b.fillna(1.5e308), rtol=1e-12).all()
            if not exact:
                tag = "EXACT-MISMATCH" if not close else "bit-inexact (within 1e-12!)"
                idx = int((~eq).argmax())
                problems.append(
                    f"col {col}: {tag}; first diff at row {idx}: "
                    f"spark={a.iloc[idx]!r} oracle={b.iloc[idx]!r}"
                )
        else:
            eq = (a.isna() & b.isna()) | (a == b)
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {col}: first diff at row {idx}: "
                    f"spark={a.iloc[idx]!r} oracle={b.iloc[idx]!r}"
                )
    return problems


# ---------------------------------------------------------------------------
# Self-audit enforcement for the approximate queries.
#
# Seven queries are approximate by design (HLL, theta and KLL
# sketches, GK percentiles) and cannot be DuckDB-hash-oracled. Each
# computes its exact answer IN THE SAME PLAN and emits an audit
# column; the registry below turns that in-plan audit into a hard
# machine-checked pass/fail, so `no_oracle` rows disappear from the
# artifact. Bounds are derived from each sketch's published error
# (HLL rsd=0.02 -> 3sigma = 6%; lgk=14 HLL rse ~0.8% -> 3%; KLL k=200
# rank error ~1.65% -> 10% value-space headroom).
# ---------------------------------------------------------------------------


def _audit_abs_max(cols: str | list[str], bound: float):
    """Worst |col| across rows (and cols) must be <= bound."""
    col_list = [cols] if isinstance(cols, str) else list(cols)

    def audit(pdf: pd.DataFrame) -> list[str]:
        problems = []
        if len(pdf) == 0:
            return ["self-audit: empty result"]
        for col in col_list:
            if col not in pdf.columns:
                problems.append(f"self-audit column {col!r} missing from result")
                continue
            worst = float(pdf[col].abs().max())
            # NaN/None audit values mean the check was never computed;
            # 'NaN > bound' is False, so fail explicitly instead of
            # silently passing.
            if worst != worst or pdf[col].isna().any():
                problems.append(f"self-audit: {col} has NaN/None values")
            elif worst > bound:
                problems.append(
                    f"self-audit: worst |{col}| = {worst:.4f} > bound {bound}"
                )
        return problems

    return audit


def _audit_est_exact_pairs(pairs: list[tuple[str, str]], bound_pct: float):
    """|est - exact| / max(exact, 1) * 100 <= bound for each pair."""

    def audit(pdf: pd.DataFrame) -> list[str]:
        problems = []
        if len(pdf) == 0:
            return ["self-audit: empty result"]
        for est_col, exact_col in pairs:
            if est_col not in pdf.columns or exact_col not in pdf.columns:
                problems.append(f"self-audit columns {est_col}/{exact_col} missing")
                continue
            est = pdf[est_col].astype("float64")
            exact = pdf[exact_col].astype("float64")
            if est.isna().any() or exact.isna().any():
                problems.append(
                    f"self-audit: {est_col}/{exact_col} has NaN/None values"
                )
                continue
            rel = ((est - exact).abs() / exact.abs().clip(lower=1.0) * 100).max()
            if rel > bound_pct:
                problems.append(
                    f"self-audit: {est_col} vs {exact_col} worst rel error "
                    f"{rel:.3f}% > bound {bound_pct}%"
                )
        return problems

    return audit


SELF_AUDITS = {
    "approx_distinct_users": _audit_abs_max("rel_error_pct", 6.0),
    # HLL sliding-window twin: est vs the exact presence-expansion twin
    # joined in the same plan; lgk=12 -> ~1.6% std err, bound 6%.
    "rolling_active_users_hll": _audit_abs_max("rel_error_pct", 6.0),
    "approx_value_percentiles": _audit_abs_max("max_rel_error_pct", 5.0),
    "bucket_user_reach_hll": _audit_abs_max("rel_error_pct", 3.0),
    "user_overlap_theta": _audit_est_exact_pairs(
        [
            ("est_overlap", "exact_overlap"),
            ("est_union", "exact_union"),
            ("est_left_only", "exact_left_only"),
        ],
        5.0,
    ),
    # KLL guarantees RANK error (~1.65% at k=200), not value error —
    # the operator measures rank(est_q) in-plan; bound = 3x guarantee.
    "bucket_value_kll": _audit_abs_max(
        [f"rank_err_p{q}" for q in (50, 90, 99)], 0.05
    ),
    # The exact<->KLL percentile bridge measures each estimate's rank
    # against the SAME histogram the exact disc/cont pass reads its
    # order statistics from; same 3x-guarantee rank envelope. (The
    # exact columns themselves are hash-oracled separately via
    # bucket_percentile_exact.)
    "bucket_percentile_bridge": _audit_abs_max(
        [f"rank_err_p{q}" for q in (50, 90, 99)], 0.05
    ),
}


def main() -> int:
    argv = list(sys.argv[1:])
    json_out: str | None = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    types_only = "--types-only" in argv
    if types_only:
        argv.remove("--types-only")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Fail-fast environment gate (round-3 lesson: one loader bug should
    # cost one clear line, not 35 per-query stacktraces).
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
        smoke_check_tables,
    )

    smoke = smoke_check_tables(spark, sf_dir)
    if smoke:
        for p in smoke:
            print(f"SMOKE FAIL {p}", file=sys.stderr)
        return 3

    conn = duckdb_conn(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    if types_only:
        # One-shot dtype audit over every oracle: DESCRIBE each oracle
        # (nothing scanned) against the lazily-built Spark schema (no
        # job runs). Catches HUGEINT/DECIMAL promotion at HEAD in ~1
        # minute instead of after a driver draw.
        bad = 0
        for name, fn in queries.items():
            if only and name not in only:
                continue
            if name not in oracles:
                continue
            try:
                spark_dtypes = fn(spark, sf_dir).dtypes
                duck_types = describe_oracle(conn, oracles[name])
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: describe error: {exc}")
                bad += 1
                continue
            probs = dtype_problems(spark_dtypes, duck_types)
            if probs:
                bad += 1
                print(f"FAIL  {name}")
                for p in probs:
                    print(f"      {p}")
            else:
                print(f"ok    {name}")
        print(f"\ntypes audit: {bad} failures")
        return 1 if bad else 0

    failures, checked, rows_only = 0, 0, 0
    records: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_dtypes = sdf.dtypes
            spark_pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            records[name] = {
                "rows_match": False, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark error: {exc}"[:500],
            }
            continue
        if name not in oracles:
            audit = SELF_AUDITS.get(name)
            if audit is None:
                rows_only += 1
                print(f"rows  {name}: {len(spark_pdf)} rows (no oracle, rows-only) "
                      f"[{time.time()-t0:.1f}s]")
                records[name] = {
                    "rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": len(spark_pdf), "oracle_rows": None,
                    "err": "no_oracle",
                }
                continue
            problems = audit(spark_pdf)
            checked += 1
            records[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spark_pdf), "oracle_rows": None,
                "self_audit": "fail" if problems else "pass",
                "err": "; ".join(problems)[:500] if problems else None,
            }
            if problems:
                failures += 1
                print(f"FAIL  {name} (self-audit) [{time.time()-t0:.1f}s]")
                for p in problems:
                    print(f"      {p}")
            else:
                print(f"ok    {name}: {len(spark_pdf)} rows "
                      f"(in-plan self-audit enforced) [{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_pdf = conn.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            records[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spark_pdf), "oracle_rows": None,
                "err": f"duckdb error: {exc}"[:500],
            }
            continue
        try:
            problems = dtype_problems(
                spark_dtypes, describe_oracle(conn, oracles[name])
            )
        except Exception as exc:  # noqa: BLE001
            problems = [f"describe error: {exc}"]
        problems += compare(name, spark_pdf, oracle_pdf)
        checked += 1
        records[name] = {
            "rows_match": len(spark_pdf) == len(oracle_pdf),
            "schema_match": sorted(spark_pdf.columns) == sorted(oracle_pdf.columns),
            "hash_match": not problems,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(oracle_pdf),
            "err": "; ".join(problems)[:500] if problems else None,
        }
        if problems:
            failures += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{checked} oracle-checked, {rows_only} rows-only, {failures} failures")
    if json_out:
        # Staleness marker: the round-3 regression was an events-ts
        # physical-encoding change invalidating a committed artifact
        # with no way to tell. Record the encoding the run saw — as a
        # SIBLING of the query records, so consumers iterating the
        # query map never see a pseudo-query key.
        import glob as _glob

        import pyarrow.parquet as pq

        events_path = f"{sf_dir.rstrip('/')}/events.parquet"
        if os.path.isdir(events_path):
            events_path = sorted(_glob.glob(f"{events_path}/*.parquet"))[0]
        meta = {
            "sf_dir": sf_dir,
            "events_ts_physical": str(
                pq.read_schema(events_path).field("ts").type
            ),
        }
        with open(json_out, "w") as fh:
            json.dump({"meta": meta, "queries": records}, fh, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
