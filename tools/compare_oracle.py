"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB at the
given sf dir, and compares STRICTLY: row count, column names, normalized
dtypes, and exact cell values after sorting rows order-insensitively.
Exact-match here implies any reasonable hash-based compare passes.

Usage:
    python tools/compare_oracle.py [sf_dir] [query ...]
    python tools/compare_oracle.py --json OUT.json SF_DIR [SF_DIR ...]

--json emits a machine-readable FULL-REGISTRY attestation in the
driver's exact per-query format ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}; designed rows-only entries get
{rows_match: true, note: "no_oracle", err: null} so `err` carries only
real failures),
one map per sf dir keyed by the dir's sf tag, so two runs of the whole
registry can be diffed. A strict local pass (exact sorted values) implies the
driver's hash gate passes.
"""

from __future__ import annotations

import json
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd


def load_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: v if v is None else (v.isoformat() if hasattr(v, "isoformat") else str(v)))
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_one(name: str, spark_df, oracle: str, con, sp=None, du=None) -> list[str]:
    issues: list[str] = []
    if sp is None:
        sp = spark_df.toPandas()
    if du is None:
        du = con.execute(oracle).df()
    if sorted(sp.columns) != sorted(du.columns):
        issues.append(f"columns differ: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}")
        return issues
    if len(sp) != len(du):
        issues.append(f"row count differ: spark={len(sp)} duckdb={len(du)}")
    # raw (pre-normalization) dtype drift: int32-vs-int64 and friends.
    # The driver's schema compare may be stricter than our normalization,
    # so treat width mismatches as failures too.
    for c in sorted(sp.columns):
        a, b = str(sp[c].dtype), str(du[c].dtype)
        both_datetime = a.startswith("datetime64") and b.startswith("datetime64")
        if a != b and not both_datetime:  # ns-vs-us pandas units are a
            # conversion artifact (Spark TIMESTAMP is µs internally)
            issues.append(f"raw dtype differ on {c}: spark={a} duckdb={b}")
    nsp, ndu = normalize(sp), normalize(du)
    for c in nsp.columns:
        if str(nsp[c].dtype) != str(ndu[c].dtype):
            issues.append(f"dtype differ on {c}: spark={nsp[c].dtype} duckdb={ndu[c].dtype}")
    if issues:
        return issues
    if len(nsp) == len(ndu):
        for c in nsp.columns:
            a, b = nsp[c], ndu[c]
            if pd.api.types.is_float_dtype(a):
                eq = (a.values == b.values) | (np.isnan(a.values.astype(float)) & np.isnan(b.values.astype(float)))
            else:
                eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
            if not eq.all():
                bad = int((~eq).sum())
                i = int(np.argmax(~eq))
                issues.append(f"{bad} value mismatches in {c}; first at row {i}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}")
    return issues


def attest(out_path: str, sf_dirs: list[str], only: list[str] | None = None) -> int:
    """Emit the full-registry attestation JSON (driver record format).
    ``only`` restricts to a subset (so long runs can be sharded across
    processes and the per-SF maps merged afterward)."""
    sys.path.insert(0, "/root/repo")
    from lakehouse_spark_spark.plans.queries import registry
    from lakehouse_spark_spark.session import get_session

    spark = get_session("attest")
    result: dict[str, dict] = {}
    n_fail = 0
    for sf_dir in sf_dirs:
        tag = "sf" + sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        con = load_duckdb(sf_dir)
        per_sf: dict[str, dict] = {}
        for name, q in registry().items():
            if only and name not in only:
                continue
            rec = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": None,
                "oracle_rows": None,
                "err": None,
            }
            try:
                df = q.builder(spark, sf_dir)
                if q.oracle is None:
                    # designed rows-only entry, NOT an error (round-4
                    # verdict ask #8): `err` stays None so a naive
                    # differ only sees real failures there; `note`
                    # records the by-design reason and rows_match
                    # reflects the weaker executed-successfully check.
                    rec["spark_rows"] = df.count()
                    rec["rows_match"] = True
                    rec["note"] = "no_oracle"
                else:
                    sp = df.toPandas()
                    du = con.execute(q.oracle).df()
                    rec["spark_rows"], rec["oracle_rows"] = len(sp), len(du)
                    rec["rows_match"] = len(sp) == len(du)
                    rec["schema_match"] = sorted(sp.columns) == sorted(du.columns)
                    issues = (
                        compare_one(name, df, q.oracle, con, sp=sp, du=du)
                        if rec["schema_match"]
                        else ["cols"]
                    )
                    rec["hash_match"] = rec["rows_match"] and rec["schema_match"] and not issues
                    if not rec["hash_match"]:
                        n_fail += 1
                        rec["err"] = "; ".join(i.splitlines()[-1] for i in issues)[:500] or None
            except Exception as e:  # noqa: BLE001
                n_fail += 1
                rec["err"] = f"{type(e).__name__}: {e}"[:500]
            per_sf[name] = rec
            if rec.get("note") == "no_oracle":
                status = "rows-only"
            else:
                status = "OK" if rec["err"] is None else "FAIL"
            print(f"[{status}] {tag} {name}", flush=True)
        result[tag] = per_sf
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path}; {n_fail} failures")
    return 1 if n_fail else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, "/root/repo")
    from lakehouse_spark_spark.plans.queries import registry
    from lakehouse_spark_spark.session import get_session

    spark = get_session("compare_oracle")
    con = load_duckdb(sf_dir)
    failed = []
    for name, q in registry().items():
        if only and name not in only:
            continue
        try:
            df = q.builder(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                print(f"[rows-only] {name}: {n} rows")
                continue
            issues = compare_one(name, df, q.oracle, con)
        except Exception:
            issues = [traceback.format_exc(limit=20)]
        if issues:
            failed.append(name)
            print(f"[FAIL] {name}")
            for i in issues:
                print(f"    {i}")
        else:
            print(f"[OK]   {name}")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--json":
        dirs = [a for a in sys.argv[3:] if not a.startswith("--only=")]
        only = None
        for a in sys.argv[3:]:
            if a.startswith("--only="):
                only = a[len("--only="):].split(",")
        raise SystemExit(attest(sys.argv[2], dirs, only))
    raise SystemExit(main())
