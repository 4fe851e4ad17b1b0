"""Local driver-simulation: run each queries() entry on Spark and its
oracle on DuckDB, compare row count, column names, pandas dtypes, and
an order-insensitive value hash. Used by tests and by `python -m
tests.oracle_check [sf_dir] [names...]` during development.

STRICTNESS CONTRACT: this gate must be at least as strict as the
driver's correctness run, which materializes both sides through
pandas/arrow before hashing. In particular:

- int 5 and float 5.0 are DIFFERENT (a DuckDB HUGEINT — the result
  type of SUM over any integer — lands as float64 in pandas, while a
  Spark bigint lands as int64; round 2 lost 3 contract queries to a
  canonicalizer that hid exactly this).
- pandas dtypes are compared column by column (int32 vs int64 is a
  failure: Spark `size`/`length` return IntegerType, DuckDB `len()`
  returns BIGINT — the oracle SQL must cast).
- floats hash at full precision via repr (no rounding): decimal-
  stable aggregates (functions/stable.py) must produce bit-identical
  doubles on both sides.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb
import pandas as pd

from proto_to_avro_ql_spark.sources.io import TABLES


def _canon(v) -> str:
    """Full-precision, type-tagged canonical string."""
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, bytes):
        return "b:" + v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(_unbox(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return f"{type(v).__name__}:{v}"


def _unbox(v):
    """numpy scalar -> python scalar so np.int64(5) == int 5 in canon."""
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            return v.item()
        except (ValueError, AttributeError):
            return v
    return v


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    return sorted(
        "|".join(_canon(_unbox(v)) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def value_hash(df: pd.DataFrame) -> str:
    rows = canon_rows(df)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


# One connection per sf_dir, reused across entries (round-6 gate-cost
# trim: reconnect + re-register 10 views per entry cost real wall-clock
# over a 361-entry sweep). DuckDB views are lazy over the parquet
# files, so reuse cannot leak state between oracles.
_CONS: dict[str, duckdb.DuckDBPyConnection] = {}


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = _CONS.get(sf_dir)
    if con is None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        _CONS[sf_dir] = con
    return con


def duckdb_run(sf_dir: str, sql: str) -> pd.DataFrame:
    # The shared-connection reuse above is stateless ONLY while every
    # oracle is a pure read (r6 ADVICE): a future oracle issuing
    # SET/CREATE/INSTALL/INSERT would silently leak state into every
    # subsequent entry's verification on this connection. The first
    # guard was a first-token check, which (r7 ADVICE) both passed
    # CTE-prefixed DML ('WITH c AS (...) INSERT INTO ...' is a valid
    # DuckDB INSERT) and false-rejected comment-prefixed oracles.
    # Classify via the parser instead: exactly ONE statement, and the
    # parser must type it SELECT (comments are handled for free).
    stmts = duckdb.extract_statements(sql)
    if len(stmts) != 1 or stmts[0].type != duckdb.StatementType.SELECT:
        kinds = [str(s.type) for s in stmts]
        raise ValueError(
            f"oracle SQL must be exactly one pure SELECT statement (parser "
            f"saw {kinds}): the per-sf_dir DuckDB connection is shared "
            "across entries, so statements with side effects would leak "
            "state between verifications"
        )
    return duckdb_con(sf_dir).execute(sql).fetchdf()


def compare(spark, sf_dir: str, name: str, query_fn, oracle: str | None):
    try:
        sdf = query_fn(spark, sf_dir).toPandas()
    finally:
        # The entries that still persist (each one measured, listed in
        # tools/audit_caches.ALLOWED) return with the cache populated;
        # over a 396-entry sweep in ONE session those would accumulate.
        # Drop them per entry so the gate session stays flat and each
        # entry runs cold.
        spark.catalog.clearCache()
    if oracle is None:
        return {"name": name, "mode": "rows-only", "rows": len(sdf), "ok": True}
    odf = duckdb_run(sf_dir, oracle)
    ok_count = len(sdf) == len(odf)
    ok_cols = sorted(sdf.columns) == sorted(odf.columns)
    dtype_mismatch = (
        [
            f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}"
            for c in sorted(sdf.columns)
            if str(sdf[c].dtype) != str(odf[c].dtype)
        ]
        if ok_cols
        else ["column sets differ"]
    )
    sh, dh = value_hash(sdf), value_hash(odf)
    return {
        "name": name,
        "mode": "oracle",
        "rows": len(sdf),
        "oracle_rows": len(odf),
        "count_match": ok_count,
        "cols_match": ok_cols,
        "dtype_mismatch": dtype_mismatch,
        "spark_cols": list(sdf.columns),
        "duck_cols": list(odf.columns),
        "hash_match": sh == dh,
        "ok": ok_count and ok_cols and not dtype_mismatch and sh == dh,
    }


def main() -> None:
    from proto_to_avro_ql_spark.entry_queries import ORACLES, QUERIES
    from proto_to_avro_ql_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("oracle-check")
    failed = []
    for name in names:
        try:
            res = compare(spark, sf_dir, name, QUERIES[name], ORACLES.get(name))
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "ok": False, "err": f"{type(e).__name__}: {e}"}
        status = "OK " if res["ok"] else "FAIL"
        print(f"[{status}] {name}: {res}")
        if not res["ok"]:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed; failed: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
