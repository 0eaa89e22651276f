"""Local mirror of the driver's differential check: run every registered
query on Spark AND its DuckDB oracle on the same parquet, compare
row-count + schema(column names) + order-insensitive values. Usage:

    python tools/diffcheck.py [sf_dir] [query ...]

Exit code 0 iff every checked query matches (rows-only queries must
merely execute)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from music_database_spark.session import get_spark  # noqa: E402
from music_database_spark.sources.loader import DRIVER_TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Everything to strings so benign dtype differences (int32 vs int64,
    # ts units) don't mask value equality. Floats via repr() — the
    # driver's stringification: repr(0.0) == '0.0' which does NOT equal
    # an integer column's '0', so an int-vs-float divergence between the
    # engines (e.g. a DuckDB HUGEINT reaching pandas as float64) fails
    # HERE before the driver sees it. repr() round-trips float64 exactly,
    # so any last-ulp divergence between engines still fails the check.
    # (The old '%.17g' formatting rendered 0.0 as '0', masking exactly
    # the x_seq_packing bug class — round-5 verdict item #3.)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            out[c] = col.astype("float64").map(lambda v: repr(v) if pd.notna(v) else "NULL")
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


# DuckDB types whose duckdb→pandas conversion does not land on the dtype
# Spark produces for the logically-identical column: HUGEINT (windowed /
# product SUMs over BIGINT) arrives as float64 while Spark emits bigint;
# uncast DECIMAL arrives as float64/object while Spark emits Decimal.
# Any oracle OUTPUT column of these types is a latent hash mismatch —
# the oracle must CAST it (AS BIGINT / AS DOUBLE) explicitly.
_RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def audit_oracle_types(con: duckdb.DuckDBPyConnection, name: str, oracle: str) -> list[str]:
    """Return ['col (TYPE)', ...] for oracle output columns whose DuckDB
    type is in the risky set. Empty list == clean."""
    rows = con.execute(f"DESCRIBE {oracle}").fetchall()
    return [
        f"{col} ({typ})"
        for col, typ, *_ in rows
        if any(r in typ.upper() for r in _RISKY_DUCK_TYPES)
    ]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    # The driver's own adapter: every build runs tune_for_session first,
    # so a vanilla session is tuned the way the driver's is.
    from __spark_entry__ import oracle_sql, queries

    builds, oracles = queries(), oracle_sql()
    todo = names or sorted(builds)
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Driver-style session: NO tuned conf (no forced UTC, no Arrow
        # flag, default shuffle partitions) — catches any query that
        # silently depends on get_spark's settings or on conf the
        # adapter does not apply, before the driver does. Pair with cwd
        # outside the repo to also exercise the addPyFile worker-import
        # path.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        ).appName("diffcheck-vanilla").getOrCreate()
    else:
        spark = get_spark("diffcheck")
    con = duck_con(sf_dir)
    failures = []
    for name in todo:
        t0 = time.time()
        try:
            sdf = builds[name](spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        oracle = oracles.get(name)
        if oracle is None:
            print(f"ok*   {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            risky = audit_oracle_types(con, name, oracle)
            odf = con.execute(oracle).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if risky:
            failures.append(name)
            print(f"FAIL  {name}: oracle outputs risky DuckDB type(s): {risky} — CAST them")
            continue
        ns, no = normalize(sdf), normalize(odf)
        if list(ns.columns) != list(no.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(ns.columns)} vs {list(no.columns)}")
        elif len(ns) != len(no):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(ns)} vs {len(no)}")
        elif not ns.equals(no):
            failures.append(name)
            diff = (ns != no).any(axis=1)
            print(f"FAIL  {name}: {int(diff.sum())} differing rows of {len(ns)}")
            print("  spark:", ns[diff].head(3).to_dict("records"))
            print("  duck :", no[diff].head(3).to_dict("records"))
        else:
            print(f"ok    {name}: {len(ns)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(todo) - len(failures)}/{len(todo)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
