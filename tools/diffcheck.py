"""Local mirror of the driver's differential check, over three datasets:
run every registered query on the dataset and compare row-count +
schema(column names) + order-insensitive values with the expected side.
Usage:

    python tools/diffcheck.py [--variant | --layout] [sf_dir] [query ...]

- no flag: the SF dir itself; expected is each query's DuckDB oracle.
- ``--variant``: 2 shifted/salted replicas of the SF dir, which re-roll
  every value distribution the oracles sum over (hash-green on fixed
  data can be a deterministic ulp/tie lottery); expected is the oracle.
- ``--layout``: the SF dir's rows scrambled by a content hash into range
  files, values held fixed, which re-rolls the physical order a real
  cluster makes an accident of ingest; expected is the same query on
  the SF dir itself, so rows-only queries are compared too. Queries
  whose output measures the layout (``QuerySpec.layout_exempt``) only
  have to run on both.

Derived datasets are rewritten under .tmp/ on every run. Without a
reference, rows-only queries must merely execute. SPARK_GRAFT_VANILLA=1
runs the sweep in a driver-style session. Exit code 0 iff every checked
query matches."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from music_database_spark.session import get_spark, release  # noqa: E402
from music_database_spark.sources.loader import DRIVER_TABLES  # noqa: E402

VARIANT_K = 2
LAYOUT_SPLITS = 7
# The keys each variant replica shifts past the base's range, so copies
# are disjoint; documents replicas shift doc_id by the row count and are
# salted near-duplicates (worst case for candidate generation); bounded
# dims (region, nation) are written once, unchanged.
VARIANT_SHIFT: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey", "l_partkey"),
    "events": ("event_id", "user_id"),
    "embeddings": ("vec_id",),
}


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


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the two results agree once normalized, else why not:
    the columns, then the rowcount, then the first differing rows."""
    a, e = normalize(actual), normalize(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} vs {list(e.columns)}"
    if len(a) != len(e):
        return f"rowcount {len(a)} vs {len(e)}"
    if a.equals(e):
        return None
    diff = (a != e).any(axis=1)
    return (
        f"{int(diff.sum())} differing rows of {len(a)}\n"
        f"  actual  : {a[diff].head(3).to_dict('records')}\n"
        f"  expected: {e[diff].head(3).to_dict('records')}"
    )


def derived_dir(kind: str, suffix: str, base: str) -> str:
    """.tmp/<kind>_<base name>_<base content tag>_<suffix>, about to be
    rewritten: superseded generations of it (another content tag) and
    every derived layout cache a query keyed by its name are swept, so
    registered queries rebuild them from the fresh data."""
    from music_database_spark.sources.loader import source_content_tag

    stem = f"{kind}_{os.path.basename(os.path.normpath(base))}_"
    out = os.path.join(REPO, ".tmp", f"{stem}{source_content_tag(base)}_{suffix}")
    stale = [d for d in glob.glob(os.path.join(REPO, ".tmp", f"{stem}*_{suffix}")) if d != out]
    stale += glob.glob(os.path.join(REPO, ".tmp", "*", f"*{os.path.basename(out)}*"))
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
        print(f"# swept stale {d}", file=sys.stderr)
    os.makedirs(out, exist_ok=True)
    return out


def variant(spark, base: str) -> str:
    """VARIANT_K replicas of every table of ``base``, each written as one
    parquet file (duck_con reads the path verbatim, not a glob)."""
    from pyspark.sql import functions as F

    from music_database_spark.sources.loader import load_table

    out = derived_dir("variant", f"k{VARIANT_K}", base)
    for t in DRIVER_TABLES:
        df = load_table(spark, base, t)
        cols = VARIANT_SHIFT.get(t, ())
        if t == "documents":
            step = {"doc_id": df.count()}
        elif cols:
            step = df.agg(*[(F.max(c) + 1).alias(c) for c in cols]).first().asDict()
        else:
            step = {}
        full = df
        for r in range(1, VARIANT_K if step else 1):
            shifted = {c: F.col(c) + r * s for c, s in step.items()}
            if t == "documents":
                shifted["text"] = F.concat(F.col("text"), F.lit(f" replica{r}"))
            full = full.unionByName(df.withColumns(shifted))
        tmp = os.path.join(out, f"_tmp_{t}")
        full.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(out, f"{t}.parquet"))
        shutil.rmtree(tmp)
        print(f"# {t}: materialized", file=sys.stderr)
    return out


def layout(spark, base: str) -> str:
    """Every table of ``base`` with its rows ordered by a hash of their
    content (a fixed, reproducible permutation) and range-split into
    LAYOUT_SPLITS files, so scans arrive multi-partition in scrambled
    order."""
    from pyspark.sql import functions as F

    from music_database_spark.sources.loader import load_table

    out = derived_dir("layout", f"s{LAYOUT_SPLITS}", base)
    for t in DRIVER_TABLES:
        df = load_table(spark, base, t)
        (
            df.withColumn("_lk", F.md5(F.to_json(F.struct(*df.columns))))
            .repartitionByRange(LAYOUT_SPLITS, "_lk")
            .sortWithinPartitions("_lk")
            .drop("_lk")
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"{t}.parquet"))
        )
        print(f"# {t}: scrambled into {LAYOUT_SPLITS} ranges", file=sys.stderr)
    return out


DATASETS = {"--variant": variant, "--layout": layout}


def exempt_queries() -> dict[str, str]:
    """The registry's layout exemptions, query → documented why."""
    from music_database_spark.registry import load_all

    return {n: s.layout_exempt for n, s in load_all().items() if s.layout_exempt is not None}


def collect(spark, build, sf_dir: str) -> pd.DataFrame:
    try:
        return build(spark, sf_dir).toPandas()
    finally:
        release()


def sweep(spark, sf_dir: str, names: list[str], reference: str | None = None) -> list[str]:
    """Run each query (all if ``names`` is empty) on ``sf_dir`` and
    compare it with its DuckDB oracle on ``sf_dir``, or, given a
    ``reference`` dir, with the same query run there. Prints one line
    per query and returns the failing names."""
    # The driver's own adapter: every build runs tune_for_session first,
    # so a vanilla session is tuned the way the driver's is.
    from __spark_entry__ import oracle_sql, queries

    builds, oracles = queries(), oracle_sql()
    exempt = exempt_queries() if reference else {}
    con = None if reference else duck_con(sf_dir)
    failures, todo = [], names or sorted(builds)
    try:
        for name in todo:
            t0 = time.time()
            rows_only = name in exempt if reference else name not in oracles
            try:
                actual = collect(spark, builds[name], sf_dir)
                if reference:
                    expected = collect(spark, builds[name], reference)
                elif not rows_only:
                    risky = audit_oracle_types(con, name, oracles[name])
                    if risky:
                        raise TypeError(f"oracle outputs risky DuckDB type(s): {risky}, CAST them")
                    expected = con.execute(oracles[name]).fetchdf()
                why = None if rows_only else compare(actual, expected)
            except Exception as e:
                why = f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.time() - t0
            if why:
                failures.append(name)
                print(f"FAIL  {name}: {why}")
            elif rows_only:
                print(f"ok*   {name}: ran, not compared ({len(actual)} rows, {dt:.1f}s)")
            else:
                print(f"ok    {name}: {len(actual)} rows match ({dt:.1f}s)")
    finally:
        if con is not None:
            con.close()
    print(f"\n{len(todo) - len(failures)}/{len(todo)} pass")
    return failures


def main() -> int:
    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    if len(flags) > 1 or not set(flags) <= set(DATASETS):
        print(__doc__, file=sys.stderr)
        return 2
    args = [a for a in args if not a.startswith("--")]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args
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
    data = DATASETS[flags[0]](spark, sf_dir) if flags else sf_dir
    reference = sf_dir if flags == ["--layout"] else None
    return 1 if sweep(spark, data, names, reference) else 0


if __name__ == "__main__":
    raise SystemExit(main())
