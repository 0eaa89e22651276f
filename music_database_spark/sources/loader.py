"""Parquet sources (operator S5) and view registration (S1/S2 analog).

The reference loads fixtures through `mysql < music_db.sql`
(music_db.sql:1-113); here tables live columnar-at-rest as Parquet and
are exposed as temp views, so every query plan starts from a columnar
scan with predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

DRIVER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# SparkContexts that already ship the package to their workers, keyed by
# applicationId: unique per context, unlike id(sc), which CPython can
# reuse after an old stopped context is garbage-collected (a reused id
# would silently skip addPyFile for the fresh context and break
# Arrow-UDF unpickling on workers).
_PYFILES_ADDED: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship the package to executor Python workers via addPyFile.

    Arrow-batched closures (mapInPandas / applyInPandas / pandas_udf)
    unpickle on the workers by importing ``music_database_spark`` — which
    only resolves by accident when the driver's cwd is the repo root.
    Zipping the package and registering it with the SparkContext makes the
    import work from any cwd, any session, and (on a real cluster) any
    executor host — the same mechanism as ``spark-submit --py-files``.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PYFILES_ADDED:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_root = os.path.dirname(pkg_dir)
    tmp_dir = os.path.join(repo_root, ".tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    zip_path = os.path.join(tmp_dir, "music_database_spark.zip")
    stage = zip_path + ".stage"
    with zipfile.ZipFile(stage, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, repo_root))
    os.replace(stage, zip_path)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # same archive already registered with this context
    _PYFILES_ADDED.add(app_id)


# table_schema's memo: inference is one Spark job per read (~0.1 s), and
# every plan build reads its tables again
_SCHEMAS: dict[tuple[str, str, str], StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema Spark infers for ``{sf_dir}/{name}.parquet``, memoized
    (key and invalidation: see load_table).

    For events this also sets the ``nanosAsLong`` legacy conf, which the
    inference and every later read of the table need; its ``ts`` field
    type tells the testdata generation apart."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # A read requirement of the events format (only NANOS INT64 columns
        # change), set on every call, not only on a memo miss: a
        # newSession() shares the applicationId but not the SQL conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, path, source_content_tag(sf_dir, [name]))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table. Filters/projections applied downstream
    are pushed into this scan by Catalyst (verify via .explain: PushedFilters,
    ReadSchema). It sets no session conf: sessions get the conventions it
    relies on, such as the UTC zone, where they enter the engine (session.py).

    The reader gets the table's schema from ``table_schema``, so only the
    first call per session and file version starts a schema-inference
    job. The memo is keyed by the SparkContext's applicationId, the
    parquet path and ``source_content_tag(sf_dir, [name])`` (the file's
    name, size and mtime_ns): a new session, or a file that is rewritten
    or replaced, is inferred again.

    The events table stores ts as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright. We read it under the
    ``nanosAsLong`` legacy conf (ts arrives as raw nanos since epoch) and
    derive a proper TimestampType column via integer-division to micros.
    The generator emits sub-microsecond components, so this truncates —
    every oracle-checked output therefore derives second-or-coarser
    values from ts (date_trunc / strftime / windows), where truncation
    is invisible, and window orderings tie-break on event_id.
    """
    ensure_worker_imports(spark)
    schema = table_schema(spark, sf_dir, name)
    raw = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Driver testdata generations differ: events.ts has shipped both as
        # INT64 epoch-nanos (read as long under nanosAsLong) and as plain
        # parquet timestamp[us] (read as TIMESTAMP_NTZ). Normalize either to
        # session-zone TIMESTAMP (session.py pins UTC, so NTZ → LTZ is the
        # identity wall-clock mapping DuckDB's oracle also uses).
        if isinstance(schema["ts"].dataType, LongType):
            # `div`, not `/`: epoch-nanos exceed double's 53-bit mantissa, so
            # float division would round the microsecond off by one.
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return raw


# scan_wide's partition-count probe, memoized like table_schema: the
# probe is a py4j plan-conversion round-trip (~0.1 s), and bench rebuilds
# every plan per run — a new session or a rewritten file probes again.
_SCAN_IS_NARROW: dict[tuple[str, str, str], bool] = {}


def scan_wide(spark: SparkSession, sf_dir: str, name: str, cols: list[str] | None = None) -> DataFrame:
    """`load_table`, spread across the cluster before a compute-heavy
    narrow stage (md5 shingling, per-row distance math, array
    higher-order passes).

    Parquet splits at row-group granularity; the driver's testdata ships
    ONE row group per table, so every scan is a single task and a
    map-heavy pipeline runs on one core of local[32]. A round-robin
    repartition to defaultParallelism (a few-MB exchange here) buys a
    32x-wide compute stage. Gated on the actual scan partition count so
    it is a NO-OP at cluster scale, where a 100 TB table arrives as
    thousands of splits already >= cores — the expensive full-input
    shuffle is never added when the scan is already parallel."""
    df = load_table(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    target = spark.sparkContext.defaultParallelism
    key = (
        spark.sparkContext.applicationId,
        f"{sf_dir}/{name}.parquet",
        source_content_tag(sf_dir, [name]),
    )
    narrow = _SCAN_IS_NARROW.get(key)
    if narrow is None:
        narrow = _SCAN_IS_NARROW[key] = df.rdd.getNumPartitions() * 2 <= target
    return df.repartition(target) if narrow else df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so both the DataFrame API and
    spark.sql can address them (reference entry point 1, SURVEY.md §3.1)."""
    for name in tables or DRIVER_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in DRIVER_TABLES}


def source_content_tag(sf_dir: str, tables: list[str] | None = None) -> str:
    """12-hex content-identity tag of source parquet tables, THE keying
    convention for every DERIVED on-disk cache under .tmp (persisted ANN
    index, synthesized CSV fixture, bucketed warehouse, scalecheck heavy
    replicas, diffcheck's variant and layout datasets). Fingerprints each table's file
    stats — relative name, size, mtime_ns, file- or directory-shaped —
    so a regenerated drop at the same path, or a DIFFERENT dataset at a
    same-named path, always produces a fresh cache key instead of
    serving artifacts derived from the old data (round-4 finding for the
    mtime version; round-10 unification after the round-9 advisor showed
    two tools still keyed caches by path/basename alone). A stat
    fingerprint, not a byte hash: at 100 TB the source is immutable-once-
    written parquet, so (name, size, mtime_ns) IS its content identity,
    the same contract a git index or rsync quick-check relies on."""
    import hashlib

    h = hashlib.sha256()
    for t in sorted(tables or DRIVER_TABLES):
        p = os.path.join(sf_dir, f"{t}.parquet")
        stats: list[tuple[str, int, int]] = []
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                for n in sorted(names):
                    fp = os.path.join(root, n)
                    st = os.stat(fp)
                    stats.append((os.path.relpath(fp, p), st.st_size, st.st_mtime_ns))
        elif os.path.exists(p):
            st = os.stat(p)
            stats.append((t, st.st_size, st.st_mtime_ns))
        h.update(repr((t, sorted(stats))).encode())
    return h.hexdigest()[:12]


def derived_cache_path(kind: str, prefix: str, tag: str) -> str:
    """.tmp/<kind>/<prefix>_<tag> with the superseded-sibling sweep every
    cache site used to hand-roll: any existing <prefix>_* entry carrying
    a DIFFERENT tag describes data that no longer exists and is removed,
    so .tmp never accumulates stale generations across rounds. The
    sweep only fires when THIS generation is not yet built (no _SUCCESS
    marker): once the current cache is valid, returning its path must be
    side-effect-free, so a concurrent consumer of a sibling generation
    (or an alternating run against two same-prefix datasets) never has a
    just-validated cache rmtree'd out from under it by a pure lookup
    (round-10 advisor). The caller still owns the _SUCCESS-marker check
    and the write."""
    import shutil

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    base = os.path.join(repo_root, ".tmp", kind)
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"{prefix}_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        for d in os.listdir(base):
            # `d == prefix` is the pre-round-10 UNTAGGED legacy name —
            # never read post-refactor, reclaimed here (round-10 advisor).
            if (d.startswith(f"{prefix}_") or d == prefix) and os.path.join(base, d) != path:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path


def wide_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan spread to defaultParallelism before a
    compute-heavy narrow stage (single-row-group testdata reads as ONE
    task; no-op once the scan is already wide). Applied per query by
    A/B measurement at sf0.1 — queries whose first exchange comes early
    keep the plain narrow scan (PLANS.md "Scan parallelism"). The one
    definition behind the `_docs` aliases in dedup/textops/pipeline."""
    return scan_wide(spark, sf_dir, "documents")


def wide_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan spread to defaultParallelism before per-row
    distance math — wide_docs' twin for the vector table (knn's
    `_emb` alias)."""
    return scan_wide(spark, sf_dir, "embeddings")
