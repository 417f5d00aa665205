"""Testdata catalog: parquet table loading + temp-view registration.

The reference binds one process to one symbol directory of raw column files
(`column_storage.cpp:13-18`); here the catalog is simply partition-prunable
parquet read through the DataFrame API so Catalyst gets pushdown and column
pruning for free (SURVEY.md §1.3).

`events.ts` is SCHEMA-ADAPTIVE.  Producers drift: the same logical column
has shipped as parquet TIMESTAMP(NANOS) (Spark reads it only via the legacy
nanos-as-long conf, surfacing int64 epoch-nanos) and as TIMESTAMP(MICROS)
isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ).  The reference never
faces this — it owns its storage format end to end — but any real Spark
deployment does, so every reader here branches on the *loaded* dtype
instead of hard-coding one physical layout:

  * LongType        -> int64 epoch nanos: `timestamp_micros(ts div 1000)`,
                       exactly DuckDB's nanos->micros truncation;
  * TimestampNTZType-> cast to session-UTC TIMESTAMP (same micros instant;
                       keeps the result schema identical across layouts and
                       matching what the DuckDB oracle yields);
  * TimestampType   -> already there.

Range/point operators must keep their predicates on the RAW column in its
native type so the comparison reaches the parquet scan as a pushed filter
(row-group min/max pruning — the Spark analogue of the reference's B+ tree
range probe, `bplus_tree.hpp:70-91`).  `ts_bound`/`ts_lit` build literals
of the matching type so no cast ever lands on the column side of the
comparison (a column-side cast would silently kill pushdown).
"""

from __future__ import annotations

import datetime as _dt
import time
from collections import Counter, defaultdict
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune

TABLES = (
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
)

_EPOCH = _dt.datetime(1970, 1, 1)

V = TypeVar("V")


def _allow_nanos(spark: SparkSession) -> None:
    """Permit the TIMESTAMP(NANOS) physical layout (read as int64).  No-op
    for micros/NTZ files; without it a nanos file fails at schema read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def ts_is_long(df: DataFrame, col: str = "ts") -> bool:
    """True iff the loaded ts column is the int64-epoch-nanos layout."""
    return isinstance(df.schema[col].dataType, T.LongType)


def with_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the raw ts column to a session-UTC microsecond TIMESTAMP,
    whatever physical layout it was loaded from.  Cheap codegen'd
    projection; apply AFTER range filters so pushdown sees the raw column."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # NTZ wall-clock reinterpreted in the (UTC-pinned) session zone —
        # the same micros instant the nanos path produced, and the same
        # naive values DuckDB returns for the same file
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ts_bound(df: DataFrame, epoch_ns: int, *, upper: bool = False,
             col: str = "ts") -> Column:
    """Literal for filtering the RAW ts column in its native type.

    epoch_ns is the bound as UTC epoch nanoseconds.  For the int64-nanos
    layout an inclusive upper bound adds 999 ns so values that truncate to
    the bound microsecond stay included; for timestamp layouts the literal
    is the bound's exact microsecond.  Sub-microsecond remainders on
    *lower* bounds only occur for non-round constants (ours are whole
    seconds) — floor-to-us keeps those inclusive too."""
    if ts_is_long(df, col):
        return F.lit(epoch_ns + (999 if upper else 0))
    return ts_lit(df, _EPOCH + _dt.timedelta(microseconds=epoch_ns // 1000),
                  col=col)


def ts_lit(df: DataFrame, value: _dt.datetime, *, col: str = "ts") -> Column:
    """Timestamp literal matching the raw ts column's exact Catalyst type
    (TIMESTAMP_NTZ vs TIMESTAMP), so comparisons never cast the column."""
    iso = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return F.expr(f"TIMESTAMP_NTZ '{iso}'")
    return F.expr(f"TIMESTAMP '{iso}'")


def _footer_metadatas(path: str):
    """Parquet FileMetaData for every file under `path` (a file or a
    directory tree), or None when the path is missing, unlistable, or
    holds no parquet files.  Shared walk for the planning-time footer
    probes — they are optimizations, so every failure mode maps to None
    and the caller's Spark data probe."""
    from pathlib import Path

    import pyarrow.parquet as pq

    try:
        p = Path(path)
        files = sorted(p.glob("**/*.parquet")) if p.is_dir() else [p]
        if not files or not files[0].exists():
            return None
        return [pq.ParquetFile(f).metadata for f in files]
    except Exception:  # missing/corrupt/unlistable -> data-probe fallback
        return None


def _ts_stat_epoch_ns(path: str, col: str, pick: Callable) -> int | None:
    """`pick` (min or max) over every row group's `col` statistic, as UTC
    epoch nanos; None whenever the footers cannot be trusted (see
    :func:`ts_min_epoch_ns`)."""
    mds = _footer_metadatas(path)
    if mds is None:
        return None
    try:
        vals: list[_dt.datetime] = []
        for md in mds:
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if col not in idx:
                return None
            lt = str(md.schema.column(idx[col]).logical_type)
            if not lt.startswith("Timestamp(") or "timeUnit=microseconds" not in lt:
                return None  # nanos/other layouts: let Spark probe the data
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    return None
                v = st.min if pick is min else st.max
                if not isinstance(v, _dt.datetime):
                    return None
                if v.tzinfo is not None:  # adjusted-to-UTC stats are tz-aware
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                vals.append(v)
        if not vals:
            return None
        return ((pick(vals) - _EPOCH) // _dt.timedelta(microseconds=1)) * 1000
    except Exception:  # malformed stats -> data-probe fallback
        return None


def ts_min_epoch_ns(path: str, col: str = "ts") -> int | None:
    """Minimum ts as UTC epoch nanos read from parquet FOOTER statistics —
    no data scan, no Spark job.  Row-group min/max stats are this engine's
    index (SURVEY §1.3); a point-probe that only needs a scalar bound
    should read the index footers exactly like the reference descends its
    B+ tree root (`bplus_tree.hpp:95-106`), not run an aggregation job.

    Returns None (caller falls back to a Spark agg probe) when any row
    group lacks stats, for the int64-nanos physical layout — pyarrow
    converts its stats to datetimes whose sub-microsecond behaviour is
    not worth trusting for an exactness-gated literal — or when the path
    is not locally listable (object stores): the probe is an
    optimization, so every failure degrades to the data probe."""
    return _ts_stat_epoch_ns(path, col, min)


def ts_max_epoch_ns(path: str, col: str = "ts") -> int | None:
    """Maximum ts as UTC epoch nanos from parquet footer statistics — the
    upper-bound twin of :func:`ts_min_epoch_ns`, same contract: None on
    any layout/stat the probe cannot trust, caller falls back to a data
    probe."""
    return _ts_stat_epoch_ns(path, col, max)


def parquet_num_rows(path: str) -> int | None:
    """Exact row count from parquet footer metadata — no scan, no Spark
    job (None if the path holds no parquet files).  Footers are the
    catalog's statistics store; planning-time scalars (block counts,
    quantizer k) should read them, not run count jobs."""
    mds = _footer_metadatas(path)
    if mds is None:
        return None
    return sum(md.num_rows for md in mds)


def parquet_fingerprint(path: str) -> tuple:
    """Cheap identity of a parquet file/dir: sorted (name, size,
    mtime_ns) of its parquet files — os.stat only, no footer reads, no
    Spark job.  Raises OSError when the path cannot be listed or
    stat-ed, so an unreadable directory never passes for an empty one
    (an empty directory fingerprints as ``()``)."""
    from pathlib import Path

    p = Path(path)
    files = sorted(p.glob("**/*.parquet")) if p.is_dir() else [p]
    return tuple(
        (f.name, st.st_size, st.st_mtime_ns) for f in files for st in (f.stat(),)
    )


# The one session cache: (kind, path) -> (applicationId, fingerprint,
# value).  Staleness rule: an entry is served only while BOTH the
# session (applicationId) and parquet_fingerprint(path) still match.  A
# write, compaction or retention swap under `path` changes the
# fingerprint, so the next lookup rebuilds — writers never invalidate
# anything — and a stopped session's entry is replaced on its path's
# next use.  An unreadable path (OSError) is rebuilt on every call and
# never stored.
_SESSION_CACHE: dict[tuple[str, str], tuple[str, tuple, object]] = {}

# kind -> {"hits", "misses", "build_s"}.  build_s counts each build
# once: seconds spent in a nested session_cached build are charged to
# the nested kind only.
CACHE_STATS: defaultdict[str, Counter] = defaultdict(Counter)


def _release(value: object) -> None:
    """Free the blocks a replaced value pins: the checkpointed RDD behind
    each localCheckpoint DataFrame in it (a DataFrame or a tuple of
    them), which Dataset.unpersist does not reach."""
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            plan = df._jdf.queryExecution().logical()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)


def session_cached(
    spark: SparkSession, kind: str, path: str, build: Callable[[], V]
) -> V:
    """``build()``'s value for the parquet data at ``path``, reused within
    one Spark session until the data changes (the staleness rule is on
    _SESSION_CACHE above).  A miss releases the entry it replaces."""
    stats = CACHE_STATS[kind]
    app = spark.sparkContext.applicationId
    key = (kind, path)
    try:
        fp = parquet_fingerprint(path)
    except OSError:
        fp = None
    old = _SESSION_CACHE.get(key)
    if old is not None and old[:2] == (app, fp):
        stats["hits"] += 1
        return old[2]
    stats["misses"] += 1
    if old is not None:
        del _SESSION_CACHE[key]
        if old[0] == app:  # a stopped session's blocks died with it
            _release(old[2])
    nested0 = sum(s["build_s"] for s in CACHE_STATS.values())
    t0 = time.perf_counter()
    value = build()
    nested = sum(s["build_s"] for s in CACHE_STATS.values()) - nested0
    stats["build_s"] += time.perf_counter() - t0 - nested
    if fp is not None:
        _SESSION_CACHE[key] = (app, fp, value)
    return value


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """The resolved relation for ``path``: a fresh spark.read.parquet
    pays ~0.1-0.2 s of datasource resolution (py4j round-trips, file
    listing, footer schema) even in a warm session, which a service
    opening the same table per request would re-pay on every query."""
    return session_cached(spark, "relation", path, lambda: spark.read.parquet(path))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (events gets the normalized TIMESTAMP ts).

    Sets UTC session TZ defensively so timestamp values compare cleanly
    against the DuckDB oracle regardless of who built the session."""
    tune(spark)
    _allow_nanos(spark)
    df = _read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = with_ts(df)
    return df


def events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` with `ts` left in its physical layout (int64 nanos or
    native timestamp).  Time-range operators filter this column with
    `ts_bound`/`ts_lit` literals so the comparison reaches the parquet scan
    as a pushed filter, then convert with `with_ts` on the survivors."""
    tune(spark)
    _allow_nanos(spark)
    return _read_parquet_cached(spark, f"{sf_dir}/events.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
