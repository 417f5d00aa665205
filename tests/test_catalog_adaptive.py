"""Schema-adaptive events reader: every physical ts layout a producer can
ship — int64 TIMESTAMP(NANOS) (fixtures rounds 1-2), timestamp[us] NTZ
(fixtures round 3+), and timestamp[us] isAdjustedToUTC=true (reads as
TimestampType) — must produce identical query results and keep range
predicates pushed to the parquet scan.  This pins the round-3 regression
class: a producer-side layout change must never break readers again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
    events_raw,
    table,
    ts_bound,
    with_ts,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.plans import (
    pushed_filters,
)

# one logical table: 3 events around the q04 bounds, plus a sub-second tail
_BASE_US = 1704844800 * 1_000_000  # 2024-01-10T00:00:00Z
_ROWS_US = [_BASE_US - 1, _BASE_US, _BASE_US + 5, _BASE_US + 86_400_000_000]


def _write_events(tmpdir: str, unit: str) -> str:
    path = f"{tmpdir}/events_{unit}.parquet"
    scale = 1000 if unit == "ns" else 1
    # us_utc = TIMESTAMP(MICROS) isAdjustedToUTC=true -> Spark reads
    # TimestampType (the third layout a producer can ship)
    ts_type = (
        pa.timestamp("us", tz="UTC") if unit == "us_utc" else pa.timestamp(unit)
    )
    t = pa.table(
        {
            "event_id": pa.array(range(len(_ROWS_US)), type=pa.int64()),
            "ts": pa.array(
                [us * scale for us in _ROWS_US], type=ts_type
            ),
            "user_id": pa.array([7] * len(_ROWS_US), type=pa.int64()),
            "event_type": pa.array(["view"] * len(_ROWS_US)),
            "value": pa.array([1.5] * len(_ROWS_US), type=pa.float64()),
            "props": pa.array(["{}"] * len(_ROWS_US)),
        }
    )
    pq.write_table(t, path, version="2.6")
    return path


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("adaptive"))
    out = {}
    for unit in ("ns", "us", "us_utc"):
        d = f"{base}/{unit}"
        import os

        os.makedirs(d)
        _write_events(d, unit)
        import shutil

        shutil.move(f"{d}/events_{unit}.parquet", f"{d}/events.parquet")
        out[unit] = d
    return out


def test_both_layouts_load_identically(spark, layouts):
    collected = {}
    for unit, d in layouts.items():
        df = table(spark, d, "events").orderBy("event_id")
        assert str(df.schema["ts"].dataType) == "TimestampType()", unit
        collected[unit] = [
            (r.event_id, r.ts.isoformat()) for r in df.collect()
        ]
    assert collected["ns"] == collected["us"] == collected["us_utc"]


def test_range_filter_matches_and_pushes_down_both_layouts(spark, layouts):
    lo_ns = _BASE_US * 1000
    hi_ns = (_BASE_US + 10) * 1000
    got = {}
    for unit, d in layouts.items():
        raw = events_raw(spark, d)
        q = with_ts(
            raw.where(
                (F.col("ts") >= ts_bound(raw, lo_ns))
                & (F.col("ts") <= ts_bound(raw, hi_ns, upper=True))
            )
        )
        pf = " ".join(pushed_filters(q))
        assert "GreaterThanOrEqual(ts" in pf, (unit, pf)
        assert "LessThanOrEqual(ts" in pf, (unit, pf)
        got[unit] = sorted(r.event_id for r in q.collect())
    # inclusive both ends: rows at +0 and +5 us, not -1 us or +1 day
    assert got["ns"] == got["us"] == got["us_utc"] == [1, 2]


def test_point_probe_matches_both_layouts(spark, layouts):
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )

    q05 = load_all()["q05_point_lookup"].fn
    got = {
        unit: sorted(r.event_id for r in q05(spark, d).collect())
        for unit, d in layouts.items()
    }
    # ns takes the Spark-agg fallback; us reads NTZ footer stats; us_utc
    # reads TZ-AWARE footer stats (the astimezone branch) — all one row
    assert got["ns"] == got["us"] == got["us_utc"] == [0]


def test_footer_stats_helpers_both_layouts(layouts, tmp_path):
    """The planning-time footer readers: exact num_rows for any layout;
    min-ts only for the micros layout (the nanos layout must return None
    so callers take the Spark-agg fallback q05's both-layout test
    exercises), and None again for paths with no parquet files."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
        parquet_num_rows,
        ts_min_epoch_ns,
    )

    for unit, d in layouts.items():
        assert parquet_num_rows(f"{d}/events.parquet") == len(_ROWS_US)
    for unit in ("us", "us_utc"):  # NTZ and tz-aware stats, same instant
        assert (
            ts_min_epoch_ns(f"{layouts[unit]}/events.parquet")
            == (_BASE_US - 1) * 1000
        )
    assert ts_min_epoch_ns(f"{layouts['ns']}/events.parquet") is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert parquet_num_rows(str(empty)) is None
    assert ts_min_epoch_ns(str(empty)) is None


def test_streaming_ingest_both_layouts(spark, layouts, tmp_path):
    """The streaming reader must infer the source's own schema and
    normalize ts_event under both physical layouts; ingest results from
    the same logical data must be identical."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ingest_available_now,
    )

    got = {}
    for unit, d in layouts.items():
        dest = str(tmp_path / f"dest_{unit}")
        ingest_available_now(
            spark, f"{d}/events*.parquet", dest, str(tmp_path / f"ck_{unit}")
        )
        back = spark.read.parquet(dest).orderBy("seq")
        got[unit] = [
            (r.symbol, r.seq, r.ts.isoformat(), r.price) for r in back.collect()
        ]
    assert got["ns"] == got["us"] == got["us_utc"]
    assert len(got["ns"]) == 4


def test_relation_cache_reuses_and_invalidates(spark, tmp_path):
    """table()/events_raw() resolve a path once per session (the
    ~0.1-0.2 s datasource re-resolution was the cold first-query's
    biggest component); rewriting the table in place changes its
    fingerprint, so the next table() re-lists the files with no
    invalidation call from the writer."""
    import shutil

    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )

    d = str(tmp_path)
    path = f"{d}/documents.parquet"
    spark.range(3).withColumnRenamed("id", "doc_id").write.parquet(path)
    a = cat.table(spark, d, "documents")
    b = cat.table(spark, d, "documents")
    # the same resolved relation object comes back (no re-listing)
    assert ("relation", path) in cat._SESSION_CACHE
    assert a is b
    assert a.count() == 3

    # replace the files in place: the stale listing would name deleted
    # files; the fingerprint check re-resolves
    shutil.rmtree(path)
    spark.range(5).withColumnRenamed("id", "doc_id").write.parquet(path)
    c = cat.table(spark, d, "documents")
    assert c is not a
    assert c.count() == 5
    assert cat.table(spark, d, "documents") is c


def test_warm_start_sf_dir_preopens_events(spark, sf_dir):
    """warm_start(spark, sf_dir) must pre-resolve the events relation
    (the q05 cold path then hits the cache) and be idempotent."""
    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.session import (
        warm_start,
    )

    warm_start(spark, sf_dir)
    assert ("relation", f"{sf_dir}/events.parquet") in cat._SESSION_CACHE
    warm_start(spark, sf_dir)  # second call: no-op, no error


def _fake_spark(app: str = "app-1"):
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_session_cache_staleness_rule(tmp_path):
    """An entry is a hit only while the applicationId and the path's
    fingerprint both match; hits and misses are counted per kind."""
    import os

    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )

    f = tmp_path / "t.parquet"
    f.write_bytes(b"v1")
    built = []

    def build():
        built.append(object())
        return built[-1]

    kind = "test-staleness"
    v1 = cat.session_cached(_fake_spark(), kind, str(f), build)
    assert cat.session_cached(_fake_spark(), kind, str(f), build) is v1
    # another session (the old one stopped): rebuilt
    v2 = cat.session_cached(_fake_spark("app-2"), kind, str(f), build)
    assert v2 is not v1
    # same size, new mtime: rebuilt
    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    v3 = cat.session_cached(_fake_spark("app-2"), kind, str(f), build)
    assert v3 is not v2
    assert cat.session_cached(_fake_spark("app-2"), kind, str(f), build) is v3
    assert (cat.CACHE_STATS[kind]["hits"], cat.CACHE_STATS[kind]["misses"]) == (2, 3)
    assert len(built) == 3


def test_session_cache_unreadable_path_never_serves_stored(tmp_path, monkeypatch):
    """When the fingerprint raises OSError, the helper builds and
    returns a fresh value and stores nothing, so an unreadable directory
    never matches an entry stored while it was readable (or empty)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )

    d = tmp_path / "empty_dir"
    d.mkdir()
    assert cat.parquet_fingerprint(str(d)) == ()
    kind = "test-unreadable"
    stored = cat.session_cached(_fake_spark(), kind, str(d), object)
    assert cat.session_cached(_fake_spark(), kind, str(d), object) is stored

    def unreadable(path):
        raise PermissionError(13, "Permission denied", path)

    monkeypatch.setattr(cat, "parquet_fingerprint", unreadable)
    a = cat.session_cached(_fake_spark(), kind, str(d), object)
    b = cat.session_cached(_fake_spark(), kind, str(d), object)
    assert a is not stored and b is not stored and a is not b
    assert (kind, str(d)) not in cat._SESSION_CACHE


def test_session_cache_counts_nested_build_once(tmp_path):
    """A build that calls another session_cached build is charged its
    own seconds only: the per-kind build seconds sum to the wall time,
    not to wall time plus the nested build."""
    import time

    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )

    f = tmp_path / "n.parquet"
    f.write_bytes(b"x")

    def inner():
        time.sleep(0.3)
        return "inner"

    def outer():
        time.sleep(0.2)
        return cat.session_cached(_fake_spark(), "test-inner", str(f), inner)

    t0 = time.perf_counter()
    assert cat.session_cached(_fake_spark(), "test-outer", str(f), outer) == "inner"
    wall = time.perf_counter() - t0
    got_inner = cat.CACHE_STATS["test-inner"]["build_s"]
    got_outer = cat.CACHE_STATS["test-outer"]["build_s"]
    assert got_inner >= 0.3
    assert 0.2 <= got_outer < 0.45  # the nested 0.3 s is not in it
    assert got_inner + got_outer <= wall
