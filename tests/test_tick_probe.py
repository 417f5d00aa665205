"""The cli's driver-local reader (sources/tick_probe.py) against Spark:
partition directory names, Spark's listing rule, row groups without
statistics, and query/last equivalence with an independent Spark read."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark import cli
from low_latency_time_series_database_tsdb_for_market_data_spark.sources import tick_probe


def _spark_ticks(spark, data_dir: str, symbol: str):
    return (
        spark.read.schema(cli.TICK_SCHEMA)
        .parquet(f"{data_dir}/ticks")
        .where(F.col("symbol") == symbol)
    )


def _spark_query(spark, data_dir, symbol, start, end) -> list[str]:
    rows = (
        _spark_ticks(spark, data_dir, symbol)
        .where((F.col("ts") >= start) & (F.col("ts") <= end))
        .orderBy("ts", "seq")
        .collect()
    )
    return [f"Found {len(rows)} results:"] + cli._fmt(rows)


def _spark_last(spark, data_dir, symbol, n) -> list[str]:
    rows = (
        _spark_ticks(spark, data_dir, symbol)
        .orderBy(F.desc("seq"))
        .limit(n)
        .orderBy("seq")
        .collect()
    )
    return [f"Last {len(rows)} ticks for {symbol}:"] + cli._fmt(rows)


def test_partition_dir_name_matches_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for code in range(1, 256):
        c = chr(code)
        assert tick_probe.partition_dir_name(c) == utils.escapePathName(c), repr(c)


@pytest.mark.parametrize("symbol", ["A/B", "X=Y", "P%Q", "sp ace", "é"])
def test_escaped_symbol_round_trip(spark, tmp_path, symbol):
    d = str(tmp_path)
    cli.run(["insert", symbol, "100", "1.5", "3"], spark, d)
    cli.run(["insert", symbol, "101", "2.5", "4"], spark, d)
    assert (tmp_path / "ticks" / f"symbol={tick_probe.partition_dir_name(symbol)}").is_dir()
    assert cli.run(["query", symbol, "100", "101"], spark, d) == [
        "Found 2 results:",
        "Timestamp: 100 Price: 1.50 Volume: 3",
        "Timestamp: 101 Price: 2.50 Volume: 4",
    ]
    assert cli.run(["last", symbol, "1"], spark, d) == [
        f"Last 1 ticks for {symbol}:",
        "Timestamp: 101 Price: 2.50 Volume: 4",
    ]


def test_reads_run_without_spark(spark, tmp_path):
    """query and last never touch the session: they run with none."""
    d = str(tmp_path)
    cli.run(["insert", "N", "5", "1.0", "1"], spark, d)
    assert cli.run(["query", "N", "0", "9"], None, d)[0] == "Found 1 results:"
    assert cli.run(["last", "N", "3"], None, d)[0] == "Last 1 ticks for N:"
    assert tick_probe.next_seq(f"{d}/ticks", "N") == 1


def test_missing_table_or_symbol_is_empty(spark, tmp_path):
    d = str(tmp_path)
    assert cli.run(["query", "X", "0", "99"], spark, d) == ["Found 0 results:"]
    assert cli.run(["last", "X", "5"], spark, d) == ["Last 0 ticks for X:"]
    assert tick_probe.next_seq(f"{d}/ticks", "X") == 0
    cli.run(["insert", "Y", "1", "1.0", "1"], spark, d)
    assert cli.run(["query", "X", "0", "99"], spark, d) == ["Found 0 results:"]
    assert cli.run(["last", "X", "5"], spark, d) == ["Last 0 ticks for X:"]
    assert tick_probe.next_seq(f"{d}/ticks", "X") == 0


def test_row_groups_without_statistics_are_read(spark, tmp_path):
    d = str(tmp_path)
    for ts in (10, 20):
        cli.run(["insert", "S", str(ts), "1.0", "1"], spark, d)
    bare = pa.table(
        {
            "ts": pa.array([5, 15, 25], pa.int64()),
            "price": pa.array([7.0, 8.0, 9.0]),
            "volume": pa.array([70, 80, 90], pa.int64()),
            "seq": pa.array([2, 3, 4], pa.int64()),
        }
    )
    path = tmp_path / "ticks" / "symbol=S" / "part-bare.parquet"
    pq.write_table(bare, path, write_statistics=False)
    assert pq.ParquetFile(path).metadata.row_group(0).column(0).statistics is None

    assert tick_probe.next_seq(f"{d}/ticks", "S") == 5
    for start, end in ((0, 30), (12, 18), (25, 25)):
        assert cli.run(["query", "S", str(start), str(end)], spark, d) == _spark_query(
            spark, d, "S", start, end
        )
    for n in (1, 3, 9):
        assert cli.run(["last", "S", str(n)], spark, d) == _spark_last(spark, d, "S", n)
    cli.run(["insert", "S", "30", "1.0", "1"], spark, d)
    assert cli.run(["last", "S", "1"], spark, d) == [
        "Last 1 ticks for S:",
        "Timestamp: 30 Price: 1.00 Volume: 1",
    ]


def test_spark_listing_rule(spark, tmp_path):
    """Names starting with `_` or `.` are not data, exactly as Spark lists."""
    d = str(tmp_path)
    for ts in (10, 20, 30):
        cli.run(["insert", "L", str(ts), "1.0", "1"], spark, d)
    before = (
        cli.run(["query", "L", "0", "99"], spark, d),
        cli.run(["last", "L", "2"], spark, d),
        tick_probe.next_seq(f"{d}/ticks", "L"),
    )
    sym = tmp_path / "ticks" / "symbol=L"
    (sym / "_SUCCESS").write_text("")
    (sym / ".x.crc").write_bytes(b"\x00garbage")
    (sym / "_temporary").mkdir()
    stray = pa.table({"ts": [15], "price": [9.0], "volume": [9], "seq": [99]})
    pq.write_table(stray, sym / "_temporary" / "part-0.parquet")
    after = (
        cli.run(["query", "L", "0", "99"], spark, d),
        cli.run(["last", "L", "2"], spark, d),
        tick_probe.next_seq(f"{d}/ticks", "L"),
    )
    assert after == before
    assert before[0] == _spark_query(spark, d, "L", 0, 99)
    assert before[1] == _spark_last(spark, d, "L", 2)


def test_last_reads_only_the_newest_groups(spark, tmp_path, monkeypatch):
    d = str(tmp_path)
    for ts in (50, 10, 40, 20, 30):
        cli.run(["insert", "G", str(ts), "1.0", "1"], spark, d)
    read = []
    real = tick_probe._read
    monkeypatch.setattr(
        tick_probe, "_read", lambda groups, *a: read.append(len(groups)) or real(groups, *a)
    )
    assert cli.run(["last", "G", "1"], spark, d) == [
        "Last 1 ticks for G:",
        "Timestamp: 30 Price: 1.00 Volume: 1",
    ]
    assert sum(read) == 1
    read.clear()
    assert cli.run(["last", "G", "0"], spark, d) == ["Last 0 ticks for G:"]
    assert sum(read) == 0


def test_probe_matches_spark_on_random_ranges(spark, tmp_path):
    """Seeded inserts and duplicate-timestamp imports around a maintain,
    then ~50 ranges and last-N compared with an independent Spark read."""
    rng = random.Random(20261017)
    d = str(tmp_path)
    symbols = ("AAA", "BBB")
    for k in range(3):
        for sym in symbols:
            cli.run(
                ["insert", sym, str(rng.randint(1000, 1100)), f"{rng.uniform(1, 99):.2f}", "5"],
                spark,
                d,
            )
            lines = [
                f"{rng.randint(1000, 1100)},{rng.uniform(1, 99):.2f},{rng.randint(1, 500)}"
                for _ in range(60)
            ]
            csv = tmp_path / f"{sym}-{k}.csv"
            csv.write_text("\n".join(lines) + "\n")
            cli.run(["import", sym, str(csv)], spark, d)
        if k == 1:
            cli.run(["maintain"], spark, d)
    ranges = [(1200, 1100), (900, 950), (1150, 1200), (1050, 1050), (1000, 1100)]
    while len(ranges) < 50:
        a, b = rng.randint(990, 1110), rng.randint(990, 1110)
        ranges.append((a, a) if rng.random() < 0.2 else (a, b))
    for sym in symbols:
        count = _spark_ticks(spark, d, sym).count()
        assert count == 3 * 61
        for start, end in ranges:
            got = cli.run(["query", sym, str(start), str(end)], spark, d)
            assert got == _spark_query(spark, d, sym, start, end), (sym, start, end)
        for n in (0, 1, 7, count + 10):
            got = cli.run(["last", sym, str(n)], spark, d)
            assert got == _spark_last(spark, d, sym, n), (sym, n)
        assert tick_probe.next_seq(f"{d}/ticks", sym) == count
