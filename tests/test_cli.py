"""Golden tests for the reference-compatible CLI (cli.cpp:43-219 surface):
exact output strings, inclusive range bounds, deterministic tie order,
arrival-order last-N, malformed-CSV import with true-count reporting."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

from low_latency_time_series_database_tsdb_for_market_data_spark import cli

FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture()
def data_dir():
    d = tempfile.mkdtemp(prefix="tsdb_cli_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_insert_query_golden_format(spark, data_dir):
    assert cli.run(["insert", "AAPL", "1000", "10.5", "7"], spark, data_dir) == [
        "Inserted tick for AAPL"
    ]
    cli.run(["insert", "AAPL", "1002", "11.25", "8"], spark, data_dir)
    cli.run(["insert", "AAPL", "1001", "12", "9"], spark, data_dir)
    out = cli.run(["query", "AAPL", "1000", "1002"], spark, data_dir)
    assert out == [
        "Found 3 results:",
        "Timestamp: 1000 Price: 10.50 Volume: 7",
        "Timestamp: 1001 Price: 12.00 Volume: 9",
        "Timestamp: 1002 Price: 11.25 Volume: 8",
    ]


def test_query_inclusive_bounds_and_inverted_range(spark, data_dir):
    for ts in (10, 20, 30):
        cli.run(["insert", "X", str(ts), "1.0", "1"], spark, data_dir)
    # inclusive both ends (S4, verified on the binary)
    assert cli.run(["query", "X", "10", "30"], spark, data_dir)[0] == "Found 3 results:"
    assert cli.run(["query", "X", "11", "29"], spark, data_dir)[0] == "Found 1 results:"
    # inverted range -> zero rows (verified)
    assert cli.run(["query", "X", "30", "10"], spark, data_dir) == ["Found 0 results:"]


def test_duplicate_ts_ties_seq_order(spark, data_dir):
    # duplicate timestamps allowed; we standardize ties on seq ASC
    # (documented deviation from reverse-arrival, SURVEY.md §4.3.4)
    cli.run(["insert", "T", "100", "1.0", "1"], spark, data_dir)
    cli.run(["insert", "T", "100", "2.0", "2"], spark, data_dir)
    out = cli.run(["query", "T", "100", "100"], spark, data_dir)
    assert out == [
        "Found 2 results:",
        "Timestamp: 100 Price: 1.00 Volume: 1",
        "Timestamp: 100 Price: 2.00 Volume: 2",
    ]


def test_last_arrival_order_not_ts_order(spark, data_dir):
    # out-of-order inserts return by insert position (S6, verified)
    for ts, p in ((300, "3.0"), (100, "1.0"), (200, "2.0")):
        cli.run(["insert", "L", str(ts), p, "1"], spark, data_dir)
    out = cli.run(["last", "L", "2"], spark, data_dir)
    assert out == [
        "Last 2 ticks for L:",
        "Timestamp: 100 Price: 1.00 Volume: 1",
        "Timestamp: 200 Price: 2.00 Volume: 1",
    ]
    # n > count -> all rows, header shows actual size (cli.cpp:99)
    assert cli.run(["last", "L", "99"], spark, data_dir)[0] == "Last 3 ticks for L:"


def test_import_malformed_true_count(spark, data_dir):
    # fixture: header + short row + bad-numeric row + 3 good rows; the
    # 4-token row survives (extras ignored, verified on the binary).
    # The reference would misreport 5 lines-read (cli.cpp:206); we report
    # the true 3.
    out = cli.run(
        ["import", "CSV", str(FIXTURES / "ticks_malformed.csv")], spark, data_dir
    )
    assert out[0].startswith("Imported 3 ticks for CSV")
    q = cli.run(["query", "CSV", "2000", "2003"], spark, data_dir)
    assert q == [
        "Found 3 results:",
        "Timestamp: 2000 Price: 50.50 Volume: 10",
        "Timestamp: 2001 Price: 51.00 Volume: 20",
        "Timestamp: 2003 Price: 52.50 Volume: 40",
    ]


def test_import_skips_line_without_volume(spark, data_dir, tmp_path):
    """A line with a numeric timestamp and price but no volume token is
    skipped like the reference's "fewer than 3 tokens" rule; indexing
    the missing token must not fail the whole import under ANSI mode."""
    csv = tmp_path / "short.csv"
    csv.write_text("2000,50.5,10\n2004,53.0\n2005,54.0,30\n")
    out = cli.run(["import", "CSV", str(csv)], spark, data_dir)
    assert out[0].startswith("Imported 2 ticks for CSV")
    assert cli.run(["query", "CSV", "2000", "2005"], spark, data_dir) == [
        "Found 2 results:",
        "Timestamp: 2000 Price: 50.50 Volume: 10",
        "Timestamp: 2005 Price: 54.00 Volume: 30",
    ]


def test_import_seq_assignment_is_narrow(spark, data_dir, monkeypatch):
    """cmd_import's seq assignment must be a pure narrow expression over
    the CSV scan — no Window, no Exchange (the old implementation
    serialized every import through a single-partition row_number
    window).  Captured at the write boundary so the asserted plan is
    exactly what the import would execute, and the multi-split base
    arithmetic is exercised by re-importing (seq continues from max)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources import (
        writer,
    )

    captured = {}
    real_write = writer.write_ticks

    def spy(df, path, mode="append"):
        captured["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return real_write(df, path, mode=mode)

    monkeypatch.setattr(writer, "write_ticks", spy)
    cli.run(["import", "CSV", str(FIXTURES / "ticks_malformed.csv")], spark, data_dir)
    plan = captured["plan"]
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    # second import: seq continues from the stored max, still narrow
    cli.run(["import", "CSV", str(FIXTURES / "ticks_malformed.csv")], spark, data_dir)
    df = spark.read.schema(cli.TICK_SCHEMA).parquet(f"{data_dir}/ticks")
    seqs = sorted(r.seq for r in df.where("symbol = 'CSV'").select("seq").collect())
    assert seqs == list(range(6))


def test_benchmark_runs(spark, data_dir):
    out = cli.run(["benchmark", "B", "1000"], spark, data_dir)
    assert len(out) == 2
    assert out[0].startswith("Inserted 1000 ticks in ")
    assert "ticks/second" in out[0] and "ticks/second" in out[1]
    assert out[1].startswith("Queried 1000 ticks in ")


def test_help_on_bad_args(spark, data_dir):
    assert cli.run([], spark, data_dir) == [cli.HELP]
    assert cli.run(["query", "X"], spark, data_dir) == [cli.HELP]


def test_benchmark_seq_continues_from_existing(spark, data_dir):
    """cmd_benchmark on a pre-populated symbol must continue seq from the
    symbol's max (same contract as insert/append) — duplicate seq values
    would corrupt arrival-order `last` and (ts, seq) tie-breaking."""
    for ts in (10, 20, 30):
        cli.run(["insert", "B", str(ts), "1.0", "1"], spark, data_dir)
    cli.run(["benchmark", "B", "5"], spark, data_dir)
    df = spark.read.schema(cli.TICK_SCHEMA).parquet(f"{data_dir}/ticks")
    seqs = sorted(r.seq for r in df.where("symbol = 'B'").select("seq").collect())
    assert len(seqs) == 8
    assert len(set(seqs)) == 8, "duplicate seq values after benchmark"
    assert seqs == list(range(seqs[0], seqs[0] + 8))


def test_maintain_compacts_and_preserves_query_results(spark, tmp_path):
    """`maintain` (engine extension): many small inserts accumulate
    files; compaction must bound them and leave every query byte-for-
    byte identical."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.cli import (
        run,
    )

    d = str(tmp_path / "data")
    for i in range(8):
        run(["insert", "AAPL", str(1000 + i), f"{100 + i}.5", "10"], spark, d)
    before = run(["query", "AAPL", "1000", "1010"], spark, d)
    from pathlib import Path

    files_before = len(list(Path(d).glob("**/*.parquet")))
    out = run(["maintain", "2"], spark, d)
    assert out[0].startswith("Compacted 8 ticks:")
    files_after = len(list(Path(d).glob("**/*.parquet")))
    assert files_after < files_before
    assert run(["query", "AAPL", "1000", "1010"], spark, d) == before
    # empty data dir: graceful
    out2 = run(["maintain"], spark, str(tmp_path / "nope"))
    assert out2[0].startswith("Nothing to maintain")
