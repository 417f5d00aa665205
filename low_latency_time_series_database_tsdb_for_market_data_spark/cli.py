"""Reference-compatible CLI — the switch-over surface.

A user of the reference's ``tsdb_cli`` can point at this module and run the
same five commands (`cli.cpp:43-219`):

    python -m low_latency_time_series_database_tsdb_for_market_data_spark.cli \
        insert <symbol> <ts> <price> <volume>     # cli.cpp:54-68
        query <symbol> <start> <end>              # cli.cpp:69-87  (flagship S4)
        last <symbol> <n>                         # cli.cpp:88-105 (S6)
        benchmark <symbol> <n>                    # cli.cpp:106-139 (S10)
        import <symbol> <file.csv>                # cli.cpp:140-207 (S8)

Golden output contract is preserved byte-for-byte (SURVEY.md §2.1):
``"Found N results:"`` then per-row ``"Timestamp: <ts> Price: <%.2f>
Volume: <vol>"``; ``"Last N ticks for <sym>:"``.  Documented deviations
(SURVEY.md §4.3): ``import`` reports the TRUE imported row count (the
reference prints lines-read, `cli.cpp:206`); duplicate-timestamp ties are
returned in seq (arrival) order, a deterministic total order, where the
reference returns reverse-arrival (`bplus_tree.hpp:53`).

Storage: one partitioned parquet tick table per data_dir (symbol is a
partition column — the reference's directory-per-symbol model,
`column_storage.cpp:13-18`), time-sorted row groups via the engine's
writer.  Timestamps are epoch seconds held as int64, exactly the
reference's opaque-u64 model (`timeseries_db.hpp:19-24`).  Reads
(``query``, ``last``, the benchmark's count and the append seq base)
descend the parquet footers and read the row groups they select on the
driver (`sources/tick_probe.py`, the B+ tree descent of
`bplus_tree.hpp:95-106`) and run no Spark job; writes and ``maintain``
stay on Spark.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources import tick_probe

TICK_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # epoch seconds (opaque u64)
        T.StructField("price", T.DoubleType(), False),
        T.StructField("volume", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),  # arrival order
        T.StructField("symbol", T.StringType(), False),
    ]
)

HELP = """Usage:
  cli insert <symbol> <timestamp> <price> <volume>
  cli query <symbol> <start_ts> <end_ts>
  cli last <symbol> <count>
  cli benchmark <symbol> <num_ticks>
  cli import <symbol> <csv_file>
  cli maintain [target_files]
"""


def _table_path(data_dir: str) -> str:
    return f"{data_dir}/ticks"


def _append(
    spark: SparkSession, data_dir: str, symbol: str, rows: list[tuple[int, float, int]]
) -> int:
    """Append (ts, price, volume) rows with monotone seq; returns count.

    CLI appends are small interactive batches, so assigning seq from one
    driver-side max() is correct (single-writer, like the reference's one
    writer thread).  Bulk pipelines use sources/writer.py where seq comes
    from the source."""
    from .sources.writer import write_ticks

    base = tick_probe.next_seq(_table_path(data_dir), symbol)
    data = [
        Row(ts=int(ts), price=float(p), volume=int(v), seq=base + i, symbol=symbol)
        for i, (ts, p, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, TICK_SCHEMA)
    write_ticks(df, _table_path(data_dir), mode="append")
    return len(data)


def _fmt(rows) -> list[str]:
    # golden row format, cli.cpp:81-86
    return [
        f"Timestamp: {r['ts']} Price: {r['price']:.2f} Volume: {r['volume']}"
        for r in rows
    ]


def cmd_insert(
    spark: SparkSession, data_dir: str, symbol: str, ts: int, price: float, volume: int
) -> list[str]:
    _append(spark, data_dir, symbol, [(ts, price, volume)])
    return [f"Inserted tick for {symbol}"]


def cmd_query(
    spark: SparkSession, data_dir: str, symbol: str, start: int, end: int
) -> list[str]:
    """Inclusive time-range scan, ts-ordered, seq-ordered ties (S4)."""
    rows = tick_probe.query(_table_path(data_dir), symbol, start, end)
    return [f"Found {len(rows)} results:"] + _fmt(rows)


def cmd_last(spark: SparkSession, data_dir: str, symbol: str, n: int) -> list[str]:
    """Last-N in arrival order, emitted oldest-first (S6)."""
    rows = tick_probe.last(_table_path(data_dir), symbol, n)
    return [f"Last {len(rows)} ticks for {symbol}:"] + _fmt(rows)


def cmd_import(
    spark: SparkSession, data_dir: str, symbol: str, csv_path: str
) -> list[str]:
    """CSV import with malformed-row tolerance (S8).  The parse keeps the
    reference's skip-bad-rows semantics; unlike `cli.cpp:206` the reported
    count is rows actually imported.

    The parsed rows flow straight from the distributed text scan into the
    partitioned writer — no driver collect of row data (the old
    `.collect()` round-trip was the classic scale-killer at any real
    import size).  seq continues from the symbol's max in FILE-LINE order
    with NO Exchange at all: one tiny probe job collects per-split
    surviving-row counts (one row per split — KBs at any import size),
    the driver turns them into cumulative per-split seq bases (splits are
    planned in file-offset order, so split k's base = rows of splits
    < k), and seq = base + split_base[partition] + in-split record index
    (the documented low-33-bit payload of monotonically_increasing_id).
    A pure narrow expression — the old single-partition row_number window
    serialized the whole import through one task; this keeps the scan's
    own parallelism while assigning the identical numbers."""
    from .sources.csv_ticks import read_tick_csv
    from .sources.writer import write_ticks

    base = tick_probe.next_seq(_table_path(data_dir), symbol)
    parsed = read_tick_csv(spark, csv_path)
    counts = dict(
        (r["pid"], r["n"])
        for r in parsed.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # dense base array indexed by partition id (empty splits hold a 0
    # placeholder): element_at on an array literal is an O(1) index, where
    # a literal map would be a per-row linear key scan at import scale
    bases: list[int] = []
    total = 0
    for pid in range(max(counts) + 1 if counts else 0):
        bases.append(total)
        total += counts.get(pid, 0)
    if total:
        local_idx = F.monotonically_increasing_id() - F.shiftleft(
            F.spark_partition_id().cast("long"), 33
        )
        seq = (
            F.lit(base)
            + F.element_at(
                F.array(*[F.lit(b) for b in bases]),
                F.spark_partition_id() + 1,
            )
            + local_idx
        ).cast("long")
        df = parsed.select(
            F.col("ts"),
            F.col("price"),
            F.col("volume"),
            seq.alias("seq"),
            F.lit(symbol).alias("symbol"),
        )
        write_ticks(df, _table_path(data_dir), mode="append")
    return [f"Imported {total} ticks for {symbol} from {csv_path}"]


def cmd_benchmark(
    spark: SparkSession, data_dir: str, symbol: str, count: int
) -> list[str]:
    """Generate-insert-query benchmark (S10, `cli.cpp:106-139`): sequential
    1 Hz timestamps from now, price ~ U(100,200), volume ~ U(100,10000)."""
    now = int(time.time())
    # seq must continue from the symbol's current max (same contract as
    # _append), else a benchmark on a pre-populated symbol duplicates seq
    # values and corrupts `last` ordering / (ts, seq) tie-breaking
    base = tick_probe.next_seq(_table_path(data_dir), symbol)
    gen = spark.range(count).select(
        (F.lit(now) + F.col("id")).alias("ts"),
        (100.0 + F.rand(7) * 100.0).alias("price"),
        (100 + (F.rand(11) * 9900).cast("long")).alias("volume"),
        (F.lit(base) + F.col("id")).alias("seq"),
        F.lit(symbol).alias("symbol"),
    )
    gen.write.mode("overwrite").format("noop").save()  # exclude generation

    from .sources.writer import write_ticks

    t0 = time.perf_counter()
    write_ticks(gen, _table_path(data_dir), mode="append")
    insert_ms = max(1, int((time.perf_counter() - t0) * 1000))
    out = [
        f"Inserted {count} ticks in {insert_ms}ms "
        f"({count * 1000.0 / insert_ms} ticks/second)"
    ]

    t0 = time.perf_counter()
    n = tick_probe.count(_table_path(data_dir), symbol, now, now + count - 1)
    query_ms = max(1, int((time.perf_counter() - t0) * 1000))
    out.append(
        f"Queried {n} ticks in {query_ms}ms ({n * 1000.0 / query_ms} ticks/second)"
    )
    return out


def cmd_maintain(
    spark: SparkSession, data_dir: str, target_files: int | None = None
) -> list[str]:
    """Engine extension (no reference analogue — its files live forever,
    `timeseries_db.cpp:157-168`): compact the tick table to bound file
    count and restore the time-clustered layout that keeps row-group
    stats selective after many small appends.  Stage-then-swap, so a
    crash leaves a complete table at one of the two paths."""
    from pathlib import Path

    from .sources.writer import compact_ticks

    path = _table_path(data_dir)
    has_data = Path(path).exists() and any(Path(path).glob("**/*.parquet"))
    if not has_data:
        return ["Nothing to maintain: no tick table at " + path]
    audit = compact_ticks(spark, path, target_files=target_files)
    return [
        f"Compacted {audit['rows']} ticks: "
        f"{audit['files_before']} -> {audit['files_after']} files"
    ]


def run(argv: list[str], spark: SparkSession, data_dir: str = "tsdb_data") -> list[str]:
    """Dispatch one CLI invocation; returns output lines (testable core)."""
    if not argv:
        return [HELP]
    cmd, args = argv[0], argv[1:]
    if cmd == "insert" and len(args) == 4:
        return cmd_insert(
            spark, data_dir, args[0], int(args[1]), float(args[2]), int(args[3])
        )
    if cmd == "query" and len(args) == 3:
        return cmd_query(spark, data_dir, args[0], int(args[1]), int(args[2]))
    if cmd == "last" and len(args) == 2:
        return cmd_last(spark, data_dir, args[0], int(args[1]))
    if cmd == "benchmark" and len(args) == 2:
        return cmd_benchmark(spark, data_dir, args[0], int(args[1]))
    if cmd == "import" and len(args) == 2:
        return cmd_import(spark, data_dir, args[0], args[1])
    if cmd == "maintain" and len(args) <= 1:
        return cmd_maintain(
            spark, data_dir, int(args[0]) if args else None
        )
    return [HELP]


def main() -> int:
    from .session import get_spark

    spark = get_spark("tsdb-cli")
    spark.sparkContext.setLogLevel("ERROR")
    lines = run(sys.argv[1:], spark)
    print("\n".join(lines))
    return 0 if lines and lines[0] != HELP else 1


if __name__ == "__main__":
    sys.exit(main())
