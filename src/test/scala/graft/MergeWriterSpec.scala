package graft

import graft.sinks.MergeWriter
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Kline(symbol: String, day: String, ts: Long, close: Double)

/** The reference's update_table semantics (UPDATE matched + INSERT new,
  * crypto_data_pipeline_duckdb.py:1546-1594) as a partitioned parquet
  * sink: delta overrides base per PK; only impacted partitions rewrite. */
class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  test("merge upserts per PK and rewrites only impacted partitions") {
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    val base = Seq(
      Kline("BTC", "2024-01-01", 1, 100.0),
      Kline("BTC", "2024-01-01", 2, 101.0),
      Kline("BTC", "2024-01-02", 3, 102.0),
      Kline("ETH", "2024-01-01", 1, 10.0)).toDS()
    base.write.partitionBy("day").parquet(dir)

    val untouched = Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "day=2024-01-02")).toMillis

    val delta = Seq(
      Kline("BTC", "2024-01-01", 2, 999.0), // update matched PK
      Kline("BTC", "2024-01-01", 5, 105.0), // insert new PK
      Kline("SOL", "2024-01-01", 1, 1.0)    // insert new key group
    ).toDS().toDF()

    MergeWriter.merge(spark, dir, delta, keys = Seq("symbol", "ts"), partitionCol = "day")

    val got = spark.read.parquet(dir)
      .select("symbol", "day", "ts", "close")
      .as[Kline].collect().toSet
    assert(got == Set(
      Kline("BTC", "2024-01-01", 1, 100.0),
      Kline("BTC", "2024-01-01", 2, 999.0), // updated
      Kline("BTC", "2024-01-01", 5, 105.0), // inserted
      Kline("BTC", "2024-01-02", 3, 102.0), // untouched partition intact
      Kline("ETH", "2024-01-01", 1, 10.0),
      Kline("SOL", "2024-01-01", 1, 1.0)))

    // dynamic overwrite must not have rewritten the 01-02 partition
    val after = Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "day=2024-01-02")).toMillis
    assert(after == untouched)
  }

  test("compact coalesces fragmented partitions, preserves data, skips healthy ones") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // six append-mode micro-ingests leave day d1 with six small files
    (1 to 6).foreach { i =>
      Seq(Kline("BTC", "d1", i.toLong, i.toDouble)).toDS().coalesce(1)
        .write.mode("append").partitionBy("day").parquet(dir)
    }
    Seq(Kline("BTC", "d2", 0, 0.0)).toDS().coalesce(1)
      .write.mode("append").partitionBy("day").parquet(dir)
    def files(day: String): Int = new java.io.File(s"$dir/day=$day")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(files("d1") > 4, s"merges must have fragmented d1: ${files("d1")}")
    val before = spark.read.parquet(dir).select("symbol", "day", "ts", "close")
      .as[Kline].collect().toSet
    val healthy = Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "day=d2")).toMillis

    val rewritten = MergeWriter.compact(spark, dir, "day", maxFiles = 4)
    assert(rewritten == Seq("d1"), s"only the fragmented partition rewrites: $rewritten")
    assert(files("d1") == 1, s"coalesced to one small file, got ${files("d1")}")
    val after = spark.read.parquet(dir).select("symbol", "day", "ts", "close")
      .as[Kline].collect().toSet
    assert(after == before, "compaction is a pure physical rewrite")
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "day=d2")).toMillis == healthy,
      "healthy partitions are not touched")
    // second run: nothing left to do
    assert(MergeWriter.compact(spark, dir, "day", maxFiles = 4).isEmpty)
  }

  test("compact decodes partition values exactly: '+' (which Spark leaves " +
    "unescaped in the directory name) and '/' (which it escapes) both compact") {
    val dir = Files.createTempDirectory("graft_compact_esc").toString + "/t"
    val symbols = Seq("1000SHIB+", "BTC/USDT")
    for (sym <- symbols; i <- 1 to 6)
      Seq(Kline(sym, "d1", i.toLong, i.toDouble)).toDS().coalesce(1)
        .write.mode("append").partitionBy("symbol").parquet(dir)
    def files(sym: String): Int = new java.io.File(s"$dir/symbol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(sym))
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(symbols.forall(files(_) == 6), "six appends fragment each partition")
    def rows = spark.read.parquet(dir).select("symbol", "day", "ts", "close")
      .as[Kline].collect().toSet
    val before = rows

    val rewritten = MergeWriter.compact(spark, dir, "symbol", maxFiles = 4)
    assert(rewritten.toSet == symbols.toSet, s"both partitions rewrite: $rewritten")
    assert(symbols.forall(files(_) == 1), s"coalesced: ${symbols.map(files)}")
    assert(rows == before, "compaction is a pure physical rewrite")
  }

  test("merge is idempotent (same delta twice == once)") {
    val dir = Files.createTempDirectory("graft_merge2").toString + "/t"
    Seq(Kline("BTC", "d1", 1, 1.0)).toDS().write.partitionBy("day").parquet(dir)
    val delta = Seq(Kline("BTC", "d1", 1, 2.0), Kline("BTC", "d1", 2, 3.0)).toDS().toDF()
    MergeWriter.merge(spark, dir, delta, Seq("symbol", "ts"), "day")
    MergeWriter.merge(spark, dir, delta, Seq("symbol", "ts"), "day")
    val got = spark.read.parquet(dir).select("symbol", "day", "ts", "close").as[Kline].collect().toSet
    assert(got == Set(Kline("BTC", "d1", 1, 2.0), Kline("BTC", "d1", 2, 3.0)))
  }
}
