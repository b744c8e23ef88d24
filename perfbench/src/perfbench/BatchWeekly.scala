package perfbench

import java.nio.file.{Path, Paths}

import graft.load.PartitionIO
import graft.mart.{CloseStats, IndicatorDay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `batch_weekly`, the pipeline's second phase: one run of the batch
  * plane's weekly cron over a seeded, events-shaped tick history, in
  * the same session the stream ran in:
  *   1. `PartitionIO.reloadTrailingWindow(days = 10)` into day
  *      partitions,
  *   2. a read-back of the 3-month lookback, `IndicatorDay.apply`, and
  *      the last month rewritten through `overwritePartitions`,
  *   3. `CloseStats.apply` over the lookback, written out.
  * The metric is the cycle's makespan (`batch_s`).
  */
final class BatchWeekly(spark: SparkSession, seed: Long, work: Path,
    trace: Option[Trace]) extends Main.Phase {
  import BatchWeekly._

  private val root = work.resolve("batch")
  private val tablePath = root.resolve("candles_day").toString
  private val martPath = root.resolve("indicator_day").toString
  private val statsPath = root.resolve("close_stats").toString

  private def day(offset: Int): String =
    java.time.LocalDate.parse(FirstDay).plusDays(offset.toLong).toString
  private val asOf = day(HistoryDays - 1)
  private def after(days: Int): org.apache.spark.sql.Column =
    col("dt") >= date_sub(lit(asOf).cast("date"), days)

  /** The days the reload rewrites: [asOf - ReloadDays, asOf]. */
  private val window = after(ReloadDays) && col("dt") <= lit(asOf).cast("date")

  /** The hot-store history, computed from the seed on every read. */
  private def source: DataFrame = ticks(spark, seed)
  /** An earlier version of the same ticks: same keys, other values. */
  private def stale: DataFrame = ticks(spark, seed, revision = 1)

  private def load(df: DataFrame): Unit =
    PartitionIO.overwritePartitions(PartitionIO.withDayPartitions(df, "dt"),
      tablePath, Seq("year", "month", "day"), clusterBy = Seq("id"))

  /** Loads the day-partitioned table the weekly job finds in place:
    * the history, with a stale version of the window the reload must
    * replace. */
  def prepare(): Unit = {
    Main.deleteTree(root)
    load(source.where(!window).unionByName(stale.where(window)))
  }

  private def lookback: DataFrame =
    spark.read.parquet(tablePath).where(after(LookbackDays))

  private def span[T](name: String)(f: => T): T =
    trace.fold(f)(_.span(name)(f))

  private def cycle(): Unit = span("batch.cycle") {
    span("load.reload") {
      PartitionIO.reloadTrailingWindow(source, tablePath, "dt",
        days = ReloadDays, asOf = asOf)
    }
    span("load.mart_write") {
      PartitionIO.overwritePartitions(
        IndicatorDay(lookback).where(after(MartRewriteDays)), martPath,
        Seq("year", "month", "day"))
    }
    span("load.close_stats_write") {
      CloseStats(lookback).write.mode("overwrite").parquet(statsPath)
    }
  }

  private var reloadStartMs = 0L

  def run(): Main.Outcome = {
    reloadStartMs = System.currentTimeMillis()
    val c0 = System.nanoTime()
    cycle()
    val batchS = Main.secondsSince(c0)
    Main.mark("weekly cycle done")
    val problems = check()
    Main.mark("batch checked")
    Main.Outcome(Map("work_s" -> batchS, "batch_s" -> batchS), 3L,
      if (problems.isEmpty) 0L else 1L, problems)
  }

  def layers(t: Trace): Unit = {
    val (files, bytes) = Main.dirStats(Paths.get(tablePath), reloadStartMs)
    def once(n: String) = t.spanSeconds(n).sum
    // compute-only passes (no write) isolate the mart layer's work
    def computeOnly(n: String)(df: => DataFrame) = Main.median(
      (1 to 2).map(_ => t.span(n) {
        val c0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        Main.secondsSince(c0)
      }))
    t.values ++= Seq(
      "load.reload_s" -> once("load.reload"),
      "load.reload_files" -> files.toDouble,
      "load.reload_bytes" -> bytes.toDouble,
      "load.mart_write_s" -> once("load.mart_write"),
      "mart.rows_out" -> (spark.read.parquet(martPath).count() +
        spark.read.parquet(statsPath).count()).toDouble,
      "mart.indicator_s" -> computeOnly("mart.indicator")(
        IndicatorDay(lookback)),
      "mart.close_stats_s" -> computeOnly("mart.close_stats")(
        CloseStats(lookback)))
  }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(col("event_id"), col("ts"), col("user_id"),
        col("value")).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Read-back of the reloaded window equals the source window; the
    * mart and close stats hold one row per symbol and day. */
  private def check(): Seq[String] = {
    val back = fingerprint(spark.read.parquet(tablePath).where(window))
    val want = fingerprint(source.where(window))
    val mart = spark.read.parquet(martPath)
    val martRows = mart.count()
    val martKeys = mart.select("id", "dt").distinct().count()
    val statsRows = spark.read.parquet(statsPath).count()
    val wantMart = Symbols.toLong * (MartRewriteDays + 1)
    val wantStats = Symbols.toLong * (LookbackDays + 1) * CloseStats.ranges.length
    Seq(
      if (back == want) None
      else Some(s"reload read-back $back != source window $want"),
      if (martRows == wantMart && martKeys == wantMart) None
      else Some(s"mart rows=$martRows keys=$martKeys want=$wantMart"),
      if (statsRows == wantStats) None
      else Some(s"close stats rows=$statsRows want=$wantStats")).flatten
  }

  def corruptAndCheck(): Seq[(String, Seq[String])] = {
    val victim = Paths.get(tablePath,
      s"year=${asOf.take(4).toInt}", s"month=${asOf.slice(5, 7).toInt}",
      s"day=${asOf.takeRight(2).toInt}")
    Main.deleteTree(victim)
    val dropped = check()
    // the table as it stands when the reload is skipped
    load(stale.where(window))
    Seq("weekly: last reloaded day partition deleted" -> dropped,
      "weekly: reload skipped" -> check())
  }
}

object BatchWeekly {
  val Symbols = 24
  val HistoryDays = 105
  val FirstDay = "2024-01-01"
  val ReloadDays = 10
  val LookbackDays = 90
  val MartRewriteDays = 30
  /** Ticks per symbol-day at Zipf rank 1; rank r gets about 1/r^s of
    * it, and every symbol trades at least once a day. */
  val TopTicksPerDay = 250
  val zipfS = 1.1
  /** The engine's small-value scaling path is keyed to this id. */
  val tinyPriceId: Long = IndicatorDay.exceptionalIds.head

  /** Events-shaped ticks (event_id, ts, user_id, event_type, value,
    * props) plus the partitioning date `dt` and the clustering key `id`
    * (= user_id). Every pseudo-random draw hashes (seed, symbol, day,
    * tick), so the rows do not depend on the partitioning. Another
    * `revision` keeps every key and redraws the values. */
  def ticks(spark: SparkSession, seed: Long, revision: Int = 0): DataFrame = {
    val start = java.time.LocalDate.parse(FirstDay)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    // uniform [0, 1) from a hash of the given columns and a salt
    def u(salt: Int, cs: String*) =
      s"(pmod(xxhash64($seed, $salt, ${cs.mkString(", ")}), 1000003) / 1000003.0)"
    spark.range(Symbols.toLong * HistoryDays)
      .selectExpr(s"id % $Symbols AS s", s"id div $Symbols AS d")
      .selectExpr("s", "d", s"1 + cast($TopTicksPerDay / pow(s + 1, $zipfS) * " +
        s"(0.5 + ${u(1, "s", "d")}) AS int) AS n")
      .selectExpr("s", "d", "n", "explode(sequence(0, n - 1)) AS i")
      .selectExpr(
        s"s * 100000000L + d * 100000L + i AS event_id",
        s"timestamp_seconds($start + d * 86400 + cast(86400 * i / n AS long) + " +
          s"cast(60 * ${u(2, "s", "d", "i")} AS long)) AS ts",
        "s AS user_id",
        s"if(${u(3, "s", "d", "i")} < 0.5, 'buy', 'sell') AS event_type",
        s"if(s = $tinyPriceId, 0.00001, 30000.0 / (s + 1)) * " +
          s"(1 + 0.2 * sin((d * 24 + i) / 50.0 + s) + " +
          s"0.02 * (${u(4 + revision, "s", "d", "i")} - 0.5)) AS value",
        "'{}' AS props")
      .withColumn("id", col("user_id"))
      .withColumn("dt", to_date(col("ts")))
  }
}
