package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.Transforms
import graft.stream.{OffsetLag, Pipelines}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit,
  ReadMaxRows}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
  MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryProgress}
import org.apache.spark.unsafe.types.UTF8String

/** A MemoryStream that honours a row cap per micro-batch, the way the
  * Kafka source honours `maxOffsetsPerTrigger`. MemoryStream offsets
  * count `addData` blocks, so the cap walks whole blocks until adding
  * the next one would pass `maxRows` (at least one block per batch).
  */
final class CappedMemoryStream(id: Int, spark: SparkSession, parts: Int,
    maxRows: Long)
    extends MemoryStream[(String, String)](id, spark, Some(parts))(
      Encoders.tuple(Encoders.STRING, Encoders.STRING)) {

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)

  private def ordinal(o: Offset): Long = o match {
    case null => -1L
    case l: LongOffset => l.offset
    case other => other.json.toLong
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    synchronized {
      // `batches` holds only the blocks after the last committed offset
      val bs: mutable.ListBuffer[Array[UnsafeRow]] = batches
      val base = lastOffsetCommitted.offset + 1
      val last = currentOffset.offset
      limit match {
        case r: ReadMaxRows =>
          val first = ordinal(start)
          var end = first
          var rows = 0L
          while (end < last && (end == first ||
              rows + bs((end + 1 - base).toInt).length <= r.maxRows)) {
            end += 1
            rows += bs((end - base).toInt).length
          }
          LongOffset(end)
        case _ => LongOffset(last)
      }
    }

  override def reportLatestOffset(): Offset = synchronized(currentOffset)
}

/** `stream_restart`, the pipeline's first phase: the real-time plane
  * through a restart. In set-up the three `Pipelines.parquetSink`
  * queries (candles, market trades, order books) run once over a first
  * block of envelopes and stop. While they are down a backlog is
  * retained; the measured phase restarts them from their checkpoints,
  * drains the backlog at ≤ 10,000 messages per micro-batch (catch-up),
  * then one generator thread offers a fixed open-loop rate while the
  * queries keep the hot tables current (freshness). The phase's metric
  * is its wall time: restart, catch-up and the open-loop phase.
  */
final class StreamRestart(spark: SparkSession, seed: Long, seconds: Int,
    work: Path, trace: Option[Trace]) extends Main.Phase {
  import StreamRestart._

  private val root = work.resolve("stream")
  private val parts = Runtime.getRuntime.availableProcessors
  private var gen: Generated = _

  private final class Feed(val topic: Topic, id: Int) {
    val mem = new CappedMemoryStream(id, spark, parts, Cap)
    /** Per block: message count and each message's due time (ms, or -1
      * for backlog messages, which are due before their restart). */
    val blocks = mutable.ArrayBuffer.empty[(Int, Array[Long])]
    /** Progress of every batch that read data, over all restarts. */
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var sent = 0
    def add(msgs: Seq[String], due: Array[Long]): Unit = synchronized {
      mem.addData(msgs.map(m => (topic.name, m)))
      blocks += ((msgs.length, due))
      sent += msgs.length
    }
    /** Starts this topic's query; it resumes from its checkpoint. */
    def start(): StreamingQuery = {
      val raw = mem.toDF().select(col("_1").as("key"), col("_2").as("value"))
      Pipelines.parquetSink(topic.parse(raw),
        root.resolve("hot").resolve(topic.name).toString,
        root.resolve("ckpt").resolve(topic.name).toString, topic.pk)
    }
  }

  private var layerValues = Seq.empty[(String, Double)]
  /** Messages offered per topic in the last run. */
  private var sent = Seq.empty[(Topic, Int)]
  private var feeds = Seq.empty[Feed]

  private def withData(q: StreamingQuery) =
    q.recentProgress.filter(_.numInputRows > 0)

  /** Generates the envelopes; the queries' first run, over the first
    * block of each topic. */
  def prepare(): Unit = {
    gen = generate(seed)
    Main.deleteTree(root)
    feeds = topics.zipWithIndex.map { case (t, i) => new Feed(t, 100 + i) }
    for (f <- feeds) {
      val first = gen.first(f.topic.name)
      f.add(first, Array.fill(first.length)(-1L))
    }
    val queries = feeds.map(_.start())
    queries.foreach(_.processAllAvailable())
    feeds.zip(queries).foreach { case (f, q) => f.progress ++= withData(q) }
    queries.foreach(_.stop())
  }

  def run(): Main.Outcome = {
    // the backlog retained while the queries were down, in
    // producer-sized blocks; then restart and drain it
    for (f <- feeds; chunk <- gen.backlog(f.topic.name).grouped(1000))
      f.add(chunk, Array.fill(chunk.length)(-1L))
    val w0 = System.nanoTime()
    val queries = feeds.map(_.start())
    queries.foreach(_.processAllAvailable())
    val catchupS = Main.secondsSince(w0)
    Main.mark("backlog drained")
    val catchupBatches = queries.map(q => withData(q).length).sum

    // open loop at fixed rates from one generator thread, for `seconds`
    // and until the steady phase spans MinSteadyBatches micro-batches
    // (or the generated messages run out)
    var lateMaxMs = 0L
    val startMs = System.currentTimeMillis() + 50
    val generator = new Thread(() => {
      val sentAt = Array.fill(feeds.length)(0)
      var done = false
      var lastPoll = 0L
      var enough = false
      while (!done) {
        val now = System.currentTimeMillis()
        if (now - lastPoll >= 100) {
          lastPoll = now
          enough = now - startMs >= seconds * 1000L &&
            queries.map(q => withData(q).length).sum - catchupBatches >=
              MinSteadyBatches
        }
        done = true
        for ((f, i) <- feeds.zipWithIndex if !enough) {
          val steady = gen.steady(f.topic.name)
          val due = math.min(steady.length,
            ((now - startMs).max(0L) * f.topic.rate / 1000).toInt)
          if (due > sentAt(i)) {
            val dueMs = Array.tabulate(due - sentAt(i))(j =>
              startMs + (sentAt(i) + j).toLong * 1000 / f.topic.rate)
            lateMaxMs = lateMaxMs.max(now - dueMs.head)
            f.add(steady.slice(sentAt(i), due), dueMs)
            sentAt(i) = due
          }
          if (sentAt(i) < steady.length) done = false
        }
        if (!done) Thread.sleep(2)
      }
    })
    generator.setName("perfbench-generator")
    generator.start()
    generator.join()
    queries.foreach(_.processAllAvailable())
    feeds.zip(queries).foreach { case (f, q) => f.progress ++= withData(q) }
    queries.foreach(_.stop())
    val wallS = Main.secondsSince(w0)
    Main.mark("steady phase done")

    // freshness: due time → commit of the batch that held the message
    val freshness = mutable.ArrayBuffer.empty[Double]
    val steadyProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var backlogMax = 0L
    for (f <- feeds) {
      val firstOrdinal = f.blocks.scanLeft(0L)(_ + _._1).toIndexedSeq
      for (p <- f.progress) {
        val src = p.sources.head
        val start = OffsetLag.parseOffsets(src.startOffset)
          .getOrElse("0", -1L)
        val end = OffsetLag.parseOffsets(src.endOffset)("0")
        val lagBlocks = OffsetLag.lags(
          OffsetLag.parseOffsets(src.endOffset),
          OffsetLag.parseOffsets(src.latestOffset)).getOrElse("0", 0L)
        backlogMax = backlogMax.max(
          firstOrdinal((end + 1 + lagBlocks).toInt.min(f.blocks.length)) -
            firstOrdinal((end + 1).toInt))
        val commitMs = Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue
        val dues = ((start + 1) to end).flatMap(b => f.blocks(b.toInt)._2)
        if (dues.exists(_ >= 0)) steadyProgress += p
        dues.filter(_ >= 0).foreach(d => freshness += (commitMs - d).toDouble)
      }
    }

    sent = feeds.map(f => f.topic -> f.sent)
    val problems = check(sent)
    Main.mark("stream checked")
    val attempted = feeds.map(_.progress.length).sum.toLong
    def phase(k: String, q: Double) = Main.quantile(
      steadyProgress.map(_.durationMs.get(k).doubleValue).toSeq, q)
    val catchupRate = gen.backlogTotal / catchupS
    val freshP50 = Main.quantile(freshness.toSeq, 0.5)
    val freshP90 = Main.quantile(freshness.toSeq, 0.9)
    layerValues = Seq(
      "stream.batches" -> steadyProgress.length.toDouble,
      "stream.trigger_ms_p50" -> phase("triggerExecution", 0.5),
      "stream.trigger_ms_p90" -> phase("triggerExecution", 0.9),
      "stream.planning_ms_p50" -> phase("queryPlanning", 0.5),
      "stream.add_batch_ms_p50" -> phase("addBatch", 0.5),
      "stream.wal_commit_ms_p50" -> phase("walCommit", 0.5),
      "stream.backlog_max_msgs" -> backlogMax.toDouble,
      "stream.generator_late_ms_max" -> lateMaxMs.toDouble,
      "stream.freshness_p50_ms" -> freshP50,
      "stream.freshness_p90_ms" -> freshP90,
      "stream.catchup_msgs_per_s" -> catchupRate)
    System.err.println(f"[perfbench] stream_restart: " +
      f"catchup_s=$catchupS%.2f backlog_msgs=${gen.backlogTotal}%d " +
      f"steady_msgs=${freshness.length}%d " +
      f"steady_batches=${steadyProgress.length}%d " +
      f"generator_late_ms_max=$lateMaxMs%d")
    Main.Outcome(Map("work_s" -> wallS, "catchup_s" -> catchupS,
      "catchup_msgs_per_s" -> catchupRate, "freshness_p50_ms" -> freshP50,
      "freshness_p90_ms" -> freshP90),
      attempted, if (problems.isEmpty) 0L else 1L, problems)
  }

  def layers(t: Trace): Unit = {
    val (files, bytes) = Main.dirStats(root.resolve("hot"))
    t.values ++= layerValues ++ Seq(
      "load.sink_files" -> files.toDouble,
      "load.sink_bytes" -> bytes.toDouble)
    ingestLayer(t)
  }

  /** The hot tables hold exactly the generated PK set per topic (no
    * loss, no duplicate), and the order book holds every level: rows,
    * and the XOR and the sum mod a prime of `xxhash64(pk)`, must match
    * (a duplicate that replaces a lost row would have to collide in
    * both). */
  private def check(sent: Seq[(Topic, Int)]): Seq[String] = sent.flatMap {
    case (t, n) =>
    val h = xxhash64(t.pk.map(col): _*)
    val r = spark.read.parquet(root.resolve("hot").resolve(t.name).toString)
      .agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(Prime))), lit(0L)))
      .head()
    val got = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    val want = gen.fingerprint(t, n)
    if (got == want) Nil
    else Seq(s"${t.name}: (rows, key xor, key sum) ${got.mkString(", ")} " +
      s"!= generated ${want.mkString(", ")}")
  }

  def corruptAndCheck(): Seq[(String, Seq[String])] = {
    val dir = root.resolve("hot").resolve("orderbook")
    val victim = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted.head
    Files.delete(victim)
    Seq("stream: one order-book data file deleted" -> check(sent))
  }

  /** Timed static calls to each parser on a 10,000-message frame. */
  private def ingestLayer(t: Trace): Unit = {
    import spark.implicits._
    for (tp <- topics) {
      val msgs = (gen.backlog(tp.name) ++ gen.steady(tp.name)).take(10000)
      val frame = msgs.map(m => (tp.name, m)).toDF("key", "value")
        .localCheckpoint(true)
      val ms = (1 to 3).map { _ =>
        t.span(s"ingest.${tp.name}") {
          val t0 = System.nanoTime()
          tp.parse(frame).select(xxhash64(struct(col("*"))).as("h"))
            .agg(expr("bit_xor(h)"), count(lit(1))).collect()
          (System.nanoTime() - t0) / 1e6
        }
      }
      t.values(s"ingest.${tp.name}_ms") = Main.median(ms)
      if (tp.name == "orderbook")
        t.values("ingest.orderbook_rows_per_msg") =
          tp.parse(frame).count().toDouble / msgs.length
      frame.unpersist(true)
    }
  }
}

object StreamRestart {

  /** Messages per topic in the queries' first run, before the restart. */
  val FirstBlock = 1000
  /** Micro-batch cap: the reference's `maxOffsetsPerTrigger`. */
  val Cap = 10000L
  /** The open-loop phase lasts until it spans this many micro-batches,
    * summed over the three queries (p90 freshness then has three
    * batches beyond it; more would not fit the benchmark's time
    * budget). */
  val MinSteadyBatches = 30
  /** Messages generated for the open-loop phase, in seconds of offer. */
  val MaxSteadySeconds = 45
  val Prime = 1000003L

  /** The 11 reference pairs lead the Zipf ranking (BTC and ETH most
    * frequent); synthetic symbols fill the tail. */
  val referencePairs: Seq[String] = Seq("BTC", "ETH", "SOL", "XRP", "BNB",
    "DOGE", "ADA", "TRX", "LTC", "DOT", "SHIB").map(_ + "_USDT")
  val symbols: IndexedSeq[String] =
    (referencePairs ++ (0 until 53).map(i => f"SYN$i%02d_USDT")).toIndexedSeq
  val zipfS = 1.1
  val bookDepth = 20

  final case class Topic(name: String, pk: Seq[String], rate: Int,
      backlog: Int, parse: DataFrame => DataFrame)

  /** Offered rates are fixed: 2,100 msg/s in all, about a fifth of the
    * catch-up rate on a 4-core machine, because micro-batches at steady
    * state cost far more per message than 10,000-message catch-up
    * batches, and twice this rate saturated the queries when the
    * machine ran slow. The restart finds `backlog` messages retained. */
  val topics: Seq[Topic] = Seq(
    Topic("candles", Seq("id", "starttime"), 1000, 20000,
      df => Transforms.parseCandles(df)),
    Topic("trades", Seq("id", "trade_id"), 1000, 20000,
      df => Transforms.parseTrades(df)),
    Topic("orderbook", Seq("id", "seqid", "order_type", "order_rank"), 100,
      4000, df => Transforms.explodeOrderBook(df)))

  final class Generated(val first: Map[String, IndexedSeq[String]],
      val backlog: Map[String, IndexedSeq[String]],
      val steady: Map[String, IndexedSeq[String]],
      keyRows: Map[String, IndexedSeq[(String, String)]]) {
    def backlogTotal: Long = topics.map(_.backlog.toLong).sum

    /** (rows, XOR, sum mod [[Prime]] of key hashes) the topic's hot
      * table must hold, with Spark's `xxhash64` computed here from the
      * generated keys. */
    def fingerprint(t: Topic, sent: Int): Seq[Long] = {
      def h(seed: Long, v: Any): Long = v match {
        case s: String =>
          val u = UTF8String.fromString(s)
          XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes,
            seed)
        case i: Int => XXH64.hashInt(i, seed)
      }
      var n, x, m = 0L
      def add(hash: Long): Unit = {
        n += 1; x ^= hash; m += Math.floorMod(hash, Prime)
      }
      for ((id, k) <- keyRows(t.name).iterator.take(sent)) {
        val base = h(h(42L, id), k)
        if (t.name != "orderbook") add(base)
        else for (side <- Seq("ask", "bid"); rank <- 1 to bookDepth)
          add(h(h(base, side), rank))
      }
      Seq(n, x, m)
    }
  }

  /** Deterministic envelopes for one seed: the retained backlog and the
    * open-loop phase (MaxSteadySeconds × rate messages per topic). */
  def generate(seed: Long): Generated = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = symbols.indices.map(r => 1.0 / math.pow(r + 1, zipfS))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def pick(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(symbols.length - 1)
    }
    val seq = Array.fill(symbols.length)(0L)
    var tradeId = 0L
    val base = 1692000000L + (seed % 1000) * 86400L
    val price = symbols.indices.map(r => 30000.0 / (r + 1)).toArray
    def num(x: Double) = java.lang.Double.toString(math.rint(x * 1e4) / 1e4)

    def message(topic: String): (String, (String, String)) = {
      val s = pick()
      val id = symbols(s)
      seq(s) += 1
      price(s) *= 1.0 + (rnd.nextGaussian() * 0.001)
      val p = price(s)
      topic match {
        case "candles" =>
          val st = base + seq(s) * 60
          (s"""{"data":[{"id":"$id","low":"${num(p * 0.99)}",""" +
            s""""high":"${num(p * 1.01)}","open":"${num(p)}",""" +
            s""""close":"${num(p * (1 + rnd.nextGaussian() * 0.002))}",""" +
            s""""amount":"${num(rnd.nextDouble() * 1e5)}",""" +
            s""""quantity":"${num(rnd.nextDouble() * 10)}",""" +
            s""""tradeCount":"${rnd.nextInt(1000)}","ts_send":"${st + 60}",""" +
            s""""startTime":"$st","closeTime":"${st + 59}"}]}""",
            (id, st.toString))
        case "trades" =>
          tradeId += 1
          val ct = base + seq(s)
          (s"""{"data":[{"id":"$id","trade_id":"$tradeId",""" +
            s""""takerSide":"${if (rnd.nextBoolean()) "buy" else "sell"}",""" +
            s""""amount":"${num(rnd.nextDouble() * 1e4)}",""" +
            s""""quantity":"${num(rnd.nextDouble())}","price":"${num(p)}",""" +
            s""""createTime":"$ct","ts_send":"${ct + 1}"}]}""",
            (id, tradeId.toString))
        case _ =>
          val ct = base + seq(s)
          def side(sign: Int) = (1 to bookDepth).map { l =>
            s"""["${num(p * (1 + sign * l * 1e-4))}","${num(rnd.nextDouble() * 5)}"]"""
          }.mkString("[", ",", "]")
          (s"""{"data":[{"id":"$id","seqid":"${seq(s)}",""" +
            s""""asks":${side(1)},"bids":${side(-1)},""" +
            s""""createTime":"$ct","ts_send":"${ct + 1}"}]}""",
            (id, seq(s).toString))
      }
    }
    val first = mutable.Map.empty[String, IndexedSeq[String]]
    val backlog = mutable.Map.empty[String, IndexedSeq[String]]
    val steady = mutable.Map.empty[String, IndexedSeq[String]]
    val keys = mutable.Map.empty[String, IndexedSeq[(String, String)]]
    for (t <- topics) {
      java.util.Arrays.fill(seq, 0L)
      val n = FirstBlock + t.backlog
      val all = (0 until n + MaxSteadySeconds * t.rate)
        .map(_ => message(t.name))
      first(t.name) = all.take(FirstBlock).map(_._1)
      backlog(t.name) = all.slice(FirstBlock, n).map(_._1)
      steady(t.name) = all.drop(n).map(_._1)
      keys(t.name) = all.map(_._2)
    }
    new Generated(first.toMap, backlog.toMap, steady.toMap, keys.toMap)
  }

}
