package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Traced-run instrumentation, all outside the engine: spans around the
  * benchmark's calls into each layer, a SparkListener that counts jobs,
  * stages, tasks, shuffle, spill and job intervals (globally and per
  * job description), and block-storage probes.
  */
final class Trace {

  /** Per-layer metric values, filled by the workloads. */
  val values: mutable.Map[String, Double] = mutable.Map.empty

  final case class Span(name: String, parent: String, startNs: Long,
      endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil

  /** Times `f` as a span named `name` under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    val t0 = System.nanoTime()
    try f
    finally {
      spans.synchronized(spans += Span(name, parent, t0, System.nanoTime()))
      open = open.tail
    }
  }

  /** Durations (s) of every span with this name, in order. */
  def spanSeconds(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq)

  final class Counts {
    var jobs, stages, tasks = 0L
    var shuffleRead, shuffleWrite, spill = 0L
  }
  private val total = new Counts
  private val byLabel = mutable.Map.empty[String, Counts]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var t0Ms = System.currentTimeMillis()
  private var gc0Ms = gcMs()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def counts(label: String): Counts =
    byLabel.getOrElseUpdate(label, new Counts)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val label = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        total.jobs += 1
        counts(label).jobs += 1
        e.stageIds.foreach(stageLabel(_) = label)
        jobStart(e.jobId) = e.time
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        total.stages += 1
        counts(stageLabel.getOrElse(e.stageInfo.stageId, "")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val m = Option(e.taskMetrics)
        val label = stageLabel.getOrElse(e.stageId, "")
        for (c <- Seq(total, counts(label))) {
          c.tasks += 1
          m.foreach { tm =>
            c.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
            c.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          }
        }
      }
  }

  def register(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(Listener)

  /** Starts the measured window: counters and spans from set-up go. */
  def reset(): Unit = synchronized {
    total.jobs = 0; total.stages = 0; total.tasks = 0
    total.shuffleRead = 0; total.shuffleWrite = 0; total.spill = 0
    byLabel.clear(); jobIntervals.clear()
    spans.synchronized(spans.clear())
    t0Ms = System.currentTimeMillis()
    gc0Ms = gcMs()
  }

  /** (jobs, stages, tasks) attributed to one job description. */
  def labelCounts(label: String): (Long, Long, Long) = synchronized {
    byLabel.get(label).map(c => (c.jobs, c.stages, c.tasks))
      .getOrElse((0L, 0L, 0L))
  }

  /** Bytes held in block storage and the number of stored RDDs — the
    * memory that `localCheckpoint` / `persist` fill. */
  def storage(spark: SparkSession): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }

  /** Closes the measured window into the `spark.*` metrics. The driver
    * gap is wall time not covered by any job. Waits for the listener
    * bus so the last jobs are counted. */
  def finish(): Unit = {
    val endMs = System.currentTimeMillis()
    Thread.sleep(200)
    synchronized {
      val busy = jobIntervals.map { case (s, e) =>
        (s.max(t0Ms), e.min(endMs)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      for ((s, e) <- busy) {
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = curE.max(e)
      }
      if (curE > curS) covered += curE - curS
      values ++= Seq(
        "spark.jobs" -> total.jobs.toDouble,
        "spark.stages" -> total.stages.toDouble,
        "spark.tasks" -> total.tasks.toDouble,
        "spark.shuffle_read_bytes" -> total.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> total.shuffleWrite.toDouble,
        "spark.spill_bytes" -> total.spill.toDouble,
        "spark.gc_s" -> (gcMs() - gc0Ms) / 1e3,
        "spark.driver_gap_s" -> ((endMs - t0Ms) - covered).max(0L) / 1e3)
    }
  }

  /** Writes the spans as JSON lines (name, parent, start and end in ms
    * since the measured window opened). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val base = spans.synchronized(spans.map(_.startNs).minOption)
      .getOrElse(0L)
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ms":${(s.startNs - base) / 1e6},""" +
        s""""end_ms":${(s.endNs - base) / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
