package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Pipeline benchmark main: one workload per process.
  *
  *   --workload pipeline|analytics_rounds
  *   --seed N --seconds S --trace 0|1 --work DIR
  *   --fixtures DIR    parquet fixtures the analytics entries read
  *   --expected FILE   recorded analytics output hashes (JSON object)
  *   --launched-ms T   wall clock at process launch (set-up starts here)
  *   --selftest        corrupt outputs after the run, one case at a
  *                     time, and require the workload's checks to
  *                     catch each
  *
  * The last stdout line is one JSON object: correct / attempted /
  * failed, the end-to-end values (`e2e`) and, in traced runs
  * (`--trace 1`, which register a SparkListener and spans from this
  * package), the per-layer values (`layers`).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, fixtures: String, expected: String,
      launchedMs: Long, selftest: Boolean)

  /** What a workload hands back: end-to-end values (name -> value),
    * the operations attempted / failed, and the outcome of its checks.
    */
  final case class Outcome(e2e: Map[String, Double], attempted: Long,
      failed: Long, problems: Seq[String])

  /** One phase of a workload, built on the session it runs in. */
  trait Phase {
    /** Builds the inputs and the state the measured phase starts from. */
    def prepare(): Unit
    /** Runs the measured phase and checks its outputs. */
    def run(): Outcome
    /** Traced runs only, after the measured window: fills the phase's
      * per-layer metrics, with any extra timed calls they need. */
    def layers(t: Trace): Unit
    /** Corrupts outputs, one case after another; returns each case's
      * label and the problems the check reported for it. */
    def corruptAndCheck(): Seq[(String, Seq[String])]
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val flags = argv.toSet
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      need("--fixtures"), need("--expected"), need("--launched-ms").toLong,
      flags.contains("--selftest"))
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  @volatile private var launchedMs = System.currentTimeMillis()

  /** Logs a phase boundary with the seconds since launch. */
  def mark(label: String): Unit =
    System.err.println(f"[perfbench] t=${(System.currentTimeMillis() - launchedMs) / 1e3}%.1f $label")

  /** The JVM's resident-set high-water mark, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Parquet data files and their bytes under a directory tree,
    * counting only files modified at or after `sinceMs`. */
  def dirStats(dir: Path, sinceMs: Long = 0L): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val ps = Files.walk(dir)
      try {
        val fs = ps.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally ps.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val ps = Files.walk(p)
      try ps.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally ps.close()
    }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    launchedMs = a.launchedMs
    Files.createDirectories(a.work)
    val trace = if (a.trace) Some(new Trace) else None
    // set-up, SetupReps times: each phase prepares from scratch. The
    // first time is counted from launch, so it also holds JVM start,
    // the session and every first use; setup_s is the median.
    val spark = session(a)
    val phases = workload(a, spark, trace)
    val setupS = (1 to SetupReps).map { i =>
      val t0 = if (i == 1) a.launchedMs else System.currentTimeMillis()
      val parts = phases.map { ph =>
        val p0 = System.nanoTime()
        ph.prepare()
        f"${ph.getClass.getSimpleName}=${secondsSince(p0)}%.2f"
      }
      val s = (System.currentTimeMillis() - t0) / 1e3
      System.err.println(f"[perfbench] setup $i: $s%.2f s (${parts.mkString(" ")})")
      s
    }
    val rc = try runWorkload(a, spark, trace, phases, median(setupS))
      finally spark.stop()
    sys.exit(rc)
  }

  private def workload(a: Args, spark: SparkSession,
      trace: Option[Trace]): Seq[Phase] =
    a.workload match {
      case "pipeline" => Seq(
        new StreamRestart(spark, a.seed, a.seconds, a.work, trace),
        new BatchWeekly(spark, a.seed, a.work, trace))
      case "analytics_rounds" => Seq(
        new AnalyticsRounds(spark, a.seed, a.fixtures,
          AnalyticsRounds.loadExpected(a.expected), trace))
      case other => sys.error(s"unknown workload $other")
    }

  private def runWorkload(a: Args, spark: SparkSession,
      trace: Option[Trace], phases: Seq[Phase], setupS: Double): Int = {
    trace.foreach(_.register(spark))
    trace.foreach(_.reset())
    mark("measuring")
    val outs = phases.map(_.run())
    mark("measured")
    trace.foreach { t =>
      t.finish()
      phases.foreach(_.layers(t))
      t.writeSpans(a.work.resolve("spans.jsonl"))
    }
    val attempted = outs.map(_.attempted).sum
    val failed = outs.map(_.failed).sum
    val problems = outs.flatMap(_.problems) ++ (if (!a.selftest) Nil
      else phases.flatMap(_.corruptAndCheck()).flatMap { case (label, caught) =>
        // self-test: every corruption must be caught
        System.err.println(s"[perfbench] selftest $label: " +
          caught.headOption.fold("corruption NOT caught")(
            "corruption caught: " + _))
        if (caught.isEmpty) Seq(s"selftest $label: corruption passed") else Nil
      })
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val e2e = Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb(),
      "work_s" -> outs.flatMap(_.e2e.get("work_s")).sum)
    val info = (outs.flatMap(_.e2e) ++ e2e).sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} " +
      s"trace=${a.trace} attempted=$attempted failed=$failed " +
      s"error_ratio=${failed.toDouble / attempted} $info")
    // raw values; run.py orders them and adds units from BENCHMARK.json
    def obj(m: collection.Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${json(v)}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${problems.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"e2e":${obj(e2e)},""" +
      s""""layers":${obj(trace.fold(Map.empty[String, Double])(_.values.toMap))}}""")
    if (problems.isEmpty) 0 else 1
  }
}
