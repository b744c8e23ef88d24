package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SharedBuilds, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, struct,
  xxhash64}

/** `analytics_rounds`: one closed-loop client runs the suite's dominant
  * iterative entries through `SparkEntry.queries` and `SharedBuilds`,
  * in a seed-chosen order, for two passes in one session. Every pass
  * starts by clearing the shared builds, as `graft.Bench` does, so
  * state the first pass leaves behind shows up in the second.
  */
final class AnalyticsRounds(spark: SparkSession, seed: Long,
    fixtures: String, expected: Map[String, Long], trace: Option[Trace])
    extends Main.Phase {
  import AnalyticsRounds._

  // forces every query pack's initializer, which registers the shared
  // builds
  private val queries = SparkEntry.queries

  private def build(name: String): Unit =
    SharedBuilds.all.find(_.name == name)
      .getOrElse(sys.error(s"no shared build $name")).force(spark, fixtures)

  /** Bench's sink: a full-column hash reduced to one row. */
  private def hash(df: DataFrame): Long =
    df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L))).head().getLong(0)

  /** Warm-up: the co-purchase edge build from scratch, which reads the
    * lineitem fixture and is the first step of every pass, so the first
    * measured entry does not pay the session's and the parquet
    * reader's first use. The entries' own plans stay cold until the
    * first pass runs them. */
  def prepare(): Unit = {
    SharedBuilds.all.foreach(_.clear(spark))
    build("copurchase_edges")
  }

  /** Runs one step and returns its output hash. The Brandes build has
    * no frame of its own; q358 composes from it and stands as its
    * output. The co-purchase edge build that several entries share runs
    * first in every pass, so no entry pays for it. */
  private def step(name: String): Long = name match {
    case "b_copurchase_edges" => build("copurchase_edges"); 0L
    case "b_dist_brandes" =>
      build("dist_brandes")
      hash(queries("q358_betweenness")(spark, fixtures))
    case q => hash(queries(q)(spark, fixtures))
  }

  private val entrySeconds = mutable.Map.empty[String, List[Double]]
    .withDefaultValue(Nil)
  /** Block storage after every step: (pass, step, bytes, stored RDDs). */
  private val probes = mutable.ArrayBuffer.empty[(Int, String, Long, Int)]

  private def probe(pass: Int, at: String): Unit = trace.foreach { t =>
    val (bytes, rdds) = t.storage(spark)
    probes += ((pass, at, bytes, rdds))
  }

  def run(): Main.Outcome = {
    val order = new scala.util.Random(seed).shuffle(entries.map(_._1))
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    for (pass <- 1 to Passes) {
      val p0 = System.nanoTime()
      SharedBuilds.all.foreach(_.clear(spark))
      for (name <- "b_copurchase_edges" +: order) {
        spark.sparkContext.setJobDescription(name)
        attempted += 1
        val e0 = System.nanoTime()
        try {
          val h = trace.fold(step(name))(_.span(name)(step(name)))
          entrySeconds(name) = entrySeconds(name) :+ Main.secondsSince(e0)
          if (name != "b_copurchase_edges" && !expected.get(name).contains(h)) {
            failed += 1
            problems += s"$name pass $pass: hash $h, recorded " +
              expected.get(name).fold("none")(_.toString)
          }
        } catch {
          case e: Exception =>
            failed += 1
            problems += s"$name pass $pass: ${e.getMessage}"
        }
        probe(pass, name)
      }
      spark.sparkContext.setJobDescription(null)
      passSeconds += Main.secondsSince(p0)
    }
    val roundsS = passSeconds.sum
    System.err.println(f"[perfbench] analytics_rounds: rounds_s=$roundsS%.3f " +
      s"pass_s=${passSeconds.map(x => f"$x%.2f").mkString(",")} " +
      entrySeconds.toSeq.sortBy(_._1).map { case (n, xs) =>
        s"$n=${xs.map(x => f"$x%.2f").mkString("/")}" }.mkString(" "))
    Main.Outcome(Map("work_s" -> roundsS, "rounds_s" -> roundsS), attempted,
      failed, problems.toSeq)
  }

  def layers(t: Trace): Unit = {
    // what stays stored once every shared build is released
    SharedBuilds.all.foreach(_.clear(spark))
    probe(Passes + 1, "run_end")
    for ((name, layer) <- entries) {
      val (jobs, stages, tasks) = t.labelCounts(name)
      t.values ++= Seq(
        s"${layer}_s" -> Main.median(entrySeconds(name)),
        s"$layer.jobs" -> jobs.toDouble / Passes,
        s"$layer.stages" -> stages.toDouble / Passes,
        s"$layer.tasks" -> tasks.toDouble / Passes)
    }
    val brandes = entrySeconds("b_dist_brandes")
    t.values ++= Seq(
      "shared_builds.copurchase_s" ->
        Main.median(entrySeconds("b_copurchase_edges")),
      "shared_builds.brandes_pass_spread" -> brandes.max / brandes.min,
      "storage.checkpoint_rdds" -> probes.map(_._4).max.toDouble,
      "storage.peak_bytes" -> probes.map(_._3).max.toDouble,
      "storage.retained_bytes_end" -> probes.last._3.toDouble)
    for ((p, at, bytes, rdds) <- probes)
      System.err.println(s"[perfbench] storage pass=$p after=$at " +
        s"bytes=$bytes rdds=$rdds")
  }

  def corruptAndCheck(): Seq[(String, Seq[String])] = {
    val name = "q194_kcore"
    val df = queries(name)(spark, fixtures)
    val h = hash(df.exceptAll(df.limit(1)))
    Seq(s"analytics: $name output minus one row" ->
      (if (expected.get(name).contains(h)) Nil
       else Seq(s"$name: hash $h, recorded ${expected.get(name)}")))
  }
}

object AnalyticsRounds {
  /** Entry → the layer it stands for in the per-layer metrics. */
  val entries: Seq[(String, String)] = Seq(
    "b_dist_brandes" -> "graph.brandes",
    "q324_louvain_multilevel" -> "graph.louvain",
    "q256_hits" -> "graph.hits",
    "q194_kcore" -> "graph.kcore",
    "q133_day2_clusters" -> "llm.day2_clusters",
    "q397_implicit_mf2" -> "ops.implicit_mf")
  val Passes = 2

  /** `{"entry": hash, ...}` as recorded for the fixtures. */
  def loadExpected(path: String): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    node.properties.asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }
}
