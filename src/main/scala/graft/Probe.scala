package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.ListenerBridge
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** The diagnostic CLI: per-gate measurements on Bench's session.
  *
  *   tools/run.sh graft.Probe <time|jobs|phases|plan> <gate> [gate...]
  *
  * Gates read `SPARK_GRAFT_SF_DIR` (default sf0.1, as Bench). Every
  * timed mode runs a gate twice, clearing the cache first, and forces
  * it with [[Eval.forcedCount]] — Bench's loop; the second run is the
  * warm, bench-comparable one.
  *  - `time`:   both runs' seconds and the best;
  *  - `jobs`:   jobs, stages and tasks of the warm run;
  *  - `phases`: construct (driver-side side jobs such as store builds),
  *              plan and execute seconds of each run;
  *  - `plan`:   `explain("formatted")` under a `== <gate> ==` header.
  */
object Probe {
  val Modes: Seq[String] = Seq("time", "jobs", "phases", "plan")
  private val Runs = 2

  private type Gate = (SparkSession, String) => DataFrame

  /** The CLI body against a caller-owned session; returns the exit code
    * (non-zero iff a gate failed). Unknown modes and gates fail with an
    * `IllegalArgumentException` listing the valid choices.
    */
  def run(spark: SparkSession, args: Array[String],
          sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")): Int = {
    require(args.length >= 2, s"usage: Probe <${Modes.mkString("|")}> <gate> [gate...]")
    val mode = args(0)
    require(Modes.contains(mode),
      s"unknown mode '$mode'; valid modes: ${Modes.mkString(", ")}")
    val gates = args.toSeq.tail
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s) ${unknown.mkString(", ")}; valid gates: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    if (mode != "plan") {
      // Bench's warm-up: session and codegen start-up, parquet reader stack
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    }
    val failed = gates.count { name =>
      val gate = SparkEntry.queries(name)
      try {
        mode match {
          case "time" => time(spark, sfDir, name, gate)
          case "jobs" => jobs(spark, sfDir, name, gate)
          case "phases" => phases(spark, sfDir, name, gate)
          case "plan" => plan(spark, sfDir, name, gate)
        }
        false
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}")
          true
      }
    }
    if (failed > 0) 1 else 0
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One Bench-style run: cleared cache, construct, forced count. */
  private def timedRun(spark: SparkSession, sfDir: String, gate: Gate): Double = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    Eval.forcedCount(gate(spark, sfDir))
    seconds(t0)
  }

  private def time(spark: SparkSession, sfDir: String, name: String, gate: Gate): Unit = {
    val times = (1 to Runs).map(_ => timedRun(spark, sfDir, gate))
    println(f"[probe] time $name%-36s best=${times.min}%.3fs " +
      times.map(t => f"$t%.3f").mkString("runs=", ",", ""))
  }

  private def jobs(spark: SparkSession, sfDir: String, name: String, gate: Gate): Unit = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val runs = (1 to Runs).map { _ =>
        ListenerBridge.drain(sc) // earlier work's events must not count
        Seq(jobs, stages, tasks).foreach(_.set(0))
        val dt = timedRun(spark, sfDir, gate)
        ListenerBridge.drain(sc)
        (dt, jobs.get, stages.get, tasks.get)
      }
      val (dt, j, s, t) = runs.last
      println(f"[probe] jobs $name%-36s warm=$dt%.3fs jobs=$j%d stages=$s%d tasks=$t%d " +
        f"(cold ${runs.head._1}%.3fs)")
    } finally sc.removeSparkListener(listener)
  }

  private def phases(spark: SparkSession, sfDir: String, name: String, gate: Gate): Unit =
    (1 to Runs).foreach { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = gate(spark, sfDir) // construct: may run side jobs (store builds)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // analyze, optimize and plan only
      val t2 = System.nanoTime()
      Eval.forcedCount(df)
      println(f"[probe] phases $name%-36s run$i construct=${(t1 - t0) / 1e9}%.3f " +
        f"plan=${(t2 - t1) / 1e9}%.3f exec=${seconds(t2)}%.3f")
    }

  private def plan(spark: SparkSession, sfDir: String, name: String, gate: Gate): Unit = {
    val df = gate(spark, sfDir)
    println(s"== $name ==")
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    // exit after the finally: sys.exit inside the try would skip spark.stop()
    val exitCode =
      try run(spark, args)
      finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
