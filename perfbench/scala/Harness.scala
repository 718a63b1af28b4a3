package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM: session, repeated set-up, an untraced
  * timed pass, optionally a traced pass, then the output checks. Writes
  * one JSON document (the `out` string below) that run.py turns into metrics.
  *
  *   graftbench.Harness <workload> <genDir> <runRoot> <seconds> <trace 0|1> <out.json>
  */
object Harness {
  val SetupReps = 3

  /** One closed-loop operation: a pipeline stage, a micro-batch, a
    * maintenance call or a query. `lat` is seconds.
    */
  final case class Op(kind: String, start: Double, lat: Double, ok: Boolean,
                      rowsIn: Long, rowsOut: Long)

  /** What one timed pass produced. `units` are the wall times of the
    * workload's fixed unit of work (one pipeline run, the first
    * `UnitOffers` offers of the stream, one pass over the query
    * sequence); `elapsed` excludes measurement-only work.
    */
  final class Pass {
    val ops = ArrayBuffer.empty[Op]
    val units = ArrayBuffer.empty[Double]
    var elapsed = 0.0
    var storeBytes = 0L
    var inputBytes = 0L
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val series = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit = series.getOrElseUpdate(name, ArrayBuffer.empty) += v
    def json: String = {
      val o = ops.map(o => s"""[${Json.str(o.kind)},${o.start},${o.lat},${if (o.ok) 1 else 0},${o.rowsIn},${o.rowsOut}]""")
      val l = layer.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      val s = series.map { case (k, v) => s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }
      s"""{"ops":${o.mkString("[", ",", "]")},"units":${units.mkString("[", ",", "]")},""" +
        s""""elapsed":$elapsed,"store_bytes":$storeBytes,"input_bytes":$inputBytes,""" +
        s""""layer":${l.mkString("{", ",", "}")},"series":${s.mkString("{", ",", "}")}}"""
    }
  }

  final case class Check(name: String, ok: Boolean, detail: String)

  trait Workload {
    type State
    /** The repeatable part of set-up: load inputs, build stores. */
    def setup(spark: SparkSession, gen: Path, dir: Path, rep: Int): State
    /** One warm-up pass (codegen, JIT, reader stacks), on throwaway state. */
    def warmup(spark: SparkSession, st: State, dir: Path): Unit
    def measure(spark: SparkSession, st: State, seconds: Double, traced: Boolean): Pass
    /** Checks run inside the JVM, plus files/SQL exported for the DuckDB
      * checks in checks.py (a JSON object).
      */
    def check(spark: SparkSession, st: State, pass: Pass, traced: Boolean): (Seq[Check], String)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secondsSince(t0))
  }

  /** Eval.forcedCount's frame, built here so the traced pass can time
    * planning and execution of the same frame separately.
    */
  def countFrame(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
    val cols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => df(f.name))
    if (cols.isEmpty) df.agg(count(lit(1)).as("n"))
    else df.select(xxhash64(struct(cols.toIndexedSeq: _*)).as("__h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)"))
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L; var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))

  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val Array(workload, genArg, rootArg, secArg, traceArg, outArg) = args
    val gen = Paths.get(genArg).toAbsolutePath
    val root = Paths.get(rootArg).toAbsolutePath
    val seconds = secArg.toDouble
    val trace = traceArg == "1"
    // local[4], or fewer on a smaller machine: one slot per core at most
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors).toString
    val w: Workload = workload match {
      case "pipeline_batch" => PipelineBatch
      case "ingest_stream" => IngestStream
      case "query_mix" => QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // graft.Bench's session, with the warehouse under this run's root
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = secondsSince(tMain)
    // graft.Bench's in-band contention canary (one 1e8-row range sum)
    val (_, canaryS) = timed(spark.range(100000000L).selectExpr("sum(id % 9973)").collect())

    val states = (0 until SetupReps).map { rep =>
      val d = root.resolve(s"setup$rep")
      Files.createDirectories(d)
      timed(w.setup(spark, gen, d, rep))
    }
    val (_, warmupS) = timed {
      val d = root.resolve("warmup")
      w.warmup(spark, states.last._1, d)
      deleteTree(d)
    }
    val untraced = w.measure(spark, states.last._1, seconds, traced = false)
    val traced = if (!trace) None else {
      val t = new Tracer(java.util.UUID.randomUUID().toString, spark)
      spark.sparkContext.addSparkListener(t.jobs)
      spark.streams.addListener(t.stream)
      Tracer.current = Some(t)
      val p = try w.measure(spark, states(states.size - 2)._1, seconds, traced = true)
      finally {
        Tracer.current = None
        spark.streams.removeListener(t.stream)
      }
      // listener events are delivered asynchronously: drain before reading
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t.jobs)
      Some((t, p))
    }
    val (checks, exports) = w.check(spark, states.last._1, untraced, trace)
    val rss = peakRssMb
    spark.stop()

    val chk = checks.map(c => s"""{"name":${Json.str(c.name)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""")
    val tracedJson = traced.map { case (t, p) =>
      s""","traced":${p.json},"trace":{"spans":${t.spansJson},"spark":${t.jobs.json},"progress":${t.stream.json}}"""
    }.getOrElse("")
    val out =
      s"""{"workload":${Json.str(workload)},"cpus":$cpus,"session_s":$sessionS,"canary_s":$canaryS,""" +
        s""""setup_s":${states.map(_._2).mkString("[", ",", "]")},"warmup_s":$warmupS,"peak_rss_mb":$rss,""" +
        s""""untraced":${untraced.json},"checks":${chk.mkString("[", ",", "]")},"exports":$exports$tracedJson}"""
    Files.writeString(Paths.get(outArg), out)
  }
}
