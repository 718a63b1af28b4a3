package graftbench

import graft.{SparkEntry, Tables}
import graft.operators.Similarity
import graft.queries.{AnalyticsQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path
import scala.jdk.CollectionConverters._
import Harness._

/** query_mix: a seeded sequence of reads, one client, closed loop,
  * against stores that set-up builds from the generated tables:
  *  - ann: stored IVF-PQ top-10 for four seeded query vectors;
  *  - bm25: stored BM25 retrieval;
  *  - gap_fill: gapInterpolate over a seeded user sample of the events;
  *  - analytics: registered events gates, alternating.
  */
object QueryMix extends Workload {
  val Analytics = Seq("a10_cond_counts", "a16_cube")
  val Classes = Seq("ann", "bm25", "gap_fill", "analytics")
  val K = 10
  val NProbe = 4

  final case class QOp(cls: String, queries: Seq[Long], users: Seq[Long])
  final case class State(dir: Path, gen: Path, tables: String, ivf: String, bm25: String,
                         queryRows: Map[Long, Row], querySchema: org.apache.spark.sql.types.StructType,
                         seq: Seq[QOp])

  def setup(spark: SparkSession, gen: Path, dir: Path, rep: Int): State = {
    val tables = gen.resolve("tables").toString
    val ivf = dir.resolve("ivfpq").toString
    val bm25 = dir.resolve("bm25").toString
    Similarity.buildIvfPqStore(Tables.embeddings(spark, tables), "vec_id", "embedding",
      IngestStream.CoarsePred, IngestStream.CodebookPred, ivf)
    TextQueries.bm25BuildIndex(spark, tables, bm25)
    val qdf = spark.read.parquet(gen.resolve("queries.parquet").toString).select("vec_id", "embedding")
    val seq = readJson(gen.resolve("sequence.json")).get("ops").elements().asScala.map { o =>
      def longs(k: String) = Option(o.get(k)).map(_.elements().asScala.map(_.asLong).toSeq).getOrElse(Nil)
      QOp(o.get("class").asText, longs("queries"), longs("users"))
    }.toSeq
    State(dir, gen, tables, ivf, bm25,
      qdf.collect().map(r => r.getLong(0) -> r).toMap, qdf.schema, seq)
  }

  /** One query of every class and every analytics gate (read-only). */
  def warmup(spark: SparkSession, st: State, dir: Path): Unit = {
    Classes.filter(c => st.seq.exists(_.cls == c))
      .foreach(c => run(spark, st, st.seq.find(_.cls == c).get, 0))
    Analytics.indices.foreach(i => run(spark, st, QOp("analytics", Nil, Nil), i))
  }

  /** The query frame of one op; `nth` picks the analytics gate. */
  def build(spark: SparkSession, st: State, op: QOp, nth: Int): DataFrame = op.cls match {
    case "ann" =>
      val q = spark.createDataFrame(op.queries.map(st.queryRows).asJava, st.querySchema)
      Tracer.span("operators.Similarity.ivfPqStoredTopK") {
        Similarity.ivfPqStoredTopK(spark, st.ivf, q, "vec_id", "embedding", K, NProbe)
      }
    case "bm25" => Tracer.span("queries.TextQueries.bm25Retrieve")(TextQueries.bm25Retrieve(spark, st.bm25))
    case "gap_fill" =>
      Tracer.span("queries.AnalyticsQueries.gapInterpolate") {
        AnalyticsQueries.gapInterpolate(Tables.events(spark, st.tables)
          .filter(col("user_id").isin(op.users: _*)))
      }
    case "analytics" =>
      val name = Analytics(nth % Analytics.size)
      Tracer.span(s"queries.SparkEntry.$name")(SparkEntry.benchQueries(name)(spark, st.tables))
  }

  /** One op: build, plan, execute (a forced count); rows out. */
  def run(spark: SparkSession, st: State, op: QOp, nth: Int): Long =
    Tracer.span(s"bench.query.${op.cls}") {
      val fc = countFrame(build(spark, st, op, nth))
      Tracer.span(s"plans.plan.${op.cls}")(fc.queryExecution.executedPlan)
      Tracer.span(s"queries.exec.${op.cls}")(fc.collect()(0).getLong(0))
    }

  def measure(spark: SparkSession, st: State, seconds: Double, traced: Boolean): Pass = {
    val p = new Pass
    p.inputBytes = dirBytes(st.gen)._1
    val t0 = System.nanoTime()
    var nAnalytics = 0
    var pass = 0
    while (pass == 0 || secondsSince(t0) < seconds) {
      val passStart = secondsSince(t0)
      st.seq.foreach { op =>
        val start = secondsSince(t0)
        val (rows, lat) = timed {
          try Some(run(spark, st, op, nAnalytics)) catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] ${op.cls} failed: $e"); None
          }
        }
        p.ops += Op(s"query:${op.cls}", start, lat, rows.isDefined, 0, rows.getOrElse(0L))
        p.add(s"query.latency_s.${op.cls}", lat)
        p.add(s"query.rows_out.${op.cls}", rows.getOrElse(0L).toDouble)
        if (op.cls == "analytics") nAnalytics += 1
      }
      p.units += secondsSince(t0) - passStart
      pass += 1
    }
    p.elapsed = secondsSince(t0)
    p.storeBytes = dirBytes(java.nio.file.Paths.get(st.ivf))._1 + dirBytes(java.nio.file.Paths.get(st.bm25))._1
    p
  }

  def check(spark: SparkSession, st: State, pass: Pass, traced: Boolean): (Seq[Check], String) = {
    val out = st.dir.resolve("check")
    // results for the DuckDB oracle comparison in checks.py
    Analytics.indices.foreach { i =>
      build(spark, st, QOp("analytics", Nil, Nil), i).write.parquet(out.resolve(Analytics(i)).toString)
    }
    build(spark, st, QOp("bm25", Nil, Nil), 0).write.parquet(out.resolve("bm25").toString)
    val gap = st.seq.find(_.cls == "gap_fill").getOrElse(QOp("gap_fill", Nil, Nil))
    build(spark, st, gap, 0).write.parquet(out.resolve("gap_fill").toString)
    // recall@10 of the stored ANN answer against brute-force truth over
    // the same vectors (a per-layer metric: traced runs only)
    if (traced) {
      val qids = st.seq.filter(_.cls == "ann").flatMap(_.queries).distinct.take(16)
      val q = spark.createDataFrame(qids.map(st.queryRows).asJava, st.querySchema)
      val corpus = Tables.embeddings(spark, st.tables).select("vec_id", "embedding").unionByName(q)
      val truth = Similarity.knnBrute(corpus, "vec_id", "embedding", col("vec_id") >= 1000000L, K)
        .select("q_id", "n_id")
      val got = Similarity.ivfPqStoredTopK(spark, st.ivf, q, "vec_id", "embedding", K, NProbe)
        .select("q_id", "n_id")
      val hits = truth.join(got, Seq("q_id", "n_id")).count()
      pass.layer("query.recall_at_10") = hits.toDouble / (qids.size * K)
    }
    val oracles = SparkEntry.oracleSql
    val gates = (Analytics.map(n => n -> n) ++ Seq("bm25" -> "t21b_bm25_stored",
      "gap_fill" -> "w07_gap_interpolate")).map { case (dirName, gate) =>
      s"""{"result":${Json.str(out.resolve(dirName).toString)},"gate":${Json.str(gate)},""" +
        s""""class":${Json.str(if (Analytics.contains(dirName)) "analytics" else dirName)},""" +
        s""""sql":${Json.str(oracles(gate))}}"""
    }
    val exports =
      s"""{"tables":${Json.str(st.tables)},"gap_users":${gap.users.mkString("[", ",", "]")},""" +
        s""""gates":${gates.mkString("[", ",", "]")}}"""
    (Nil, exports)
  }
}
