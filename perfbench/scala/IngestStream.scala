package graftbench

import graft.operators.{Dedup, IncrementalComponents, IncrementalNearDup, Publish, Similarity, Upsert}
import graft.streaming.{StreamNearDup, StreamSketch, StreamUpsert}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Harness._

/** ingest_stream: one Structured Streaming query whose foreachBatch
  * admits each seeded micro-batch into all six stores. The stream
  * carries batch ids (a MemoryStream); each id's rows were generated up
  * front. The client offers the next id only after the previous batch
  * commits (closed loop, one client); after every second batch it runs
  * the maintenance calls and re-offers that batch (a foreachBatch
  * redelivery). The generator fixes both schedules.
  */
object IngestStream extends Workload {
  /** Store-side batch ids start at 1 (ledgers fold ids <= a watermark). */
  def storeId(b: Int): Long = b + 1L

  val Stores = Seq("neardup", "ivfpq", "components", "upsert", "sketch", "publish")
  /** Offers whose completion ends the fixed unit that `wall_s` times:
    * the first batch with its maintenance round, its redelivery, and the
    * second batch.
    */
  val UnitOffers = 3
  /** The traced pass goes on to this many offers, for the latency slope. */
  val TracedOffers = 6
  // the generator's donor ranges: codewords vec_id < 16, centroids [16, 32)
  val CoarsePred = col("id") >= 16 && col("id") < 32
  val CodebookPred = col("id") < 16

  final case class Inputs(docs: Map[Int, Seq[Row]], vecs: Map[Int, Seq[Row]],
                          edges: Map[Int, Seq[Row]], upserts: Map[Int, Seq[Row]],
                          items: Map[Int, Seq[Row]],
                          schemas: Map[String, org.apache.spark.sql.types.StructType],
                          offers: Seq[Int], maintain: Set[Int], forgets: Map[Int, Seq[Long]])

  final case class State(dir: Path, gen: Path, in: Inputs, table: String) {
    def store(name: String): String = dir.resolve("stores").resolve(name).toString
  }

  def load(spark: SparkSession, gen: Path): Inputs = {
    def byBatch(name: String) = {
      val df = spark.read.parquet(gen.resolve(s"$name.parquet").toString)
      val rows = df.collect().toSeq
      val bi = df.schema.fieldIndex("batch")
      (rows.groupBy(_.getLong(bi).toInt), df.schema)
    }
    val parts = Seq("docs", "vecs", "edges", "upserts", "items").map(n => n -> byBatch(n)).toMap
    val o = readJson(gen.resolve("offers.json"))
    Inputs(parts("docs")._1, parts("vecs")._1, parts("edges")._1, parts("upserts")._1,
      parts("items")._1, parts.map { case (k, v) => k -> v._2 },
      o.get("offers").elements().asScala.map(_.asInt).toSeq,
      o.get("maintain").elements().asScala.map(_.asInt).toSet,
      o.get("forgets").properties().asScala.map { e =>
        e.getKey.toInt -> e.getValue.elements().asScala.map(_.asLong).toSeq
      }.toMap)
  }

  def frame(spark: SparkSession, in: Inputs, kind: String, b: Int, cols: String*): DataFrame = {
    val rows = (kind match {
      case "docs" => in.docs; case "vecs" => in.vecs; case "edges" => in.edges
      case "upserts" => in.upserts; case "items" => in.items
    }).getOrElse(b, Nil)
    spark.createDataFrame(rows.asJava, in.schemas(kind)).select(cols.map(col): _*)
  }

  def rowsOffered(in: Inputs, b: Int): Long =
    Seq(in.docs, in.vecs, in.edges, in.upserts, in.items).map(_.getOrElse(b, Nil).size.toLong).sum +
      in.docs.getOrElse(b, Nil).size // the published metadata rows

  def setup(spark: SparkSession, gen: Path, dir: Path, rep: Int): State = {
    val st = State(dir, gen, load(spark, gen),
      s"nd_${rep}_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}")
    Files.createDirectories(dir.resolve("stores"))
    Similarity.buildIvfPqStore(spark.read.parquet(gen.resolve("init_vecs.parquet").toString),
      "vec_id", "embedding", CoarsePred, CodebookPred, st.store("ivfpq"))
    st
  }

  /** The first batch, into a copy of the stores. */
  def warmup(spark: SparkSession, st: State, dir: Path): Unit = {
    val warm = st.copy(dir = dir, table = st.table + "_warm")
    copyTree(java.nio.file.Paths.get(st.store("ivfpq")), java.nio.file.Paths.get(warm.store("ivfpq")))
    admit(spark, warm, 0)
    spark.sql(s"DROP TABLE IF EXISTS ${warm.table}")
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** The foreachBatch body: batch `b` into all six stores. */
  def admit(spark: SparkSession, st: State, b: Int): Unit = {
    val id = storeId(b)
    val in = st.in
    Tracer.span("streaming.StreamNearDup.admitBatch") {
      StreamNearDup.admitBatch(frame(spark, in, "docs", b, "doc_id", "source", "text"), id,
        "doc_id", "text", st.table, st.store("neardup"))
    }
    Tracer.span("operators.Similarity.admitIvfPqBatch") {
      Similarity.admitIvfPqBatch(spark, st.store("ivfpq"),
        frame(spark, in, "vecs", b, "vec_id", "embedding"), "vec_id", "embedding", id)
    }
    Tracer.span("operators.IncrementalComponents.admitEdges") {
      IncrementalComponents.admitEdges(spark, st.store("components"),
        frame(spark, in, "edges", b, "a", "b"), id)
    }
    Tracer.span("streaming.StreamUpsert.applyBatch") {
      StreamUpsert.applyBatch(spark, st.store("upsert"),
        frame(spark, in, "upserts", b, "key", "ver", "val"), Seq("key"), Seq("ver"))
    }
    Tracer.span("streaming.StreamSketch.mergeBatch") {
      StreamSketch.mergeBatch(frame(spark, in, "items", b, "item"), id, "item", st.store("sketch"))
    }
    Tracer.span("operators.Publish.publishBatch") {
      Publish.publishBatch(spark, frame(spark, in, "docs", b, "doc_id", "source", "n_chars"),
        st.store("publish"), f"b$id%05d")
    }
  }

  /** Maintenance after batch `b` committed: compactions, ledger fold,
    * retention, one forget and one rebalance. Each is its own op.
    */
  def maintain(spark: SparkSession, st: State, b: Int): Seq[(String, Double)] = {
    val calls: Seq[(String, () => Unit)] = Seq(
      "operators.IncrementalNearDup.compactIndex" -> (() => IncrementalNearDup.compactIndex(spark, st.table)),
      // fold every batch before the newest: only the newest can be redelivered
      "streaming.StreamSketch.compact" -> (() => StreamSketch.compact(spark, st.store("sketch"), storeId(b))),
      "operators.IncrementalComponents.compact" -> (() => IncrementalComponents.compact(spark, st.store("components"))),
      "operators.Similarity.compactAdmissionLedger" -> (() => Similarity.compactAdmissionLedger(spark, st.store("ivfpq"))),
      "streaming.StreamUpsert.vacuum" -> (() => StreamUpsert.vacuum(st.store("upsert"))),
      "operators.Similarity.forgetFromIvfPqStore" -> (() => {
        import spark.implicits._
        Similarity.forgetFromIvfPqStore(spark, st.store("ivfpq"),
          st.in.forgets.getOrElse(b, Nil).toDF("vec_id"))
      }),
      "operators.Similarity.rebalanceIvfPqStore" -> (() => Similarity.rebalanceIvfPqStore(spark, st.store("ivfpq"))))
    calls.map { case (name, f) => name -> timed(Tracer.span(name)(f()))._2 }
  }

  /** Net rows each store holds, for the redelivery no-op check. */
  def storeRows(spark: SparkSession, st: State): Seq[Long] = Seq(
    spark.read.parquet(st.store("neardup")).count(),
    spark.read.parquet(st.store("ivfpq") + "/codes").count(),
    IncrementalComponents.resolved(spark, st.store("components")).count(),
    StreamUpsert.readSnapshot(spark, st.store("upsert")).map(_.count()).getOrElse(0L),
    StreamSketch.readMerged(spark, st.store("sketch")).agg(sum("bsum")).head().getLong(0),
    Publish.readSnapshot(spark, st.store("publish")).map(_.count()).getOrElse(0L))

  def measure(spark: SparkSession, st: State, seconds: Double, traced: Boolean): Pass = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = new Pass
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = mem.toDF().writeStream
      .option("checkpointLocation", st.dir.resolve(s"checkpoint_$traced").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.as[Int].collect().foreach { b =>
          Tracer.span("streaming.foreachBatch")(admit(spark, st, b))
        }
      }.start()
    val t0 = System.nanoTime()
    var aside = 0.0 // measurement-only work, excluded from every timing
    def now = secondsSince(t0) - aside
    def offside[T](body: => T): T = { val (r, s) = timed(body); aside += s; r }
    var seen = Set.empty[Int]
    var resident = 0L
    var redeliveries = 0; var noops = 0
    try {
      var i = 0
      while (i < st.in.offers.size &&
          (i < UnitOffers || now < seconds || (traced && i < TracedOffers))) {
        val b = st.in.offers(i)
        val redelivery = seen.contains(b)
        val before = if (redelivery) offside(storeRows(spark, st)) else Nil
        val start = now
        val (ok, lat) = timed {
          try { mem.addData(b); q.processAllAvailable(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] batch $b failed: $e"); false }
        }
        val rows = rowsOffered(st.in, b)
        p.ops += Op(if (redelivery) "redelivery" else "batch", start, lat, ok, rows, 0)
        if (redelivery) {
          redeliveries += 1
          val after = offside(storeRows(spark, st))
          if (after == before) noops += 1
          else System.err.println(s"[perfbench] redelivered batch $b changed stores: $before -> $after")
        } else {
          seen += b
          resident += rows
          p.add("store.resident_rows", resident.toDouble)
          p.add("store.batch_latency_s", lat)
          if (traced) offside {
            Stores.foreach { s =>
              val (bytes, files) = dirBytes(java.nio.file.Paths.get(st.store(s)))
              p.layer(s"store.bytes.$s") = bytes.toDouble
              p.layer(s"store.files.$s") = files.toDouble
            }
            val admitted = spark.read.parquet(st.store("neardup"))
              .filter(col("batch_id") === storeId(b)).count()
            p.add("store.admitted", admitted.toDouble)
            p.add("store.offered", st.in.docs.getOrElse(b, Nil).size.toDouble)
          }
          if (st.in.maintain.contains(b)) {
            val mStart = now
            val results = try maintain(spark, st, b).map(r => (r._1, r._2, true)) catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[perfbench] maintenance after $b failed: $e")
                Seq(("maintenance", now - mStart, false))
            }
            results.foreach { case (name, s, good) => p.ops += Op(s"bg:$name", mStart, s, good, 0, 0) }
          }
        }
        i += 1
        if (i == UnitOffers) p.units += now
      }
      if (p.units.isEmpty) p.units += now
    } finally q.stop()
    p.elapsed = now
    p.inputBytes = inputBytesOf(st, p)
    p.storeBytes = Stores.map(s => dirBytes(java.nio.file.Paths.get(st.store(s)))._1).sum +
      dirBytes(java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir"), st.table))._1
    p.layer("store.redelivery_noop") = if (redeliveries == 0) Double.NaN else noops.toDouble / redeliveries
    p.layer("store.redeliveries") = redeliveries
    p
  }

  /** Bytes offered: each offered batch's share of the generated files. */
  def inputBytesOf(st: State, p: Pass): Long = {
    val total = Seq("docs", "vecs", "edges", "upserts", "items")
      .map(n => Files.size(st.gen.resolve(s"$n.parquet"))).sum
    val nBatches = st.in.docs.size
    val done = p.ops.count(o => o.kind == "batch" || o.kind == "redelivery")
    total * done / nBatches
  }

  def check(spark: SparkSession, st: State, pass: Pass, traced: Boolean): (Seq[Check], String) = {
    val done = pass.ops.filter(o => o.kind == "batch" && o.ok).size
    val batches = st.in.offers.distinct.take(done)
    def all(kind: String, cols: String*): DataFrame =
      batches.map(b => frame(spark, st.in, kind, b, cols: _*)).reduce(_ unionByName _)
    // the compared frames are small: multiset equality on the driver
    def same(a: DataFrame, b: DataFrame): (Boolean, String) = {
      def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
      val (x, y) = (bag(a), bag(b))
      val onlyA = x.map { case (k, n) => math.max(0, n - y.getOrElse(k, 0)) }.sum
      val onlyB = y.map { case (k, n) => math.max(0, n - x.getOrElse(k, 0)) }.sum
      (onlyA == 0 && onlyB == 0, s"${x.values.sum} rows; $onlyA only in store, $onlyB only in rebuild")
    }
    val checks = ArrayBuffer.empty[Check]
    def guard(name: String)(body: => (Boolean, String)): Unit = {
      val t0 = System.nanoTime()
      checks += (try { val (ok, d) = body; Check(name, ok, f"$d (${secondsSince(t0)}%.1fs)") } catch {
        case scala.util.control.NonFatal(e) => Check(name, ok = false, e.toString)
      })
    }
    guard("ingest.redelivery_noop") {
      val v = pass.layer.getOrElse("store.redelivery_noop", Double.NaN)
      (v == 1.0, s"redelivery no-op share $v")
    }
    // IVF-PQ: the store after admits, forgets and rebalances answers a
    // full-probe search exactly like a from-scratch build over survivors
    guard("ingest.ivfpq_vs_rebuild") {
      val forgotten = batches.flatMap(b => st.in.forgets.getOrElse(b, Nil))
      val live = spark.read.parquet(st.gen.resolve("init_vecs.parquet").toString)
        .select("vec_id", "embedding")
        .unionByName(all("vecs", "vec_id", "embedding"))
        .filter(!col("vec_id").isin(forgotten: _*))
      val rebuilt = st.dir.resolve("rebuilt_ivfpq").toString
      Similarity.buildIvfPqStore(live, "vec_id", "embedding", CoarsePred, CodebookPred, rebuilt)
      val queries = live.filter(col("vec_id") % 97 === 5).limit(8)
      def search(store: String) = Similarity.ivfPqStoredTopK(spark, store, queries,
        "vec_id", "embedding", k = 10, nprobe = 1000).select("q_id", "rank", "n_id", "adc_dist")
      val codes = spark.read.parquet(st.store("ivfpq") + "/codes").select("vec_id", "subspace", "code")
      val codes2 = spark.read.parquet(rebuilt + "/codes").select("vec_id", "subspace", "code")
      val (c1, d1) = same(codes, codes2)
      val (c2, d2) = same(search(st.store("ivfpq")), search(rebuilt))
      (c1 && c2, s"codes: $d1; search: $d2")
    }
    guard("ingest.components_vs_batch") {
      val edges = all("edges", "a", "b").select(col("a").as("id_a"), col("b").as("id_b"))
      val cc = Dedup.connectedComponents(edges)
      same(IncrementalComponents.resolved(spark, st.store("components")).select("node", "label"),
        cc.select(col(cc.columns(0)).as("node"), col(cc.columns(1)).as("label")))
    }
    guard("ingest.upsert_vs_compact") {
      same(StreamUpsert.readSnapshot(spark, st.store("upsert")).get.select("key", "ver", "val"),
        Upsert.compact(all("upserts", "key", "ver", "val"), Seq("key"), Seq("ver")))
    }
    guard("ingest.sketch_vs_batch") {
      val fresh = st.dir.resolve("sketch_rebuild").toString
      StreamSketch.mergeBatch(all("items", "item"), 0L, "item", fresh)
      same(StreamSketch.readMerged(spark, st.store("sketch")), StreamSketch.readMerged(spark, fresh))
    }
    guard("ingest.publish_vs_batches") {
      same(Publish.readSnapshot(spark, st.store("publish")).get.select("doc_id", "source", "n_chars"),
        all("docs", "doc_id", "source", "n_chars"))
    }
    val exports =
      s"""{"docs":${Json.str(st.gen.resolve("docs.parquet").toString)},""" +
        s""""sink":${Json.str(st.store("neardup"))},"batches":${batches.mkString("[", ",", "]")},""" +
        s""""cand_ctes":${Json.str(graft.queries.PerfbenchOracles.candCtes)}}"""
    (checks.toSeq, exports)
  }
}
