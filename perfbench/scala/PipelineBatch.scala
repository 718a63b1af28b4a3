package graftbench

import graft.io.CsvIo
import graft.pipeline.{Pipeline, Stages}
import graft.sources.FeedPager
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import Harness._

/** pipeline_batch: one `Pipeline.run` of a ten-stage config — the
  * reference's config/test.json chain (feed scrape → preprocess →
  * exploratory / translation / image scrape → labels / feature vectors /
  * anonymizer) plus TextAnalysisStage and CurationStage over a document
  * corpus. The feed pages come from the generated files through a
  * registered FeedFetchers transport; images through the `synthetic`
  * fetcher. Each timed run gets a fresh root, so no stage is skipped.
  */
object PipelineBatch extends Workload {
  final case class State(dir: Path, cfg: Pipeline.PipelineConfig, inputRows: Long,
                         inputBytes: Long, gen: Path)

  val Fetcher = "perfbench"

  def config(docsRel: String): String =
    s"""{"dataset_name": "Bench_Louvre", "skip_stage_if_exists": true,
       | "stages": [
       |  {"name": "Feed Scrape", "implementation": "InstagramFeedScraperStage",
       |   "input": null, "output": "posts.csv",
       |   "params": {"terms": ["benchfeed"], "type": "hashtag",
       |              "max_tries": 3, "fetcher": "$Fetcher"}},
       |  {"name": "Preprocessing", "implementation": "PreprocessorStage",
       |   "input": "posts.csv", "output": "posts_preprocessed.csv",
       |   "params": {"remove_duplicates": true, "images_only": true,
       |              "year_filter": [2012, 2020],
       |              "hashtag_filter_include": [], "hashtag_filter_exclude": [],
       |              "max_images_per_year": -1, "lowercase_hashtags": true}},
       |  {"name": "Exploratory Analysis", "implementation": "ExploratoryanalysisStage",
       |   "input": "posts_preprocessed.csv", "output": "exploratory analysis", "params": {}},
       |  {"name": "Translation", "implementation": "TranslatorStage",
       |   "input": "posts_preprocessed.csv", "output": "posts_translated.csv",
       |   "params": {"target_column": "caption", "target_language": "en"}},
       |  {"name": "Scrape Images", "implementation": "InstagramImageScraperStage",
       |   "input": "posts_preprocessed.csv", "output": "images/images",
       |   "params": {"fetcher": "synthetic"}},
       |  {"name": "Label Images", "implementation": "ImageLabelerStage",
       |   "input": "images/images", "output": "image_labels.csv", "params": {}},
       |  {"name": "Calculate Image Feature Vectors", "implementation": "ImageFeatureVectorStage",
       |   "input": "images/images", "output": "image_features.npy", "params": {"gpu_id": -1}},
       |  {"name": "Anonymize Images", "implementation": "ImageAnonymizerStage",
       |   "input": "images/images", "output": "images_anonymized",
       |   "params": {"in_place": false, "confidence": 0.15}},
       |  {"name": "Profile Corpus", "implementation": "TextAnalysisStage",
       |   "input": "$docsRel", "output": "profiled", "params": {}},
       |  {"name": "Curate Corpus", "implementation": "CurationStage",
       |   "input": "$docsRel", "output": "curated",
       |   "params": {"shingle_k": 2, "num_perms": 16, "bands": 8,
       |              "decontam_k": 4, "benchmark_mod": 97}}]}""".stripMargin

  /** Feed pages are served from the generated page files; the cursor is
    * the next page's index. In a traced pass each fetch is a span of the
    * `sources` layer (it runs on the stage's pooled thread).
    */
  def registerFetcher(gen: Path): Unit = {
    val pages = {
      val s = Files.list(gen.resolve("feed"))
      try s.iterator().asScala.toVector.map(_.toString).sorted finally s.close()
    }
    Stages.FeedFetchers.register(Fetcher, _ => { cursor =>
      Tracer.span("sources.FeedPager.fetch") {
        val idx = cursor.map(_.toInt).getOrElse(0)
        Right(FeedPager.Page(Files.readString(java.nio.file.Paths.get(pages(idx))),
          if (idx + 1 < pages.size) Some((idx + 1).toString) else None))
      }
    })
  }
  def setup(spark: SparkSession, gen: Path, dir: Path, rep: Int): State = {
    registerFetcher(gen)
    val docs = gen.resolve("docs.parquet")
    // stage paths are resolved under each run root: reach the generated
    // corpus by a relative path from there (run roots sit one level down)
    val docsRel = dir.resolve("run").relativize(docs).toString
    Files.writeString(dir.resolve("config.json"), config(docsRel))
    val cfg = Pipeline.loadConfig(dir.resolve("config.json").toString)
    val info = readJson(gen.resolve("inputs.json"))
    State(dir, cfg,
      inputRows = Seq("posts", "pages", "docs").map(info.get(_).asLong).sum,
      inputBytes = dirBytes(gen.resolve("feed"))._1 + dirBytes(docs)._1, gen = gen)
  }

  /** One full run (codegen, image IO, CSV readers). Its root sits at the
    * run roots' depth, so the config's relative corpus path resolves.
    */
  def warmup(spark: SparkSession, st: State, dir: Path): Unit = {
    runOnce(spark, st, st.dir.resolve("warm"))
    deleteTree(st.dir.resolve("warm"))
  }

  /** Run the whole config under `root`; (status, seconds) per stage. */
  def runOnce(spark: SparkSession, st: State, root: Path): Seq[(String, String, Double)] = {
    Files.createDirectories(root)
    val summary = Pipeline.run(spark, root.toString, st.cfg)
    summary.select("stage", "status", "seconds").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
  }

  def measure(spark: SparkSession, st: State, seconds: Double, traced: Boolean): Pass = {
    val p = new Pass
    p.inputBytes = st.inputBytes
    val impl = st.cfg.stages.map(s => s.name -> s.implementation).toMap
    val t0 = System.nanoTime()
    var k = 0
    var last: Option[Path] = None
    while (k == 0 || secondsSince(t0) < seconds) {
      val root = st.dir.resolve(if (traced) s"traced$k" else s"run$k")
      val start = secondsSince(t0)
      val (res, wall) = timed(Tracer.span("pipeline.Pipeline.run")(runOnce(spark, st, root)))
      p.units += wall
      res.foreach { case (name, status, secs) =>
        p.ops += Op(s"stage:${impl(name)}", start, secs, status == "ok", 0, 0)
        p.add(s"pipeline.stage_s.${impl(name)}", secs)
      }
      p.ops += Op("run", start, wall, res.forall(_._2 == "ok"), st.inputRows, 0)
      p.add("pipeline.run_s", wall)
      // keep only the newest root: it is what the output checks read
      last.foreach(deleteTree)
      last = Some(root)
      k += 1
    }
    p.elapsed = secondsSince(t0)
    p.storeBytes = last.map(r => dirBytes(r)._1).getOrElse(0L)
    if (traced) tracedExtras(spark, st, p)
    p
  }

  /** The traced pass's layer split: every stage run alone in config
    * (= dependency) order, then the CSV hand-offs read and rewritten
    * through the io layer.
    */
  def tracedExtras(spark: SparkSession, st: State, p: Pass): Unit = {
    val root = st.dir.resolve("sequential")
    Files.createDirectories(root)
    st.cfg.stages.foreach { s =>
      val stage = Pipeline.registry(s.implementation)
      val (_, secs) = timed(Tracer.span(s"pipeline.stage.${s.implementation}") {
        stage.run(spark, s"$root/${s.input}", s"$root/${s.output}", s.params, st.cfg.datasetName)
      })
      p.add(s"pipeline.stage_seq_s.${s.implementation}", secs)
    }
    val scratch = st.dir.resolve("io_scratch")
    for ((file, read) <- Seq(
        "posts.csv" -> ((f: String) => CsvIo.readPosts(spark, f)),
        "posts_preprocessed.csv" -> ((f: String) => CsvIo.readPreprocessed(spark, f)))) {
      val path = root.resolve(file).toString
      val (df, rs) = timed(Tracer.span(s"io.CsvIo.read") {
        val df = read(path); countFrame(df).collect(); df
      })
      p.add("io.csv_read_s", rs)
      val (_, ws) = timed(Tracer.span("io.CsvIo.writeCsv") {
        CsvIo.writeCsv(df, scratch.resolve(file).toString)
      })
      p.add("io.csv_write_s", ws)
    }
    val handoff = Seq("posts.csv", "posts_preprocessed.csv", "posts_translated.csv",
      "image_labels.csv", "exploratory analysis").map(f => dirBytes(root.resolve(f))._1).sum
    p.layer("io.handoff_bytes") = handoff.toDouble
    deleteTree(scratch)
    deleteTree(root)
  }

  def check(spark: SparkSession, st: State, pass: Pass, traced: Boolean): (Seq[Check], String) = {
    val bad = pass.ops.filter(o => o.kind.startsWith("stage:") && !o.ok)
    val checks = Seq(Check("pipeline.stage_status", bad.isEmpty,
      if (bad.isEmpty) "every stage ok" else s"${bad.size} stage(s) not ok: ${bad.map(_.kind).distinct.mkString(",")}"))
    val root = {
      val s = Files.list(st.dir)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("run")).toSeq.head
      finally s.close()
    }
    val exports =
      s"""{"root":${Json.str(root.toString)},"feed":${Json.str(st.gen.resolve("feed.jsonl").toString)},""" +
        s""""labels_sql":${Json.str(graft.queries.PerfbenchOracles.labelsSql("ids"))},""" +
        s""""stages":${st.cfg.stages.map(s => s"""{"impl":${Json.str(s.implementation)},"input":${Json.str(s.input)},"output":${Json.str(s.output)}}""").mkString("[", ",", "]")}}"""
    (checks, exports)
  }
}
