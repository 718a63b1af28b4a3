package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The composed curation pipeline — the end-to-end shape a training-data
  * run actually executes: score quality → filter → language-gate →
  * near-exact dedup on the order-independent fingerprint → emit the
  * surviving corpus. One oracle-checked query proves the composition
  * (operator interactions included), not just each stage alone.
  *
  * Plan shape at 100 TB: everything up to the dedup is one codegen'd
  * projection over the scan (quality/lang/fingerprint are per-row HOFs on
  * a bound token array); the dedup is the map-side-combinable min-struct
  * aggregate keyed by fingerprint — a single shuffle of one narrow struct
  * per surviving key.
  */
object CurationQueries {

  val c01Curation: GraftQuery = GraftQuery(
    "c01_curation", {
      val toksE = sqlTokens("text")
      val stopE = sqlLangScore(toksE, stopwords)
      val qualityE =
        s"""((CAST(len(list_distinct($toksE)) AS DOUBLE) / len($toksE)) * 0.5
           | + LEAST((CAST(len(replace(text, ' ', '')) AS DOUBLE) / len($toksE)) / 10.0, 1.0) * 0.3
           | + (CAST($stopE AS DOUBLE) / len($toksE)) * 0.2)""".stripMargin
      val scoreE = langMarkers.map { case (lang, ms) => lang -> sqlLangScore(toksE, ms) }
      val fpE = sqlRollingHash(s"array_to_string(list_sort($toksE), ' ')")
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |         $qualityE AS quality,
         |         ${sqlLangPick(scoreE, "text")} AS lang_pred,
         |         $fpE AS fp
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM scored
         |  WHERE quality >= 0.45 AND lang_pred IN ('datish', 'sqlish')),
         |ranked AS (
         |  SELECT doc_id, source, lang_pred, quality,
         |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM kept)
         |SELECT doc_id, source, lang_pred, quality
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    // one bound token array feeds quality, language and fingerprint
    val toks = col("__toks")
    val ttr = size(array_distinct(toks)).cast("double") / size(toks)
    val stopRatio = langScore(toks, stopwords).cast("double") / size(toks)
    val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)
    val quality = ttr * 0.5 + least(avgLen / 10.0, lit(1.0)) * 0.3 + stopRatio * 0.2
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(toks, ms) }
    // The sorted-token string is bound to its own attribute and hashed by
    // the NATIVE kernel: the HOF rollingHash re-reads its child per
    // character, and outside whole-stage codegen (this plan's aggregate is
    // a SortAggregate, and huge projections can fall back) there is no
    // subexpression elimination to hoist an inlined array_sort+array_join
    // — measured 26s vs 0.6s at sf0.1.
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("source"), col("text"), col("__toks"),
        array_join(array_sort(toks), " ").as("__sorted"))
      // marker scores bound to attributes too: langPick's argmax chain
      // references each score several times, and each is an array-filter
      // pass when inlined
      .select(Seq(col("doc_id"), col("source"), col("text"),
        quality.as("quality"),
        graft.plans.DedupExprs.rollingHash(col("__sorted")).as("fp")) ++
        scores.map { case (lang, s) => s.as(s"__s_$lang") }: _*)
      .select(col("doc_id"), col("source"), col("quality"),
        langPick(langMarkers.map { case (lang, _) => lang -> col(s"__s_$lang") },
          col("text")).as("lang_pred"),
        col("fp"))
    // The filter is folded INTO the dedup aggregate instead of a Filter
    // node: a `.filter(quality >= …)` above the scored projection gets
    // pushed below it, substituting the full token pipeline into the scan
    // predicate — the plan carried 30 copies of split(text) and ran 4×
    // slower. Masking failing rows to NULL and taking the null-skipping
    // min(struct) per fingerprint is the same semantics (min over kept
    // rows; all-null groups dropped above the agg, where the filter is on
    // an aggregated attribute and cannot sink) and the better plan anyway:
    // one projection, one map-side-combinable shuffle.
    val keep = col("quality") >= 0.45 && col("lang_pred").isin("datish", "sqlish")
    val payload = struct(col("doc_id"), col("source"), col("lang_pred"), col("quality"))
    scored
      .select(col("fp"),
        when(keep, struct(col("doc_id").as("__ord"), payload.as("__row"))).as("__m"))
      .groupBy("fp").agg(min(col("__m")).as("__first"))
      .filter(col("__first").isNotNull)
      .select(col("__first.__row.doc_id").as("doc_id"),
        col("__first.__row.source").as("source"),
        col("__first.__row.lang_pred").as("lang_pred"),
        col("__first.__row.quality").as("quality"))
      .orderBy("doc_id")
  }

  /** C2 — the full LLM-corpus curation composition, stage by stage the
    * shape a production training-data run executes:
    *
    *   1. near-dup GROUPS: MinHash+LSH candidate pairs
    *      ([[Dedup.nearDupPairs]]) → connected components
    *      ([[Dedup.connectedComponents]]) → drop every group member but
    *      the min-id representative;
    *   2. DECONTAMINATION: drop training docs sharing any 4-gram with
    *      the held-out benchmark slice (doc_id % 97 = 0), and the
    *      benchmark docs themselves;
    *   3. PACK the surviving corpus into 4096-token manifests per
    *      source (t08's running-sum bins).
    *
    * One oracle proves the composition end-to-end — the DuckDB side
    * rebuilds the LSH pipeline, a recursive-closure component labeling
    * (different algorithm, same fixpoint), the overlap join, and the
    * packing window — so stage interactions (removal sets feeding the
    * anti-join feeding the pack) are checked, not just each stage.
    *
    * Scale: candidate generation is the banded equi-join; components run
    * on the (tiny) pair graph; contamination is one broadcast join;
    * the anti-join and packing shuffle survivors once each.
    */
  val c02CurationFull: GraftQuery = GraftQuery(
    "c02_curation_full", {
      val toksE = sqlTokens("text")
      s"""WITH RECURSIVE ${DedupQueries.sqlCandCtes},
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION ALL SELECT id_b, id_a FROM cand),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |dup_removed AS (SELECT id AS doc_id FROM comp WHERE id != component),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(${sqlShingles(toksE, 4)})) AS s
         |  FROM documents),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM sh JOIN bench USING (s)
         |  WHERE doc_id % 97 != 0),
         |removed AS (
         |  SELECT doc_id FROM dup_removed
         |  UNION SELECT doc_id FROM contaminated
         |  UNION SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
         |survivors AS (
         |  SELECT source, doc_id, len($toksE) AS n FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
         |c AS (
         |  SELECT source, doc_id, n,
         |         COALESCE(CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS ex
         |  FROM survivors)
         |SELECT source, ex // 4096 AS pack_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY source, ex // 4096
         |ORDER BY source, pack_id""".stripMargin
    }) { (spark, dir) =>
    import graft.queries.DedupQueries.{Bands, NumPerms, ShingleK}
    val docs = Tables.documents(spark, dir)
    // 1. near-dup groups → drop non-representatives
    // the grouping is defined over band collisions (the oracle's `cand`)
    // but only their CONNECTIVITY is consumed — per-bucket star edges
    // give identical components at Σ|bucket| instead of Σ|bucket|² edges
    // (see lshComponentEdges)
    val pairs = Dedup.lshComponentEdges(docs, "doc_id", "text", ShingleK, NumPerms, Bands)
    // component-loop shuffle sized to the corpus, not the session (same
    // sizing rule and rationale as g02)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val ccParts = math.min(prevParts.toLong, math.max(4L, docs.count() / 5000L))
    spark.conf.set("spark.sql.shuffle.partitions", ccParts.toString)
    val comps = try Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val dupRemoved = comps.filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    // 2. decontamination (t11) + the benchmark slice itself
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 4))).as("s"))
    val bench = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), "s").select("doc_id").distinct()
    val removed = dupRemoved
      .union(contaminated)
      .union(docs.filter(col("doc_id") % 97 === 0).select("doc_id"))
      .distinct()
    // 3. survivors → token-budget pack manifest (t08)
    val survivors = docs.join(removed, Seq("doc_id"), "left_anti")
      .select(col("source"), col("doc_id"), size(tokens(col("text"))).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    survivors
      .withColumn("ex", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("source"), expr("ex div 4096").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  /** C3 — MIXTURE APPLICATION: materialize the t15 source-mixture table
    * into the actual upsampled corpus — each document is repeated
    * floor(weight) times plus one deterministic fractional copy (kept
    * iff hash(doc_id) falls under the weight's fractional ppm — the
    * same portable-hash Bernoulli d10 samples with), so the emitted
    * token distribution converges on the uniform target while every
    * engine/rerun/cluster-size produces the byte-identical corpus. The
    * repeat cap (4 epochs) bounds upsampling of tiny sources.
    *
    * Scale shape: the weight table is |sources| rows (broadcast); copy
    * expansion is a per-row generate — no shuffle beyond the gate's
    * ORDER BY. Composes t15 (weights) with d10's determinism contract,
    * oracle-checked end to end.
    */
  val c03MixtureApply: GraftQuery = GraftQuery(
    "c03_mixture_apply", {
      val hb = graft.operators.Sampling.sqlHashBucket("doc_id")
      s"""WITH s AS (SELECT source, CAST(SUM(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
         |       FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS n_sources FROM s),
         |w AS (SELECT source,
         |             LEAST((total * 1000000) // (n_sources * n_tokens), 4000000) AS w_ppm
         |      FROM s CROSS JOIN t),
         |d AS (SELECT doc_id, d.source, w_ppm,
         |             w_ppm // 1000000
         |             + CASE WHEN $hb < w_ppm % 1000000 THEN 1 ELSE 0 END AS n_copies
         |      FROM documents d JOIN w USING (source))
         |SELECT doc_id, source, w_ppm, unnest(range(1, n_copies + 1)) AS copy_id
         |FROM d WHERE n_copies > 0 ORDER BY doc_id, copy_id""".stripMargin
    }) { (spark, dir) =>
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val s = docs.groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = s.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_sources"))
    val w = s.crossJoin(broadcast(t))
      .select(col("source"),
        least(expr("(total * 1000000) div (n_sources * n_tokens)"), lit(4000000L))
          .as("w_ppm"))
    docs.join(broadcast(w), "source")
      .select(col("doc_id"), col("source"), col("w_ppm"),
        (expr("w_ppm div 1000000")
          + when(Sampling.hashBucket(col("doc_id")) < col("w_ppm") % 1000000, lit(1L))
            .otherwise(lit(0L))).as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("w_ppm"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
      .orderBy("doc_id", "copy_id")
  }

  /** PL01 — the ORCHESTRATOR end-to-end: a JSON config file parsed by
    * the real config loader (the reference's orchestrator contract,
    * `orchestrator.py:28-57` / `config/test.json`) drives two chained
    * stages — TextAnalysisStage profiles every document, CurationStage
    * removes near-dup group members + benchmark-contaminated docs — and
    * the gate reads the stages' OUTPUT FILES back and summarizes the
    * surviving corpus per predicted language. The oracle recomputes the
    * whole chain (LSH components, decontamination, language pick, token
    * stats) in SQL, so config parsing, stage dispatch, inter-stage file
    * hand-off, and both stages' semantics are hash-gated as one unit —
    * a user of the reference's orchestrator can point their config here.
    *
    * Scale shape: exactly its stages' shapes (TextAnalysis one codegen'd
    * projection; Curation = c02 minus packing); the orchestrator itself
    * adds one driver-side dispatch loop and O(stages) file-existence
    * probes.
    */
  val pl01PipelineE2e: GraftQuery = GraftQuery(
    "pl01_pipeline_e2e", {
      val toksE = sqlTokens("text")
      val scoreE = langMarkers.map { case (l, ms) => l -> sqlLangScore("toks", ms) }
      s"""WITH RECURSIVE ${DedupQueries.sqlCandCtes},
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION ALL SELECT id_b, id_a FROM cand),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |dup_removed AS (SELECT id AS doc_id FROM comp WHERE id != component),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(${sqlShingles(toksE, 4)})) AS s
         |  FROM documents),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM sh JOIN bench USING (s)
         |  WHERE doc_id % 97 != 0),
         |removed AS (
         |  SELECT doc_id FROM dup_removed
         |  UNION SELECT doc_id FROM contaminated
         |  UNION SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
         |prof AS (
         |  SELECT doc_id, text, $toksE AS toks FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM removed))
         |SELECT ${sqlLangPick(scoreE, "text")} AS lang_pred,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(len(toks)) AS BIGINT) AS sum_tokens,
         |       CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS sum_distinct
         |FROM prof GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (spark, dir) =>
    import graft.queries.DedupQueries.{Bands, NumPerms, ShingleK}
    val root = Dsl.tempStore("pl01_root")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    Tables.documents(spark, dir).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/docs")
    val cfgJson =
      s"""{"dataset_name": "docs", "stages": [
         |  {"name": "profile", "implementation": "TextAnalysisStage",
         |   "input": "docs", "output": "profiled", "params": {}},
         |  {"name": "curate", "implementation": "CurationStage",
         |   "input": "docs", "output": "curated",
         |   "params": {"shingle_k": $ShingleK, "num_perms": $NumPerms,
         |              "bands": $Bands, "decontam_k": 4,
         |              "benchmark_mod": 97}}]}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "config.json"), cfgJson)
    val summary = graft.pipeline.Pipeline.run(
      spark, root, graft.pipeline.Pipeline.loadConfig(s"$root/config.json"))
    val statuses = summary.select("stage", "status").collect()
      .map(r => r.getString(0) -> r.getString(1))
    require(statuses.forall(_._2 == "ok"),
      s"pipeline stages not ok: ${statuses.mkString(", ")}")
    spark.read.parquet(s"$root/curated").select("doc_id")
      .join(spark.read.parquet(s"$root/profiled")
        .select("doc_id", "n_tokens", "n_distinct", "lang_pred"), "doc_id")
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("n_distinct").as("sum_distinct"))
      .orderBy("lang_pred")
  }

  /** PL02 — the reference's ACTUAL `config/test.json` shape through the
    * orchestrator, ALL eight stage names dispatching (VERDICT r9 #1):
    * feed scrape (cursor-paginated pages through [[graft.sources
    * .FeedPager]], fetcher = a deterministic page generator derived from
    * the documents table — the seam a deployment points at HTTP),
    * preprocessing, exploratory analysis, translation, image scrape
    * (the [[graft.operators.ScrapeState]] retry loop, synthetic
    * transport), scene labeling, feature vectors (real `.npy` side-car +
    * parquet twin), anonymization. The gate then joins the PREPROCESSED
    * CSV against the LABELS CSV — both read back from the stage
    * hand-off files — so config parsing, JSON-null inputs, landing-dir
    * layout, CSV round-trips, the dedup/filter semantics, the scrape
    * file naming, and the real decode→classify head are hash-gated as
    * one chain. The oracle replays everything from the doc_id
    * arithmetic: the post fields the fetcher synthesizes, the video/
    * year/dedup filters, and i05's full scene-logit head over the
    * synthetic pixel formula.
    *
    * Scale shape: each stage is its operator's documented shape; the
    * driver-side parts are the fetcher's page JSONs (the reference's
    * OWN driver-side page loop — rate-limited, non-idempotent, kept
    * out of Catalyst by design, SURVEY §4) and the O(stages) dispatch.
    *
    * Fixture-construction collect: the page generator collects the doc
    * SLICE'S ids (|docs|/4 longs) to synthesize feed pages — the
    * scraper's INPUT is an external API in production; deriving it from
    * the corpus is what makes the chain oracle-checkable (sm08's
    * MemoryStream convention).
    */
  val pl02OrchestratorFull: GraftQuery = GraftQuery(
    "pl02_orchestrator_full", {
      import graft.queries.MultimodalQueries.sqlLogitsCtes
      s"""WITH d AS (
         |  SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 11 AS h,
         |         1262304000 + (doc_id % 4000) * 777600 AS sec
         |  FROM documents
         |  WHERE doc_id % 4 = 3 AND doc_id < 2500 AND doc_id % 3 != 0
         |    AND 1262304000 + (doc_id % 4000) * 777600 >= 1325376000
         |    AND 1262304000 + (doc_id % 4000) * 777600 < 1577836800),
         |${sqlLogitsCtes(", sec")}
         |SELECT doc_id AS id,
         |       CAST(year(make_timestamp(sec * 1000000)) AS INT) AS year,
         |       (doc_id * 37) % 1000 AS likes,
         |       (doc_id * 37) % 1000 + (doc_id * 13) % 100 AS interactions,
         |       '#tag' || CAST(doc_id % 5 AS VARCHAR) ||
         |         ',#mix' || CAST(doc_id % 3 AS VARCHAR) AS tags,
         |       'scene_' || CAST(list_position(logits, list_max(logits)) - 1
         |         AS VARCHAR) AS category
         |FROM lg ORDER BY id""".stripMargin
    }) { (spark, dir) =>
    import graft.io.CsvIo
    import graft.pipeline.{Pipeline, Stages}
    import graft.sources.FeedPager
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Dsl.tempStore("pl02_root")
    Files.createDirectories(Paths.get(root))
    // ---- the "external API": deterministic feed pages from the slice.
    // The doc_id < 2500 FIXTURE BOUND keeps the gate's cost the chain's
    // dispatch + hand-off contract, not a re-timing of its stages'
    // corpus scans — each stage's scale shape is measured in its own
    // gate (i05/i06 vision, u02 translation, a01+ exploratory, c02
    // curation); the full gate-SF corpus is still covered (500 docs).
    val ids = Tables.documents(spark, dir)
      .filter(col("doc_id") % 4 === 3 && col("doc_id") < 2500)
      .select("doc_id").as[Long].collect().sorted.toVector
    def postJson(id: Long): String = {
      val video = id % 3 == 0
      s"""{"id": $id, "shortcode": "sc$id",
         | "type": "${if (video) "GraphVideo" else "GraphImage"}",
         | "is_video": $video,
         | "likes": ${id * 37 % 1000}, "comments": ${id * 13 % 100},
         | "comments_disabled": false, "description": "post $id",
         | "hashtags": ["#Tag${id % 5}", "#Mix${id % 3}"], "mentions": [],
         | "display_url": "d$id", "thumbnail_src": "t$id",
         | "owner": {"id": ${id % 50}},
         | "taken_at_timestamp": ${1262304000L + (id % 4000) * 777600L}}"""
        .stripMargin.replace("\n", "")
    }
    val pages = ids.grouped(50).toVector
    Stages.FeedFetchers.register("pl02", _ => {
      case None if pages.isEmpty =>
        Right(FeedPager.Page("""{"collector": []}""", None))
      case cursor =>
        val idx = cursor.map(_.toInt).getOrElse(0)
        // each page re-emits its first post — the overlapping-page
        // duplicate the reference's scraper dedups at combine time
        val body = (pages(idx) :+ pages(idx).head).map(postJson)
          .mkString("""{"collector": [""", ", ", "]}")
        Right(FeedPager.Page(body,
          if (idx + 1 < pages.size) Some((idx + 1).toString) else None))
    })
    val cfgJson =
      s"""{"dataset_name": "Lens_Louvre", "skip_stage_if_exists": true,
         | "stages": [
         |  {"name": "Feed Scrape", "implementation": "InstagramFeedScraperStage",
         |   "input": null, "output": "posts.csv",
         |   "params": {"terms": ["golfclub"], "type": "hashtag",
         |              "max_tries": 10, "fetcher": "pl02"}},
         |  {"name": "Preprocessing", "implementation": "PreprocessorStage",
         |   "input": "posts.csv", "output": "posts_preprocessed.csv",
         |   "params": {"remove_duplicates": true, "images_only": true,
         |              "year_filter": [2012, 2020],
         |              "hashtag_filter_include": [], "hashtag_filter_exclude": [],
         |              "max_images_per_year": -1, "lowercase_hashtags": true}},
         |  {"name": "Exploratory Analysis",
         |   "implementation": "ExploratoryanalysisStage",
         |   "input": "posts_preprocessed.csv", "output": "exploratory analysis",
         |   "params": {}},
         |  {"name": "Translation", "implementation": "TranslatorStage",
         |   "input": "posts_preprocessed.csv", "output": "posts_translated.csv",
         |   "params": {"target_column": "caption", "target_language": "en"}},
         |  {"name": "Scrape Images",
         |   "implementation": "InstagramImageScraperStage",
         |   "input": "posts_preprocessed.csv", "output": "images/images",
         |   "params": {"fetcher": "synthetic"}},
         |  {"name": "Label Images", "implementation": "ImageLabelerStage",
         |   "input": "images/images", "output": "image_labels.csv",
         |   "params": {}},
         |  {"name": "Calculate Image Feature Vectors",
         |   "implementation": "ImageFeatureVectorStage",
         |   "input": "images/images", "output": "image_features.npy",
         |   "params": {"gpu_id": 0}},
         |  {"name": "Anonymize Images", "implementation": "ImageAnonymizerStage",
         |   "input": "images/images", "output": "images_anonymized",
         |   "params": {"in_place": false, "confidence": 0.15}}]}""".stripMargin
    Files.writeString(Paths.get(root, "config.json"), cfgJson)
    val summary = Pipeline.run(
      spark, root, Pipeline.loadConfig(s"$root/config.json"))
    val statuses = summary.select("stage", "status").collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(statuses.forall(_._2 == "ok"),
      s"pl02 stages not ok: ${statuses.mkString(", ")}")
    val pre = CsvIo.readPreprocessed(spark, s"$root/posts_preprocessed.csv")
    val labels = spark.read.option("header", "true")
      .csv(s"$root/image_labels.csv").select("image", "category")
    pre.join(labels, "image")
      .select(col("id"), col("year"), col("likes"), col("interactions"),
        array_join(col("hashtags"), ",").as("tags"), col("category"))
      .orderBy("id")
  }

  /** C04 — the CLEANING CUT: this round's web-corpus operators composed
    * into the chain a crawl-to-corpus pipeline actually runs —
    * normalize (t30: NFC + control scrub + whitespace collapse on a
    * derived dirty twin) → C4 line filtering (t32: 8-token lines,
    * derived terminal punctuation, keep punctuated ≥5-token lines,
    * newline reassembly) → document gate (≥2 surviving lines) →
    * importance-weighted selection (d18: md5-bucket < text-derived
    * w_ppm) → deterministic shard assignment (d13's mod-8 on the
    * portable hash). One oracle across all five stages pins their
    * INTERACTIONS — e.g. the weight hashes the CLEANED text, so a
    * normalization drift would cascade into a different kept set and a
    * different shard fingerprint.
    *
    * Plan shape at 100 TB: the ENTIRE chain is one codegen'd per-row
    * projection over the scan (normalize, line HOFs, weight hash, shard
    * mod are all per-row) followed by ONE map-side-combinable agg to
    * |shards| rows — no shuffle of document rows at any stage.
    */
  val c04CleaningCut: GraftQuery = GraftQuery(
    "c04_cleaning_cut", {
      val dirtyE = "'e\u0301 ' || text || '\t x\u0308y \u200b'"
      val cleanE = s"trim(regexp_replace(regexp_replace(regexp_replace(" +
        s"nfc_normalize($dirtyE), " +
        "'[\\p{Cc}\\p{Cf}]', '', 'g'), '[^\\x00-\\x7f]', '', 'g'), '\\s+', ' ', 'g'))"
      val lineE = "array_to_string(list_slice(tk, st + 1, LEAST(st + 8, n)), ' ')"
      s"""WITH c AS (SELECT doc_id, $cleanE AS clean FROM documents),
         |tok AS (SELECT doc_id, clean, string_split(clean, ' ') AS tk,
         |               len(string_split(clean, ' ')) AS n FROM c),
         |st AS (SELECT doc_id, tk, n, unnest(range(0, n, 8)) AS st
         |       FROM tok WHERE n > 0),
         |ln AS (SELECT doc_id, st, $lineE AS line0 FROM st),
         |pl AS (SELECT doc_id, st,
         |  CASE WHEN (${sqlRollingHash("line0")}) % 3 != 0
         |       THEN line0 || '.' ELSE line0 END AS line
         |  FROM ln),
         |ag AS (SELECT doc_id,
         |  COALESCE(string_agg(
         |    CASE WHEN line LIKE '%.' AND len(string_split(line, ' ')) >= 5
         |         THEN line END, chr(10) ORDER BY st), '') AS body,
         |  COUNT(*) FILTER (WHERE line LIKE '%.'
         |                   AND len(string_split(line, ' ')) >= 5) AS n_kept
         |  FROM pl GROUP BY doc_id),
         |gated AS (SELECT doc_id, body FROM ag WHERE n_kept >= 2),
         |sel AS (SELECT doc_id, body,
         |  (200000 + (${sqlRollingHash("body")}) % 600001) AS w_ppm,
         |  ${graft.operators.Sampling.sqlHashBucket("doc_id")} AS bucket
         |  FROM gated),
         |kept AS (SELECT doc_id, body,
         |  ${graft.operators.Sampling.sqlHashBucket("doc_id || '#shard'")} % 8 AS shard
         |  FROM sel WHERE bucket < w_ppm)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(body, ' '))) AS BIGINT) AS n_tokens,
         |  BIT_XOR(CAST(concat('0x', substr(md5(body), 1, 12)) AS BIGINT)) AS body_fp,
         |  BIT_XOR(doc_id) AS id_fp
         |FROM kept GROUP BY shard ORDER BY shard""".stripMargin
    }) { (spark, dir) =>
    val dirty = concat(lit("e\u0301 "), col("text"),
      lit("\t x\u0308y \u200b"))
    // ONE native scan replacing the four chained regexp rewrites (NFC \u2192
    // Cc/Cf strip \u2192 ASCII fold \u2192 whitespace collapse) \u2014 the per-row
    // constant that dominated this gate; the oracle still pins the
    // chained form, so the fold must stay byte-identical (CleanSpec).
    val clean = graft.plans.DedupExprs.cleanText(dirty, asciiFold = true)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), clean.as("clean"))
      .select(col("doc_id"), tokens(col("clean")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n") - 1, lit(8)), st => {
          val line0 = array_join(
            slice(col("tk"), st + 1, least(lit(8), col("n") - st)), " ")
          when(pmod(rollingHash(line0), lit(3)) =!= 0,
            concat(line0, lit("."))).otherwise(line0)
        }).as("lines"))
      .select(col("doc_id"),
        filter(col("lines"), l =>
          l.endsWith(".") && size(split(l, " ")) >= 5).as("kept"))
      .filter(size(col("kept")) >= 2)
      .select(col("doc_id"), array_join(col("kept"), "\n").as("body"))
      .select(col("doc_id"), col("body"),
        (lit(200000L) + pmod(rollingHash(col("body")), lit(600001L))).as("w_ppm"),
        graft.operators.Sampling.hashBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < col("w_ppm"))
      .select(col("doc_id"), col("body"),
        pmod(graft.operators.Sampling.hashBucket(
          concat(col("doc_id").cast("string"), lit("#shard"))), lit(8)).as("shard"))
    docs.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("body"), " ")).cast("long")).as("n_tokens"),
        bit_xor(conv(substring(md5(col("body")), 1, 12), 16, 10)
          .cast("long")).as("body_fp"),
        bit_xor(col("doc_id")).as("id_fp"))
      .orderBy("shard")
  }

  /** C5 — DATASET CARD: the release manifest a training corpus ships
    * with (the "datasheet/data card" practice — Gebru et al. 2021,
    * the HF dataset-card convention): per-source rows PLUS the rolled-up
    * TOTAL row in one gated table — doc/token/char volumes, language
    * breadth, and the exact-dup rate (1 − distinct fingerprints / docs,
    * integer ppm; x01's fingerprint). Every release decision the
    * mixture/dedup gates inform is summarized here, so the card being
    * oracle-gated means the numbers a release PUBLISHES are verified,
    * not transcribed.
    *
    * Scale shape: ROLLUP(source) is one map-side-combinable aggregate
    * pass (Spark expands grouping sets in the same shuffle); the
    * count-distinct legs (languages, fingerprints) shuffle on
    * (group, value) — the corpus is scanned once, and every output row
    * is |sources|+1.
    */
  val c05DatasetCard: GraftQuery = GraftQuery(
    "c05_dataset_card", {
      val fpE = sqlRollingHash("text")
      s"""WITH d AS (
         |  SELECT source, lang, len(${sqlTokens("text")}) AS n_tokens,
         |         len(text) AS n_chars, ($fpE) AS fp
         |  FROM documents)
         |SELECT COALESCE(source, 'TOTAL') AS source,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |       COUNT(DISTINCT lang) AS n_langs,
         |       COUNT(DISTINCT fp) AS n_distinct_docs,
         |       (COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*) AS dup_ppm
         |FROM d GROUP BY ROLLUP(source)
         |ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        rollingHash(col("text")).as("fp"))
    d.rollup("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_distinct_docs"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("n_langs"),
        col("n_distinct_docs"),
        expr("(n_docs - n_distinct_docs) * 1000000 div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  val all: Seq[GraftQuery] = Seq(c01Curation, c02CurationFull, c03MixtureApply,
    c04CleaningCut, c05DatasetCard, pl01PipelineE2e, pl02OrchestratorFull)
}
