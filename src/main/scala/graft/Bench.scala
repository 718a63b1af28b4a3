package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // absorb session/codegen warmup + stable name order so per-query
    // times are comparable across rounds; the tiny parquet read also
    // initializes the file-source reader stack (footer parsing,
    // vectorized reader codegen) that the alphabetically-first query
    // otherwise pays (~0.5s misattributed to a01)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // CONTENTION CANARY: a fixed, data-independent workload timed
    // best-of-3. Machine contention inflates it in the same proportion
    // as the query suite (observed: a contended runner read the whole
    // suite ~2× slow with no plan change), so a round-over-round rise in
    // `canary_sec` at a flat `value/canary_sec` ratio says "noisy
    // machine", while a flat canary with a risen total says "real
    // regression" — the artifact carries its own control.
    // best-of-2: the second run strips codegen-compile + GC noise left by
    // neighboring heavy queries, so per-query numbers are comparable
    // across rounds (measured: a trivial query read 5s after a heavy one,
    // 0.25s in isolation). SPARK_GRAFT_BENCH_ONLY (comma-separated names)
    // and SPARK_GRAFT_BENCH_RUNS narrow/deepen a measurement session —
    // e.g. best-of-3 on just a suspect query family when settling whether
    // a delta is plan-caused or machine noise; the driver sets neither.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // Canary only matters for cross-round comparability of the full
    // suite; a BENCH_ONLY debugging session skips its several seconds and
    // records null so consumers can tell "not measured" from "fast" —
    // UNLESS SPARK_GRAFT_BENCH_CANARY=1 forces it, which an adjudication
    // run needs (a mover re-measure is only believable with an in-band
    // canary proving the machine was quiet).
    val canary: Option[Double] =
      if (only.isDefined && sys.env.get("SPARK_GRAFT_BENCH_CANARY").isEmpty) None
      else Some((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // modulo keeps the sum far from long overflow under ANSI mode
        spark.range(200000000L).selectExpr("sum(id % 9973)").collect()
        (System.nanoTime() - t0) / 1e9
      }.min)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // benchQueries, not queries: ε-band gates (a05b/a06b/a31b) declare a
    // production form via GraftQuery.benchAs — the bench times what a
    // deployment runs; the banded gate form stays Verify's job
    val results = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      var failed = false
      val times = (1 to runs).map { _ =>
        // operators that persist() intermediates would otherwise serve run 2
        // from run 1's cache (CacheManager matches canonicalized plans) —
        // clear so every timed run pays the query's real cost
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // forcedCount, not count(): count alone lets the optimizer prune
        // the very columns (windows, scores, interpolations) the query
        // exists to compute — see Eval.forcedCount
        try { Eval.forcedCount(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      (name, times.min, failed, times)
    }
    val canaryJson = canary.map(_.toString).getOrElse("null")
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every raw sample, not just the minima: two samples that disagree 3×
    // flag contention on the specific query, which a lone minimum hides
    val samples = results.map { case (k, _, _, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedList = results.collect { case (k, _, true, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","canary_sec":$canaryJson,"queries":$qs,"query_samples":$samples,"failed":$failedList,"sf":"$sfDir"}"""
    // full-precision record: every query, written to a file AND printed
    // (the file is the self-contained artifact; the printed copy may be
    // cut by log-capture tail windows)
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_history/latest_full.json"))
    Option(fullPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(fullPath, fullJson)
    println(fullJson)
    // The FINAL stdout line must parse from a bounded tail capture
    // (observed: a 2000-char window, with the runner's epilogue line
    // after ours), so it carries the total + the slowest queries only —
    // as many as fit a 1700-char budget — and points at the full file.
    val slowest = results.sortBy(-_._2)
    val budget = 1700
    val canaryShort = canary.map(c => f"$c%.3f").getOrElse("null")
    val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    val tail0 = s"""},"queries_n":${results.size},"canary_sec":$canaryShort,"queries_full":"$fullPath","failed":$failedList,"sf":"$sfDir"}"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + tail0.length
    slowest.foreach { case (k, v, _, _) =>
      val e = f""""$k":$v%.3f"""
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    println(head + entries.mkString(",") + tail0)
    spark.stop()
  }
}
