package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape every graft main runs on (RunPipeline
  * keeps its own builder: it must yield the master to spark-submit).
  * Callers that need an extra runtime SQL conf set it with
  * `spark.conf.set` after creation.
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with as many shuffle partitions, UTC, the graft
    * extensions, no UI, a temp warehouse and WARN logging.
    */
  def local(cpus: String = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // bucketed-table queries (b01) write here; keep it out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
