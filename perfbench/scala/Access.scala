// Package-private hooks the harness needs, reached from inside their
// packages (the same bridge pattern as org.apache.spark.sql.graft).

package org.apache.spark {
  object PerfbenchBus {
    /** Block until every posted listener event has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.queries {
  /** Oracle SQL fragments that the DuckDB output checks reuse verbatim. */
  object PerfbenchOracles {
    /** LSH banding CTEs (`docs`, `sigs`, `banded`, `cand`) over a
      * `documents(doc_id, text)` relation, with the gates' parameters.
      */
    def candCtes: String = DedupQueries.sqlCandCtes

    /** Scene label of every post id in `ids(id)`: the synthetic image's
      * argmax logit, the same head the pl02 oracle replays.
      */
    def labelsSql(ids: String): String =
      s"""WITH d AS (SELECT id AS doc_id, 16 + id % 13 AS w, 12 + id % 11 AS h FROM $ids),
         |${MultimodalQueries.sqlLogitsCtes("")}
         |SELECT doc_id AS id, 'scene_' || CAST(list_position(logits, list_max(logits)) - 1
         |         AS VARCHAR) AS category
         |FROM lg""".stripMargin
  }
}
