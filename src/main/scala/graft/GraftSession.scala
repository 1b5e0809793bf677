package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one SparkSession configuration of this library's mains and test
  * harness: `local[cpus]` with as many shuffle partitions, UTC, ANSI off
  * (pandas errors="coerce" semantics: bad casts -> null, not error),
  * parquet TIMESTAMP(NANOS) read as LongType ns (events.ts), no UI, and
  * [[GraftExtensions]] installed at build. `SPARK_GRAFT_CPUS` sets
  * `cpus` (default 4).
  */
object GraftSession {
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
