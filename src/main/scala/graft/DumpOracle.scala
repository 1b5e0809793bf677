package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

/** Writes SparkEntry.oracleSql as oracle_sql.json WITHOUT starting Spark or
  * running any query — feeds tools/oracle_types.py, the fast registry
  * integrity gate (DESCRIBE every oracle, assert Spark-typed columns).
  * `sbt "runMain graft.DumpOracle /tmp/oracle"` completes in seconds.
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = write(outDir)
    println(s"[dump-oracle] $n oracle entries -> $outDir/oracle_sql.json")
  }

  /** Write the oracle SQL of the queries `keep` accepts as
    * `<outDir>/oracle_sql.json`, one JSON object of name -> SQL (the
    * file [[Verify]] dumps beside its results for tools/parity.py), and
    * return how many entries it holds. */
  def write(outDir: String, keep: String => Boolean = _ => true): Int = {
    val entries = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), JsonMethods.compact(
      JObject(entries.map { case (k, v) => k -> JString(v) }.toList)))
    entries.size
  }
}
