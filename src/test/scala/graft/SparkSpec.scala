package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test SparkSession (one per forked test JVM): the mains'
  * [[GraftSession]] at a fixed local[4], whatever SPARK_GRAFT_CPUS says. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  def fixtureText(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture(name))), java.nio.charset.StandardCharsets.UTF_8)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("4")
}
