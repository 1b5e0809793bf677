package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.pipeline.{CuratedCorpus, Pipeline, TierCommit}

/** E2e for the curated-corpus write path: the manifest must agree with
  * the oracle-checked accounting queries (q47), the written corpus must
  * match the manifest and re-derive from the public rule seams, reruns
  * must be full replaces, and the swap must self-heal after a crash. */
class CuratedCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sfDir)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-curated").toString

  test("manifest is a monotone funnel and matches the q47 accounting") {
    val out = tmp()
    val manifest = CuratedCorpus.write(spark, docs, out).collect()
      .map(r => r.getAs[String]("source") -> r).toMap

    // every source present, stages monotone non-increasing
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(manifest.keySet == bySource.keySet)
    manifest.foreach { case (src, r) =>
      val stages = Seq("n_docs", "n_train", "after_decontam", "after_neardup",
        "after_quality", "n_kept").map(r.getAs[Long](_))
      assert(stages.head == bySource(src))
      assert(stages.zip(stages.tail).forall { case (a, b) => a >= b },
        s"manifest funnel not monotone for $src: $stages")
    }

    // n_train / after_decontam must equal the oracle-checked q47 rows
    Queries.queries("q47_decontaminate_corpus")(spark, sfDir).collect().foreach { r =>
      val m = manifest(r.getAs[String]("source"))
      assert(m.getAs[Long]("n_train") == r.getAs[Long]("n_train"))
      assert(m.getAs[Long]("after_decontam") == r.getAs[Long]("n_kept"))
    }
  }

  test("written corpus matches the manifest and re-derives from the rule seams") {
    val out = tmp()
    val manifest = CuratedCorpus.write(spark, docs, out)
    val written = spark.read.parquet(s"$out/docs")

    // hive partition layout by source
    val dirs = new java.io.File(s"$out/docs").listFiles().map(_.getName)
      .filter(_.startsWith("source=")).toSet
    assert(dirs.nonEmpty && dirs == written.select("source").distinct()
      .collect().map("source=" + _.getString(0)).toSet)

    // per-source counts == manifest n_kept
    val wCounts = written.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    manifest.collect().foreach { r =>
      assert(wCounts.getOrElse(r.getAs[String]("source"), 0L) == r.getAs[Long]("n_kept"))
    }

    // independent re-derivation from the public rule seams: train slice,
    // minus contaminated ids, minus near-dup losers, funnel + mixture
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val decon = train.join(Curation.contaminationDropIds(docs), Seq("doc_id"), "left_anti")
    val dedup = decon.join(Curation.nearDupLoserIds(decon), Seq("doc_id"), "left_anti")
    val expected = dedup.join(
        Curation.keptDocs(dedup).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(written.select("doc_id").as[Long].collect().toSet == expected)

    // surviving rows carry the full original document row, unmodified
    val origCols = docs.columns.toSet
    assert(written.columns.toSet == origCols)
    val orig = docs.join(written.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(written.select(docs.columns.map(col).toIndexedSeq: _*).exceptAll(orig).isEmpty)
  }

  test("rerun is an idempotent full replace") {
    val out = tmp()
    val m1 = CuratedCorpus.write(spark, docs, out).collect().toSeq
    val d1 = spark.read.parquet(s"$out/docs").orderBy("doc_id").collect().toSeq
    val m2 = CuratedCorpus.write(spark, docs, out).collect().toSeq
    val d2 = spark.read.parquet(s"$out/docs").orderBy("doc_id").collect().toSeq
    assert(m1 == m2 && d1 == d2)
  }

  test("a crash between the swap renames self-heals on the next read") {
    val out = tmp()
    CuratedCorpus.write(spark, docs, out)
    val before = spark.read.parquet(s"$out/docs").count()
    // simulate the vulnerable window: target graveyarded, committed tmp
    // not yet promoted (exactly swapWrite's state between its renames)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(s"$out/docs")
    val tmpP = new org.apache.hadoop.fs.Path(s"$out/docs.__swap_tmp")
    assert(fs.rename(target, tmpP))
    assert(Pipeline.pathExists(spark, s"$out/docs"), "heal must promote the committed tmp")
    assert(spark.read.parquet(s"$out/docs").count() == before)
  }

  test("docs and manifest publish together: all-old before the commit point, all-new after heal") {
    val out = tmp()
    def release(dir: String) = (
      spark.read.parquet(s"$dir/docs").select("doc_id").as[Long].collect().toSet,
      spark.read.parquet(s"$dir/manifest").orderBy("source").collect().toSeq)
    CuratedCorpus.write(spark, docs, out)
    val old = release(out)
    val changed = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = tmp()
    CuratedCorpus.write(spark, changed, fresh)
    val expected = release(fresh)
    assert(expected._1 != old._1 && expected._2 != old._2)

    // a directory where the manifest's tmp goes makes the rerun fail
    // after both tables were staged, before the commit point
    val blocker = java.nio.file.Paths.get(out, "_tier_commit.json.__tmp")
    java.nio.file.Files.createDirectories(blocker)
    intercept[java.io.IOException](CuratedCorpus.write(spark, changed, out))
    assert(release(out) == old, "a table changed without a commit")

    // a crash right after the commit point: heal publishes both
    java.nio.file.Files.delete(blocker)
    TierCommit.writeManifest(spark, out, Seq(s"$out/docs", s"$out/manifest"))
    assert(TierCommit.heal(spark, out))
    assert(release(out) == expected)
  }
}
