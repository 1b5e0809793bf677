package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bootstrap

/** Streaming Poisson-bootstrap maintenance — uncertainty bands over a
  * LIVE total, the incremental twin of q171. The sketch is the R=64
  * replicate totals (operators/Bootstrap): each is a SUM of pure row
  * functions, so per-batch deltas merge by addition for any split of
  * the input — stream == batch exactly, proven in BootstrapStreamSpec.
  * Like every additive sketch in the twin suite (CmsStream,
  * ProfileStream's counts), addition is NOT absorbing under replay, so
  * the fold is guarded by the batchId high-water contract: batches at
  * or below the recorded high-water are skipped.
  *
  * Scale posture: state is R+1 rows (the replicate totals plus a
  * metadata sentinel) regardless of corpus size; each batch costs one
  * map pass over batch×R with map-side combine into R groups. The CI
  * read is an O(R) order-statistic over the state table.
  */
object BootstrapStream {

  private val Sentinel = -1

  /** Fold one micro-batch of (key STRING unique row id, cents LONG)
    * rows into the replicate-total state at `statePath` (an additive
    * [[StateFold]], high-water column `hi`: a replayed batch is a
    * no-op). */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, prefix: String = "boot|",
                   r: Int = Bootstrap.R): Unit = {
    import spark.implicits._
    val fresh = Bootstrap.replicateTotals(batch, col("key"), col("cents"),
        prefix, r)
      .select(col("rep"), col("total"))
      .unionByName(Seq((Sentinel, 0L)).toDF("rep", "total"))
    StateFold.fold(spark, statePath, "BootstrapStream", hi = Some("hi" -> batchId)) { st =>
      val d = batch.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).first()
      val (n0, p0) = st.fold((0L, 0L)) { s =>
        val m = s.filter(col("rep") === Sentinel).select(col("n_rows"), col("point")).first()
        (m.getLong(0), m.getLong(1))
      }
      st.fold(fresh)(_.select(col("rep"), col("total")).unionByName(fresh))
        .groupBy(col("rep")).agg(sum(col("total")).as("total"))
        .withColumn("n_rows", lit(n0 + d.getLong(0)))
        .withColumn("point", lit(p0 + d.getLong(1)))
    }
  }

  /** The q171-shaped CI row from the persisted state: point estimate
    * plus the ceil(p·R) order statistics of the replicate totals. */
  def currentCi(spark: SparkSession, statePath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = spark.read.parquet(statePath)
    val meta = st.filter(col("rep") === Sentinel)
      .select(col("n_rows"), col("point").as("point_cents"))
    val reps = st.filter(col("rep") =!= Sentinel)
    val r = reps.count().toInt
    val w = Window.orderBy(col("total").asc, col("rep").asc) // R-row digest
    val ranked = reps.withColumn("rn", row_number().over(w))
    def at(rn: Int, name: String) =
      ranked.filter(col("rn") === rn).select(col("total").as(name))
    // ranks via the suite's exact integer convention (ADVICE r7: float
    // math.ceil(p*r) can disagree with ceil(p*n) at replicate counts
    // where p*r is an exact integer misrepresented in binary)
    def rank(pNum: Long, pDen: Long) =
      graft.operators.Selection.discreteRank(r.toLong, pNum, pDen).toInt
    meta.withColumn("r", lit(r.toLong))
      .crossJoin(at(rank(1, 20), "boot_p05_cents"))
      .crossJoin(at(rank(1, 2), "boot_p50_cents"))
      .crossJoin(at(rank(19, 20), "boot_p95_cents"))
  }

  /** Wire a (key, cents) stream into the state. */
  def start(rows: DataFrame, statePath: String, checkpointDir: String) =
    StateFold.start(rows, checkpointDir, "update") { (b, id) =>
      processBatch(b.sparkSession, b, id, statePath)
    }
}
