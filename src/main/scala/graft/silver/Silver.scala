package graft.silver

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Locale
import graft.operators.Relational

/** Silver-tier standardization (reference src/transform.py): fixed output
  * contracts, locale-aware parsing, quality filters, deterministic dedup.
  * All pure `DataFrame => DataFrame`; Catalyst keeps pushdown freedom.
  */
object Silver {

  /** The BCB silver contract, [[toSilverBcb]]'s output nullable as a
    * parquet read returns it: the store's read schema, and the type of
    * an empty increment. */
  val BcbSchema: StructType = new StructType()
    .add("series_id", LongType).add("series_name", StringType)
    .add("date", TimestampType).add("value", DoubleType)

  /** The ANP silver contract, [[enrichUf]] over [[toSilverAnp]], likewise. */
  val AnpSchema: StructType = new StructType()
    .add("uf_sigla", StringType).add("product", StringType)
    .add("date_ref", TimestampType).add("price", DoubleType)
    .add("uf_nome", StringType).add("regiao_nome", StringType)

  /** BCB silver (transform.py:8-14): attach series_name, dedup on
    * (series_id, date), drop null dates, fixed projection.
    *
    * pandas keeps the first file-order row among duplicate keys — an
    * order-dependent semantic; here dedup keeps the MIN value per key,
    * which is deterministic under any partitioning (SURVEY §7.3). */
  def toSilverBcb(bronze: DataFrame, seriesName: String): DataFrame =
    Relational.dedupKeepFirst(
      bronze.na.drop(Seq("date"))
        .select(col("series_id"), lit(seriesName).as("series_name"),
          col("date"), col("value")),
      keys = Seq("series_id", "date"), order = Seq(col("value")))

  /** ANP silver (transform.py:17-109): fuzzy header resolution, trim/upper
    * standardization, dayfirst date parse, comma-heuristic locale price
    * parse, null/positivity quality filters, deterministic natural-key
    * dedup. Output contract: (uf_sigla, product, date_ref, price). */
  def toSilverAnp(raw: DataFrame): DataFrame =
    Relational.dedupKeepFirst(anpRows(raw),
      keys = Seq("date_ref", "uf_sigla", "product"), order = Seq(col("price")))

  /** [[toSilverAnp]] before its dedup: every parsed row that passes the
    * quality filters. */
  def anpRows(raw: DataFrame): DataFrame =
    raw.select(anpParse(raw).map { case (n, c) => c.as(n) }.toSeq: _*).filter(anpValid(col))

  /** The drop's logical columns, by name, as expressions over `raw`'s
    * physical header (fuzzy-resolved): the parse of [[anpRows]], usable
    * over the raw rows themselves, e.g. to count on the bronze write. */
  def anpParse(raw: DataFrame): ListMap[String, Column] = {
    val m = HeaderResolver.resolve(raw.columns.toSeq)
    def text(logical: String) = trim(col(m(logical)).cast("string"))
    ListMap(
      "uf_sigla" -> upper(text("uf_sigla")),
      "product" -> text("product"),
      "date_ref" -> Locale.dayFirstTimestamp(text("date_ref")),
      "price" -> Locale.localeAwareDouble(text("price")))
  }

  /** The quality filters of [[anpRows]] over parsed columns `c`: no null
    * (nor a NaN price) and a positive price. */
  def anpValid(c: String => Column): Column =
    c("uf_sigla").isNotNull && c("product").isNotNull && c("date_ref").isNotNull &&
      !isnan(c("price")) && c("price") > 0

  /** Enrich ANP silver with the UF dimension (main.py:56, J1): broadcast
    * left join on the 27-row dim. */
  def enrichUf(anpSilver: DataFrame, ufDim: DataFrame): DataFrame =
    Relational.enrichLeft(anpSilver,
      ufDim.select(col("uf_sigla"), col("uf_nome"), col("regiao_nome")), "uf_sigla")

  /** Gold means quantize at 1e-6, not cents: fine-precision series (a
    * daily rate like 0.049041) would lose percent-level accuracy at
    * scale 2, and micro-units still keep the exactIntSum overflow
    * envelope (values to ~1e6) far beyond these sources' ranges. The
    * summary's ANP monthly means use the same scale. */
  val GoldAvgScale = 6

  /** Gold marts (transform.py:111-134): monthly aggregates. `last_value`
    * is value-at-max-date per month — `max_by`, the deterministic form of
    * the reference's order-dependent groupby `last` (value tiebreak makes
    * the pick total even if an upstream ever re-admits duplicate dates).
    * Means use [[graft.functions.Exact.exactAvg]]: a float `avg` is
    * partition-merge-order dependent, so the same input could hash
    * differently across runs — the marts carry the same determinism
    * contract as the oracle-checked queries. */
  def buildGold(bcbSilver: DataFrame, anpSilver: DataFrame): Map[String, DataFrame] = Map(
    "bcb_monthly" -> bcbSilver
      .withColumn("month", date_trunc("month", col("date")))
      .groupBy(col("series_id"), col("series_name"), col("month"))
      .agg(graft.functions.Exact.exactAvg(col("value"), GoldAvgScale).as("avg_value"),
        max_by(col("value"), struct(col("date"), col("value"))).as("last_value")),
    "anp_monthly" -> anpMonthly(anpSilver))

  /** The exact monthly mean price per (uf_sigla, product, month): the
    * `anp_monthly` mart, and the base of the summary's MoM changes. */
  def anpMonthly(anp: DataFrame): DataFrame = anp
    .withColumn("month", date_trunc("month", col("date_ref")))
    .groupBy(col("uf_sigla"), col("product"), col("month"))
    .agg(graft.functions.Exact.exactAvg(col("price"), GoldAvgScale).as("avg_price"))
}
