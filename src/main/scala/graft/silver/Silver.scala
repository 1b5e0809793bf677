package graft.silver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Locale
import graft.operators.Relational

/** Silver-tier standardization (reference src/transform.py): fixed output
  * contracts, locale-aware parsing, quality filters, deterministic dedup.
  * All pure `DataFrame => DataFrame`; Catalyst keeps pushdown freedom.
  */
object Silver {

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
    * quality filters. Non-empty exactly when the silver is, at the cost
    * of a scan instead of a shuffle. */
  def anpRows(raw: DataFrame): DataFrame = {
    val m = HeaderResolver.resolve(raw.columns.toSeq)
    raw.select(
      upper(trim(col(m("uf_sigla")).cast("string"))).as("uf_sigla"),
      trim(col(m("product")).cast("string")).as("product"),
      Locale.dayFirstTimestamp(trim(col(m("date_ref")).cast("string"))).as("date_ref"),
      Locale.localeAwareDouble(trim(col(m("price")).cast("string"))).as("price"))
      .na.drop(Seq("date_ref", "uf_sigla", "product", "price"))
      .filter(col("price") > 0)
  }

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
    "anp_monthly" -> anpSilver
      .withColumn("month", date_trunc("month", col("date_ref")))
      .groupBy(col("uf_sigla"), col("product"), col("month"))
      .agg(graft.functions.Exact.exactAvg(col("price"), GoldAvgScale).as("avg_price")))
}
