package graft.pipeline

import java.time.format.DateTimeFormatter
import java.util.Locale.ROOT

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.silver.Silver

/** Rule-based analytics report (reference src/summary.py): latest value +
  * absolute MoM delta for the target series, then top-3 ANP MoM increases
  * of the latest month, in the reference's exact text shape
  * (data/gold/summary.md).
  *
  * Everything aggregates in Spark first — only the final handful of rows
  * is collected (the report is inherently driver-side); formatting is
  * locale-pinned (`Locale.ROOT`) so pt-BR JVMs don't flip decimal commas.
  * The ANP monthly means are the gold mart's ([[Silver.anpMonthly]]), so
  * the text does not depend on merge order either.
  */
object Summary {

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private def f2(v: Double): String = String.format(ROOT, "%.2f", Double.box(v))
  private def f2s(v: Double): String = String.format(ROOT, "%+.2f", Double.box(v))
  private def day(ts: java.sql.Timestamp): String =
    ts.toLocalDateTime.toLocalDate.format(DateFmt)

  def build(bcbSilver: DataFrame, anpSilver: DataFrame,
            targetName: String = "selic_sgs_11"): String = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- BCB/SGS: latest value + MoM (summary.py:12-48) ----
    if (bcbSilver.isEmpty) {
      lines += "BCB/SGS - sem dados para o período."
    } else {
      // rows whose value failed to parse (coerced null) cannot be
      // reported — without this, getAs[Double] would unbox null to 0.0
      // and fabricate a "último valor = 0.00" line
      val serie = bcbSilver.filter(lower(col("series_name")) === targetName.toLowerCase(ROOT)
        && col("value").isNotNull)
      val latest = serie
        .orderBy(col("date").desc_nulls_last, col("value").desc_nulls_last).limit(1)
        .collect()
      if (latest.isEmpty) {
        lines += s"BCB/SGS - série '$targetName' não encontrada no período."
      } else {
        val r = latest.head
        val id = r.getAs[Long]("series_id")
        val name = r.getAs[String]("series_name")
        lines += s"BCB/SGS (série $id) - $name: último valor em " +
          s"${day(r.getAs[java.sql.Timestamp]("date"))} = ${f2(r.getAs[Double]("value"))}."
        // last observation of each month (A5), then the last two months' delta
        val lastByMonth = Relational.latestPerGroup(
          serie.withColumn("month", date_trunc("month", col("date"))),
          keys = Seq("month"), order = Seq(col("date"), col("value")))
          .orderBy(col("month").desc_nulls_last).limit(2)
          .orderBy(col("month"))
          .collect()
        if (lastByMonth.length >= 2) {
          val delta = lastByMonth(1).getAs[Double]("value") - lastByMonth(0).getAs[Double]("value")
          lines += s"Variação vs mês anterior: ${f2s(delta)} (variação absoluta)."
        }
      }
    }

    // ---- ANP: top-3 MoM increases of the latest month (summary.py:53-88) ----
    if (anpSilver.isEmpty) {
      lines += "ANP - sem dados para o período."
    } else {
      val valid = anpSilver.na.drop(Seq("date_ref"))
      if (valid.isEmpty) {
        lines += "ANP - Sem dados válidos para o período."
      } else {
        val mom = Relational.momChange(Silver.anpMonthly(valid),
          Seq("uf_sigla", "product"), "avg_price")
        val mx = mom.agg(max(col("month")).as("__mx"))
        val top = Relational.topK(
          mom.join(broadcast(mx), col("month") === col("__mx"))
            .filter(col("mom_change").isNotNull),
          k = 3, metricDesc = "mom_change", tieBreakers = Seq("uf_sigla", "product"))
          .collect()
        if (top.isEmpty) {
          lines += "ANP - Sem variação mensal suficiente para destacar no período."
        } else {
          lines += s"ANP - Destaques de ${day(top.head.getAs[java.sql.Timestamp]("month"))}:"
          top.foreach { r =>
            lines += s"- ${r.getAs[String]("uf_sigla")} / ${r.getAs[String]("product")}: " +
              s"variação média ${f2s(r.getAs[Double]("mom_change"))} (vs mês anterior)."
          }
        }
      }
    }

    val text = lines.mkString("\n").trim
    if (text.nonEmpty) text
    else "Resumo indisponível: não houve dados suficientes após o ETL."
  }
}
