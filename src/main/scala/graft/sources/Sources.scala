package graft.sources

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Locale

/** Source layer (reference src/extract.py): HTTP JSON fetchers behind an
  * injectable interface (the build environment is zero-egress, so tests
  * inject canned fixtures; production uses java.net.http), plus the
  * dialect-fallback CSV scan.
  *
  * Payload parsing is distributed from the first row: the raw JSON string
  * goes through `spark.read.json(Dataset[String])` with an explicit
  * schema — per-series payloads are small today, but the parse path is
  * already the one that scales to file-sized payloads.
  */
trait JsonFetcher {
  def fetch(url: String): String
}

/** Live HTTP fetcher (reference extract.py:26-29: 30 s timeout, raise on
  * HTTP error), with a bounded retry the reference lacks: at most
  * [[HttpJsonFetcher.MaxAttempts]] attempts with doubling backoff on a 5xx
  * response or an `IOException` (connection failures and timeouts
  * included). A 4xx, or any other non-2xx status, fails at once — asking
  * again will not change the answer. One `HttpClient` (and its connection
  * pool) serves every call of the fetcher. Tests use [[FixtureFetcher]]
  * or a local server. */
final class HttpJsonFetcher(timeoutSeconds: Long = 30L) extends JsonFetcher {
  import HttpJsonFetcher._

  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()

  override def fetch(url: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds)).GET().build()
    def attempt(n: Int): String = {
      val outcome =
        try Right(client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => Left(e) }
      outcome match {
        case Right(resp) if resp.statusCode() / 100 == 2 => resp.body()
        case Right(resp) if resp.statusCode() / 100 != 5 || n == MaxAttempts =>
          sys.error(s"HTTP ${resp.statusCode()} fetching $url (attempt $n of $MaxAttempts)")
        case Left(e) if n == MaxAttempts => throw e
        case _ =>
          Thread.sleep(BackoffMillis << (n - 1))
          attempt(n + 1)
      }
    }
    attempt(1)
  }
}

object HttpJsonFetcher {
  val MaxAttempts = 3
  /** Wait before the second attempt; doubles before each later one. */
  val BackoffMillis = 200L
}

/** Canned-payload fetcher for tests/offline runs. */
final case class FixtureFetcher(payloads: Map[String, String]) extends JsonFetcher {
  override def fetch(url: String): String =
    payloads.getOrElse(url, sys.error(s"no fixture for $url"))
}

/** BCB/SGS time-series source (reference extract.py:15-47, S1).
  * API shape: JSON array of {"data": "dd/MM/yyyy", "valor": "11,75"}. */
object BcbSource {
  private val BrDate = DateTimeFormatter.ofPattern("dd/MM/yyyy")

  /** Reference F6: ISO date params are reformatted dd/MM/yyyy for the API. */
  def url(seriesId: Long, startDateIso: String, endDateIso: String): String = {
    val s = LocalDate.parse(startDateIso).format(BrDate)
    val e = LocalDate.parse(endDateIso).format(BrDate)
    s"https://api.bcb.gov.br/dados/serie/bcdata.sgs.$seriesId/dados" +
      s"?formato=json&dataInicial=$s&dataFinal=$e"
  }

  private val payloadSchema = StructType.fromDDL("data STRING, valor STRING")

  /** Parse a raw payload into the bronze contract
    * (series_id, date, value); unparseable dates are dropped
    * (extract.py:46), values are pt-BR parsed (extract.py:39-45), an
    * empty array yields a typed empty frame (extract.py:33-34). */
  def fromPayload(spark: SparkSession, payload: String, seriesId: Long): DataFrame = {
    import spark.implicits._
    val rows = spark.read.schema(payloadSchema).json(Seq(payload).toDS())
    rows.select(
      lit(seriesId).as("series_id"),
      Locale.brDateTimestamp(col("data")).as("date"),
      Locale.ptBrToDouble(col("valor")).as("value"))
      .na.drop(Seq("date"))
  }
}

/** IBGE UF dimension source (reference extract.py:50-68, S2/F12):
  * nested JSON ({"id","sigla","nome","regiao":{"nome"}}) flattened to
  * (uf_id, uf_sigla, uf_nome, regiao_nome). */
object IbgeSource {
  val Url = "https://servicodados.ibge.gov.br/api/v1/localidades/estados"

  private val payloadSchema = StructType.fromDDL(
    "id BIGINT, sigla STRING, nome STRING, regiao STRUCT<id: BIGINT, sigla: STRING, nome: STRING>")

  /** The UF dimension contract, [[fromPayload]]'s output nullable as a
    * parquet read returns it: the read schema of its bronze copy. */
  val DimSchema: StructType = StructType.fromDDL(
    "uf_id BIGINT, uf_sigla STRING, uf_nome STRING, regiao_nome STRING")

  def fromPayload(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(payloadSchema).json(Seq(payload).toDS())
      .select(
        col("id").as("uf_id"),
        col("sigla").as("uf_sigla"),
        col("nome").as("uf_nome"),
        col("regiao.nome").as("regiao_nome"))
  }

  def fetch(spark: SparkSession, fetcher: JsonFetcher): DataFrame =
    fromPayload(spark, fetcher.fetch(Url))
}

/** JSONL document-corpus source — the de-facto LLM training-data
  * interchange format (one JSON document per line). Reads with an
  * EXPLICIT schema (never inference — a schema-inference pass over
  * 100 TB is a second full scan) in PERMISSIVE mode: a corrupt line
  * lands in `_corrupt` instead of failing the read, and
  * [[readWithAudit]] splits the frame into (good docs, corrupt-line
  * count) so ingestion can gate on the corruption rate rather than
  * discover it downstream. Scale shape: line-splittable text — every
  * executor reads its own byte range; gzip inputs work but are
  * non-splittable (one task per file), so shard compressed corpora.
  */
object JsonlDocs {
  import org.apache.spark.sql.types.StructType

  val Schema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schema.add("_corrupt", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** (valid documents, bad-line count).
    *
    * Neither side references `_corrupt`: Spark rejects any query whose
    * PRUNED scan touches only the corrupt-record column
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and under
    * `count()` every such filter prunes to exactly that — so the audit
    * counts non-blank text lines and subtracts the valid documents
    * instead. "Bad" therefore means: malformed JSON, or a parsed line
    * missing `doc_id`/`text` — a document without an id or body is not
    * ingestable either way (the schema contract). The returned frame
    * is a plain schema'd read with that validity filter: every
    * downstream action, including column-pruned `count()`, stays legal
    * and no cache is pinned. Use [[read]] (cached, per the Spark rule)
    * to inspect the raw corrupt lines themselves. */
  def readWithAudit(spark: SparkSession, path: String): (DataFrame, Long) = {
    val totalLines = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0).count()
    val good = spark.read
      .schema(Schema)
      .option("mode", "PERMISSIVE")
      .json(path)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    (good, totalLines - good.count())
  }
}

/** Dialect-fallback CSV scan (reference extract.py:71-88, S3): existence
  * check with an actionable error, try `;` then fall back to `,` — the
  * fallback triggers when the `;` parse collapses the header into a
  * single column. */
object CsvDialect {
  /** The actionable error for a missing drop. Same defaultFS-aware
    * resolution as the rest of the pipeline (Pipeline.pathExists):
    * `java.nio.file.Files.exists` sees only the local filesystem, so an
    * existing hdfs:///s3a:// (or file:-qualified) path would raise the
    * "file not found" error instead of being read. */
  def requireExists(spark: SparkSession, path: String): Unit =
    if (!graft.pipeline.Pipeline.pathExists(spark, path))
      throw new java.io.FileNotFoundException(
        s"ANP file not found: $path. Download the CSV and place it at this path.")

  def read(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    val semi = spark.read
      .option("header", "true").option("sep", ";").option("encoding", "UTF-8")
      .csv(path)
    if (semi.columns.length > 1) semi
    else spark.read
      .option("header", "true").option("sep", ",").option("encoding", "UTF-8")
      .csv(path)
  }
}
