package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What a stateful run's extract step read, kept beside bronze
  * (`bronze/`[[ExtractRecord.Name]]) so that the next run can prove an
  * empty increment without reading a source through Spark.
  *
  * The rule: the same source bytes, filtered by the same mark, give the
  * same rows. An entry that counted 0 rows past its mark, for the bytes
  * and the mark the run sees now, with its bronze files still the ones
  * that run wrote, says the extract would write the same 0-row bronze
  * again — so the run reuses what is on disk (see [[Pipeline]],
  * INCREMENTAL TIER MAINTENANCE).
  *
  * @param seriesCsv the series control CSV's digest with its parsed
  *                  (series_id, series_name) list of enabled series
  * @param sources   one entry per bronze table (`bcb_sgs_<id>`, `anp_raw`)
  */
final case class ExtractRecord(
    seriesCsv: Option[(String, Seq[(Long, String)])],
    sources: Map[String, ExtractRecord.Source]) {

  /** The enabled series, when this record parsed a control CSV with the
    * same digest. */
  def series(sha256: String): Option[Seq[(Long, String)]] =
    seriesCsv.collect { case (d, s) if d == sha256 => s }

  /** True when `name`'s entry proves an empty increment for content
    * `sha256` under `mark`, with `bronze` the table's listing now. */
  def replays(name: String, sha256: String, mark: Option[String], bronze: JValue): Boolean =
    sources.get(name).exists { s =>
      s.rows.contains(0L) && s.sha256 == sha256 && s.mark == mark &&
        JsonMethods.compact(s.bronze) == JsonMethods.compact(bronze)
    }
}

object ExtractRecord {
  val Name = "_extract.json"

  val empty: ExtractRecord = ExtractRecord(None, Map.empty)

  /** One source's extract: the SHA-256 of its content, the mark applied,
    * the rows that passed it and reach silver (counted on every extract;
    * None only in a record written before ANP was counted, which
    * therefore never replays) and the bronze files it left, as [name,
    * length, modification time]. */
  final case class Source(sha256: String, mark: Option[String], rows: Option[Long],
                          bronze: JValue)

  def toJson(r: ExtractRecord): String = {
    def opt[T](v: Option[T])(f: T => JValue): JValue = v.fold[JValue](JNull)(f)
    JsonMethods.compact(JObject(
      "series_csv" -> opt(r.seriesCsv) { case (d, s) => JObject(
        "sha256" -> JString(d),
        "series" -> JArray(s.map { case (id, n) =>
          JArray(List(JInt(id), opt(Option(n))(JString(_)))) }.toList)) },
      "sources" -> JObject(r.sources.toSeq.sortBy(_._1).map { case (k, s) => k -> JObject(
        "sha256" -> JString(s.sha256), "mark" -> opt(s.mark)(JString(_)),
        "rows" -> opt(s.rows)(JInt(_)), "bronze" -> s.bronze) }: _*)))
  }

  def fromJson(json: String): ExtractRecord = {
    val v = JsonMethods.parse(json)
    def str(j: JValue): Option[String] = j match { case JString(s) => Some(s); case _ => None }
    val csv = (v \ "series_csv" \ "sha256", v \ "series_csv" \ "series") match {
      case (JString(d), JArray(rows)) => Some(d -> rows.map {
        case JArray(List(JInt(id), n)) => id.toLong -> str(n).orNull
        case other => sys.error(s"bad series entry $other")
      })
      case _ => None
    }
    val sources = (v \ "sources") match {
      case JObject(kv) => kv.map { case (k, s) =>
        k -> Source(str(s \ "sha256").getOrElse(sys.error(s"no digest for $k")), str(s \ "mark"),
          (s \ "rows") match { case JInt(n) => Some(n.toLong); case _ => None }, s \ "bronze")
      }.toMap
      case _ => Map.empty[String, Source]
    }
    ExtractRecord(csv, sources)
  }

  /** The record at `path`; [[empty]] (every source extracts) when there is
    * none or it cannot be read or parsed ([[Pipeline.readHint]]). */
  def read(spark: SparkSession, path: String): ExtractRecord =
    Pipeline.readHint(spark, path)(fromJson).getOrElse(empty)

  /** Publish `r` at `path` ([[Pipeline.publishText]]); a record whose
    * text is already there is not rewritten. A crash between the delete
    * and the rename leaves no record, which only makes the next run
    * extract. */
  def write(spark: SparkSession, path: String, r: ExtractRecord): Unit = {
    val text = toJson(r)
    if (!Pipeline.readHint(spark, path)(identity).contains(text))
      Pipeline.publishText(spark, path, text, _ + ".__tmp", "extract record: failed to publish")
  }

  def sha256(text: String): String =
    java.util.HexFormat.of().formatHex(
      MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8)))

  /** SHA-256 of the file at `path`, streamed once through the Hadoop
    * FileSystem API. For a directory (Spark reads every visible file in
    * it) each visible file adds its relative name, length and bytes, in
    * name order. */
  def fileSha256(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = TierCommit.fsOf(spark, p)
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    def add(f: Path): Unit = {
      val in = fs.open(f)
      try {
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    if (fs.getFileStatus(p).isFile) add(p)
    else Pipeline.visibleFiles(spark, path).foreach { case (rel, len, _) =>
      md.update(s"$rel\u0000$len\u0000".getBytes(StandardCharsets.UTF_8))
      add(new Path(p, rel.stripPrefix("/")))
    }
    java.util.HexFormat.of().formatHex(md.digest())
  }
}
