package graft.stac

import com.fasterxml.jackson.databind.ObjectMapper

/** The reference's job-message contract (handler.py:22-120): parse and
  * validate the JSON messages that drive cache-daily jobs. Mirrors the
  * reference's required/optional fields, defaults, and error wording,
  * so an operator can point their existing queue payloads at graft.
  *
  * Uses Jackson (already on the Spark classpath) — no extra deps.
  */
object StacJobs {

  final case class CacheDailyRequest(
      collection: HlsCollections.Collection,
      date: String, // YYYY-MM-DD, validated
      dest: Option[String],
      boundingBox: Option[(Double, Double, Double, Double)],
      protocol: String, // "s3" | "https", default "s3" (handler.py:104)
      skipExisting: Boolean) // default true (handler.py:109)

  private val mapper = new ObjectMapper()

  /** Reference error wording for bad dates (handler.py). */
  def parseDate(s: String): java.time.LocalDate =
    try java.time.LocalDate.parse(s) catch {
      case _: Exception => throw new IllegalArgumentException(
        s"Invalid date format: $s. Expected ISO format (YYYY-MM-DD)")
    }

  /** The one validator behind both request forms, the queue message
    * below and the CLI's positional arguments (`graft.Main`): date,
    * bbox arity and range, protocol. Defaults stay with each form —
    * the message defaults `protocol` to s3, the CLI to https.
    */
  def cacheDailyRequest(
      collection: HlsCollections.Collection,
      date: String,
      dest: Option[String],
      boundingBox: Option[Seq[Double]],
      protocol: String,
      skipExisting: Boolean): CacheDailyRequest = {
    val day = parseDate(date)
    val bbox = boundingBox.map { b =>
      if (b.length != 4) throw new IllegalArgumentException(
        s"Invalid bounding_box: expected 4 values, got ${b.length}")
      Validation.validateBbox(b(0), b(1), b(2), b(3))
      (b(0), b(1), b(2), b(3))
    }
    if (protocol != "s3" && protocol != "https") {
      throw new IllegalArgumentException(
        s"Invalid protocol: $protocol. Must be 's3' or 'https'")
    }
    CacheDailyRequest(collection, day.toString, dest, bbox, protocol,
      skipExisting)
  }

  def parseCacheDailyRequest(json: String): CacheDailyRequest = {
    import scala.jdk.CollectionConverters._
    val node = try mapper.readTree(json) catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"Invalid JSON message: ${e.getMessage}")
    }

    val collectionStr = Option(node.get("collection")).map(_.asText())
      .getOrElse(throw new IllegalArgumentException(
        "Missing required parameter: 'collection'"))
    val collection = HlsCollections.byName(collectionStr)

    val date = Option(node.get("date")).map(_.asText())
      .getOrElse(throw new IllegalArgumentException(
        "Missing required parameter: 'date'"))

    cacheDailyRequest(
      collection,
      date,
      dest = Option(node.get("dest")).map(_.asText()),
      boundingBox = Option(node.get("bounding_box")).map { arr =>
        if (arr.isArray) arr.elements().asScala.map(_.asDouble()).toSeq
        else Seq.empty
      },
      protocol = Option(node.get("protocol")).map(_.asText()).getOrElse("s3"),
      skipExisting = Option(node.get("skip_existing")).forall(_.asBoolean(true)))
  }
}
