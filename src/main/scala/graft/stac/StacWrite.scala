package graft.stac

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.hilbert_index

/** Monthly STAC-parquet sink (reference: write.py). Differences are
  * deliberate scale choices, not omissions:
  *   - the reference Hilbert-sorts the month's URLs in driver memory
  *     (write.py:196-211); here the spatial sort is a
  *     `repartitionByRange` + `sortWithinPartitions` on the Hilbert
  *     key — a sampling-based global order that never materializes the
  *     dataset on one node;
  *   - output is a year=/month= partitioned directory of zstd parquet
  *     (constants.py:8 PARQUET_PATH_FORMAT), so downstream readers get
  *     partition pruning instead of filename conventions.
  */
object StacWrite {

  /** Layout root for one collection+version, mirroring
    * `v{version}/{collection_id}/year=…/month=…` (constants.py:8).
    */
  def parquetRoot(dest: String, version: String, collectionId: String): String =
    s"$dest/v$version/$collectionId"

  /** One month's partition under [[parquetRoot]]. */
  def monthPath(dest: String, version: String, collectionId: String,
                year: Int, month: Int): String =
    s"${parquetRoot(dest, version, collectionId)}/year=$year/month=$month"

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write one month of items. Returns true if written, false when
    * skipped (`skipExisting`, reference: write.py:148-151). Month
    * completeness is a property of the daily link caches, not of the
    * items, and is checked by
    * [[StacPipeline.writeMonthlyStacGeoparquet]].
    */
  def writeMonthly(
      spark: SparkSession,
      items: DataFrame, // must carry: collection, ts, lon, lat, url_stac
      dest: String,
      version: String,
      collectionId: String,
      year: Int,
      month: Int,
      skipExisting: Boolean = false,
      spatialPartitions: Int = 16): Boolean = {
    import spark.implicits._
    if (skipExisting &&
      exists(spark, monthPath(dest, version, collectionId, year, month)))
      return false

    val monthStart = LocalDate.of(year, month, 1)
    items
      .filter($"collection" === collectionId)
      .filter(to_date($"ts") >= lit(monthStart.toString).cast("date") &&
        to_date($"ts") < lit(monthStart.plusMonths(1).toString).cast("date"))
      // geoparquet geometry column (WKB point of the granule centroid)
      .withColumn("geometry", graft.functions.wkb_point($"lon", $"lat"))
      .withColumn("gx", floor(($"lon" + 180.0) / 360.0 * 16384).cast("int"))
      .withColumn("gy", floor(($"lat" + 90.0) / 180.0 * 16384).cast("int"))
      .withColumn("cluster_key", hilbert_index($"gx", $"gy", 14))
      .withColumn("year", lit(year))
      .withColumn("month", lit(month))
      .repartitionByRange(spatialPartitions, $"cluster_key")
      .sortWithinPartitions($"cluster_key")
      .drop("gx", "gy")
      .write
      // GeoParquet sink: stock parquet bytes + `geo` footer metadata
      // with per-file bbox, zstd level pinned to 6 (write.py:219, 243)
      .format("geoparquet")
      .mode("overwrite")
      // only replace the partitions present in this batch — a monthly
      // job must never clobber sibling months under the same root
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("year", "month")
      .save(parquetRoot(dest, version, collectionId))
    true
  }
}

/** A14 — collection registry (reference: constants.py). */
object HlsCollections {
  final case class Collection(name: String, conceptId: String,
                              collectionId: String, originDate: String)

  val HLSL30: Collection = Collection(
    "HLSL30", "C2021957657-LPCLOUD", "HLSL30_2.0", "2013-04-11")
  val HLSS30: Collection = Collection(
    "HLSS30", "C2021957295-LPCLOUD", "HLSS30_2.0", "2015-11-28")

  val all: Seq[Collection] = Seq(HLSL30, HLSS30)
  def byName(name: String): Collection =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"Invalid collection: $name. Must be 'HLSL30' or 'HLSS30'"))

  /** links/{cid}/{y}/{m}/{y}-{m}-{d}.json (constants.py:6-7). */
  def linkPath(collectionId: String, year: Int, month: Int, day: Int): String =
    f"links/$collectionId/$year/$month%02d/$year-$month%02d-$day%02d.json"

  /** Daily link cache root (mirrors LINK_PATH_PREFIX, constants.py:6). */
  def linksRoot(dest: String): String = s"$dest/links"

  /** One day's link cache: the `collection=/year=/month=/day=`
    * partition under [[linksRoot]].
    */
  def dailyCachePath(dest: String, collectionId: String,
                     day: LocalDate): String =
    s"${linksRoot(dest)}/collection=$collectionId/year=${day.getYear}/" +
      s"month=${day.getMonthValue}/day=${day.getDayOfMonth}"

  /** The days a month's link caches must cover (write.py:158-189):
    * every day of the month, from the origin day in the collection's
    * origin month (COLLECTION_ORIGIN_DATES, constants.py:11-14).
    */
  def expectedDays(collectionId: String, year: Int, month: Int): Seq[LocalDate] = {
    val monthStart = LocalDate.of(year, month, 1)
    val first = all.find(_.collectionId == collectionId)
      .map(c => LocalDate.parse(c.originDate))
      .filter(o => o.getYear == year && o.getMonthValue == month)
      .getOrElse(monthStart)
    Iterator.iterate(first)(_.plusDays(1))
      .takeWhile(_.getMonthValue == month).toSeq
  }
}
