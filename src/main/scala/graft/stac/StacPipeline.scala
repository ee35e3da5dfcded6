package graft.stac

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two top-level verbs (cli.py) as library functions —
  * what a user of hls-stac-parquet would call after switching engines.
  *
  * `cacheDailyStacJsonLinks` (links.py:61-117): query the catalog for
  * one day (bbox + temporal pushdown), extract STAC JSON links, write
  * the daily link cache. The reference writes one JSON array per day;
  * here the cache is a date-partitioned parquet dataset of links —
  * same contract (list links for day X), but partition-prunable and
  * splittable at 100 TB.
  *
  * `writeMonthlyStacGeoparquet` (write.py:101-247): read a month of
  * cached links (partition pruning does the month filter), optionally
  * require completeness, spatially sort by Hilbert index, write the
  * monthly zstd parquet.
  */
object StacPipeline {

  /** One day of `collectionId`'s granules with their STAC JSON link
    * (links.py:61-117): the closed [00:00:00, 23:59:59] day window
    * (links.py:104-106), the optional bbox, and the first `protocol`
    * link ending in stac.json; granules without one are dropped.
    */
  private def dailyLinks(
      catalog: DataFrame,
      collectionId: String,
      date: String,
      bbox: Option[(Double, Double, Double, Double)],
      protocol: String): DataFrame = {
    val spark = catalog.sparkSession
    import spark.implicits._
    val inDay = catalog
      .filter($"collection" === collectionId)
      .filter($"ts" >= lit(s"$date 00:00:00").cast("timestamp") &&
        $"ts" <= lit(s"$date 23:59:59").cast("timestamp"))
    bbox.fold(inDay) { case (w, s, e, n) =>
      Validation.validateBbox(w, s, e, n)
      inDay.filter($"lon" >= w && $"lon" <= e && $"lat" >= s && $"lat" <= n)
    }.withColumn("stac_link",
        graft.functions.first_link($"links", protocol, "stac.json"))
      .filter($"stac_link".isNotNull)
  }

  def cacheDailyStacJsonLinks(
      spark: SparkSession,
      catalog: DataFrame, // granule feed: granule_id, collection, ts, lon, lat, links
      dest: String,
      collectionId: String,
      date: String, // YYYY-MM-DD
      bbox: Option[(Double, Double, Double, Double)] = None,
      protocol: String = "https",
      skipExisting: Boolean = false): Boolean = {
    import spark.implicits._
    val outPath = HlsCollections.dailyCachePath(dest, collectionId,
      java.time.LocalDate.parse(date))
    if (skipExisting && StacWrite.exists(spark, outPath)) return false
    dailyLinks(catalog, collectionId, date, bbox, protocol)
      .select($"granule_id", $"stac_link", $"lon", $"lat", $"ts")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    true
  }

  /** Byte-format-compatible daily cache: ONE JSON array file per day at
    * the reference's exact path
    * `links/{cid}/{y}/{m:02d}/{y}-{m:02d}-{d:02d}.json`
    * (constants.py:6-7, links.py:55-58) — for downstream consumers of
    * the original layout. A daily link list is small by construction
    * (the reference holds it in one Lambda), so the single-file write
    * is a deliberate, bounded driver-side step; the parquet cache
    * above is the scale path.
    */
  def writeDailyLinksJsonArray(
      spark: SparkSession,
      catalog: DataFrame,
      dest: String,
      collectionId: String,
      date: String,
      protocol: String = "https"): String = {
    import spark.implicits._
    val day = java.time.LocalDate.parse(date)
    val links = dailyLinks(catalog, collectionId, date, None, protocol)
      .select($"stac_link").orderBy($"stac_link")
      .as[String].collect()
    val path = f"$dest/${HlsCollections.linkPath(collectionId,
      day.getYear, day.getMonthValue, day.getDayOfMonth)}"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      val json = links.map(l =>
        "\"" + l.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ", ", "]")
      out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    path
  }

  /** Date-range fan-out (reference: infrastructure/lambda/
    * batch_publisher.py): the list of days to cache for a collection —
    * start defaults to the collection's origin date, end to
    * `today − 1`. Feed each day to [[cacheDailyStacJsonLinks]].
    */
  def dateRange(collection: HlsCollections.Collection,
                startDate: Option[String] = None,
                endDate: Option[String] = None,
                today: java.time.LocalDate = java.time.LocalDate.now())
      : Seq[String] = {
    val start = java.time.LocalDate.parse(
      startDate.getOrElse(collection.originDate))
    val end = endDate.map(java.time.LocalDate.parse)
      .getOrElse(today.minusDays(1))
    require(!start.isAfter(end), s"start_date $start after end_date $end")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end)).map(_.toString).toSeq
  }

  /** Read a month of daily link caches (partition-pruned). */
  def readMonthlyLinks(spark: SparkSession, dest: String,
                       collectionId: String, year: Int, month: Int): DataFrame = {
    import spark.implicits._
    val root = HlsCollections.linksRoot(dest)
    spark.read
      .option("basePath", root)
      .parquet(root)
      .filter($"collection" === collectionId &&
        $"year" === year && $"month" === month)
  }

  /** The reference's daily verb from the live source (links.py:61-117
    * composed from this repo's pieces): CMR page sweep (resumable
    * spool, A21) → STAC link extraction (A2's rule over CMR entries)
    * → daily link-cache write. Together with
    * [[fetchAndWriteMonthly]] this is the whole reference pipeline —
    * CMR → links → fetch → monthly geoparquet — with no dependence on
    * a pre-materialized catalog.
    */
  def cacheDailyLinksFromCmr(
      spark: SparkSession,
      fetcher: CmrSource.PageFetcher,
      spoolDir: String,
      dest: String,
      collectionId: String,
      date: String,
      protocol: String = "https",
      pageSize: Int = 2000,
      skipExisting: Boolean = false): Boolean = {
    import spark.implicits._
    val outPath = HlsCollections.dailyCachePath(dest, collectionId,
      java.time.LocalDate.parse(date))
    if (skipExisting && StacWrite.exists(spark, outPath)) return false
    CmrSource.spoolTo(spark, fetcher, spoolDir, pageSize)
    CmrSource.stacJsonLinks(CmrSource.entries(spark, spoolDir), protocol)
      .select($"granule_ur", $"stac_link")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    true
  }

  /** The reference's full runtime chain, link-cache → fetch → monthly
    * write (fetch.py feeding write.py:213–219): read the month's
    * cached links, fetch every STAC item through the injected
    * transport (bounded concurrency, per-netloc reuse, failures
    * separated — see [[StacFetch]]), write the successful items as
    * monthly geoparquet, and RETURN the failed links (url, error) for
    * accounting/retry — the (items, failed) contract of
    * fetch.py:78–88. The failed side is materialized before the
    * fetch cache is released, so each link is fetched exactly once
    * and no fetched bodies stay cached after the call.
    */
  def fetchAndWriteMonthly(
      spark: SparkSession,
      dest: String,
      collectionId: String,
      year: Int,
      month: Int,
      transport: StacFetch.Transport,
      version: String = "0.1",
      maxConcurrent: Int = 50): DataFrame = {
    val links = readMonthlyLinks(spark, dest, collectionId, year, month)
    StacFetch.fetchItemsScoped(links, "stac_link", transport,
        maxConcurrent) { (items, failed) =>
      StacWrite.writeMonthly(spark, items, dest, version, collectionId,
        year, month)
      failed.localCheckpoint(true)
    }
  }

  /** Month completeness (write.py:158-189): every expected day's link
    * cache exists ([[HlsCollections.expectedDays]]). The reference
    * compares link file paths, not data rows, so a day cached with
    * zero granules counts as present. Throws naming the missing days.
    */
  def requireCompleteLinks(spark: SparkSession, dest: String,
                           collectionId: String, year: Int, month: Int): Unit = {
    val missing = HlsCollections.expectedDays(collectionId, year, month)
      .filterNot(d => StacWrite.exists(spark,
        HlsCollections.dailyCachePath(dest, collectionId, d)))
    if (missing.nonEmpty) {
      throw new IllegalStateException(
        s"$collectionId $year-$month: missing daily link caches for " +
          s"days ${missing.map(_.getDayOfMonth).mkString(", ")}")
    }
  }

  /** Skip-existing comes first (write.py:148-151), then completeness
    * (write.py:158-189): an already-written month is skipped even if
    * its caches have since been pruned.
    */
  def writeMonthlyStacGeoparquet(
      spark: SparkSession,
      dest: String,
      collectionId: String,
      year: Int,
      month: Int,
      version: String = "0.1",
      requireCompleteLinks: Boolean = false,
      skipExisting: Boolean = false): Boolean = {
    import spark.implicits._
    if (skipExisting && StacWrite.exists(spark,
      StacWrite.monthPath(dest, version, collectionId, year, month)))
      return false
    if (requireCompleteLinks)
      this.requireCompleteLinks(spark, dest, collectionId, year, month)
    val monthly = readMonthlyLinks(spark, dest, collectionId, year, month)
      .withColumn("collection", lit(collectionId))
      .withColumn("url_stac", $"stac_link")
    StacWrite.writeMonthly(spark, monthly, dest, version, collectionId,
      year, month)
  }
}
