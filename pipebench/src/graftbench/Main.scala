package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.stac.{GeoParquetRead, StacFetch, StacPipeline, StacWrite}

/** One workload: the collection-months it generates, how it is served, and
  * the fewest loop rounds a run makes (cycles, builds or blocks of three
  * queries), so that every median has enough samples whatever `--seconds` is.
  */
final case class Workload(
    name: String,
    months: Seq[CollectionMonth],
    otherCollectionShare: Double,
    baseMs: Int,
    slowMs: Int,
    queriesPerBuild: Int,
    minRounds: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // the monthly cycle on a dense month: link caching and the CPU side
    // of fetch, parse, sort and encode; GETs cost nothing. A cycle takes
    // about as long as a run measures or longer, and at least two are made,
    // so every run makes exactly two, whatever the machine's speed.
    Workload("ingest_month", Seq(CollectionMonth("HLSS30_2.0", 2023, 6, 8000)),
      otherCollectionShare = 0.5, baseMs = 0, slowMs = 0, queriesPerBuild = 6, minRounds = 2),
    // month builds that wait on GETs: 5 ms each, plus 100 ms for 2 % of URLs
    Workload("fetch_wait", Seq(CollectionMonth("HLSS30_2.0", 2023, 6, 3000)),
      otherCollectionShare = 0.0, baseMs = 5, slowMs = 100, queriesPerBuild = 4, minRounds = 3),
    // footer-pruned reads of an archive of several collection-months
    Workload("bbox_read", (3 to 7).map(m => CollectionMonth("HLSS30_2.0", 2023, m, 3000)),
      otherCollectionShare = 0.0, baseMs = 0, slowMs = 0, queriesPerBuild = 0, minRounds = 4))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString(", ")})"))
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

object Main {
  /** End-to-end metrics, printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "daily_call_s_p50" -> "s", "daily_call_s_p90" -> "s",
    "month_cycle_s" -> "s", "month_items_per_s" -> "items/s", "bytes_per_item" -> "bytes",
    "bbox_query_s_p50" -> "s", "bbox_query_s_p90" -> "s", "peak_rss_mb" -> "MB")

  /** Per-layer metrics, printed with `--trace 1`. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.max_concurrent_tasks" -> "count", "spark.planning_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "links.call_s" -> "s", "links.rows_scanned" -> "count", "links.rows_written" -> "count",
    "links.files_written" -> "count", "links.bytes_written" -> "bytes",
    "month_read.s" -> "s", "month_read.files" -> "count", "month_read.partitions" -> "count",
    "fetch.s" -> "s", "fetch.gets" -> "count", "fetch.gets_per_link" -> "ratio", "fetch.opens" -> "count",
    "fetch.get_busy_s" -> "s", "fetch.inflight_max" -> "count", "fetch.inflight_mean" -> "count",
    "fetch.failed_injected" -> "count", "fetch.failed_other" -> "count",
    "parse.s" -> "s", "parse.items" -> "count", "parse.malformed" -> "count",
    "parse.geom_null" -> "count", "parse.sun_null" -> "count", "geom_missing_frac" -> "ratio",
    "sort.s" -> "s", "sort.sample_jobs" -> "count", "sort.shuffle_bytes" -> "bytes",
    "sort.partitions_nonempty" -> "count", "sort.max_partition_rows_frac" -> "ratio",
    "sink.s" -> "s", "sink.files" -> "count", "sink.bytes" -> "bytes", "sink.rows_per_file_max" -> "count",
    "sink.footer_bbox_files" -> "count", "sink.footer_bbox_area_mean" -> "deg2",
    "footer.list_s" -> "s", "footer.files" -> "count", "footer.distributed" -> "count",
    "scan.s" -> "s", "scan.files_kept_frac" -> "ratio", "scan.rows_scanned" -> "count",
    "scan.rows_returned_frac" -> "ratio", "scan.bytes_read" -> "bytes",
    "cache.retained_bytes" -> "bytes", "cache.retained_rdds" -> "count",
    "failed_op_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = m.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(Workload.named(need("workload")).name, need("seed").toLong, need("seconds").toDouble,
      trace, Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val a = parse(args)
        new Bench(a).run()
      } catch {
        case e: IllegalArgumentException => System.err.println(s"[pipebench] ${e.getMessage}"); 2
        case e: Throwable => e.printStackTrace(); 2
      }
    System.out.flush()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def json(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
}

/** Files of one written directory, read from their parquet footers. */
final case class FileStat(bytes: Long, rows: Long, bbox: Option[(Double, Double, Double, Double)])

/** One run of one workload. */
final class Bench(a: Args) {
  import Main._

  /** Untimed queries on the `bbox_read` archive before the loop. */
  private val ArchiveWarmQueries = 4

  private val wl = Workload.named(a.workload)
  private val nproc = Runtime.getRuntime.availableProcessors
  private val data = a.work.resolve("data")
  private def uri(p: Path): String = p.toUri.toString

  // end-to-end samples
  private val daily = mutable.ArrayBuffer.empty[Double]
  private val builds = mutable.ArrayBuffer.empty[Double]
  private val itemsPerS = mutable.ArrayBuffer.empty[Double]
  private val bytesPerItem = mutable.ArrayBuffer.empty[Double]
  private val cycles = mutable.ArrayBuffer.empty[Double]
  private val queries = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0
  private var failed = 0
  // per-layer samples, one per operation
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private var lastWritten: Seq[WrittenRow] = Nil // rows of the last month build, for read-back checks
  private var pairs = 0
  private var tracedTotal = 0.0
  private var untracedTotal = 0.0

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  private def log(msg: String): Unit = System.err.println(s"[pipebench] $msg")

  /** Collect the heap outside the timed calls, so that an old-generation
    * collection owed by earlier work does not land at a random point of the
    * next round. Young collections still fall inside the calls that cause them.
    */
  private def quiesce(): Unit = System.gc()

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def stamp(when: String): Unit = {
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(",")
    log(s"""stamp {"when":"$when","workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"cpus":$nproc,"loadavg":[$load],"heap_max_mb":${Runtime.getRuntime.maxMemory >> 20}}""")
  }

  /** Count one operation: any exception or check problem fails it. Caches
    * still held afterwards are recorded and then released.
    */
  private def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) {
      failed += 1
      log(s"FAILED $what: ${problems.mkString("; ")}")
    }
    val infos = spark.sparkContext.getRDDStorageInfo
    sample("cache.retained_bytes", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
    sample("cache.retained_rdds", infos.length.toDouble)
    spark.catalog.clearCache()
  }

  // ---------------------------------------------------------------- inputs

  private val feedSchema = StructType(Seq(
    StructField("granule_id", StringType), StructField("collection", StringType),
    StructField("ts", TimestampType), StructField("lon", DoubleType), StructField("lat", DoubleType),
    StructField("links", ArrayType(StringType))))

  /** Write the feed as time-sorted parquet, one file per four days. */
  private def writeFeed(in: Inputs, dir: Path): Unit = {
    val rows = in.feed.map { g =>
      val ts = new java.sql.Timestamp(g.tsMicros / 1000)
      ts.setNanos((g.tsMicros % 1000000L).toInt * 1000)
      Row(g.id, g.collection, ts, g.lon, g.lat, g.links)
    }
    val days = in.feed.map(_.day).distinct.size
    val files = math.max(1, (days + 3) / 4)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), feedSchema)
      .write.mode("overwrite").parquet(uri(dir))
  }

  private def monthDir(dest: Path, cm: CollectionMonth): Path =
    dest.resolve(s"v0.1/${cm.collection}/year=${cm.year}/month=${cm.month}")

  private def fileStats(dir: Path): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(uri(dir))
    val it = root.getFileSystem(conf).listFiles(root, true)
    val out = Seq.newBuilder[FileStat]
    val bboxRe = """"bbox":\[([^\]]+)\]""".r
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val footer = r.getFooter
          val geo = Option(footer.getFileMetaData.getKeyValueMetaData.get("geo"))
          val bbox = geo.flatMap(bboxRe.findFirstMatchIn).map { m =>
            val b = m.group(1).split(',').map(_.trim.toDouble); (b(0), b(1), b(2), b(3))
          }
          out += FileStat(f.getLen, footer.getBlocks.asScala.map(_.getRowCount).sum, bbox)
        } finally r.close()
      }
    }
    out.result()
  }

  /** Record what a month build wrote: bytes per item, and the sort and sink
    * layer counts taken from the written files.
    */
  private def sinkSamples(files: Seq[FileStat], rows: Long, seconds: Double, traced: Boolean): Unit = {
    val bytes = files.map(_.bytes).sum
    if (!traced) {
      builds += seconds
      itemsPerS += rows / seconds
      bytesPerItem += bytes.toDouble / math.max(1L, rows)
    }
    val nonEmpty = files.filter(_.rows > 0)
    sample("sort.partitions_nonempty", nonEmpty.size)
    sample("sort.max_partition_rows_frac",
      if (rows == 0) 0.0 else nonEmpty.map(_.rows).maxOption.getOrElse(0L).toDouble / rows)
    sample("sink.files", files.size)
    sample("sink.bytes", bytes.toDouble)
    sample("sink.rows_per_file_max", files.map(_.rows).maxOption.getOrElse(0L).toDouble)
    val boxed = files.flatMap(_.bbox)
    sample("sink.footer_bbox_files", boxed.size)
    sample("sink.footer_bbox_area_mean",
      if (boxed.isEmpty) 0.0 else boxed.map { case (x0, y0, x1, y1) => (x1 - x0) * (y1 - y0) }.sum / boxed.size)
  }

  // ----------------------------------------------------------- operations

  private def dayDir(dest: Path, collection: String, day: LocalDate): Path =
    dest.resolve(s"links/collection=$collection/year=${day.getYear}/month=${day.getMonthValue}/day=${day.getDayOfMonth}")

  /** One `cache-daily-links` call per day of `cm`, each one operation.
    * The calls come first; then one read of the month's caches checks every
    * day's link set. Returns the summed call time.
    */
  private def dailyCalls(in: Inputs, feed: DataFrame, dest: Path, cm: CollectionMonth, traced: Boolean): Double = {
    val tr = tracer.filter(_ => traced)
    val calls = cm.days.map { day =>
      val call = () => StacPipeline.cacheDailyStacJsonLinks(spark, feed, uri(dest), cm.collection, day.toString)
      day -> (try Right(tr match {
        case Some(tr) =>
          val op = tr.newOp()
          val s = time(tr.span("StacPipeline.cacheDailyStacJsonLinks", op)(call()))._2
          tr.settle()
          val sp = tr.all.filter(_.op == op).head
          sample("links.call_s", sp.seconds)
          sample("links.rows_scanned", sp.inRecords.toDouble)
          sample("links.rows_written", sp.outRecords.toDouble)
          sample("links.bytes_written", sp.outBytes.toDouble)
          sample("links.files_written", fileStats(dayDir(dest, cm.collection, day)).size)
          sparkSamples(tr, sp)
          s
        case None => time(call())._2
      }) catch { case NonFatal(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
    }
    // no readable cache at all fails every day's check below
    val found =
      try spark.read.parquet(uri(dayDir(dest, cm.collection, cm.days.head).getParent))
        .select("day", "stac_link").collect().groupBy(_.getInt(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSeq }
      catch { case NonFatal(e) => log(s"daily caches unreadable: $e"); Map.empty[Int, Seq[String]] }
    calls.foreach { case (day, r) =>
      attempt(s"daily ${cm.collection} $day${if (traced) " (traced)" else ""}") {
        r match {
          case Left(err) => Seq(err)
          case Right(s) =>
            if (!traced) daily += s
            Check.ids("daily link", in.daily(cm.collection, day), found.getOrElse(day.getDayOfMonth, Nil))
        }
      }
    }
    calls.map(_._2.getOrElse(0.0)).sum
  }

  private def sparkSamples(tr: Tracer, root: Span): Unit = {
    val sub = tr.subtree(root)
    sample("spark.jobs", sub.map(_.jobs).sum)
    sample("spark.stages", sub.map(_.stages).sum)
    sample("spark.tasks", sub.map(_.tasks).sum)
    sample("spark.max_concurrent_tasks", sub.map(_.maxConcurrent).max)
    sample("spark.planning_s", sub.map(_.planningMs).sum / 1000.0)
    sample("spark.gc_s", root.gcMs / 1000.0)
    sample("spark.shuffle_write_bytes", sub.map(_.shuffleWrite).sum.toDouble)
    sample("spark.spill_bytes", sub.map(_.spill).sum.toDouble)
  }

  private def readWritten(dir: Path): Seq[WrittenRow] = {
    val hrefs = concat_ws("|", array_sort(transform(map_entries(col("assets")),
      e => concat(e.getField("key"), lit("="), e.getField("value").getField("href")))))
    spark.read.parquet(uri(dir)).select(
      col("url_stac"), col("item_id"), unix_micros(col("ts")), col("cloud_cover").cast("long"),
      col("sun_azimuth").cast("double"), col("sun_elevation").cast("double"),
      crc32(hrefs.cast("binary")), col("geometry"),
      col("lon").cast("double"), col("lat").cast("double"))
      .collect().toSeq.map { r =>
        def opt[T](i: Int)(f: Int => T): Option[T] = if (r.isNullAt(i)) None else Some(f(i))
        WrittenRow(r.getString(0), r.getString(1), opt(2)(r.getLong), opt(3)(r.getLong),
          opt(4)(r.getDouble), opt(5)(r.getDouble), opt(6)(r.getLong),
          if (r.isNullAt(7)) null else r.getAs[Array[Byte]](7),
          if (r.isNullAt(8)) Double.NaN else r.getDouble(8),
          if (r.isNullAt(9)) Double.NaN else r.getDouble(9))
      }
  }

  private def fetchSamples(links: Int): Unit = {
    import BenchStore._
    sample("fetch.gets", gets.get.toDouble)
    sample("fetch.gets_per_link", if (links == 0) 0.0 else gets.get.toDouble / links)
    sample("fetch.opens", opens.get.toDouble)
    sample("fetch.get_busy_s", busyNanos.get / 1e9)
    sample("fetch.inflight_max", inflightMax.get.toDouble)
    sample("fetch.inflight_mean", inflightMean)
    sample("fetch.failed_injected", failedInjected.get.toDouble)
    sample("fetch.failed_other", failedOther.get.toDouble)
    val refetched = perUrl.values.asScala.count(_.get > 1)
    val netlocs = perNetloc.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.get}" }.mkString(",")
    log(s"fetch: gets=${gets.get} links=$links refetched_urls=$refetched opens=$netlocs " +
      s"injected=${failedInjected.get} other=${failedOther.get} inflight_max=${inflightMax.get}")
  }

  /** Force the fetch cache `fetchItems` persists, without parsing: the
    * failed side's plan reads it through an `InMemoryRelation`.
    */
  private def forceFetchCache(failedSide: DataFrame): Unit =
    failedSide.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r } match {
      case Some(r) => r.cacheBuilder.cachedColumnBuffers.count()
      case None => log("no fetch cache in the failed side's plan; fetch time lands in parse")
    }

  /** One month build (`fetchAndWriteMonthly`), or with `traced` its replay
    * as the component public calls, each forced by an action.
    */
  private def monthBuild(in: Inputs, dest: Path, cm: CollectionMonth, traced: Boolean): Double = {
    val expected = in.cached(cm)
    var secs = 0.0
    BenchStore.reset()
    attempt(s"month build ${cm.label}${if (traced) " (traced)" else ""}") {
      val failedRows = tracer.filter(_ => traced) match {
        case None =>
          val (f, s) = time(StacPipeline.fetchAndWriteMonthly(spark, uri(dest), cm.collection, cm.year, cm.month,
            new BenchTransport).collect())
          secs = s
          f
        case Some(tr) =>
          val op = tr.newOp()
          var links: DataFrame = null
          val (f, s) = time(tr.span("fetchAndWriteMonthly", op) {
            links = tr.span("StacPipeline.readMonthlyLinks") {
              val l = StacPipeline.readMonthlyLinks(spark, uri(dest), cm.collection, cm.year, cm.month)
              l.write.format("noop").mode("overwrite").save()
              l
            }
            val (items, failedSide) = tr.span("StacFetch.fetchItems") {
              val r = StacFetch.fetchItems(links, "stac_link", new BenchTransport)
              forceFetchCache(r._2)
              r
            }
            // the parsed items are kept, so that the sort and the sink read
            // parsed rows and parsing is timed in this span alone
            val f = tr.span("StacFetch.fetchItems.parse") {
              items.persist(StorageLevel.MEMORY_AND_DISK)
              items.write.format("noop").mode("overwrite").save()
              failedSide.collect()
            }
            try tr.span("StacWrite.writeMonthly") {
              StacWrite.writeMonthly(spark, items, uri(dest), "0.1", cm.collection, cm.year, cm.month)
            } finally items.unpersist(blocking = true)
            f
          })
          secs = s
          tr.settle()
          val spans = tr.all.filter(_.op == op)
          def self(name: String) = spans.find(_.name == name).map(tr.selfSeconds).getOrElse(0.0)
          sample("month_read.s", self("StacPipeline.readMonthlyLinks"))
          sample("month_read.files", links.inputFiles.length)
          sample("month_read.partitions", links.rdd.getNumPartitions)
          sample("fetch.s", self("StacFetch.fetchItems"))
          sample("parse.s", self("StacFetch.fetchItems.parse"))
          writeSamples(tr, spans.find(_.name == "StacWrite.writeMonthly").get)
          sparkSamples(tr, spans.find(_.name == "fetchAndWriteMonthly").get)
          f
      }
      fetchSamples(expected.size)
      val failedSide = failedRows.map(r => (r.getString(0), r.getString(1))).toSeq
      val written = readWritten(monthDir(dest, cm))
      lastWritten = written
      val chk = Check.month(expected, written, failedSide)
      sinkSamples(fileStats(monthDir(dest, cm)), written.size, secs, traced)
      sample("parse.items", chk.written)
      sample("parse.malformed", chk.malformed)
      sample("parse.geom_null", chk.geomNull)
      sample("parse.sun_null", chk.sunNull)
      sample("geom_missing_frac", if (chk.written == 0) 0.0 else chk.geomMissing.toDouble / chk.written)
      log(f"month build ${cm.label}: ${secs}%.3f s, written=${chk.written} failed=${chk.failed} " +
        s"geom_missing=${chk.geomMissing} sun_null=${chk.sunNull}")
      chk.problems
    }
    secs
  }

  /** Sort and sink time of one `writeMonthly` span: the jobs that write no
    * output (range sampling, shuffle map) are the sort; the rest is the sink.
    */
  private def writeSamples(tr: Tracer, s: Span): Unit = {
    val sortJobs = s.jobStats.filter(_.outBytes == 0)
    val sortS = sortJobs.map(j => (j.endMs - j.startMs) / 1000.0).sum
    sample("sort.s", sortS)
    sample("sort.sample_jobs", sortJobs.count(_.shuffleBytes == 0))
    sample("sort.shuffle_bytes", s.shuffleWrite.toDouble)
    sample("sink.s", math.max(0.0, tr.selfSeconds(s) - sortS))
  }

  /** The archive rows of `m`: the month's cached links when it is built
    * from the daily caches, else all its feed rows.
    */
  private def archiveRows(in: Inputs, m: CollectionMonth): Seq[Granule] =
    if (m == wl.months.head) in.cached(m) else in.of(m)

  /** One archive month, from the feed's lon/lat: through the link caches
    * (`writeMonthlyStacGeoparquet`) or from the feed itself
    * (`StacWrite.writeMonthly`, which both monthly paths call).
    */
  private def archiveBuild(in: Inputs, feed: DataFrame, dest: Path, cm: CollectionMonth, fromCaches: Boolean): Unit = {
    attempt(s"archive build ${cm.label}") {
      val call: () => Unit =
        if (fromCaches) () => StacPipeline.writeMonthlyStacGeoparquet(spark, uri(dest), cm.collection, cm.year, cm.month)
        else {
          val items = feed.withColumn("url_stac",
            element_at(filter(col("links"), l => l.startsWith("https://") && l.endsWith("stac.json")), 1))
          () => StacWrite.writeMonthly(spark, items, uri(dest), "0.1", cm.collection, cm.year, cm.month)
        }
      val secs = tracer match {
        case Some(tr) =>
          val op = tr.newOp()
          val s = tr.attached(time(tr.span("StacWrite.writeMonthly", op)(call()))._2)
          val sp = tr.all.filter(_.op == op).head
          writeSamples(tr, sp)
          sparkSamples(tr, sp)
          s
        case None => time(call())._2
      }
      val found = spark.read.parquet(uri(monthDir(dest, cm))).select("granule_id").collect().map(_.getString(0)).toSeq
      sinkSamples(fileStats(monthDir(dest, cm)), found.size, secs, traced = false)
      Check.ids("archive row", archiveRows(in, cm).map(_.id).toSet, found)
    }
  }

  /** One bbox query, checked against a brute-force answer. */
  private def query(dir: Path, idCol: String, box: (Double, Double, Double, Double), expected: Set[String],
                    traced: Boolean): Double = {
    var secs = 0.0
    attempt(s"bbox query $box${if (traced) " (traced)" else ""}") {
      val call = () => {
        val (df, kept, total) = GeoParquetRead.readBbox(spark, uri(dir), box)
        (df.select(col(idCol), col("geometry")).collect().map(_.getString(0)).toSeq, kept, total)
      }
      val ids = tracer.filter(_ => traced) match {
        case None =>
          val (r, s) = time(call())
          secs = s
          queries += s
          r._1
        case Some(tr) =>
          val op = tr.newOp()
          // readBbox lists the footers itself. The listing is also timed on
          // its own, outside the query's time, and taken off the scan's time.
          val listed = tr.span("GeoParquetRead.listFileGeo", op)(GeoParquetRead.listFileGeo(spark, uri(dir))).size
          val ((ids, kept, total), s) = time(tr.span("GeoParquetRead.readBbox", op)(call()))
          secs = s
          tr.settle()
          val spans = tr.all.filter(_.op == op)
          val footer = spans.find(_.name == "GeoParquetRead.listFileGeo").get
          val scan = spans.find(_.name == "GeoParquetRead.readBbox").get
          sample("footer.list_s", footer.seconds)
          sample("footer.files", listed)
          sample("footer.distributed", if (footer.jobs > 0) 1 else 0)
          sample("scan.s", math.max(0.0, scan.seconds - footer.seconds))
          sample("scan.files_kept_frac", if (total == 0) 0.0 else kept.toDouble / total)
          sample("scan.rows_scanned", scan.inRecords.toDouble)
          sample("scan.rows_returned_frac", if (scan.inRecords == 0) 0.0 else ids.size.toDouble / scan.inRecords)
          sample("scan.bytes_read", scan.inBytes.toDouble)
          sparkSamples(tr, scan)
          ids
      }
      Check.ids("bbox id", expected, ids)
    }
    secs
  }

  /** Run an operation untraced and, in a traced run, also as a pair of an
    * untraced and a traced call whose times give the tracing overhead. The
    * first call of an operation on fresh data is the slowest, so in a traced
    * run an uncounted untraced call goes first; the pair's order then
    * alternates, so that running second favours neither side.
    */
  private def paired(f: Boolean => Double): Double = {
    val tr = tracer.getOrElse(return f(false))
    def traced() = tr.attached(f(true))
    f(false)
    pairs += 1
    val (s, t) = if (pairs % 2 == 0) { val t = traced(); (f(false), t) } else { val s = f(false); (s, traced()) }
    untracedTotal += s
    tracedTotal += t
    s
  }

  /** AOIs around seeded points, a third each of tile (~1°), region (~10°)
    * and continent (~40°) size. The sizes are drawn in shuffled blocks of
    * three, so every run's mix is the same whatever the seed. The equal
    * shares are an assumption, not a measured mix.
    */
  private final class Aois(seed: Long, points: IndexedSeq[(Double, Double)]) {
    private val rng = new java.util.SplittableRandom(seed)
    private var block = List.empty[Double]

    def next(): (Double, Double, Double, Double) = {
      if (block.isEmpty) block = new scala.util.Random(rng.nextLong()).shuffle(List(1.0, 10.0, 40.0))
      val size = block.head
      block = block.tail
      val (x, y) = points(rng.nextInt(points.size))
      val cx = x + (rng.nextDouble() - 0.5) * size
      val cy = y + (rng.nextDouble() - 0.5) * size
      (math.max(-180.0, cx - size / 2), math.max(-90.0, cy - size / 2),
        math.min(180.0, cx + size / 2), math.min(90.0, cy + size / 2))
    }

    def take(n: Int): Seq[(Double, Double, Double, Double)] = Seq.fill(n)(next())
  }

  // ---------------------------------------------------------------- run

  /** A small chain on its own inputs, so that JIT and Spark's lazy set-up
    * are done before anything is timed: three days of links, then the month
    * path the workload times (`fetchAndWriteMonthly`, or for `bbox_read` the
    * two archive paths), then two queries.
    */
  private def warmUp(): Unit = {
    val cm = CollectionMonth("HLSL30_2.0", 2022, 1, 1000)
    val in = Gen.generate(a.seed + 7919, Seq(cm), tiles = 200)
    val dir = data.resolve("warmup")
    writeFeed(in, dir.resolve("feed"))
    val feed = spark.read.parquet(uri(dir.resolve("feed")))
    val dest = dir.resolve("dest")
    BenchStore.load(in)
    cm.days.take(3).foreach(d => StacPipeline.cacheDailyStacJsonLinks(spark, feed, uri(dest), cm.collection, d.toString))
    if (wl.name == "bbox_read") {
      StacPipeline.writeMonthlyStacGeoparquet(spark, uri(dest), cm.collection, cm.year, cm.month)
      StacWrite.writeMonthly(spark, feed.withColumn("url_stac", element_at(col("links"), 2)),
        uri(dir.resolve("archive")), "0.1", cm.collection, cm.year, cm.month)
    } else {
      StacPipeline.fetchAndWriteMonthly(spark, uri(dest), cm.collection, cm.year, cm.month, new BenchTransport).collect()
    }
    Seq((-180.0, -90.0, 180.0, 90.0), (0.0, 0.0, 20.0, 20.0)).foreach { b =>
      GeoParquetRead.readBbox(spark, uri(dest.resolve(s"v0.1/${cm.collection}")), b)._1.collect()
    }
    spark.catalog.clearCache()
  }

  def run(): Int = {
    stamp("start")
    val t0 = System.nanoTime()
    spark = GraftSession.getOrCreate(s"local[$nproc]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    tracer = if (a.trace) Some(new Tracer(spark)) else None
    try {
      val warmS = time(warmUp())._2
      // input generation is repeated; the median is reported
      var in: Inputs = null
      val genS = median((1 to 3).map(_ => time {
        in = Gen.generate(a.seed, wl.months, otherCollectionShare = wl.otherCollectionShare,
          withBodies = wl.name != "bbox_read")
      }._2))
      val writeS = time(writeFeed(in, data.resolve("feed")))._2
      BenchStore.load(in)
      val feed = spark.read.parquet(uri(data.resolve("feed")))
      val dest = data.resolve("dest")
      val points = in.feed.map(g => (g.lon, g.lat))
      val boxes = new Aois(a.seed * 1000003L + 17, points)
      val cm = wl.months.head

      // set-up builds: the month's daily caches (fetch_wait), or one month of
      // caches and the archive (bbox_read)
      var setupDaily = 0.0
      quiesce()
      val buildS = time {
        if (wl.name != "ingest_month")
          setupDaily = tracer.fold(dailyCalls(in, feed, dest, cm, traced = false))(
            _.attached(dailyCalls(in, feed, dest, cm, traced = true)))
        if (wl.name == "bbox_read") wl.months.foreach(m => archiveBuild(in, feed, dest, m, fromCaches = m == cm))
      }._2
      // The archive has more than 64 files, so its footer listing runs on the
      // executors, a path the warm-up's small month does not reach. Queries
      // on the archive before timing make up for that: without them the
      // first queries of the loop run about a quarter slower.
      val queryWarmS = time {
        if (wl.name == "bbox_read") {
          val warm = new Aois(a.seed * 1000003L + 29, points)
          warm.take(ArchiveWarmQueries).foreach { box =>
            GeoParquetRead.readBbox(spark, uri(dest.resolve(s"v0.1/${cm.collection}")), box)._1
              .select(col("granule_id"), col("geometry")).collect()
          }
          spark.catalog.clearCache()
        }
      }._2
      val setupS = sessionS + warmS + genS + writeS + buildS + queryWarmS
      log(f"setup: session $sessionS%.2f s, warm-up $warmS%.2f s, inputs $genS%.2f + $writeS%.2f s, " +
        f"builds $buildS%.2f s, archive queries $queryWarmS%.2f s")

      BenchStore.baseMs = wl.baseMs
      BenchStore.slowMs = wl.slowMs
      val start = System.nanoTime()
      var rounds = 0
      // a traced run makes every call three times, so it needs no minimum
      val minRounds = if (a.trace) 1 else wl.minRounds
      def more = { rounds += 1; rounds < minRounds || (System.nanoTime() - start) / 1e9 < a.seconds }
      wl.name match {
        case "ingest_month" =>
          do {
            quiesce()
            val dailyS = paired(t => dailyCalls(in, feed, dest, cm, t))
            cycles += dailyS + paired(t => monthBuild(in, dest, cm, t))
            readBack(boxes, dest, cm)
          } while (more)
        case "fetch_wait" =>
          do {
            quiesce()
            cycles += setupDaily + paired(t => monthBuild(in, dest, cm, t))
            readBack(boxes, dest, cm)
          } while (more)
        case "bbox_read" =>
          val archive = wl.months.flatMap(archiveRows(in, _))
          val dir = dest.resolve(s"v0.1/${cm.collection}")
          cycles += setupDaily + median(builds.toSeq)
          do {
            quiesce()
            // a round is one block of three AOIs, so every size is timed equally often
            boxes.take(3).foreach { box =>
              val expected = Check.bruteForce(archive, box)(_.id, _.lon, _.lat)
              paired(t => query(dir, "granule_id", box, expected, t))
            }
          } while (more)
      }
      val loopS = (System.nanoTime() - start) / 1e9
      log(f"measured $loopS%.2f s: $attempted operations, $failed failed")

      val metrics: Seq[(String, String, Double)] =
        if (!a.trace) {
          val rss = new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
            .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
          Seq(setupS, quantile(daily.toSeq, 0.5), quantile(daily.toSeq, 0.9), median(cycles.toSeq),
            median(itemsPerS.toSeq), median(bytesPerItem.toSeq),
            quantile(queries.toSeq, 0.5), quantile(queries.toSeq, 0.9), rss)
            .zip(EndToEnd).map { case (v, (n, u)) => (n, u, v) }
        } else {
          tracer.foreach { tr => tr.settle(); tr.dump(a.work.resolveSibling(s"spans-${a.workload}-${a.seed}.jsonl")) }
          sample("failed_op_frac", failed.toDouble / math.max(1, attempted))
          sample("trace.overhead_frac", if (untracedTotal == 0) 0.0 else tracedTotal / untracedTotal - 1.0)
          PerLayer.map { case (n, u) =>
            val xs = layer.getOrElse(n, mutable.ArrayBuffer.empty[Double]).toSeq
            val v =
              if (xs.isEmpty) 0.0
              else if (n.endsWith("_max") || n.contains("max_concurrent") || n.startsWith("cache.")) xs.max
              else median(xs)
            (n, u, v)
          }
        }
      val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
      stamp("end")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      0
    } finally {
      spark.stop()
    }
  }

  /** Bbox queries on the month just written, checked by brute force over
    * the rows read back from it.
    */
  private def readBack(boxes: Aois, dest: Path, cm: CollectionMonth): Unit = {
    val rows = lastWritten
    boxes.take(wl.queriesPerBuild).foreach { box =>
      val expected = Check.bruteForce(rows, box)(_.id, _.lon, _.lat)
      paired(t => query(dest.resolve(s"v0.1/${cm.collection}"), "item_id", box, expected, t))
    }
  }
}
