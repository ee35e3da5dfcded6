package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.stac.{HlsCollections, StacFetch, StacPipeline, StacSynth, StacWrite}

/** In-memory transport: serves the catalog's own item_json per URL,
  * throws for URLs in the fail set; counts per-netloc opens so reuse
  * is assertable (executors share this JVM under local[N]).
  */
object MockTransport {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MockTransport(bodies: Map[String, String], failing: Set[String])
    extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    MockTransport.opens.incrementAndGet()
    url => {
      if (failing(url)) throw new RuntimeException(s"503 on $url")
      bodies.getOrElse(url,
        throw new NoSuchElementException(s"404 $url")).getBytes("UTF-8")
    }
  }
}

/** Fails `flaky` URLs on their first attempt only, `dead` URLs
  * always — attempt counts shared per-JVM (local[N] executors).
  */
object FlakyTransport {
  val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

class FlakyTransport(bodies: Map[String, String], flaky: Set[String],
                     dead: Set[String]) extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = { url =>
    val n = FlakyTransport.seen.merge(url, 1, (a, b) => a + b)
    if (dead(url)) throw new RuntimeException(s"503 permanent $url")
    if (flaky(url) && n <= 1) throw new RuntimeException(s"503 transient $url")
    bodies(url).getBytes("UTF-8")
  }
}

/** Serves `bodies`, throws for `failing`, counts every get per URL. */
object CountingTransport {
  val gets = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

class CountingTransport(bodies: Map[String, String], failing: Set[String])
    extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = { url =>
    CountingTransport.gets.merge(url, 1, (a, b) => a + b)
    if (failing(url)) throw new RuntimeException(s"503 on $url")
    bodies(url).getBytes("UTF-8")
  }
}

class StacPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  /** A granule feed with one granule of `cid` at noon of each day. */
  private def feed(cid: String, days: Seq[LocalDate]): DataFrame =
    days.zipWithIndex.map { case (d, i) =>
      (i.toLong, cid, java.sql.Timestamp.valueOf(s"$d 12:00:00"),
        -100.0 + i, 40.0,
        Seq(s"s3://b/G$i.json", s"https://data.example.com/G${i}_stac.json"))
    }.toDF("granule_id", "collection", "ts", "lon", "lat", "links")

  /** Caches each of `days` from `granules`, empty days included. */
  private def cacheDays(dest: String, cid: String, days: Seq[LocalDate],
                        granules: DataFrame): Unit =
    days.foreach(d => assert(StacPipeline.cacheDailyStacJsonLinks(spark,
      granules, dest, cid, d.toString)))

  private def deleteCache(dest: String, cid: String, day: LocalDate): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      HlsCollections.dailyCachePath(dest, cid, day))
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true))
  }

  test("month completeness: HLSL30's origin month starts at 2013-04-11; a pruned day is named alone") {
    val tmp = Files.createTempDirectory("graft-origin").toString
    val cid = HlsCollections.HLSL30.collectionId
    val days = (11 to 30).map(LocalDate.of(2013, 4, _))
    cacheDays(tmp, cid, days, feed(cid, days))
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 2013, 4,
      requireCompleteLinks = true))
    assert(spark.read.parquet(StacWrite.monthPath(tmp, "0.1", cid, 2013, 4))
      .count() === days.length)
    deleteCache(tmp, cid, LocalDate.of(2013, 4, 12))
    val e = intercept[IllegalStateException] {
      StacPipeline.requireCompleteLinks(spark, tmp, cid, 2013, 4)
    }
    assert(e.getMessage ===
      "HLSL30_2.0 2013-4: missing daily link caches for days 12")
  }

  test("month completeness: a day cached with zero granules counts as present") {
    val tmp = Files.createTempDirectory("graft-empty-day").toString
    val cid = HlsCollections.HLSS30.collectionId // origin 2015-11-28
    val days = (28 to 30).map(LocalDate.of(2015, 11, _))
    cacheDays(tmp, cid, days, feed(cid, days.filter(_.getDayOfMonth != 29)))
    assert(spark.read.parquet(
      HlsCollections.dailyCachePath(tmp, cid, days(1))).count() === 0)
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 2015, 11,
      requireCompleteLinks = true))
    assert(spark.read.parquet(StacWrite.monthPath(tmp, "0.1", cid, 2015, 11))
      .count() === 2)
  }

  test("writeMonthlyStacGeoparquet: skip-existing comes before completeness") {
    val tmp = Files.createTempDirectory("graft-skip-first").toString
    val cid = HlsCollections.HLSS30.collectionId
    val days = (28 to 30).map(LocalDate.of(2015, 11, _))
    cacheDays(tmp, cid, days, feed(cid, days))
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 2015, 11))
    // the month is written; its caches are pruned afterwards
    deleteCache(tmp, cid, days(1))
    assert(!StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 2015, 11,
      requireCompleteLinks = true, skipExisting = true))
    val e = intercept[IllegalStateException] {
      StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 2015, 11,
        requireCompleteLinks = true)
    }
    assert(e.getMessage.endsWith("days 29"))
  }

  test("fetchAndWriteMonthly gets each link once and releases its fetch cache") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.{month, to_date, year}
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft-fetch-once").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSL30_2.0"
    // a month that holds a planted fetch failure
    val ym = catalog.filter($"collection" === cid && $"fetch_failed")
      .select(year($"ts"), month($"ts")).as[(Int, Int)].head()
    val days = catalog.filter($"collection" === cid &&
        year($"ts") === ym._1 && month($"ts") === ym._2)
      .select(to_date($"ts").cast("string")).distinct().as[String]
      .collect().map(LocalDate.parse).toSeq
    cacheDays(tmp, cid, days, catalog)
    val links = StacPipeline.readMonthlyLinks(spark, tmp, cid, ym._1, ym._2)
      .select($"stac_link").as[String].collect().toSet
    val bodies = catalog.select($"url_stac", $"item_json")
      .as[(String, String)].collect().toMap
    val failing = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet.intersect(links)
    assert(failing.nonEmpty, "the month must hold planted fetch failures")
    val cachedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    CountingTransport.gets.clear()
    val failed = StacPipeline.fetchAndWriteMonthly(spark, tmp, cid,
      ym._1, ym._2, new CountingTransport(bodies, failing))
    assert(failed.collect().map(_.getString(0)).toSet === failing)
    val gets = CountingTransport.gets.asScala
    assert(gets.keySet === links)
    assert(gets.values.forall(_ == 1), "every link is fetched exactly once")
    // the only blocks the call leaves are the failed side's own
    val ownRdds = failed.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    val left = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet --
      cachedBefore -- ownRdds
    assert(left.isEmpty, s"RDDs left cached by the call: $left")
  }

  test("dateRange: origin-date default, yesterday default, validation") {
    import graft.stac.HlsCollections
    val today = java.time.LocalDate.parse("2013-04-15")
    val r = StacPipeline.dateRange(HlsCollections.HLSL30, today = today)
    assert(r === Seq("2013-04-11", "2013-04-12", "2013-04-13", "2013-04-14"))
    val r2 = StacPipeline.dateRange(HlsCollections.HLSS30,
      startDate = Some("2024-01-30"), endDate = Some("2024-02-02"))
    assert(r2 === Seq("2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02"))
    intercept[IllegalArgumentException] {
      StacPipeline.dateRange(HlsCollections.HLSL30,
        startDate = Some("2024-02-02"), endDate = Some("2024-01-30"))
    }
  }

  test("json-array daily cache matches the reference's exact file layout") {
    import org.apache.spark.sql.functions.to_date
    val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString
    val catalog = StacSynth.catalog(spark, sf)
    // pick a day that actually has HLSS30 granules at this SF
    val day = catalog.filter($"collection" === "HLSS30_2.0")
      .select(to_date($"ts").cast("string")).orderBy($"ts").head().getString(0)
    val Array(y, m, d) = day.split("-")
    val path = StacPipeline.writeDailyLinksJsonArray(spark, catalog, tmp,
      "HLSS30_2.0", day)
    assert(path.endsWith(s"links/HLSS30_2.0/$y/$m/$day.json"))
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    // a single JSON array of https stac.json URLs, like links.py writes
    assert(content.startsWith("[") && content.endsWith("]"))
    val parsed = content.stripPrefix("[").stripSuffix("]").split(", ")
    assert(parsed.nonEmpty && parsed.forall(s => s.startsWith("\"https") &&
      s.endsWith("stac.json\"")))
    // empty day still writes a valid empty array
    val p2 = StacPipeline.writeDailyLinksJsonArray(spark, catalog, tmp,
      "HLSS30_2.0", "2030-01-01")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p2)), "UTF-8") === "[]")
  }

  test("end-to-end: cache daily links for a month, then write monthly geoparquet") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSS30_2.0"

    // which days of 1996-03 have data?
    val days = catalog
      .filter($"collection" === cid)
      .filter(org.apache.spark.sql.functions.date_format($"ts", "yyyy-MM") === "1996-03")
      .select(org.apache.spark.sql.functions.dayofmonth($"ts"))
      .distinct().as[Int].collect().sorted

    for (d <- days) {
      val wrote = StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp,
        cid, f"1996-03-$d%02d")
      assert(wrote)
    }
    // skip-existing short-circuits on re-run
    assert(!StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp,
      cid, f"1996-03-${days.head}%02d", skipExisting = true))

    // month readback is partition-pruned to exactly the cached days
    val monthly = StacPipeline.readMonthlyLinks(spark, tmp, cid, 1996, 3)
    assert(monthly.count() > 0)
    assert(monthly.select($"day").distinct().count() === days.length)

    if (days.length == 31) {
      assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid,
        1996, 3, requireCompleteLinks = true))
    } else {
      // incomplete month must throw under requireCompleteLinks…
      intercept[IllegalStateException] {
        StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid,
          1996, 3, requireCompleteLinks = true)
      }
      // …and succeed without it
      assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1996, 3))
    }
    val out = spark.read.parquet(s"$tmp/v0.1/$cid")
    assert(out.filter($"year" === 1996 && $"month" === 3).count() ===
      monthly.count())

    // bbox-filtered daily cache is a subset
    StacPipeline.cacheDailyStacJsonLinks(spark, catalog, s"$tmp/bb",
      cid, f"1996-03-${days.head}%02d",
      bbox = Some((-150.0, -50.0, -100.0, 50.0)))
    val bbLinks = spark.read.parquet(
      s"$tmp/bb/links/collection=$cid/year=1996/month=3/day=${days.head}")
    val allLinks = spark.read.parquet(
      s"$tmp/links/collection=$cid/year=1996/month=3/day=${days.head}")
    assert(bbLinks.count() <= allLinks.count())
  }

  test("fetch operator: success/failure separation, netloc reuse, bounded pool") {
    import org.apache.spark.sql.functions._
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    assert(failUrls.nonEmpty, "synth catalog plants fetch failures")
    val links = catalog.select($"url_stac".as("stac_link")).repartition(4)
    MockTransport.opens.set(0)
    val (items, failed) = StacFetch.fetchItems(links, "stac_link",
      new MockTransport(bodies, failUrls), maxConcurrent = 8)
    val nItems = items.count(); val nFailed = failed.count()
    // failures become rows, successes parse — together they partition
    // the input exactly (fetch.py:78-88)
    assert(nItems + nFailed === catalog.count())
    assert(nFailed === failUrls.size)
    assert(failed.filter($"error".contains("503")).count() === nFailed)
    // one open per (partition × netloc): 4 partitions, 1 https netloc
    assert(MockTransport.opens.get() <= 4,
      s"expected ≤4 netloc opens, got ${MockTransport.opens.get()}")
    // parsed fields round-trip the catalog's own values (columns
    // renamed: items derives from catalog, so a direct self-join on
    // shared names is ambiguous)
    val cat2 = catalog.select($"url_stac".as("c_url"),
      $"collection".as("c_col"), $"ts".as("c_ts"),
      $"lon".as("c_lon"), $"lat".as("c_lat"))
    val joined = items.join(cat2, $"url_stac" === $"c_url")
      .filter($"collection" =!= $"c_col" || $"ts" =!= $"c_ts" ||
        abs($"lon" - $"c_lon") > 1e-9 || abs($"lat" - $"c_lat") > 1e-9)
    assert(joined.count() === 0, "fetched item fields must match catalog")
    // malformed body joins the failed side, not an exception
    val badLinks = Seq("https://data.example.com/bad.json")
      .toDF("stac_link")
    val bad = new MockTransport(
      Map("https://data.example.com/bad.json" -> "not json at all"),
      Set.empty)
    val (bi, bfail) = StacFetch.fetchItems(badLinks, "stac_link", bad)
    assert(bi.count() === 0 && bfail.count() === 1)
    assert(bfail.head().getString(1).contains("Malformed"))
  }

  test("fetch retries recover transient failures, keep terminal ones") {
    import org.apache.spark.sql.functions._
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    // flaky: fail on first attempt only; dead: always fail
    val flaky = catalog.filter($"granule_id" % 97 === 0)
      .select($"url_stac").as[String].collect().toSet
    val dead = catalog.filter($"granule_id" % 101 === 0)
      .select($"url_stac").as[String].collect().toSet
    assert(flaky.nonEmpty && dead.nonEmpty)
    FlakyTransport.seen.clear()
    val links = catalog.select($"url_stac".as("stac_link")).repartition(4)
    val (items, failed) = graft.stac.StacFetch.fetchWithRetries(
      links, "stac_link", new FlakyTransport(bodies, flaky, dead),
      attempts = 3, maxConcurrent = 8)
    val failedUrls = failed.select($"url").as[String].collect().toSet
    // dead links exhaust retries; flaky ones recover on the 2nd pass
    assert(failedUrls === dead)
    assert(items.count() === catalog.count() - dead.size)
    // one attempt only: flaky links fail too
    FlakyTransport.seen.clear()
    val (i1, f1) = graft.stac.StacFetch.fetchWithRetries(
      links, "stac_link", new FlakyTransport(bodies, flaky, dead),
      attempts = 1, maxConcurrent = 8)
    assert(f1.count() === (flaky ++ dead).size.toLong)
    assert(i1.count() === catalog.count() - (flaky ++ dead).size)
  }

  test("streaming fetch: micro-batched fetch equals the batch semantics") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-sfetch").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    // several micro-batches: one source file per trigger
    catalog.select($"url_stac".as("stac_link")).repartition(4)
      .write.parquet(s"$tmp/links-src")
    val linkStream = spark.readStream
      .schema("stac_link STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/links-src")
    graft.streaming.StacStreams.fetchLinkStream(linkStream, "stac_link",
      new MockTransport(bodies, failUrls), s"$tmp/items", s"$tmp/failed",
      maxConcurrent = 8)
    val items = spark.read.parquet(s"$tmp/items")
    val failed = spark.read.parquet(s"$tmp/failed")
    assert(items.count() + failed.count() === catalog.count())
    assert(failed.count() === failUrls.size)
    // item fields survive the streaming path identically
    val cat2 = catalog.select($"url_stac".as("c_url"), $"ts".as("c_ts"))
    assert(items.join(cat2, $"url_stac" === $"c_url")
      .filter($"ts" =!= $"c_ts").count() === 0)
  }

  test("end-to-end with fetch: link cache → fetch → monthly geoparquet + failed") {
    val tmp = Files.createTempDirectory("graft-fetch-pipe").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSL30_2.0"
    val days = catalog
      .filter($"collection" === cid)
      .filter(org.apache.spark.sql.functions.date_format($"ts", "yyyy-MM") === "1996-03")
      .select(org.apache.spark.sql.functions.dayofmonth($"ts"))
      .distinct().as[Int].collect().sorted
    assert(days.nonEmpty)
    for (d <- days) {
      StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp, cid,
        f"1996-03-$d%02d")
    }
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    val failed = StacPipeline.fetchAndWriteMonthly(spark, tmp, cid, 1996, 3,
      new MockTransport(bodies, failUrls)).cache()
    val monthLinks = StacPipeline.readMonthlyLinks(spark, tmp, cid, 1996, 3)
    val expectFailed = monthLinks
      .filter($"stac_link".isin(failUrls.toSeq: _*)).count()
    assert(failed.count() === expectFailed)
    val out = spark.read.parquet(s"$tmp/v0.1/$cid")
      .filter($"year" === 1996 && $"month" === 3)
    assert(out.count() === monthLinks.count() - expectFailed)
    // the geoparquet contract survives the fetch path: full asset
    // structs (href/type/title) and the filterable item properties
    // (write.py:219 — rustac writes whole items)
    assert(out.columns.contains("geometry"))
    assert(out.columns.contains("assets"))
    assert(Set("cloud_cover", "sun_azimuth", "sun_elevation")
      .subsetOf(out.columns.toSet))
    val assets = out.select($"assets")
      .head().getMap[String, org.apache.spark.sql.Row](0)
    assert(Set("B04", "B05", "Fmask").subsetOf(assets.keySet.toSet))
    assert(assets("B04").getAs[String]("href").endsWith(".B04.tif"))
    assert(assets("B04").getAs[String]("type").startsWith("image/tiff"))
    assert(assets("B04").getAs[String]("title") === "B04")
    // properties round-trip the catalog's deterministic values
    val cat3 = catalog.select($"url_stac".as("c_url"),
      $"cloud_cover".as("c_cc"), $"sun_azimuth".as("c_az"),
      $"sun_elevation".as("c_el"))
    assert(out.join(cat3, $"url_stac" === $"c_url")
      .filter($"cloud_cover" =!= $"c_cc" || $"sun_azimuth" =!= $"c_az" ||
        $"sun_elevation" =!= $"c_el").count() === 0)
  }

  test("fetch bound slides: < maxConcurrent outstanding per partition, a slow GET stalls no other slot") {
    import org.apache.spark.TaskContext
    import scala.jdk.CollectionConverters._
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val links = catalog.select($"url_stac".as("stac_link"))
      .limit(40).repartition(2)
    WindowProbeTransport.reset()
    val mc = 4
    val raw = StacFetch.fetchRaw(links, "stac_link",
      new WindowProbeTransport(bodies, mc), maxConcurrent = mc)
    // rows are counted as emitted by a consumer in the same task
    val emitted = raw.as[(String, String, String)].mapPartitions { rows =>
      val p = TaskContext.getPartitionId()
      rows.map { r => WindowProbeTransport.onEmit(p); r }
    }.count()
    assert(emitted === 40)
    val obs = WindowProbeTransport.observations.asScala.toSeq
    assert(obs.map(_._1).toSet === Set(0, 1))
    // (a) memory: started but not yet emitted stays below mc at every
    // GET start, this one not counted
    obs.foreach { case (p, startedBefore, emittedAtStart) =>
      assert(startedBefore - emittedAtStart < mc,
        s"partition $p: $startedBefore started, $emittedAtStart emitted")
    }
    // (b) sliding: each partition's first GET waits for mc other GETs
    // of its partition to complete; in windows only mc - 1 others could
    // run beside it, and it would time out
    val released = WindowProbeTransport.released.asScala
    assert(released.keySet === Set(0, 1))
    assert(released.values.forall(_.booleanValue),
      s"a slow GET held up its window: $released")
  }

  /** A STAC item body of `id` with `datetime` in its properties. */
  private def itemBody(id: String, datetime: Option[String]): String =
    s"""{"type": "Feature", "id": "$id", "collection": "HLSL30_2.0",
       | "properties": {${datetime.fold("")(d => s""""datetime": "$d", """)}"eo:cloud_cover": 7},
       | "grid": {"lon10": 1000, "lat10": 1300}, "assets": {}}""".stripMargin

  test("a datetime without seconds is parsed; a missing or unparseable one fails the item, not the month") {
    val tmp = Files.createTempDirectory("graft-datetime").toString
    val url = (id: String) => s"https://data.example.com/$id.json"
    val dts = Map("SEC" -> Some("2023-01-09T13:57:12.345Z"),
      "MIN" -> Some("2023-01-09T13:57Z"), "BAD" -> Some("not-a-date"),
      "NONE" -> None)
    val links = dts.keys.toSeq.map(url).toDF("stac_link")
    val transport = new MockTransport(
      dts.map { case (id, dt) => url(id) -> itemBody(id, dt) }, Set.empty)
    val failed = StacFetch.fetchItemsScoped(links, "stac_link", transport) {
      (items, failed) =>
        StacWrite.writeMonthly(spark, items, tmp, "0.1", "HLSL30_2.0", 2023, 1)
        failed.as[(String, String)].collect().toMap
    }
    val written = spark.read
      .parquet(StacWrite.monthPath(tmp, "0.1", "HLSL30_2.0", 2023, 1))
      .select($"url_stac", $"ts".cast("string")).as[(String, String)]
      .collect().toMap
    assert(written === Map(url("SEC") -> "2023-01-09 13:57:12.345",
      url("MIN") -> "2023-01-09 13:57:00"))
    assert(failed.keySet === Set(url("BAD"), url("NONE")))
    assert(failed.values.forall(_.startsWith("MalformedItem")))
  }

  test("fetchWithRetries leaves nothing cached but its returned frames' checkpoints") {
    import org.apache.spark.sql.execution.LogicalRDD
    val url = (i: Int) => s"https://data.example.com/R$i.json"
    val bodies = (0 until 6).map(i =>
      url(i) -> itemBody(s"R$i", Some("2023-01-09T13:57:12Z"))).toMap
    val links = bodies.keys.toSeq.toDF("stac_link").repartition(2)
    val cachedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    FlakyTransport.seen.clear()
    val (items, failed) = StacFetch.fetchWithRetries(links, "stac_link",
      new FlakyTransport(bodies, Set(url(1)), Set(url(2))), attempts = 3,
      maxConcurrent = 4)
    assert(items.count() === 5)
    assert(failed.select($"url").as[String].collect().toSeq === Seq(url(2)))
    val ownRdds = Seq(items, failed).flatMap(_.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }).toSet
    val left = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet --
      cachedBefore -- ownRdds
    assert(left.isEmpty, s"RDDs left cached by the call: $left")
  }
}

/** Per partition: at each GET start, how many GETs of that partition
  * had started before it and how many rows it had emitted. The
  * partition's first GET blocks until `mc` of its other GETs have
  * completed, or until a timeout, and records which came first.
  */
object WindowProbeTransport {
  import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
  import java.util.concurrent.atomic.AtomicInteger
  val started = new ConcurrentHashMap[Int, AtomicInteger]()
  val emitted = new ConcurrentHashMap[Int, AtomicInteger]()
  val others = new ConcurrentHashMap[Int, CountDownLatch]()
  val released = new ConcurrentHashMap[Int, java.lang.Boolean]()
  // (partitionId, startedBefore, emittedAtStart)
  val observations =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Int)]()
  def reset(): Unit = {
    started.clear(); emitted.clear(); others.clear(); released.clear()
    observations.clear()
  }
  private def ctr(m: ConcurrentHashMap[Int, AtomicInteger], p: Int) =
    m.computeIfAbsent(p, _ => new AtomicInteger(0))
  def onEmit(p: Int): Unit = { ctr(emitted, p).incrementAndGet(); () }
  def get(p: Int, mc: Int)(body: => Array[Byte]): Array[Byte] = {
    val before = ctr(started, p).getAndIncrement()
    observations.add((p, before, ctr(emitted, p).get()))
    val latch = others.computeIfAbsent(p, _ => new CountDownLatch(mc))
    if (before == 0) released.put(p, latch.await(5, TimeUnit.SECONDS))
    else { Thread.sleep(1); latch.countDown() } // widen the interleaving
    body
  }
}

class WindowProbeTransport(bodies: Map[String, String], mc: Int)
    extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    // `open` runs on the task thread (store creation is sequential);
    // the gets run on pool threads with no TaskContext, so the
    // partition id must be captured HERE
    val p = org.apache.spark.TaskContext.getPartitionId()
    url => WindowProbeTransport.get(p, mc)(bodies(url).getBytes("UTF-8"))
  }
}
