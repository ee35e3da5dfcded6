package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, YearMonth, ZoneOffset}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import graft.geo.Mgrs

/** One collection-month of the feed. */
final case class CollectionMonth(collection: String, year: Int, month: Int, items: Int) {
  def yearMonth: YearMonth = YearMonth.of(year, month)
  def days: Seq[LocalDate] = (1 to yearMonth.lengthOfMonth).map(yearMonth.atDay)
  def label: String = f"$collection $year-$month%02d"
}

/** One generated granule: its feed row, the item served for it, and the
  * fault plan of its STAC URL. The fields are the generator's record that
  * every output check compares against.
  */
final case class Granule(
    id: String,
    collection: String,
    tsMicros: Long,
    datetime: String,
    day: LocalDate,
    lon: Double,
    lat: Double,
    bbox: (Double, Double, Double, Double),
    cloudCover: Long,
    sunAzimuth: Double,
    sunElevation: Double,
    stacUrl: String,
    links: Seq[String],
    assetHrefs: Seq[(String, String)],
    fault: Int, // Gen.NoFault, Gen.Fault503 or Gen.FaultTruncated
    slow: Boolean) {
  /** In the daily cache of its day: the cache verb's window is the
    * reference's closed `[00:00:00, 23:59:59]`, so a granule in the day's
    * last fractional second is in no daily cache.
    */
  def inDailyWindow: Boolean = tsMicros - day.toEpochDay * 86400L * 1000000L <= 86399L * 1000000L
  def assetsCrc: Long = Gen.crc(assetHrefs.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|"))
}

/** The inputs of one run, all derived from the seed. */
final case class Inputs(
    seed: Long,
    feed: IndexedSeq[Granule], // time-sorted; spans more than the timed months
    timed: Seq[CollectionMonth],
    bodies: Map[String, Array[Byte]]) {
  def of(cm: CollectionMonth): IndexedSeq[Granule] =
    feed.filter(g => g.collection == cm.collection &&
      g.day.getYear == cm.year && g.day.getMonthValue == cm.month)
  /** The month's links the daily caches hold, by the cache verb's window. */
  def cached(cm: CollectionMonth): IndexedSeq[Granule] = of(cm).filter(_.inDailyWindow)
  def daily(collection: String, day: LocalDate): Set[String] =
    feed.iterator.filter(g => g.collection == collection && g.day == day && g.inDailyWindow)
      .map(_.stacUrl).toSet

  /** Digest of everything the program is given: feed rows and served bytes. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    feed.foreach { g =>
      md.update(s"${g.id}\u0000${g.collection}\u0000${g.tsMicros}\u0000${g.lon}\u0000${g.lat}\u0000${g.links.mkString("\u0001")}\n".getBytes(UTF_8))
    }
    bodies.toSeq.sortBy(_._1).foreach { case (u, b) => md.update(u.getBytes(UTF_8)); md.update(b) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Seeded generator of real-shaped HLS inputs: a granule feed whose tiles
  * are real MGRS tiles (lon/lat at the tile centroid), and STAC 1.0 item
  * bodies with a GeoJSON footprint, RFC 3339 datetimes with fractional
  * seconds and about 19 band assets. Bodies carry no synthetic `grid`
  * field.
  */
object Gen {
  val NoFault = 0
  val Fault503 = 1
  val FaultTruncated = 2

  val Host = "data.example.com"
  val MarginDays = 3 // feed days on each side of a timed month

  private val S30Bands = Seq("B01", "B02", "B03", "B04", "B05", "B06", "B07", "B08",
    "B8A", "B09", "B10", "B11", "B12", "Fmask", "SAA", "SZA", "VAA", "VZA")
  private val L30Bands = Seq("B01", "B02", "B03", "B04", "B05", "B06", "B07",
    "B09", "B10", "B11", "Fmask", "SAA", "SZA", "VAA", "VZA")

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  private def sensor(collection: String): String = if (collection.startsWith("HLSL30")) "L30" else "S30"
  private def shortName(collection: String): String = collection.replace("_2.0", ".020")

  /** `n` distinct MGRS tiles with their centroids, over the latitudes HLS covers. */
  def tilePool(rng: SplittableRandom, n: Int): IndexedSeq[(String, Double, Double)] = {
    val seen = mutable.LinkedHashMap.empty[String, (Double, Double)]
    val lo = math.sin(math.toRadians(-56.0))
    val hi = math.sin(math.toRadians(72.0))
    while (seen.size < n) {
      val lat = math.toDegrees(math.asin(lo + (hi - lo) * rng.nextDouble()))
      val lon = -180.0 + 360.0 * rng.nextDouble()
      try {
        val tile = Mgrs.fromLatLon(lat, lon)
        if (!seen.contains(tile)) {
          val c = Mgrs.toLatLon(tile)
          if (c.lon >= -179.0 && c.lon <= 179.0) seen(tile) = (c.lon, c.lat)
        }
      } catch { case _: IllegalArgumentException => }
    }
    seen.iterator.map { case (t, (lo, la)) => (t, lo, la) }.toIndexedSeq
  }

  private def faultOf(seed: Long, url: String): Int =
    if (Math.floorMod(MurmurHash3.stringHash(url, seed.toInt ^ 0x503), 97) == 0) Fault503
    else if (Math.floorMod(MurmurHash3.stringHash(url, seed.toInt ^ 0x7a7a), 500) == 0) FaultTruncated
    else NoFault

  private def slowOf(seed: Long, url: String): Boolean =
    Math.floorMod(MurmurHash3.stringHash(url, seed.toInt ^ 0x5105), 50) == 0

  private def round(x: Double, digits: Int): Double = {
    val f = math.pow(10, digits)
    math.round(x * f) / f
  }

  /** `n` zero-padded to `width` digits (string formatting is the generator's hot spot). */
  private def pad(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  private def rfc3339(micros: Long): String = {
    val i = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L)).atOffset(ZoneOffset.UTC)
    val ms = (Math.floorMod(micros, 1000000L) / 1000).toInt
    s"${pad(i.getYear, 4)}-${pad(i.getMonthValue, 2)}-${pad(i.getDayOfMonth, 2)}T" +
      s"${pad(i.getHour, 2)}:${pad(i.getMinute, 2)}:${pad(i.getSecond, 2)}.${pad(ms, 3)}Z"
  }

  /** Granules of `collection` on the days `[from, until)`, `perDay` a day. */
  private def granules(seed: Long, rng: SplittableRandom, tiles: IndexedSeq[(String, Double, Double)],
                       collection: String, from: LocalDate, until: LocalDate, perDay: Double,
                       ids: mutable.Set[String]): Seq[Granule] = {
    val out = Seq.newBuilder[Granule]
    val sen = sensor(collection)
    var day = from
    var carry = 0.0
    while (day.isBefore(until)) {
      carry += perDay
      val n = carry.toInt
      carry -= n
      val dayMicros = day.toEpochDay * 86400L * 1000000L
      var i = 0
      while (i < n) {
        val (tile, lon, lat) = tiles(rng.nextInt(tiles.size))
        val micros = dayMicros + (rng.nextLong(86400L * 1000L)) * 1000L
        val sec = Instant.ofEpochSecond(micros / 1000000L).atOffset(ZoneOffset.UTC)
        val id = s"HLS.$sen.T$tile.${pad(sec.getYear, 4)}${pad(sec.getDayOfYear, 3)}T" +
          s"${pad(sec.getHour, 2)}${pad(sec.getMinute, 2)}${pad(sec.getSecond, 2)}.v2.0"
        if (ids.add(id)) {
          val base = s"https://$Host/lp-prod-public/${shortName(collection)}/$id"
          val stac = s"$base/${id}_stac.json"
          val links = Seq(
            s"https://$Host/lp-prod-public/${shortName(collection)}/$id/$id.cmr.xml",
            stac,
            s"s3://lp-prod-public/${shortName(collection)}/$id/${id}_stac.json",
            s"https://$Host/lp-prod-browse/${shortName(collection)}/$id/$id.jpg")
          val halfLat = 0.495
          val halfLon = math.min(0.495 / math.cos(math.toRadians(lat)), 3.0)
          val bbox = (round(math.max(-180.0, lon - halfLon), 6), round(lat - halfLat, 6),
            round(math.min(180.0, lon + halfLon), 6), round(lat + halfLat, 6))
          val bands = if (sen == "L30") L30Bands else S30Bands
          val hrefs = bands.map(b => b -> s"https://$Host/lp-prod-protected/${shortName(collection)}/$id/$id.$b.tif") :+
            ("thumbnail" -> s"https://$Host/lp-prod-browse/${shortName(collection)}/$id/$id.jpg")
          out += Granule(id, collection, micros, rfc3339(micros), day, lon, lat, bbox,
            cloudCover = rng.nextInt(101).toLong,
            sunAzimuth = round(20.0 + 300.0 * rng.nextDouble(), 8),
            sunElevation = round(5.0 + 70.0 * rng.nextDouble(), 8),
            stacUrl = stac, links = links, assetHrefs = hrefs,
            fault = faultOf(seed, stac), slow = slowOf(seed, stac))
        }
        i += 1
      }
      day = day.plusDays(1)
    }
    out.result()
  }

  /** A real-shaped STAC 1.0 item body for `g`. */
  def body(g: Granule): String = {
    val (w, s, e, n) = g.bbox
    val sb = new StringBuilder(6400)
    val sen = sensor(g.collection)
    sb ++= s"""{"type":"Feature","stac_version":"1.0.0","id":"${g.id}","""
    sb ++= s""""stac_extensions":["https://stac-extensions.github.io/eo/v1.1.0/schema.json","https://stac-extensions.github.io/projection/v1.1.0/schema.json","https://stac-extensions.github.io/view/v1.0.0/schema.json"],"""
    sb ++= s""""collection":"${g.collection}","""
    sb ++= s""""geometry":{"type":"Polygon","coordinates":[[[$w,$s],[$e,$s],[$e,$n],[$w,$n],[$w,$s]]]},"""
    sb ++= s""""bbox":[$w,$s,$e,$n],"""
    val zone = g.id.split('.')(2).substring(1, 3).toInt
    val epsg = (if (g.lat >= 0) 32600 else 32700) + zone
    sb ++= s""""properties":{"datetime":"${g.datetime}","start_datetime":"${g.datetime}","end_datetime":"${g.datetime}","""
    sb ++= s""""eo:cloud_cover":${g.cloudCover},"view:sun_azimuth":${g.sunAzimuth},"view:sun_elevation":${g.sunElevation},"""
    sb ++= s""""view:azimuth":${round(g.sunAzimuth / 3.0, 6)},"view:incidence_angle":${round(g.sunElevation / 7.0, 6)},"""
    sb ++= s""""platform":"${if (sen == "L30") "landsat-8" else "sentinel-2a"}","instruments":["${if (sen == "L30") "oli" else "msi"}"],"""
    sb ++= s""""proj:epsg":$epsg,"proj:shape":[3660,3660],"proj:transform":[30.0,0.0,${round((g.lon + 180) * 1000, 1)},0.0,-30.0,${round((g.lat + 90) * 10000, 1)},0.0,0.0,1.0],"""
    sb ++= """"gsd":30.0},"""
    val col = s"https://$Host/stac/LPCLOUD/collections/${g.collection}"
    sb ++= s""""links":[{"rel":"self","href":"${g.stacUrl}","type":"application/json"},"""
    sb ++= s"""{"rel":"parent","href":"$col","type":"application/json"},{"rel":"collection","href":"$col","type":"application/json"},"""
    sb ++= s"""{"rel":"root","href":"https://$Host/stac/","type":"application/json"}],"""
    sb ++= """"assets":{"""
    sb ++= g.assetHrefs.map { case (k, href) =>
      val (tpe, roles) =
        if (k == "thumbnail") ("image/jpeg", "\"thumbnail\"")
        else ("image/tiff; application=geotiff; profile=cloud-optimized", "\"data\"")
      s""""$k":{"href":"$href","type":"$tpe","title":"Download $k","roles":[$roles]}"""
    }.mkString(",")
    sb ++= "}}"
    sb.result()
  }

  /** The inputs for `timed` collection-months. The feed also carries
    * [[MarginDays]] days on each side of every timed month and, when
    * `otherCollectionShare` > 0, the other HLS collection at that share of
    * the density, so both the day and the collection filter matter.
    */
  def generate(seed: Long, timed: Seq[CollectionMonth], tiles: Int = 2000,
               otherCollectionShare: Double = 0.0, withBodies: Boolean = true): Inputs = {
    val rng = new SplittableRandom(seed)
    val pool = tilePool(rng, tiles)
    val ids = mutable.HashSet.empty[String]
    val feed = timed.flatMap { cm =>
      val perDay = cm.items.toDouble / cm.yearMonth.lengthOfMonth
      val first = cm.yearMonth.atDay(1)
      val next = first.plusMonths(1)
      val main = granules(seed, rng, pool, cm.collection, first.minusDays(MarginDays),
        next.plusDays(MarginDays), perDay, ids)
      val other = if (otherCollectionShare <= 0) Nil else {
        val oc = if (cm.collection.startsWith("HLSS30")) "HLSL30_2.0" else "HLSS30_2.0"
        granules(seed, rng, pool, oc, first.minusDays(MarginDays), next.plusDays(MarginDays),
          perDay * otherCollectionShare, ids)
      }
      main ++ other
    }.toIndexedSeq.sortBy(g => (g.tsMicros, g.id))
    val timedSet = timed.map(cm => (cm.collection, cm.year, cm.month)).toSet
    val bodies = if (!withBodies) Map.empty[String, Array[Byte]] else feed.iterator
      .filter(g => timedSet((g.collection, g.day.getYear, g.day.getMonthValue)))
      .map { g =>
        val b = body(g).getBytes(UTF_8)
        g.stacUrl -> (if (g.fault == FaultTruncated) java.util.Arrays.copyOf(b, b.length / 2) else b)
      }.toMap
    Inputs(seed, feed, timed, bodies)
  }
}
