package graftbench

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

/** One row of a written month, as read back with plain parquet. */
final case class WrittenRow(
    url: String,
    id: String,
    tsMicros: Option[Long],
    cloudCover: Option[Long],
    sunAzimuth: Option[Double],
    sunElevation: Option[Double],
    assetsCrc: Option[Long],
    geometry: Array[Byte],
    lon: Double, // NaN when NULL
    lat: Double)

/** Result of checking one month build against the generator's record. */
final case class MonthCheck(
    problems: Seq[String],
    written: Int,
    failed: Int,
    failedInjected: Int,
    malformed: Int,
    geomNull: Int,
    geomMissing: Int, // NULL, undecodable, or outside the served item's bbox
    sunNull: Int) {   // items whose served sun angles came back NULL
  def ok: Boolean = problems.isEmpty
}

/** Output checks. They compare outputs with the generator's own record and
  * call nothing in the program under test.
  */
object Check {
  private val Examples = 3

  private final class Problems {
    private val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    def add(kind: String, example: => String): Unit =
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += example
    def result: Seq[String] = byKind.toSeq.map { case (k, ex) =>
      s"$k: ${ex.size} (e.g. ${ex.take(Examples).mkString(", ")})"
    }
  }

  private def dupes(xs: Seq[String]): Iterable[String] =
    xs.groupBy(identity).collect { case (x, g) if g.size > 1 => x }

  /** Set equality with duplicates reported: `what` names the element. */
  private def sameSet(p: Problems, what: String, expected: Set[String], found: Seq[String]): Unit = {
    dupes(found).foreach(x => p.add(s"$what returned twice", x))
    val got = found.toSet
    (expected -- got).foreach(x => p.add(s"$what missing", x))
    (got -- expected).foreach(x => p.add(s"$what unexpected", x))
  }

  /** The id set of one daily cache, bbox query or archive month. */
  def ids(what: String, expected: Set[String], found: Seq[String]): Seq[String] = {
    val p = new Problems
    sameSet(p, what, expected, found)
    p.result
  }

  /** Ids of `rows` whose point lies in the closed box `(w, s, e, n)`. */
  def bruteForce[T](rows: Iterable[T], box: (Double, Double, Double, Double))
                   (id: T => String, lon: T => Double, lat: T => Double): Set[String] = {
    val (w, s, e, n) = box
    rows.iterator.filter { r =>
      val x = lon(r); val y = lat(r)
      !x.isNaN && !y.isNaN && x >= w && x <= e && y >= s && y <= n
    }.map(id).toSet
  }

  /** A month build: every link on exactly one side, the failed side exactly
    * the injected set, and ids, datetime, properties and asset hrefs
    * round-tripped. Geometry and NULL sun angles are counted, not failed.
    */
  def month(expected: Seq[Granule], written: Seq[WrittenRow],
            failed: Seq[(String, String)]): MonthCheck = {
    val p = new Problems
    val exp = expected.iterator.map(g => g.stacUrl -> g).toMap
    val injected = expected.iterator.filter(_.fault != Gen.NoFault).map(_.stacUrl).toSet
    val w = written.map(_.url)
    val f = failed.map(_._1)
    dupes(w).foreach(u => p.add("link written twice", u))
    dupes(f).foreach(u => p.add("link failed twice", u))
    val ws = w.toSet
    val fs = f.toSet
    (ws intersect fs).foreach(u => p.add("link both written and failed", u))
    (exp.keySet -- ws -- fs).foreach(u => p.add("link neither written nor failed", u))
    ((ws ++ fs) -- exp.keySet).foreach(u => p.add("link not in the month", u))
    (injected -- fs).foreach(u => p.add("injected failure not on the failed side", u))
    failed.filter(x => !injected(x._1) && exp.contains(x._1))
      .foreach { case (u, e) => p.add("failed link not injected", s"$u ($e)") }

    var geomNull = 0
    var geomMissing = 0
    var sunNull = 0
    written.foreach { r =>
      exp.get(r.url).foreach { g =>
        if (r.id != g.id) p.add("id differs", s"${r.url}: ${r.id}")
        if (!r.tsMicros.contains(g.tsMicros)) p.add("datetime differs", s"${g.id}: ${r.tsMicros}")
        if (!r.cloudCover.contains(g.cloudCover)) p.add("eo:cloud_cover differs", s"${g.id}: ${r.cloudCover}")
        if (!r.assetsCrc.contains(g.assetsCrc)) p.add("asset hrefs differ", g.id)
        if (r.sunAzimuth.isEmpty || r.sunElevation.isEmpty) sunNull += 1
        Seq(("view:sun_azimuth", r.sunAzimuth, g.sunAzimuth),
            ("view:sun_elevation", r.sunElevation, g.sunElevation)).foreach {
          case (k, Some(v), want) if math.abs(v - want) > 1e-6 => p.add(s"$k differs", s"${g.id}: $v")
          case _ =>
        }
        if (r.geometry == null) { geomNull += 1; geomMissing += 1 }
        else envelope(r.geometry) match {
          case Some((x0, y0, x1, y1)) =>
            val (bw, bs, be, bn) = g.bbox
            val eps = 1e-9
            if (x0 < bw - eps || x1 > be + eps || y0 < bs - eps || y1 > bn + eps) geomMissing += 1
          case None => geomMissing += 1
        }
      }
    }
    val malformed = failed.count(_._2.startsWith("MalformedItem"))
    MonthCheck(p.result, written.size, failed.size, (fs intersect injected).size,
      malformed, geomNull, geomMissing, sunNull)
  }

  /** Envelope (minX, minY, maxX, maxY) of a WKB geometry; None when it
    * cannot be decoded or holds no coordinates.
    */
  def envelope(wkb: Array[Byte]): Option[(Double, Double, Double, Double)] = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    var n = 0
    def geom(buf: ByteBuffer): Unit = {
      buf.order(if (buf.get() == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      val raw = buf.getInt()
      val hasSrid = (raw & 0x20000000) != 0
      val ewkbDims = (if ((raw & 0x80000000) != 0) 1 else 0) + (if ((raw & 0x40000000) != 0) 1 else 0)
      val iso = raw & 0x0fffffff
      val tpe = iso % 1000
      val dims = 2 + ewkbDims + (iso / 1000 match { case 1 | 2 => 1; case 3 => 2; case _ => 0 })
      if (hasSrid) buf.getInt()
      def point(): Unit = {
        val x = buf.getDouble(); val y = buf.getDouble()
        (2 until dims).foreach(_ => buf.getDouble())
        if (!x.isNaN && !y.isNaN) {
          x0 = math.min(x0, x); x1 = math.max(x1, x)
          y0 = math.min(y0, y); y1 = math.max(y1, y); n += 1
        }
      }
      def points(): Unit = (0 until buf.getInt()).foreach(_ => point())
      tpe match {
        case 1 => point()
        case 2 => points()
        case 3 => (0 until buf.getInt()).foreach(_ => points())
        case 4 | 5 | 6 | 7 => (0 until buf.getInt()).foreach(_ => geom(buf))
        case _ => throw new IllegalArgumentException(s"WKB type $raw")
      }
    }
    try {
      geom(ByteBuffer.wrap(wkb))
      if (n == 0) None else Some((x0, y0, x1, y1))
    } catch { case _: RuntimeException => None }
  }
}
