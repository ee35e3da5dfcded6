package graftbench

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: seeded inputs are reproducible, the checkers
  * flag corrupted outputs, and BENCHMARK.json names the metrics the
  * benchmark prints. Run with `python3 pipebench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def point(x: Double, y: Double): Array[Byte] =
    ByteBuffer.allocate(21).order(LITTLE_ENDIAN).put(1.toByte).putInt(1).putDouble(x).putDouble(y).array()

  /** What a correct month build writes for `expected`. */
  private def perfect(expected: Seq[Granule]): (Seq[WrittenRow], Seq[(String, String)]) = {
    val (bad, good) = expected.partition(_.fault != Gen.NoFault)
    (good.map(g => WrittenRow(g.stacUrl, g.id, Some(g.tsMicros), Some(g.cloudCover), Some(g.sunAzimuth),
      Some(g.sunElevation), Some(g.assetsCrc), point(g.lon, g.lat), g.lon, g.lat)),
      bad.map(g => (g.stacUrl, if (g.fault == Gen.Fault503) "IOException: 503" else "MalformedItem: x")))
  }

  def main(args: Array[String]): Unit = {
    val months = Seq(CollectionMonth("HLSS30_2.0", 2023, 6, 3000))
    val a = Gen.generate(11, months, otherCollectionShare = 0.5)
    val b = Gen.generate(11, months, otherCollectionShare = 0.5)
    val c = Gen.generate(12, months, otherCollectionShare = 0.5)
    expect("same seed gives byte-identical inputs", a.digest == b.digest)
    expect("another seed gives other inputs", a.digest != c.digest)
    expect("bodies carry no grid field", a.bodies.values.forall(b => !new String(b, "UTF-8").contains("\"grid\"")))
    val cm = months.head
    val expected = a.cached(cm)
    expect("the month has injected 503s and truncated bodies",
      expected.exists(_.fault == Gen.Fault503) && expected.exists(_.fault == Gen.FaultTruncated))
    expect("feed lon/lat is the centroid of the MGRS tile in the id", a.feed.take(200).forall { g =>
      val c = graft.geo.Mgrs.toLatLon(g.id.split('.')(2).drop(1))
      c.lon == g.lon && c.lat == g.lat
    })

    val (rows, failed) = perfect(expected)
    val clean = Check.month(expected, rows, failed)
    expect("a correct month build passes", clean.ok && clean.geomMissing == 0 && clean.sunNull == 0)
    expect("a dropped row is flagged", !Check.month(expected, rows.tail, failed).ok)
    expect("a duplicated link is flagged", !Check.month(expected, rows :+ rows.head, failed).ok)
    expect("a link on both sides is flagged", !Check.month(expected, rows, failed :+ (rows.head.url -> "x")).ok)
    expect("a lost injected failure is flagged", !Check.month(expected, rows, failed.tail).ok)
    expect("a changed asset href is flagged",
      !Check.month(expected, rows.head.copy(assetsCrc = Some(0L)) +: rows.tail, failed).ok)
    val nullGeom = Check.month(expected, rows.map(_.copy(geometry = null)), failed)
    expect("NULL geometry is counted, not failed", nullGeom.ok && nullGeom.geomMissing == rows.size)
    val polygon = {
      val g = expected.find(_.fault == Gen.NoFault).get
      val (w, s, e, n) = g.bbox
      val bb = ByteBuffer.allocate(1 + 4 + 4 + 4 + 5 * 16).order(LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(3).putInt(1).putInt(5)
      Seq((w, s), (e, s), (e, n), (w, n), (w, s)).foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
      Check.envelope(bb.array()).contains((w, s, e, n))
    }
    expect("a polygon footprint decodes to its bbox", polygon)

    val box = (-20.0, -10.0, 40.0, 50.0)
    val right = Check.bruteForce(rows, box)(_.id, _.lon, _.lat)
    expect("the test box holds rows", right.size > 5)
    expect("a right bbox answer passes", Check.ids("bbox id", right, right.toSeq).isEmpty)
    expect("a bbox answer missing a row is flagged", Check.ids("bbox id", right, right.toSeq.tail).nonEmpty)
    expect("a bbox answer with an extra row is flagged",
      Check.ids("bbox id", right, right.toSeq :+ rows.map(_.id).find(!right(_)).get).nonEmpty)
    expect("a duplicated daily link is flagged",
      Check.ids("daily link", a.daily(cm.collection, cm.days.head),
        a.daily(cm.collection, cm.days.head).toSeq :+ a.daily(cm.collection, cm.days.head).head).nonEmpty)

    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
    def names(key: String) = spec.get(key).elements().asScala.map(n => (n.get("name").asText, n.get("unit").asText)).toSeq
    expect("BENCHMARK.json lists the end-to-end metrics printed", names("end_to_end") == Main.EndToEnd)
    expect("BENCHMARK.json lists the per-layer metrics printed", names("per_layer") == Main.PerLayer)
    expect("BENCHMARK.json lists the workloads",
      spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workload.all.map(_.name))

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
