package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.stac.StacFetch

/** The JVM-wide store the benchmark's transport serves from, and the
  * counters it keeps. Executors run in the driver's JVM (`local[n]`), so
  * task closures carry only the small [[BenchTransport]], never the bodies.
  */
object BenchStore {
  final case class Served(bytes: Array[Byte], fault: Int, slow: Boolean)

  private val served = new ConcurrentHashMap[String, Served]()
  @volatile var baseMs: Int = 0 // service time of every GET
  @volatile var slowMs: Int = 0 // added for the slow URLs

  def load(in: Inputs): Unit = {
    served.clear()
    val byUrl = in.feed.iterator.map(g => g.stacUrl -> g).toMap
    in.bodies.foreach { case (u, b) =>
      val g = byUrl(u)
      served.put(u, Served(b, g.fault, g.slow))
    }
  }

  def lookup(url: String): Served = served.get(url)

  // counters, reset per operation
  val gets = new AtomicLong
  val opens = new AtomicLong
  val failedInjected = new AtomicLong // 503s thrown and truncated bodies served
  val failedOther = new AtomicLong    // GETs of a URL the store does not hold
  val busyNanos = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  val perUrl = new ConcurrentHashMap[String, AtomicInteger]()
  val perNetloc = new ConcurrentHashMap[String, AtomicInteger]()
  private var lastChange = 0L
  private var integral = 0.0 // in-flight count × nanos, while the count is > 0
  private var activeNanos = 0L

  def reset(): Unit = synchronized {
    Seq(gets, opens, failedInjected, failedOther, busyNanos).foreach(_.set(0))
    inflight.set(0); inflightMax.set(0)
    perUrl.clear(); perNetloc.clear()
    lastChange = System.nanoTime(); integral = 0.0; activeNanos = 0L
  }

  private[graftbench] def step(delta: Int): Unit = synchronized {
    val now = System.nanoTime()
    val before = inflight.get()
    if (before > 0) { integral += before.toDouble * (now - lastChange); activeNanos += now - lastChange }
    lastChange = now
    val after = inflight.addAndGet(delta)
    if (after > inflightMax.get()) inflightMax.set(after)
  }

  /** Mean GETs in flight over the time at least one was in flight. */
  def inflightMean: Double = synchronized { if (activeNanos == 0) 0.0 else integral / activeNanos }
}

/** Instrumented in-process `StacFetch.Transport`. It serves the generated
  * bytes, sleeps the configured service time, throws a 503 for the URLs the
  * seed marks, and counts GETs per URL, opens per netloc, in-flight
  * high-water and mean, and summed service time.
  */
class BenchTransport extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    BenchStore.opens.incrementAndGet()
    BenchStore.perNetloc.computeIfAbsent(s"$scheme://$netloc", _ => new AtomicInteger).incrementAndGet()
    url => BenchTransport.get(url)
  }
}

object BenchTransport {
  def get(url: String): Array[Byte] = {
    import BenchStore._
    step(+1)
    val t0 = System.nanoTime()
    try {
      gets.incrementAndGet()
      perUrl.computeIfAbsent(url, _ => new AtomicInteger).incrementAndGet()
      val s = lookup(url)
      if (s == null) {
        failedOther.incrementAndGet()
        throw new java.io.IOException(s"404 Not Found: $url")
      }
      val ms = baseMs + (if (s.slow) slowMs else 0)
      if (ms > 0) Thread.sleep(ms.toLong)
      s.fault match {
        case Gen.Fault503 =>
          failedInjected.incrementAndGet()
          throw new java.io.IOException("503 Service Unavailable")
        case Gen.FaultTruncated =>
          failedInjected.incrementAndGet()
          s.bytes
        case _ => s.bytes
      }
    } finally {
      busyNanos.addAndGet(System.nanoTime() - t0)
      step(-1)
    }
  }
}
