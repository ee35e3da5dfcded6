package graft

/** Benchmark main: times every registered query at
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line to stdout AND writes the
  * same JSON to a file (`SPARK_GRAFT_BENCH_OUT`, default
  * `bench_out.json`). The file is rewritten after EVERY query with a
  * `"partial":true` marker, so an external timeout still leaves a
  * machine-readable per-query artifact — the stdout-only line has been
  * truncated by the driver's bounded tail in every prior round.
  *
  * Re-run policy (bounds worst-case wall clock under co-tenant load):
  *  - queries <= 2 s first run: timed once (noise there is absolute-small);
  *  - `stream_*` queries: timed once — their cost is deterministic
  *    per-query streaming-engine startup + state-store init, not noise,
  *    and re-running triples a fixed ~3 s cost for no extra signal;
  *  - other > 2 s queries: second run; if the two agree within 10% take
  *    the min (agreement rules out a transient stall), else a third run
  *    and take the median;
  *  - once total elapsed exceeds `SPARK_GRAFT_BENCH_BUDGET_SEC`
  *    (default 600 s) no more re-runs happen at all — every remaining
  *    query is timed once so the suite always terminates well inside
  *    the driver's timeout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // 600 s: the 276-query sequential pass under ambient co-tenant
    // load can exceed the old 480 s before the shared-session
    // streaming block gets its turn; the block itself is ~10 s
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "600").toDouble
    val spark = Harness.session()
    Harness.warmUp(spark)

    // 3-decimal (ms) precision keeps the JSON line short enough for the
    // driver's bounded stdout-tail window — full nanos overflowed it
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.US, v)
    // run-conditions stamp (round-12 verdict task 7): cross-round
    // ratios need their ambient-noise context — the same binary
    // measured 1.16x apart between the driver run and the round-end
    // run under different host load. /proc/loadavg is Linux-only;
    // stamp -1 where unavailable rather than failing the bench.
    def loadAvg(): (Double, Double, Double) =
      try {
        val parts = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")
        (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
      } catch { case _: Throwable => (-1.0, -1.0, -1.0) }
    val loadStart = loadAvg()
    def conditions: String = {
      val l = loadAvg()
      s""","load_avg_start":${f(loadStart._1)}""" +
        s""","load_avg_end":[${f(l._1)},${f(l._2)},${f(l._3)}]""" +
        s""","cpus":$cpus"""
    }
    def jsonLine(rs: Seq[(String, Double)], partial: Boolean): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      val total = rs.map(_._2).sum
      val part = if (partial) ",\"partial\":true" else ""
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"$conditions$part}"""
    }
    def writeOut(s: String): Unit = {
      val p = java.nio.file.Paths.get(outPath)
      java.nio.file.Files.write(p, (s + "\n").getBytes("UTF-8"))
    }

    val benchStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - benchStart) / 1e9

    // dev-only subset runs (e.g. SPARK_GRAFT_BENCH_ONLY=stream_): the
    // driver never sets this, so its per-round artifact stays full
    val selected = Harness.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq.empty), _ startsWith _)

    // rows-hash for streaming-parity checks: order-insensitive, cheap
    // (streaming outputs are small aggregate tables)
    def rowsHash(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().map(_.toString).sorted.mkString("\n").hashCode
    val streamSeqHash = scala.collection.mutable.Map.empty[String, Int]

    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    selected.foreach { case (name, fn) =>
      var lastDf: org.apache.spark.sql.DataFrame = null
      def once(): Double = {
        val t0 = System.nanoTime()
        try { val df = fn(spark, sfDir); df.count(); lastDf = df }
        catch { case _: Throwable => return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      val a = once()
      val overBudget = elapsed() > budgetSec
      val best =
        if (a < 0) { val b = once(); math.max(a, b) }
        else if (a <= 2.0 || name.startsWith("stream_") || overBudget) a
        else {
          val b = once()
          if (b >= 0 && math.abs(a - b) <= 0.10 * math.min(a, b)) math.min(a, b)
          else {
            val runs = (Seq(a, b, once()).filter(_ >= 0)).sorted
            runs(runs.length / 2)
          }
        }
      // streaming queries keep their sequential-run hash so the
      // shared-session concurrent block below can prove identity
      if (name.startsWith("stream_") && lastDf != null)
        try streamSeqHash(name) = rowsHash(lastDf)
        catch { case _: Throwable => }
      // per-query cache hygiene: operators that cache (LSH docs, IVF
      // vectors) must not squeeze later queries' execution memory
      spark.catalog.clearCache()
      acc += (name -> best)
      writeOut(jsonLine(acc.toSeq, partial = true))
    }

    // Shared-session streaming block (round-9 verdict #5): a real
    // deployment runs its streaming queries CONCURRENTLY in one
    // SparkSession, so the per-query state-store startup floor (~0.7 s
    // each, SURVEY §7f — engine tuning can't remove it) OVERLAPS
    // instead of summing. Re-runs every stream_* query on a small
    // thread pool against the same session, asserts the results
    // hash-match the sequential runs, and reports the block wall-time
    // next to the sequential sum. Memory-sink names are counter-unique
    // so concurrent runs can't collide; shuffle partitions are preset
    // to the streaming value so the per-query set/restore is
    // idempotent under interleaving.
    val streamNames = acc.collect {
      case (n, t) if n.startsWith("stream_") && t >= 0 => n }.toSeq
    var streamBlock = -1.0
    var streamParity = -1
    if (streamNames.nonEmpty && elapsed() < budgetSec) {
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4")
      spark.conf.set("spark.sql.shuffle.partitions", streamParts)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val t0 = System.nanoTime()
      val futs = streamNames.map { n =>
        scala.concurrent.Future {
          val h = rowsHash(SparkEntry.queries(n)(spark, sfDir))
          n -> (streamSeqHash.get(n).contains(h))
        }.recover { case _: Throwable => n -> false }
      }
      val done = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(600, "s"))
      streamBlock = (System.nanoTime() - t0) / 1e9
      streamParity = if (done.forall(_._2)) 1 else 0
      pool.shutdown()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    val streamSeqSum = acc.collect {
      case (n, t) if n.startsWith("stream_") && t >= 0 => t }.sum
    def extras: String =
      if (streamBlock < 0) ""
      else s""","streaming_block":${f(streamBlock)}""" +
        s""","streaming_seq_sum":${f(streamSeqSum)}""" +
        s""","streaming_parity":$streamParity"""

    val line = jsonLine(acc.toSeq, partial = false)
      .stripSuffix("}") + extras + "}"
    writeOut(line)
    // The driver parses its bounded stdout tail for the JSON line; the
    // full 229-query line (>5 KB) overflowed it in r01–r07, and even a
    // 2.8 KB compact line was clipped from the FRONT in r08 — the tail
    // window is smaller than (line + sbt epilogue). So the stdout line
    // is now hard-capped at the TOP-20 SLOWEST queries (<1 KB), and it
    // is printed twice: once here and once after spark.stop(), so the
    // last copy sits as close to the end of stdout as this process can
    // put it. The complete per-query artifact is always bench_out.json.
    val out =
      if (line.length <= 900) line
      else {
        val kept = acc.sortBy(-_._2).take(20)
        val qs = kept.map { case (k, v) => "\"" + k + "\":" + f(v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${f(acc.map(_._2).sum)},"unit":"sec"""" +
          s""","queries":$qs,"queries_elided":${acc.size - kept.size}""" +
          s""","queries_full":"bench_out.json","sf":"$sfDir"$conditions$extras}"""
      }
    println(out)
    spark.stop()
    println(out)
  }
}
