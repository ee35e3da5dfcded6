package graft

import graft.ops.Events
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming window agg equals the batch window agg") {
    val stream = EventStreams.windowAgg(spark, sf).collect()
    val batch = Events.windowAgg(spark, sf).collect()
    assert(stream.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    // the rows above were read after the memory sink's view was dropped
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_window")))
  }

  test("streaming sessionization produces contiguous per-user sequences") {
    val rows = EventStreams.sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val seqs = rs.map(_.getLong(1)).sorted
      assert(seqs === (1L to seqs.length).toArray.toSeq,
        s"user $u has gaps in session_seq")
      rs.foreach(r => assert(r.getLong(4) >= r.getLong(3),
        s"user $u session end before start"))
    }
    // sessions within a user never overlap
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      for (i <- 1 until sorted.length)
        assert(sorted(i).getLong(3) > sorted(i - 1).getLong(4),
          s"user $u sessions overlap")
    }
  }

  test("repeated invocation is safe (unique memory sink names)") {
    val a = EventStreams.windowAgg(spark, sf).count()
    val b = EventStreams.windowAgg(spark, sf).count()
    assert(a === b && a > 0)
  }

  test("streaming CMS counter grid equals the batch-derived grid") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.TextStreams.cmsCounters(spark, sf).collect()
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .select(posexplode(graft.ops.TextAnalysis.cmsBuckets($"token"))
        .as(Seq("r", "bucket")))
      .groupBy($"r", $"bucket").agg(count(lit(1)).as("c"))
      .select($"r".cast("long").as("r"), $"bucket", $"c")
      .orderBy($"r", $"bucket").collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    // a sketch, not a histogram: the grid stays d×w no matter the stream
    assert(streamed.length <= 4 * 256)
  }

  test("checkpointed restart is exactly-once (no reprocessing, no loss)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val (in, out, ckpt) =
      (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    def mkBatch(ids: Range, tag: String): Unit =
      ids.map(i => (i.toLong, i * 1000L, i.toLong % 7, tag, 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, " +
          "event_type STRING, value DOUBLE, props STRING")
        .parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    mkBatch(0 until 100, "a")
    runOnce()
    mkBatch(100 until 150, "b") // arrives while the stream is down
    runOnce() // restart from the checkpoint
    val got = spark.read.parquet(out)
    // each input row exactly once: the checkpoint must skip batch "a"
    // on restart yet pick up batch "b"
    assert(got.count() === 150L)
    assert(got.groupBy($"event_id").count().filter($"count" > 1).count() === 0L)
    assert(got.filter($"event_type" === "b").count() === 50L)
  }

  test("stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = EventStreams.streamJoin(spark, sf).collect().toSeq
    val ev = Tables.load(spark, sf, "events")
      .withColumn("us", expr("ts DIV 1000"))
    val s = ev.filter($"event_type" === "signup")
      .select($"user_id", $"us".as("signup_us"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us".as("purchase_us"), $"value")
    val batch = s.join(p, Seq("user_id"))
      .filter($"purchase_us" >= $"signup_us" &&
        $"purchase_us" < $"signup_us" + 86400000000L)
      .select($"user_id", $"signup_us", $"purchase_us",
        round($"value", 2).as("purchase_value"))
      .orderBy($"user_id", $"signup_us", $"purchase_us")
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("stream-stream LEFT OUTER join: matches ≡ batch, nulls gated by watermark") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = EventStreams.streamOuterJoin(spark, sf)
    val ev = Tables.load(spark, sf, "events")
      .withColumn("us", expr("ts DIV 1000"))
    val s = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"user_id", $"us".as("signup_us"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us".as("purchase_us"), $"value")
    val matched = s.join(p, Seq("user_id"))
      .filter($"purchase_us" >= $"signup_us" &&
        $"purchase_us" < $"signup_us" + 86400000000L)
    // matched side is exactly the batch inner join
    assert(got.filter(!$"unconverted")
      .select($"signup_id", $"purchase_us").collect().map(_.toSeq).toSet ===
      matched.select($"signup_id", $"purchase_us")
        .collect().map(_.toSeq).toSet)
    // final global watermark = min of both sides' max event time − 1 h
    val wm = math.min(
      s.agg(max($"signup_us")).as[Long].collect().head,
      p.agg(max($"purchase_us")).as[Long].collect().head) - 3600000000L
    val matchedIds = matched.select($"signup_id").distinct()
      .as[Long].collect().toSet
    val allSignups = s.select($"signup_id", $"signup_us")
      .as[(Long, Long)].collect()
    val expNull = allSignups.filter { case (id, us) =>
      !matchedIds(id) && us + 86400000000L <= wm }.map(_._1).toSet
    val gotNull = got.filter($"unconverted")
      .select($"signup_id").as[Long].collect().toSet
    assert(gotNull === expNull, "null rows = unmatched AND window closed")
    // the withheld set is exactly the unmatched signups still inside
    // the final watermark — the one-shot run must NOT invent them
    val withheld = allSignups.filter { case (id, us) =>
      !matchedIds(id) && us + 86400000000L > wm }.map(_._1).toSet
    assert(withheld.intersect(gotNull).isEmpty)
    assert(gotNull.nonEmpty, "cutoff must be exercised, not vacuous")
  }

  test("streaming gopher gate equals the batch explode-form operator") {
    val streamed = graft.streaming.TextStreams.gopherFilter(spark, sf)
      .collect().toSeq
    val batch = graft.ops.TextAnalysis.gopherRules(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("streaming centroid assignment equals the batch projection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EmbedStreams.centroidAssign(spark, sf)
      .collect().toSeq
    val cents = graft.ops.Similarity.collectedCentroids(spark, sf)
    val batchVecs = Tables.load(spark, sf, "embeddings")
      .withColumn("v", transform($"embedding", x => x.cast("double")))
      .select($"vec_id", $"v")
    val batch = graft.ops.Similarity.assignToCentroids(batchVecs, cents)
      .orderBy($"vec_id").collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
    // every vector assigned exactly once, to a real label
    assert(streamed.map(_.getLong(0)).distinct.length === streamed.length)
    val labels = cents.map(_._1).toSet
    assert(streamed.forall(r => labels.contains(r.getInt(1))))
  }

  test("streaming rolling WAU equals the batch contribution-explode form") {
    import java.sql.Date
    val streamed = graft.streaming.EventStreams.activeUsersWau(spark, sf)
      .collect().toSeq.map(r => (r.getDate(0).toString, r.getLong(1)))
    // batch reference: the WAU column of B49 covers only days with
    // activity; the stream also carries the trailing run-out window
    // days, so compare on the batch op's days and check the tail is
    // monotone non-increasing (users age out of the window)
    val batch = graft.ops.Events.activeUsers(spark, sf)
      .collect().toSeq.map(r => (r.getDate(0).toString, r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    val (onActive, tail) = streamed.partition(d => batch.contains(d._1))
    assert(onActive.map(d => d._1 -> d._2).toMap === batch)
    assert(tail.length <= 6) // at most 6 run-out days past the last event
    val lastActive = onActive.map(_._1).max
    assert(tail.forall(_._1 > lastActive))
  }

  test("streaming bm25 equals the batch operator") {
    val streamed = graft.streaming.TextStreams.bm25Scores(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = graft.ops.TextAnalysis.bm25(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("streaming funnel equals the batch windowed funnel") {
    val stream = EventStreams.streamFunnel(spark, sf).collect()
    val batch = graft.ops.Analytics.windowedFunnel(spark, sf).collect()
    assert(stream.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(stream.nonEmpty)
  }

  test("update-mode state ops are exact across MULTIPLE micro-batches") {
    // the memory sink in Update mode appends each trigger's emission;
    // the operators' readers must argmax to the latest per-key update,
    // or a multi-file source would return stale duplicates. Force 3
    // micro-batches (3-part source dir + maxFilesPerTrigger=1) and
    // assert exact equality with the single-batch and batch results.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.lit
    val tmp = Files.createTempDirectory("graft-multibatch").toString
    // the file source streams sibling FILES matched by the widened leaf
    // glob (events*.parquet) in modification-time order; write each
    // slice through a staging dir and move the part into place as
    // events<i>.parquet, sleeping so mtimes are strictly increasing
    // even on coarse-granularity filesystems
    def writeSlice(df: DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/$name"),
        StandardCopyOption.REPLACE_EXISTING)
      Paths.get(s"$tmp/$name").toFile.setLastModified(
        System.currentTimeMillis())
      Thread.sleep(1100)
    }
    // the funnel state machine assumes per-user event-TIME order across
    // batches (the production watermark assumption), so its slices are
    // time ranges written oldest-first
    val rawEv = spark.read.parquet(s"$sf/events.parquet")
    val tss = rawEv.select($"ts").distinct().orderBy($"ts")
      .collect().map(_.get(0))
    val c1 = tss(tss.length / 3)
    val c2 = tss(2 * tss.length / 3)
    writeSlice(rawEv.filter($"ts" <= lit(c1)), "events1.parquet")
    writeSlice(rawEv.filter($"ts" > lit(c1) && $"ts" <= lit(c2)),
      "events2.parquet")
    writeSlice(rawEv.filter($"ts" > lit(c2)), "events3.parquet")
    // the sample is a pure function of the document SET — batch
    // composition may be arbitrary, so an arbitrary 3-way split is the
    // stronger test there
    val rawDocs = Tables.load(spark, sf, "documents")
    writeSlice(rawDocs.filter($"doc_id" % 3 === 0), "documents1.parquet")
    writeSlice(rawDocs.filter($"doc_id" % 3 === 1), "documents2.parquet")
    writeSlice(rawDocs.filter($"doc_id" % 3 === 2), "documents3.parquet")
    val multiFunnel = EventStreams.streamFunnel(spark, tmp,
      maxFilesPerTrigger = Some(1)).collect()
    val batchFunnel = graft.ops.Analytics.windowedFunnel(spark, sf).collect()
    assert(multiFunnel.nonEmpty)
    assert(multiFunnel.map(_.toString).toSeq ===
      batchFunnel.map(_.toString).toSeq)
    val multiSample = graft.streaming.TextStreams.consistentSample(spark,
      tmp, maxFilesPerTrigger = Some(1)).collect()
    val batchSample = graft.ops.Curation.consistentSample(spark, sf).collect()
    assert(multiSample.nonEmpty)
    assert(multiSample.map(_.toString).toSeq ===
      batchSample.map(_.toString).toSeq)
    // the quality-cap heap is order-independent the same way: three
    // arbitrary-split micro-batches must land exactly on batch H24
    val multiCap = graft.streaming.TextStreams.qualityCap(spark,
      tmp, maxFilesPerTrigger = Some(1)).collect()
    val batchCap = graft.ops.Curation.sourceQualityCap(spark, sf)
      .select($"source", $"rnk", $"doc_id", $"quality", $"n_source_docs")
      .collect()
    assert(multiCap.nonEmpty)
    assert(multiCap.map(_.toString).toSeq ===
      batchCap.map(_.toString).toSeq)
    // the KMV cardinality sketch is a set union — arbitrary-split
    // micro-batches land exactly on the single-batch estimates
    val multiCard = graft.streaming.TextStreams.cardinality(spark, tmp)
      .collect()
    val oneCard = graft.streaming.TextStreams.cardinality(spark, sf)
      .collect()
    assert(multiCard.nonEmpty)
    assert(multiCard.map(_.toString).toSeq ===
      oneCard.map(_.toString).toSeq)
    // the Page-Hinkley monitor is order-sensitive like the funnel:
    // three time-sliced batches must fold to the single-batch state
    val multiDrift = EventStreams.streamDriftMonitor(spark, tmp,
      maxFilesPerTrigger = Some(1)).collect()
    val oneDrift = EventStreams.streamDriftMonitor(spark, sf).collect()
    assert(multiDrift.nonEmpty)
    assert(multiDrift.map(_.toString).toSeq ===
      oneDrift.map(_.toString).toSeq)
    // the EWMA monitor is order-sensitive like the drift monitor:
    // three time-sliced batches must fold to the single-batch level
    val multiEwma = EventStreams.streamEwmaMonitor(spark, tmp,
      maxFilesPerTrigger = Some(1)).collect()
    val oneEwma = EventStreams.streamEwmaMonitor(spark, sf).collect()
    assert(multiEwma.nonEmpty)
    assert(multiEwma.map(_.toString).toSeq ===
      oneEwma.map(_.toString).toSeq)
    // the value histogram is a commutative count state — arbitrary
    // batch slicing lands exactly on the single-batch percentiles
    val multiPct = EventStreams.streamValuePercentiles(spark, tmp,
      maxFilesPerTrigger = Some(1)).collect()
    val onePct = EventStreams.streamValuePercentiles(spark, sf).collect()
    assert(multiPct.nonEmpty)
    assert(multiPct.map(_.toString).toSeq ===
      onePct.map(_.toString).toSeq)
  }

  test("session timeout: emits on gap or watermark expiry, withholds open tails") {
    import spark.implicits._
    val got = EventStreams.streamSessionTimeout(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // serial replay: gap-sessionize per user, withhold last sessions
    // the final watermark hasn't passed (the engine's ms arithmetic)
    val evs = graft.Tables.normalizeEventTs(
        spark.read.parquet(s"$sf/events.parquet"))
      .select($"user_id", org.apache.spark.sql.functions.expr("ts DIV 1000"))
      .as[(Long, Long)].collect()
    val gapUs = 1800000000L
    val wmMs = evs.map(_._2).max / 1000L - 3600000L
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[(Long, Long, Long)]) {
        case (acc, us) => acc match {
          case (s, e, n) :: rest if us - e < gapUs => (s, us, n + 1) :: rest
          case _ => (us, us, 1L) :: acc
        }
      }.reverse
      val closed = sessions.init
      val last = sessions.last
      val lastEmitted =
        if ((last._2 + gapUs) / 1000L < wmMs) Seq(last) else Seq.empty
      (closed ++ lastEmitted).map(s => (u, s._1, s._2, s._3))
    }
    assert(got.sorted.toSeq === expected.sorted)
    // both gate outcomes exercised: some last sessions emitted via
    // timeout AND some withheld as still-open
    val lastPerUser = evs.groupBy(_._1).size
    val emittedLasts = expected.size -
      evs.groupBy(_._1).map { case (_, rows) =>
        val ts = rows.map(_._2).sorted
        ts.zip(ts.drop(1)).count { case (a, b) => b - a >= gapUs }
      }.sum
    assert(emittedLasts > 0, "no session emitted via the timeout path")
    assert(emittedLasts < lastPerUser, "watermark withheld nothing")
  }

  test("drift monitor: non-vacuous alarms, state equals a serial fold") {
    val rows = EventStreams.streamDriftMonitor(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Long]("n_alarms") > 0))
    // serial Page-Hinkley replay per event_type straight off the table
    val evs = graft.Tables.normalizeEventTs(
        spark.read.parquet(s"$sf/events.parquet"))
      .select($"event_type", $"event_id",
        org.apache.spark.sql.functions.expr("ts DIV 1000"), $"value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.foreach { r =>
      val tpe = r.getAs[String]("event_type")
      val mine = evs.filter(_._1 == tpe).sortBy(e => (e._3, e._2))
      var cum = 0L; var minc = Long.MaxValue; var maxc = Long.MinValue
      var alarms = 0L; var first = -1L
      mine.foreach { case (_, id, _, v) =>
        cum += math.floor(v * 100.0 + 0.5).toLong - 4500L
        minc = math.min(minc, cum); maxc = math.max(maxc, cum)
        if (cum - minc > 50000L) { alarms += 1; if (first < 0) first = id }
      }
      assert(r.getAs[Long]("n") === mine.length)
      assert(r.getAs[Long]("cum_dev") === cum)
      assert(r.getAs[Long]("min_cum") === minc)
      assert(r.getAs[Long]("max_cum") === maxc)
      assert(r.getAs[Long]("n_alarms") === alarms)
      assert(r.getAs[Long]("first_alarm_id") === first)
    }
  }

  test("watermark drops late data from an append-mode windowed aggregate") {
    // G19 evidence: the state-expiry contract behind every windowed
    // stream op — without the watermark dropping late rows, state
    // grows without bound on an unbounded stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum, window => fwindow}
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val mem = MemoryStream[(java.sql.Timestamp, Long)]
      def t(min: Int) = new java.sql.Timestamp(1500000000000L + min * 60000L)
      val agg = mem.toDF().toDF("ts", "v")
        .withWatermark("ts", "10 minutes")
        .groupBy(fwindow($"ts", "10 minutes"))
        .agg(fcount(flit(1)).as("n"), fsum($"v").as("s"))
        .select($"window.start".as("ws"), $"n", $"s")
      val q = agg.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("graft_wm_test").start()
      try {
        mem.addData((t(0), 1L), (t(5), 2L)) // window [0,10)
        q.processAllAvailable()
        mem.addData((t(30), 3L)) // watermark → 20, [0,10) finalizes
        q.processAllAvailable()
        mem.addData((t(1), 100L)) // LATE: event time 1 < watermark 20
        q.processAllAvailable()
        mem.addData((t(60), 4L)) // watermark → 50, [30,40) finalizes
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("graft_wm_test")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1.getTime)
      // two finalized windows; the late v=100 row contributed nowhere
      assert(rows.toSeq === Seq((t(0), 2L, 3L), (t(30), 1L, 3L)),
        s"got ${rows.toSeq}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("streaming anomaly z-scores equal the batch trailing-window op") {
    val streamed = EventStreams.streamAnomaly(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = Events.anomalyZscore(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }
}
