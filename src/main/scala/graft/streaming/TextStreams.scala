package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TextAnalysis

/** Streaming text-analysis operators: sketches maintained
  * incrementally over a document stream.
  */
object TextStreams {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** G8 — streaming count-min sketch: the E19 counter grid as a
    * continuously maintained streaming aggregate over the document
    * stream. The grid IS the streaming state — d×w cells regardless of
    * stream length (the whole point of a sketch as stream state), and
    * the same HUGEINT SQL that proves E19 bit-exact proves the
    * streamed grid equals the batch grid.
    */
  def cmsCounters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    val agg = docs
      .select(explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .select(posexplode(TextAnalysis.cmsBuckets($"token"))
        .as(Seq("r", "bucket")))
      .groupBy($"r", $"bucket").agg(count(lit(1)).as("c"))
    EventStreams.runToCompletion(agg, "graft_stream_cms")
      .select($"r".cast("long").as("r"), $"bucket", $"c")
      .orderBy($"r", $"bucket")
  }

  /** G27 — streaming heavy hitters via Misra–Gries state: the live
    * "which tokens dominate each feed" gauge. Exact streaming
    * per-token counts need state ∝ vocabulary; the
    * [[graft.expressions.MisraGries]] summary holds ≤ k−1 counters
    * per source FOREVER (G25's sketch-as-state argument, applied to
    * frequencies) and still guarantees every token with true share
    * > 1/k is retained across any reduce/merge order. Retained
    * WEIGHTS are arrival-order-dependent — no stream can know them
    * exactly — so the stream's deliverable is the candidate set; the
    * production-pattern periodic exact re-count (batch, over the same
    * files) filters it to the true heavy set, making the one-shot
    * output deterministic, equal to E45's batch answer by the
    * superset guarantee, and DuckDB-oracle-checkable.
    */
  def heavyHitters(spark: SparkSession, dir: String,
                   k: Int = 32): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    val mg = udaf(graft.expressions.MisraGries(k))
    val agg = docs
      .select($"source", explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"source").agg(mg($"token").as("cands"))
    val cand = EventStreams.runToCompletion(agg, "graft_stream_mg")
      .select($"source", explode($"cands").as("token"))
    val tk = graft.Tables.load(spark, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
    val totals = tk.groupBy($"source").agg(count(lit(1)).as("n_tokens"))
    tk.join(broadcast(cand), Seq("source", "token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "source")
      .filter($"n" * k > $"n_tokens")
      .select($"source", $"token", $"n", $"n_tokens",
        (floor($"n".cast("double") / $"n_tokens" * 1000000.0 + 0.5)
          / 1000000.0).as("share"))
      .orderBy($"source", $"token")
  }

  /** G11 — streaming importance scoring: H11's trained per-bucket
    * log-ratio table (an offline artifact, ≤256 rows) broadcast onto a
    * live document stream — the production "train offline, score
    * online" split for DSIR-style data selection at ingest time. The
    * stream side is a stateless projection + per-doc aggregate; state
    * is per-doc partial sums, never the corpus. Batch H11 (and its
    * DuckDB oracle) is the equality check.
    */
  def importanceScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchBg = graft.ops.Curation.bigramBuckets(
      graft.Tables.load(spark, dir, "documents"))
    val ratio = graft.ops.Curation.bucketLogRatio(batchBg, "en", 256)
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    // integer 1e-9-unit log-ratio state (see bucketLogRatio): the
    // streaming sum is exact and micro-batch-order independent
    val scored = graft.ops.Curation.bigramBuckets(docs)
      .join(broadcast(ratio), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"lru".cast("decimal(38,0)")).as("slru"))
    EventStreams.runToCompletion(scored, "graft_stream_importance")
      .select($"doc_id", $"n_bigrams",
        (floor($"slru".cast("double") / 1000000000.0 / $"n_bigrams"
          * 1000000.0 + 0.5).cast("double") / 1000000.0).as("weight"))
      .orderBy($"doc_id")
  }

  /** G14 — streaming Gopher-rule gate: E28's hard quality filter as a
    * STATELESS stream projection (the per-row fold variant — the
    * explode→groupBy batch plan would need chained streaming
    * aggregations, which the engine rejects). This is the ingest-time
    * placement production pipelines actually use: score and gate each
    * document as it arrives, no state, unbounded throughput. The batch
    * E28 SQL is the oracle, so streamed ≡ batch exactly.
    */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    EventStreams.runToCompletion(
      TextAnalysis.gopherRulesOn(docs), "graft_stream_gopher",
      mode = "append")
      .orderBy($"doc_id")
  }

  /** G17 — streaming BM25 relevance scoring: E30's corpus artifacts
    * (idf per query term, average doc length — tiny offline values)
    * folded as literals into a STATELESS per-row fold over the
    * document stream — per-doc term frequencies come from the token
    * array in the row, so no streaming aggregation chain is needed;
    * the top-n cut runs over the drained per-doc scores (the
    * stream_anomaly "incremental ingest, tiny finalize" split). Batch
    * E30's DuckDB oracle is the equality check.
    */
  def bm25Scores(spark: SparkSession, dir: String,
                 topN: Int = 50): DataFrame = {
    import spark.implicits._
    val k1 = TextAnalysis.Bm25K1
    val b = TextAnalysis.Bm25B
    val (_, avgdl, dfFrame) = TextAnalysis.bm25Artifacts(spark, dir)
    val idf = dfFrame.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
      .withColumn("tk", filter(split($"text", " "), t => t =!= ""))
      .withColumn("dl", size($"tk").cast("double"))
    // fold terms in SORTED order so the per-row reduce replays the
    // oracle's (and batch bm25's) ordered fold exactly — absent terms
    // contribute +0.0, an IEEE identity, so the three expressions
    // produce bit-identical doubles
    val termScores = TextAnalysis.Bm25QueryTerms.sorted.flatMap { t =>
      idf.get(t).map { w =>
        val tf = size(filter($"tk", x => x === t)).cast("double")
        (when(tf > 0.0,
          lit(w) * tf * (k1 + 1.0) /
            (tf + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / avgdl)))
          .otherwise(0.0),
          when(tf > 0.0, 1L).otherwise(0L))
      }
    }
    // empty corpus: no idf artifacts → zero term columns to reduce;
    // the empty typed frame is the defined answer
    if (termScores.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "bm25", "n_terms")
    val scored = docs.select($"doc_id",
      termScores.map(_._1).reduce(_ + _).as("s"),
      termScores.map(_._2).reduce(_ + _).as("n_terms"))
      .filter($"n_terms" > 0)
    EventStreams.runToCompletion(scored, "graft_stream_bm25",
      mode = "append")
      .select($"doc_id",
        (floor($"s" * 1000000.0 + 0.5).cast("double") / 1000000.0)
          .as("bm25"),
        $"n_terms")
      .orderBy($"bm25".desc, $"doc_id")
      .limit(topN)
      .orderBy($"doc_id")
  }

  final case class SampleRow(lang: String, source: String, rnk: Long,
                             doc_id: Long, h: Long, upd: Long)

  final case class CapRow(source: String, rnk: Long, doc_id: Long,
                          quality: Double, n_source_docs: Long, upd: Long)

  /** G23 — streaming twin of the H24 per-source quality cap: each
    * source's k best-by-quality documents maintained as
    * `flatMapGroupsWithState` — state per source is the k-bounded
    * (quality desc, doc_id) heap PLUS a seen-doc counter, fixed width
    * on an unbounded stream. The quality score is E2's scan-side
    * projection ([[TextAnalysis.withQualityScore]] — no shuffle, so
    * it streams unchanged), and because membership is a pure function
    * of the (rounded-quality, doc_id) ORDER, the drained one-shot
    * stream equals batch H24 — the same oracle checks both. Update
    * sequencing follows G20: the Update-mode memory sink appends every
    * trigger's emission, so the reader argmaxes to the latest.
    */
  def qualityCap(spark: SparkSession, dir: String,
                 k: Int = 15,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    var reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n))
    val docs = TextAnalysis.withQualityScore(reader
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir))
      .select($"source".as[String], $"doc_id".as[Long],
        $"quality".as[Double])
    val updated = docs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[(Long, Long, Seq[(Double, Long)])]) =>
          val (upd, seen, heap) = state.getOption.getOrElse(
            (0L, 0L, Seq.empty[(Double, Long)]))
          val batch = rows.toSeq
          val merged = (heap ++ batch.map(r => (r._3, r._2)))
            .sortBy { case (q, id) => (-q, id) }.take(k)
          val total = seen + batch.length
          state.update((upd + 1, total, merged))
          merged.zipWithIndex.iterator.map { case ((q, id), i) =>
            CapRow(source, (i + 1).toLong, id, q, total, upd + 1)
          }
      }
    val name =
      s"graft_stream_qcap_${EventStreams.counter.incrementAndGet()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      EventStreams.streamStatePartitions)
    try {
      val q = updated.writeStream
        .outputMode(OutputMode.Update)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    EventStreams.takeSink(spark, name)
      .groupBy($"source", $"rnk")
      .agg(max(struct($"upd", $"doc_id", $"quality", $"n_source_docs"))
        .as("s"))
      .select($"source", $"rnk", $"s.doc_id".as("doc_id"),
        $"s.quality".as("quality"),
        $"s.n_source_docs".as("n_source_docs"))
      .orderBy($"source", $"rnk")
  }

  /** G20 — streaming twin of the H18 consistent sampler: each
    * (lang, source) stratum's bottom-k-by-keyed-md5 sample maintained
    * as `flatMapGroupsWithState` — state is a k-bounded (priority, id)
    * heap per stratum (fixed width on an unbounded stream; the B37
    * buffer as streaming state), and because membership is a pure
    * function of the hash ORDER, the maintained sample equals the
    * batch sample after any prefix of the stream that contains the
    * same documents. One-shot run ≡ batch H18 (same oracle).
    */
  def consistentSample(spark: SparkSession, dir: String,
                       k: Int = 20,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    var reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n))
    val docs = reader
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
      .withColumn("h",
        conv(substring(md5(concat(lit("csample:"), $"doc_id".cast("string"))
          .cast("binary")), 1, 12), 16, 10).cast("long"))
      .select($"lang".as[String], $"source".as[String],
        $"doc_id".as[Long], $"h".as[Long])
    val updated = docs.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Long)],
         state: GroupState[(Long, Seq[(Long, Long)])]) =>
          val (upd, heap) = state.getOption.getOrElse((0L, Seq.empty))
          val merged = (heap ++ rows.map(r => (r._4, r._3)))
            .sortBy { case (h, id) => (h, id) }.take(k)
          // per-stratum update sequence: the Update-mode memory sink
          // appends each trigger's emission, so the reader argmaxes to
          // the latest one (the heap only grows, so every rnk present
          // earlier exists at the latest update too)
          state.update((upd + 1, merged))
          merged.zipWithIndex.iterator.map { case ((h, id), i) =>
            SampleRow(key._1, key._2, (i + 1).toLong, id, h, upd + 1)
          }
      }
    val name = s"graft_stream_csample_${EventStreams.counter.incrementAndGet()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      EventStreams.streamStatePartitions)
    try {
      val q = updated.writeStream
        .outputMode(OutputMode.Update)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    EventStreams.takeSink(spark, name)
      .groupBy($"lang", $"source", $"rnk")
      .agg(max(struct($"upd", $"doc_id", $"h")).as("s"))
      .select($"lang", $"source", $"rnk", $"s.doc_id".as("doc_id"),
        $"s.h".as("h"))
      .orderBy($"lang", $"source", $"rnk")
  }

  /** G21 — streaming corpus manifest: H20's order-independent content
    * fingerprint maintained as a plain streaming aggregate — the
    * commutative hash-sum is EXACTLY what makes the manifest
    * streamable (any arrival order, any batch boundaries, same
    * fingerprint), so an ingest job can publish a per-source manifest
    * continuously and a consumer can verify a snapshot against it.
    * State is one row per source. One-shot run ≡ batch H20 (same
    * oracle).
    */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    val agg = docs
      .withColumn("h",
        conv(substring(md5(concat($"doc_id".cast("string"), lit(":"),
          $"text").cast("binary")), 1, 12), 16, 10).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"h").as("content_sum"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
    EventStreams.runToCompletion(agg, "graft_stream_manifest")
      .orderBy($"source")
  }

  /** G25 — streaming per-source distinct-text cardinality via the
    * [[graft.expressions.KmvSketch]] bottom-k sketch as streaming
    * state: the live "how many unique documents has each feed sent?"
    * gauge. Exact streaming distinct needs state ∝ distinct values
    * (G3's dropDuplicates); the sketch holds k longs per source
    * FOREVER — the entire point of sketch-as-state — and its merge is
    * idempotent, so replayed micro-batches after a restart cannot
    * drift the estimate. Estimator decisions come from the sketch
    * alone (size < k ⇒ the sketch IS the value set), which is the
    * only rule a stream can apply — no exact count exists anywhere.
    * One-shot run ≡ the same sketch built in batch (the oracle).
    */
  def cardinality(spark: SparkSession, dir: String,
                  k: Int = 16): DataFrame = {
    import spark.implicits._
    val two48 = 281474976710656.0
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    val kmv = udaf(graft.expressions.KmvSketch(k))
    val agg = docs
      .select($"source",
        conv(substring(md5($"text".cast("binary")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .groupBy($"source")
      .agg(kmv($"h").as("sk"))
    EventStreams.runToCompletion(agg, "graft_stream_card")
      .select($"source",
        (floor(when(size($"sk") < k, size($"sk").cast("double"))
          .otherwise(lit((k - 1).toDouble) * two48 /
            element_at($"sk", k).cast("double"))
          * 1000000.0 + 0.5) / 1000000.0).as("est_distinct"))
      .orderBy($"source")
  }

  val oracles: Map[String, String] = Map(
    "stream_cardinality" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substring(md5(text), 1, 12))::BIGINT AS h
        |  FROM documents),
        |rn AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM h),
        |sk AS (SELECT source, count(*)::BIGINT AS m, max(h) AS hk
        |       FROM rn WHERE rn <= 16 GROUP BY 1)
        |SELECT source,
        |  floor((CASE WHEN m < 16 THEN m::DOUBLE
        |    ELSE 15.0 * 281474976710656.0 / hk END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS est_distinct
        |FROM sk ORDER BY source""".stripMargin,
    "stream_heavy_hitters" -> TextAnalysis.oracles("text_heavy_tokens"),
    "stream_manifest" ->
      graft.ops.Curation.oracles("corpus_manifest"),
    "stream_consistent_sample" ->
      graft.ops.Curation.oracles("sample_consistent"),
    "stream_quality_cap" ->
      graft.ops.Curation.oracles("source_quality_cap"),
    "stream_bm25" -> TextAnalysis.oracles("text_bm25"),
    "stream_gopher_filter" -> TextAnalysis.oracles("text_gopher_rules"),
    "stream_importance" -> graft.ops.Curation.oracles("importance_weights"),
    "stream_cms_counters" -> (TextAnalysis.cmsBkCte +
      """SELECT CAST(r AS BIGINT) AS r, bucket, c FROM counters
        |ORDER BY r, bucket""".stripMargin))
}
