package graft

import org.apache.spark.sql.functions._

/** r15 optimization mechanisms:
  *
  * - [[graft.expressions.Once]]: the pushdown barrier for expensive
  *   derived columns — identity values, and the plan proof that the
  *   filter no longer re-evaluates the child below the Project.
  * - [[Tables.spread]]: the scale-gated input spread — identity (no
  *   added exchange) when the scan already has enough partitions,
  *   rows unchanged when it fires.
  * - The r15 one-pass rewrites (thresholdSweep single aggregation,
  *   lshTuning single exploded grid pass) are covered by the DuckDB
  *   oracle sweep (bit-exact hash match at sf0.01/sf0.1); here we pin
  *   the thresholdSweep report against an independently-computed
  *   two-branch shape so the equivalence also lives in the suite.
  */
class OnceAndSpreadSpec extends SparkSpecBase {
  import spark.implicits._

  test("once(): identity values, and the filter is NOT pushed below " +
    "the defining Project") {
    val df = spark.range(100).toDF("id")
      .withColumn("big", graft.functions.once(md5($"id".cast("string")
        .cast("binary"))))
      .filter($"big".startsWith("a"))
    val plain = spark.range(100).toDF("id")
      .withColumn("big", md5($"id".cast("string").cast("binary")))
      .filter($"big".startsWith("a"))
    // identical rows
    assert(df.collect().map(_.toString).sorted
      .sameElements(plain.collect().map(_.toString).sorted))
    // the optimized plan must keep exactly ONE md5 evaluation: the
    // un-barriered version duplicates it into the pushed filter
    def md5Count(p: org.apache.spark.sql.DataFrame): Int =
      p.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case m: org.apache.spark.sql.catalyst.expressions.Md5 => m }))
        .length
    assert(md5Count(df) === 1, "once() must keep a single evaluation")
    assert(md5Count(plain) >= 2,
      "control: pushdown duplicates the un-barriered expression " +
        "(if this ever stops holding, once() may be removable)")
  }

  test("spread(): identity when the input already has >= half the " +
    "session parallelism; fires (same rows) when it does not") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, numPartitions = par)
    assert(Tables.spread(wide.toDF()).rdd.getNumPartitions === par,
      "no repartition may be added to an already-parallel input")
    val narrow = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    val spreadDf = Tables.spread(narrow)
    assert(spreadDf.rdd.getNumPartitions === par)
    assert(spreadDf.select(sum($"id")).as[Long].head() ===
      narrow.select(sum($"id")).as[Long].head())
  }

  test("thresholdSweep one-pass aggregation == the two-branch shape") {
    val got = ops.Dedup.thresholdSweep(spark, sf).collect()
      .map(_.toString)
    // independent recomputation: brute-force ALL pairs with the same
    // exact integer Jaccard test (sf0.001 is ~50 docs), then the
    // pre-r15 two-branch counting per threshold
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .withColumn("sh", graft.functions.shingles3($"toks"))
      .select($"doc_id", $"sh", size($"sh").as("sz"))
    val all = docs.select($"doc_id".as("doc_a"), $"sh".as("sha"),
        $"sz".as("sza"))
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("shb"),
        $"sz".as("szb")), $"doc_a" < $"doc_b")
      .withColumn("i",
        graft.functions.intersect_size($"sha", $"shb").cast("long"))
      .withColumn("u", $"sza" + $"szb" - $"i")
      .select($"doc_a", $"doc_b", $"i", $"u")
      .cache()
    val expect = Seq((0.7, 7000), (0.8, 8000), (0.9, 9000)).map {
      case (t, tn) =>
        val f = all.filter($"i" * 10000 >= $"u" * lit(tn.toLong))
        val nPairs = f.count()
        val removed = f.select($"doc_b").distinct().count()
        val affected = f
          .select(explode(array($"doc_a", $"doc_b")).as("d"))
          .distinct().count()
        s"[$t,$nPairs,$affected,$removed]"
    }
    all.unpersist()
    assert(got.toSeq === expect,
      "one-pass report must equal the two-branch computation")
  }
}
