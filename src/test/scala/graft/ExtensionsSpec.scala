package graft

import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("RewriteSetOps rewrites size(array_intersect) to intersect_size") {
    // non-literal inputs (literals get constant-folded before we look)
    val df = Tables.load(spark, sf, "documents").limit(50)
      .select(split($"text", " ").as("a"),
        split(reverse($"text"), " ").as("b"))
      .select(size(array_intersect($"a", $"b")).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("intersect_size"),
      s"rewrite did not fire:\n$optimized")
    // semantics equal to the built-in (array_intersect dedups, and the
    // inputs here contain repeated tokens): compare against a shape
    // the rule does not rewrite
    val viaKernel = df.collect().map(_.getInt(0)).toSeq
    val builtin = Tables.load(spark, sf, "documents").limit(50)
      .select(size(array_distinct(array_intersect(split($"text", " "),
        split(reverse($"text"), " ")))).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(viaKernel === builtin)
  }

  test("rewrite does NOT fire on nullable-element arrays") {
    val df = Seq((Seq(Option("a"), None), Seq(Option("a"), None)))
      .toDF("a", "b")
      .select(size(array_intersect($"a", $"b")).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("intersect_size"))
    // built-in counts null as a common element
    assert(df.collect().head.getInt(0) === 2)
  }

  test("RewriteSetOps runs in exactly one optimizer batch") {
    SparkEntry.queries("q1_pricing_summary")(spark, sf)
    // `batches` and `Batch` are protected in RuleExecutor
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    val optimizer = spark.sessionState.optimizer
    val withRule = call(optimizer, "batches").asInstanceOf[Seq[AnyRef]]
      .filter(b => call(b, "rules").asInstanceOf[Seq[AnyRef]]
        .exists(_ eq graft.plans.RewriteSetOps))
      .map(call(_, "name"))
    assert(withRule.size === 1, withRule.mkString(", "))
  }
}
