package graft

/** Dev utility: print the formatted physical plan (and an exchange
  * census) for named SparkEntry queries — the `.explain` feedback loop
  * the scale audit runs after every operator change.
  *
  * Usage: runMain graft.Explain <sfDir> <query> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Harness.session()
    Harness.select(args.tail.toSeq).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // force AQE-final plan
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      val bnlj = plan.linesIterator
        .count(_.contains("BroadcastNestedLoopJoin"))
      println(s"==== $name (exchanges=$exchanges, bnlj=$bnlj) ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
