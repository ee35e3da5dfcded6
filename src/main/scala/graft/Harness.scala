package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every graft main shares: the session, the JVM warm-up and the
  * choice of queries to run.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`: the local core count and shuffle partitions. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A [[GraftSession.builder]] session on `local[cpus]`. */
  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM/session warm-up, so the first timed query does not absorb
    * executor startup and codegen compiler init (~8-10 s otherwise).
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
  }

  /** The registered queries whose name `matches` one of `only`
    * (exact by default), or all of them when `only` is empty. A name
    * in `only` that matches nothing is reported on stderr.
    */
  def select(only: Seq[String],
             matches: (String, String) => Boolean = _ == _): Map[String, Query] = {
    val all = SparkEntry.queries
    only.filterNot(o => all.keys.exists(matches(_, o)))
      .foreach(o => System.err.println(s"[harness] no query matches $o"))
    if (only.isEmpty) all
    else all.filter { case (n, _) => only.exists(matches(n, _)) }
  }
}
