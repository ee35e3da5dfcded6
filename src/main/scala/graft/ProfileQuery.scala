package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge

/** Dev tool: decompose a query's wall-clock into driver-side phases
  * (DataFrame construction + analysis, optimization/planning) vs
  * execution, and count the jobs/stages/tasks the run schedules —
  * the measurement behind the r15 per-query-floor work (guide §1).
  * Each query runs three times; a last line gives the median.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <query> [query...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Harness.session()
    Harness.warmUp(spark)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val i = s.stageInfo
        val ms = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield a - b).getOrElse(-1L)
        if (ms >= 100)
          stageLog.add(s"stage${i.stageId}(${i.numTasks}t ${ms}ms rdds=" +
            i.rddInfos.map(_.name).mkString("|").take(120) + ")")
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    }
    spark.sparkContext.addSparkListener(listener)

    Harness.select(args.tail.toSeq).foreach { case (name, fn) =>
      val runs = (1 to 3).map { i =>
        GraftBridge.drainListenerBus(spark.sparkContext)
        jobs = 0; stages = 0; tasks = 0; stageLog.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime() // construction (incl. any eager jobs)
        val jobsConstr = jobs
        df.count()
        val t2 = System.nanoTime()
        GraftBridge.drainListenerBus(spark.sparkContext)
        val phases = df.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
          .mkString(" ")
        println(f"[prof] $name%-26s run$i total=${(t2 - t0) / 1e9}%.3f s " +
          f"construct=${(t1 - t0) / 1e9}%.3f s (jobs=$jobsConstr) " +
          f"exec=${(t2 - t1) / 1e9}%.3f s jobs=$jobs stages=$stages " +
          f"tasks=$tasks  [$phases]")
        import scala.jdk.CollectionConverters._
        if (!stageLog.isEmpty)
          println("       slow stages: " + stageLog.asScala.mkString(", "))
        spark.catalog.clearCache()
        (t2 - t0) / 1e9
      }.sorted
      println(f"[time] $name%-24s median ${runs(1)}%.3f s  (${runs.map(r => f"$r%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
