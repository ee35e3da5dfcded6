package graft

import org.apache.spark.sql.SparkSession

/** Empty-input robustness sweep (round-9 verdict item #4): every
  * registered query run against a 0-row copy of the tables. A
  * production pipeline hits exactly this shape on an empty
  * partition/day/source, and the classic seams — `head()` on a stats
  * frame, folds over `collect_list`, `array_min` over an empty array,
  * division by a 0 count — only crash at runtime. Green means every
  * query returns an empty (or defined-degenerate) result without
  * throwing.
  *
  * `EmptyInputSpec` runs [[run]] inside the test suite; this main is
  * the standalone form (`runMain graft.EmptyCheck [srcDir]`).
  */
object EmptyCheck {

  /** Write an n-row schema-preserving copy of every table (n=0: the
    * empty-partition shape; n=1: the single-row/zero-variance shape).
    * The copies must be single FILES named `<table>.parquet` (the
    * production layout) — the streaming sources match leaf files
    * against a `<table>*.parquet` glob, so a Spark-written DIRECTORY
    * of part-files would be invisible to them.
    */
  def buildEmptyDir(spark: SparkSession, srcDir: String,
                    outDir: String, rows: Int = 0): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(outDir))
    val stage = Files.createTempDirectory("graft_empty_stage").toString
    Tables.all.foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet").limit(rows)
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/$t")
      val part = Files.list(Paths.get(s"$stage/$t")).iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) found = p
      }
      require(found != null, s"no part file written for $t")
      Files.copy(found, Paths.get(s"$outDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Run every registered query against `dir`; returns the failures
    * as (query, error) — empty Seq = sweep green. Each query's result
    * is forced with `count()` (the same materialization the bench
    * uses).
    */
  def run(spark: SparkSession, dir: String,
          verbose: Boolean = false): Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, dir).count()
        if (verbose) println(s"[empty-ok] $name rows=$n")
        None
      } catch {
        case e: Throwable =>
          val root = {
            var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause
            c
          }
          Some(name -> s"${root.getClass.getSimpleName}: ${
            Option(root.getMessage).getOrElse("").take(200)}")
      }
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val rows = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    val spark = Harness.session()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty").toString
    buildEmptyDir(spark, srcDir, dir, rows)
    val failures = run(spark, dir, verbose = true)
    failures.foreach { case (n, e) => println(s"[empty-FAIL] $n  $e") }
    println(s"[empty-check] ${SparkEntry.queries.size - failures.size}/" +
      s"${SparkEntry.queries.size} queries empty-input-safe")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
