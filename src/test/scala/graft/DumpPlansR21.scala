package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan snapshots: writes `.explain("formatted")` of
  * every SparkEntry query (or a SPARK_GRAFT_ONLY subset) under
  * plans/r21/<query>_<suffix>.txt, taken under the SAME session config
  * as the bench (Bench.measurementSession) at the benched SF so plan
  * claims in OPTIMIZATION_r21.md are checkable against the bench.
  *
  * Run: SPARK_GRAFT_PLAN_SUFFIX=before sbt "Test/runMain graft.DumpPlansR21"
  * Exits 1, after writing every other plan, when any query fails to plan.
  */
object DumpPlansR21 {
  def main(args: Array[String]): Unit = {
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.measurementSession(cpus, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot { name =>
        try {
          val df = SparkEntry.queries(name)(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          true
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
          false
        }
      }
    println(s"wrote plans to $outDir (*_$suffix.txt)")
    spark.stop()
    // a query that fails to plan has no file, so a plan-identity diff
    // cannot see it: fail the run instead of hiding it
    if (failed.nonEmpty) {
      System.err.println(s"[plans] FAILED (${failed.size}): ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
