package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.internal.SQLConf

/** Per-query plan snapshots for the optimization rounds: writes
  * `explain("formatted")` of each named query to
  * `plans/<tag>/<query>_<suffix>.txt`, so before/after plan diffs are
  * reviewable without running Spark.
  *
  * Usage: sbt "runMain graft.PlanSnap <tag> <suffix> <q1,q2,...> [sfDir]"
  * e.g.   sbt "runMain graft.PlanSnap r15 before q_join_fuzzy,x_dedup_ngram"
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> <q1,q2,...> [sfDir]")
    val (tag, suffix) = (args(0), args(1))
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // Spark's own (unbounded) plan-string length in place of the
    // session's 32 KB cap: a snapshot is only worth diffing whole.
    val spark = Sessions.build(extraConfigs = Map(
      SQLConf.MAX_PLAN_STRING_LENGTH.key ->
        SQLConf.MAX_PLAN_STRING_LENGTH.defaultValueString))
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
