package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Runs `explain("formatted")` once for each registered query and each
  * [[Queries.auditExtras]] stage, and writes every plan:
  *   - to `<outDir>/<name>_<suffix>.txt`, the per-round optimization
  *     evidence (plans/r07/NAME_before.txt and NAME_after.txt);
  *   - when no query names are given, also to BENCH/PLANS.md, the single
  *     committed plan record, with an audit line per plan that flags any
  *     CartesianProduct, and a SortMergeJoin where q2/e1 expect a
  *     broadcast join.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query ...]
  * from the repository root (env: SPARK_GRAFT_SF_DIR, default the
  * committed sf0.01 tables under perfbench/data; SPARK_GRAFT_CPUS, default
  * 4 — the input and parallelism of the committed BENCH/PLANS.md). With
  * no query names, dumps every registered query and audit stage.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "perfbench/data/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val surfaces = Queries.all ++ Queries.auditExtras
    val all = args.length == 2
    val names = if (all) surfaces.keys.toSeq.sorted else args.drop(2).toSeq
    val md = new StringBuilder
    md.append("# Physical plans (explain formatted) — generated by graft.PlanDump\n\n")
    md.append(s"Input: `$sfDir`. Regenerate: `SPARK_GRAFT_SF_DIR=$sfDir SPARK_GRAFT_CPUS=$cpus " +
      "sbt \"runMain graft.PlanDump <outDir> <suffix>\"`.\n\n")
    val flagged = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      val plan = try {
        surfaces(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch {
        case e: Exception =>
          println(s"[plandump] $name failed: $e")
          flagged += s"$name: explain failed"
          s"EXPLAIN FAILED: $e\n"
      }
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      val audit = Seq(
        "CARTESIAN-PRODUCT" -> plan.contains("CartesianProduct"),
        "expected-broadcast-got-SMJ" -> (plan.contains("SortMergeJoin") &&
          (name.startsWith("q2") || name.startsWith("e1")))).collect { case (f, true) => f }
      md.append(s"## $name\n\n")
      if (audit.nonEmpty) {
        md.append(s"**AUDIT FLAGS: ${audit.mkString(", ")}**\n\n")
        flagged += s"$name: ${audit.mkString(", ")}"
      }
      md.append("```\n").append(plan.take(8000)).append("\n```\n\n")
    }
    if (all) {
      Files.createDirectories(Paths.get("BENCH"))
      Files.writeString(Paths.get("BENCH/PLANS.md"), md.toString)
      println(s"[plandump] wrote BENCH/PLANS.md (${names.size} plans)")
    }
    if (flagged.nonEmpty) println("FLAGGED:\n  " + flagged.mkString("\n  "))
    else println("no audit flags")
    Queries.releaseCaches(spark)
    spark.stop()
  }
}
