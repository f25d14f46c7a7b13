package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments of one benchmark run. */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    out: String,
    record: Option[String],
    spans: Option[String],
    selfTimes: Option[String])

/** What a workload run measured and checked. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) => s"""${Json.str(n)}:{"ok":$ok,"detail":${Json.str(d)}}""" }
    val in = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(perLayer)},""" +
      s""""checks":${cs.mkString("{", ",", "}")},"info":${in.mkString("{", ",", "}")}}"""
  }
}

/** Benchmark entry point: one workload in one JVM at local[4]. */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Map.empty)
    val args = RunArgs(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("data"), a("out"), a.get("record"), a.get("spans"), a.get("self"))
    try {
      val (sessionS, spark) = Stats.timed(session(args.work))
      val report = new Report
      try args.workload match {
        case "submit_resume" => Extraction.submitResume(spark, args, sessionS, report)
        case "ops_sf001" => Ops.run(spark, args, sessionS, report)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
      for (sp <- args.spans; st <- args.selfTimes)
        Tracer.write(java.nio.file.Paths.get(sp), java.nio.file.Paths.get(st))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), report.toJson + "\n")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(3)
    }
    System.exit(0)
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  @annotation.tailrec
  private def parse(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
    case Nil => acc
    case k :: v :: t if k.startsWith("--") => parse(t, acc + (k.drop(2) -> v))
    case other :: _ => sys.error(s"unrecognized argument: $other")
  }
}
