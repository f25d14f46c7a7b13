package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The 31 `Queries.all` leaves over the committed sf0.01 tables: one cold
  * pass in sorted name order in a fresh session, then steady passes. Each
  * query is timed to its result's row count and digest, which must match
  * the recorded expectations.
  */
object Ops {
  val SetupReps = 3
  val Sf = "sf0.01"

  /** Shared session artifacts and the query that builds each first in sorted order. */
  val ArtifactFirstConsumer: Seq[(String, String)] = Seq(
    "extracted" -> "x1_extract",
    "lsh_candidates" -> "d7_minhash_lsh_pairs",
    "simhash" -> "d11_simhash_pairs",
    "signature_table" -> "d10_embed_dup",
    "kmeans" -> "e3_cosine_ivf")

  def group(query: String): String = query.head match {
    case 'q' => "relational"
    case 'd' => "dedup"
    case 'e' => "ann"
    case 'x' => "extract"
    case _ => "media"
  }
  val Groups = Seq("relational", "dedup", "ann", "extract", "media")

  final case class Exec(query: String, seconds: Double, rows: Long, digest: String, error: String) {
    def ok: Boolean = error == null
  }

  def run(spark: SparkSession, args: RunArgs, sessionS: Double, report: Report): Unit = {
    val dir = s"${args.data}/$Sf"
    val names = graft.Queries.all.keys.toSeq.sorted

    // set-up: open every table (file listing and footers), several times
    val reads = (1 to SetupReps).map(_ => Stats.timed(
      graft.Tables.names.foreach(t => graft.Tables.load(spark, dir, t).schema))._1)
    report.e2e("setup_s", sessionS + Stats.median(reads), "s")

    def exec(name: String, pass: String, traced: Boolean): Exec = {
      Tracer.enabled = traced
      val t0 = System.nanoTime()
      val r = try {
        val (rows, digest) = Tracer.span(s"ops.$name", pass)(Digest.of(graft.Queries.all(name)(spark, dir)))
        Exec(name, Stats.secondsSince(t0), rows, digest, null)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Exec(name, Stats.secondsSince(t0), -1L, null, String.valueOf(e))
      }
      Tracer.enabled = false
      report.attempted += 1
      if (!r.ok) report.failed += 1
      r
    }

    val window = new Jvm.Window
    def pass(label: String, traced: Boolean): (Double, Seq[Exec]) = {
      Tracer.enabled = traced
      val r = Stats.timed(Tracer.span("ops.pass", label)(names.map(exec(_, label, traced))))
      Tracer.enabled = false
      System.err.println(f"[perfbench] ops pass $label: ${r._1}%.3f s")
      window.sample()
      r
    }

    val (_, cold) = pass("cold", traced = args.trace)
    val t0 = System.nanoTime()
    val steady = mutable.ArrayBuffer[(Double, Seq[Exec], Boolean)]()
    while (steady.length < (if (args.trace) 2 else 1) || Stats.secondsSince(t0) < args.seconds) {
      val traced = args.trace && steady.length % 2 == 1
      val (wall, execs) = pass(s"steady-${steady.length}", traced)
      steady += ((wall, execs, traced))
    }
    val (gcS, allocGb, heapMb) = window.close()

    // a failed execution is counted, never timed
    val coldS: Map[String, Double] = cold.filter(_.ok).map(e => e.query -> e.seconds).toMap
    val steadyS: Map[String, Double] = names.map { q =>
      q -> Stats.median(steady.flatMap(_._2).filter(e => e.query == q && e.ok).map(_.seconds))
    }.toMap
    val x3 = cold.find(_.query == "x3_extract_resume")
    report.e2e("docs_per_s", x3.map(_.rows.toDouble).getOrElse(0.0) / steadyS.getOrElse("x3_extract_resume", 0.0),
      "docs/s")
    report.e2e("resume_s", steadyS.getOrElse("x3_extract_resume", 0.0), "s")
    report.e2e("batch_p50_s", Stats.median(steadyS.values.toSeq), "s")
    report.e2e("cold_s", coldS.values.sum, "s")
    report.e2e("steady_s", steadyS.values.sum, "s")
    report.e2e("heap_peak_mb", heapMb, "MB")
    report.e2e("completed_ratio", 1.0 - report.failed.toDouble / report.attempted, "ratio")

    // output checks: rows and digest of every execution against the recorded expectations
    val all = cold ++ steady.flatMap(_._2)
    args.record match {
      case Some(path) =>
        val firsts = cold.filter(_.ok)
        val body = firsts.map(e => s"""  ${Json.str(e.query)}: {"rows": ${e.rows}, "digest": ${Json.str(e.digest)}}""")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
          s"""{\n "sf": "$Sf",\n "queries": {\n${body.mkString(",\n")}\n }\n}\n""")
        val stable = all.filter(_.ok).groupBy(_.query).forall(_._2.map(_.digest).distinct.length == 1)
        report.check("recorded_expectations_stable_across_passes", stable && firsts.length == names.length)
      case None =>
        val expected = Expected.load(s"${args.data}/ops_expected.json")
        report.check("query_set_eq_expected", expected.keySet == names.toSet,
          s"missing=${(expected.keySet -- names).mkString(",")} unexpected=${(names.toSet -- expected.keySet).mkString(",")}")
        val bad = all.filter(e => e.ok && !expected.get(e.query).contains((e.rows, e.digest)))
        report.check("query_rows_and_digest_eq_expected", bad.isEmpty,
          bad.take(5).map(e => s"${e.query}: rows=${e.rows} digest=${e.digest}").mkString("; "))
    }

    if (args.trace) {
      names.foreach { q =>
        report.layer(s"ops.$q.cold_s", coldS.getOrElse(q, 0.0), "s")
        report.layer(s"ops.$q.steady_s", steadyS(q), "s")
      }
      Groups.foreach(g => report.layer(s"ops.$g.steady_s", names.filter(group(_) == g).map(steadyS).sum, "s"))
      ArtifactFirstConsumer.foreach { case (artifact, q) =>
        report.layer(s"ops.artifact.$artifact.build_s", coldS.getOrElse(q, 0.0) - steadyS.getOrElse(q, 0.0), "s")
      }
      val rows = cold.map(e => e.query -> e.rows.toDouble).toMap
      report.layer("ops.lsh_verified_ratio", rows("d8_jaccard_pairs") / rows("d7_minhash_lsh_pairs"), "ratio")
      report.layer("jvm.gc_s", gcS, "s")
      report.layer("jvm.alloc_gb", allocGb, "GB")
      val tracedWall = steady.filter(_._3).map(_._1)
      val plainWall = steady.filterNot(_._3).map(_._1)
      report.layer("trace.overhead_ratio", Stats.median(tracedWall) / Stats.median(plainWall), "ratio")
    }
  }
}

/** The recorded per-query expectations: `{"queries": {name: {"rows": n, "digest": "..."}}}`. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val queries = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path)).get("queries")
    queries.fieldNames.asScala.map { q =>
      val e = queries.get(q)
      q -> (e.get("rows").asLong, e.get("digest").asText)
    }.toMap
  }
}
