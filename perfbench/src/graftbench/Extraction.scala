package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.spark.{Corpus, Doc, ExtractedDoc, Lineage, Pipeline, Spans, TableIO}

/** One document through the benchmark's own executor loop: nanoTime marks
  * around the scan, span assembly, parse and extraction calls.
  */
final case class DocRec(
    docId: String,
    nSpans: Int,
    scanNs: Long,
    tAssemble: Long,
    tAssembled: Long,
    tParsed: Long,
    tExtracted: Long,
    nodes: Int,
    htmlBytes: Long,
    status: String,
    outSpans: Int,
    textChars: Long)

/** The extraction workload: the Submit lifecycle with resume over a corpus
  * from `Corpus.generate`; its traced run also drives the Structured
  * Streaming twin over the same files.
  */
object Extraction extends Serializable {
  val SubmitDocs = 2000L
  val SubmitFiles = 16
  val FilesPerTrigger = 4
  /** Giant docs, as the pipeline's oversize gate counts them. */
  val GiantSpans = 256
  val OversizeFraction = 0.001
  val SetupReps = 3
  /** The first steady iteration still runs partly cold code; the median of three is not it. */
  val MinSteady = 3
  /** One doc in this many (by id hash), plus every giant, is re-extracted outside Spark. */
  val SampleEvery = 200
  val MaxPartitionBytes = "4m"
  val FailedStatuses = Set("error", "parse_failed")
  val Statuses = Seq("ok", "content_too_short", "parse_failed", "oversize_skipped", "error")

  private val cfg = Pipeline.Config()
  private val opts = graft.algo.Options(charThreshold = cfg.charThreshold)

  // ------------------------------------------------------------ workloads

  def submitResume(spark: SparkSession, args: RunArgs, sessionS: Double, report: Report): Unit = {
    implicit val session: SparkSession = spark
    import spark.implicits._
    val corpusDir = s"${args.work}/corpus"
    val n = SubmitDocs
    setup(spark, args, sessionS, n, SubmitFiles, corpusDir, report)
    val corpus = spark.read.parquet(corpusDir)
    val io = TableIO.parquet
    val nParts = Lineage.defaultParts

    final case class Iter(p1: Double, p2: Double, doneS: Double, sinkS: Double, skipped: Long,
        traced: Boolean, sink: String)

    def iteration(i: Int, traced: Boolean): Iter = {
      val sink = s"${args.work}/sink-$i"
      Tracer.enabled = traced
      var doneS, sinkS2 = 0.0
      var remaining: DataFrame = null
      val (wall, p1) = Stats.timed[Double](Tracer.span("submit.iteration", s"iteration-$i") {
        val (phase1, _) = Stats.timed(Tracer.span("submit.phase1") {
          Tracer.span("pipeline.extract_to_sink") {
            Pipeline.extractToSink(
              corpus.filter(Lineage.partKey(col("doc_id"), nParts) < nParts / 2).as[Doc],
              s"phase1-$i", sink, cfg, nParts, io)
          }
        })
        Tracer.span("submit.phase2") {
          doneS = Stats.timed {
            val done = Tracer.span("lineage.done_set")(Lineage.doneSet(io, spark, sink))
            remaining = Tracer.span("lineage.resume_filter")(
              done.map(Lineage.resumeFilter(corpus, _, nParts)).getOrElse(corpus))
          }._1
          sinkS2 = Stats.timed(Tracer.span("pipeline.extract_to_sink") {
            Pipeline.extractToSink(remaining.as[Doc], s"phase2-$i", sink, cfg, nParts, io, resume = true)
          })._1
        }
        phase1
      })
      Tracer.enabled = false
      Iter(p1, wall - p1, doneS, p1 + sinkS2, n - remaining.count(), traced, sink)
    }

    val window = new Jvm.Window
    val (cold, steadyAll) = loop(args, window) { (i, traced) =>
      if (i > 0) deleteSink(io, s"${args.work}/sink-${i - 1}")
      val it = iteration(i, traced)
      countStatuses(spark.read.parquet(it.sink), report)
      (it.p1 + it.p2, it)
    }
    val (gcS, allocGb, heapMb) = window.close()

    val steady = steadyAll.filterNot(_.traced)
    val steadyS = Stats.median(steady.map(it => it.p1 + it.p2))
    report.e2e("docs_per_s", n / steadyS, "docs/s")
    report.e2e("resume_s", Stats.median(steady.map(_.p2)), "s")
    report.e2e("batch_p50_s", Stats.median(steady.flatMap(it => Seq(it.p1, it.p2))), "s")
    report.e2e("cold_s", cold.p1 + cold.p2, "s")
    report.e2e("steady_s", steadyS, "s")
    endToEndCommon(report, heapMb)

    // output checks on the last iteration's sink
    val last = steadyAll.last
    val sink = spark.read.parquet(last.sink)
    val perId = sink.groupBy("doc_id").count()
      .agg(count(lit(1)), sum("count"), max("count")).collect()(0)
    val (distinct, rows, maxCopies) = (perId.getLong(0), perId.getLong(1), perId.getLong(2))
    val missing = corpus.select("doc_id").except(sink.select("doc_id")).count()
    val unknown = sink.select("doc_id").except(corpus.select("doc_id")).count()
    report.check("sink_has_every_doc_once",
      distinct == n && rows == n && maxCopies == 1 && missing == 0 && unknown == 0,
      s"corpus=$n sink_rows=$rows distinct=$distinct max_copies=$maxCopies missing=$missing unknown=$unknown")
    val lineage = spark.read.parquet(io.sidecar(last.sink, "lineage"))
    val lineageDocs = lineage.agg(sum("n_docs")).collect()(0).getLong(0)
    report.check("lineage_docs_eq_sink_rows_eq_corpus", lineageDocs == rows && rows == n,
      s"lineage_sum_n_docs=$lineageDocs sink_rows=$rows corpus=$n")
    val redone = rows - distinct
    report.check("lineage_redone_docs_zero", redone == 0, s"redone=$redone")
    sampleCheck(spark, corpus, sink.drop("part_key"), report)

    if (args.trace) {
      val traced = steadyAll.filter(_.traced)
      val pipe = layerPasses(spark, corpus, n, report)
      report.layer("sink.self_s", Stats.median(traced.map(_.sinkS)) - pipe, "s")
      val files = dataFiles(last.sink)
      report.layer("sink.files", files.length, "count")
      report.layer("sink.bytes", files.map(java.nio.file.Files.size).sum.toDouble, "bytes")
      report.layer("lineage.rows", lineage.count().toDouble, "count")
      report.layer("lineage.done_set_s", Stats.median(traced.map(_.doneS)), "s")
      report.layer("lineage.skipped_docs", last.skipped.toDouble, "count")
      report.layer("lineage.redone_docs", redone.toDouble, "count")
      streamPass(spark, corpus, corpusDir, args.work, sink.drop("part_key"), report)
      traceCommon(report, steadyAll.map(it => (it.p1 + it.p2, it.traced)), gcS, allocGb)
    }
  }

  /** The Structured Streaming twin over the same corpus files, in the traced
    * run: `readStream` → `Pipeline.extractStreaming` → parquet file sink,
    * `Trigger.AvailableNow`, [[FilesPerTrigger]] files a micro-batch. Its
    * output must hold the same rows as the batch sink.
    */
  private def streamPass(spark: SparkSession, corpus: DataFrame, corpusDir: String, work: String,
      batchOut: DataFrame, report: Report): Unit = {
    implicit val session: SparkSession = spark
    import spark.implicits._
    val (out, ck) = (s"$work/stream-out", s"$work/stream-ck")
    Tracer.enabled = true
    val q = Tracer.span("stream.query") {
      val q = Pipeline.extractStreaming(
        spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", FilesPerTrigger.toLong)
          .parquet(corpusDir).as[Doc], cfg)
        .writeStream.format("parquet").option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
      q
    }
    Tracer.enabled = false
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def s(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    report.layer("stream.batches", batches.length.toDouble, "count")
    report.layer("stream.add_batch_p50_s", Stats.median(batches.map(s(_, "addBatch"))), "s")
    report.layer("stream.planning_s", batches.map(s(_, "queryPlanning")).sum, "s")
    report.layer("stream.wal_commit_s", batches.map(p => s(p, "walCommit") + s(p, "commitOffsets")).sum, "s")
    val streamDigest = Digest.of(spark.read.parquet(out))
    val batchDigest = Digest.of(batchOut)
    report.check("stream_digest_eq_batch_digest", streamDigest == batchDigest,
      s"stream=${streamDigest._2} batch=${batchDigest._2}")
  }

  // ------------------------------------------------------------ shared steps

  /** Set-up: materialise the seeded corpus [[SetupReps]] times; reports the
    * session start plus the median build, and the corpus shape.
    */
  private def setup(spark: SparkSession, args: RunArgs, sessionS: Double, n: Long, nFiles: Int,
      dir: String, report: Report): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", MaxPartitionBytes)
    val builds = (1 to SetupReps).map(_ => Stats.timed(
      corpus(spark, n, args.seed).repartition(nFiles, col("doc_id")).write.mode("overwrite").parquet(dir))._1)
    report.e2e("setup_s", sessionS + Stats.median(builds), "s")
    val r = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(when(size(col("spans")) > GiantSpans, 1L).otherwise(0L)), sum(size(col("spans"))))
      .collect()(0)
    report.info("corpus.docs") = r.getLong(0).toString
    report.info("corpus.giant_docs") = r.getLong(1).toString
    report.check("corpus_shape", r.getLong(0) == n && r.getLong(1) == math.round(n * OversizeFraction),
      s"docs=${r.getLong(0)} giant_docs=${r.getLong(1)}")
    report.info("corpus.spans") = r.getLong(2).toString
    report.info("corpus.parquet_bytes") = dataFiles(dir).map(java.nio.file.Files.size).sum.toString
    System.err.println(s"[perfbench] corpus seed=${args.seed} " +
      report.info.filter(_._1.startsWith("corpus.")).map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  /** A corpus of `n` docs from `Corpus.generate` in which exactly one doc
    * in 1/[[OversizeFraction]] (every such index) is a giant page. The run
    * seed is mixed first: `Corpus` seeds each doc with `seed ^ index`, so
    * small seeds would only permute one set of docs.
    */
  def corpus(spark: SparkSession, n: Long, seed: Long): org.apache.spark.sql.Dataset[Doc] = {
    val stride = math.round(1 / OversizeFraction)
    val s = new Corpus.Rng(seed).nextLong()
    def giant(id: org.apache.spark.sql.Column) = pmod(id, lit(stride)) === stride - 1
    Corpus.generate(spark, n, s, 0.0, idFilter = id => !giant(id))
      .union(Corpus.generate(spark, n, s, 1.0, idFilter = giant))
  }

  /** The cold iteration, then steady iterations until `seconds` have
    * passed, at least [[MinSteady]]. A traced run alternates untraced and
    * traced steady iterations. The post-GC heap is sampled after every
    * iteration.
    */
  private def loop[T](args: RunArgs, window: Jvm.Window)(iteration: (Int, Boolean) => (Double, T)): (T, Seq[T]) = {
    var i = 0
    def step(traced: Boolean): T = {
      val (wall, it) = iteration(i, traced)
      System.err.println(f"[perfbench] ${args.workload} iteration $i: $wall%.3f s")
      i += 1
      window.sample()
      it
    }
    val cold = step(traced = false)
    val steady = ArrayBuffer[T]()
    val t0 = System.nanoTime()
    while (steady.length < MinSteady || Stats.secondsSince(t0) < args.seconds)
      steady += step(traced = args.trace && steady.length % 2 == 1)
    (cold, steady.toSeq)
  }

  private def countStatuses(extracted: DataFrame, report: Report): Unit =
    extracted.groupBy("status").count().collect().foreach { r =>
      report.attempted += r.getLong(1)
      if (FailedStatuses.contains(r.getString(0))) report.failed += r.getLong(1)
    }

  private def endToEndCommon(report: Report, heapMb: Double): Unit = {
    report.e2e("heap_peak_mb", heapMb, "MB")
    report.e2e("completed_ratio", 1.0 - report.failed.toDouble / report.attempted, "ratio")
  }

  private def traceCommon(report: Report, steady: Seq[(Double, Boolean)], gcS: Double, allocGb: Double): Unit = {
    report.layer("jvm.gc_s", gcS, "s")
    report.layer("jvm.alloc_gb", allocGb, "GB")
    report.layer("trace.overhead_ratio",
      Stats.median(steady.filter(_._2).map(_._1)) / Stats.median(steady.filterNot(_._2).map(_._1)), "ratio")
  }

  /** Every giant doc and a fixed hash sample must equal a direct
    * `Spans.extractFromHtml(id, Spans.assembleHtml(spans), ...)` call.
    */
  private def sampleCheck(spark: SparkSession, corpus: DataFrame, extracted: DataFrame, report: Report): Unit = {
    import spark.implicits._
    val sample = corpus
      .filter(size(col("spans")) > GiantSpans || pmod(xxhash64(col("doc_id")), lit(SampleEvery)) === 0)
      .as[Doc].collect().toSeq
    implicit val ec: ExecutionContext = ExecutionContext.global
    val want = Await.result(Future.sequence(sample.map(d => Future(
      Spans.extractFromHtml(d.doc_id, Spans.assembleHtml(d.spans), cfg.baseUrl, opts, cfg.maxHtmlChars)))),
      Duration.Inf)
    val got = extracted.filter(col("doc_id").isin(sample.map(_.doc_id): _*)).as[ExtractedDoc]
      .collect().map(d => d.doc_id -> d).toMap
    val bad = want.filterNot(w => got.get(w.doc_id).contains(w)).map(_.doc_id)
    report.check("sample_eq_direct_extraction", sample.nonEmpty && bad.isEmpty,
      s"sample=${sample.length} giants=${sample.count(_.spans.length > GiantSpans)} mismatched=${bad.take(5).mkString(",")}")
  }

  // ------------------------------------------------------------ traced layer passes

  /** The row fields `Spans.assembleHtmlFromRow` reads: (kind, text, media_ref, offset, field count). */
  private def spanFields(df: DataFrame): (Int, Int, Int, Int, Int) = {
    val st = df.schema("spans").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (st.fieldIndex("kind"), st.fieldIndex("text"), st.fieldIndex("media_ref"), st.fieldIndex("offset"), st.length)
  }

  /** The benchmark's own executor loop over the corpus scan, on the batch
    * pipeline's row path: per doc it times the scan,
    * `Spans.assembleHtmlFromRow`, `Parser.parse` (only when `parse`) and
    * `Spans.extractFromHtml`.
    */
  private def walk(corpus: DataFrame, parse: Boolean): RDD[DocRec] = {
    val (c, o) = (cfg, opts)
    val df = corpus.select("doc_id", "spans")
    val (kind, text, ref, off, nf) = spanFields(df)
    df.queryExecution.toRdd.mapPartitions(rows => timedScan(rows) { (row, scanNs) =>
      val arr = row.getArray(1)
      val id = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
      val t0 = System.nanoTime()
      val html = Spans.assembleHtmlFromRow(arr, nf, kind, text, ref, off)
      val t1 = System.nanoTime()
      val nodes = if (parse) graft.html.Parser.parse(html).n else 0
      val t2 = System.nanoTime()
      val ex = Spans.extractFromHtml(id, html, c.baseUrl, o, c.maxHtmlChars)
      val t3 = System.nanoTime()
      DocRec(id, arr.numElements(), scanNs, t0, t1, t2, t3, nodes, if (parse) utf8Length(html) else 0L, ex.status,
        if (ex.spans == null) 0 else ex.spans.length, ex.text_length.toLong)
    })
  }

  /** Summed per-doc seconds of `Spans.assembleHtml` alone, on the typed path. */
  private def typedAssembleSeconds(corpus: DataFrame): Double = {
    import corpus.sparkSession.implicits._
    corpus.as[Doc].rdd.map { d =>
      val t0 = System.nanoTime()
      Spans.assembleHtml(if (d.spans == null) Nil else d.spans)
      System.nanoTime() - t0
    }.sum() / 1e9
  }

  /** Maps `it`, handing each element the nanoseconds spent fetching it. */
  private def timedScan[A, B](it: Iterator[A])(f: (A, Long) => B): Iterator[B] = new Iterator[B] {
    private var pending = 0L
    def hasNext: Boolean = {
      val t = System.nanoTime()
      val h = it.hasNext
      pending += System.nanoTime() - t
      h
    }
    def next(): B = {
      val t = System.nanoTime()
      val a = it.next()
      val scanNs = pending + (System.nanoTime() - t)
      pending = 0L
      f(a, scanNs)
    }
  }

  private def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      n += (if (ch < 0x80) 1 else if (ch < 0x800) 2 else if (Character.isHighSurrogate(ch)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  /** The traced run's layer passes over the workload's corpus. Returns the
    * wall seconds of the pipeline pass (extraction to a noop sink).
    */
  private def layerPasses(spark: SparkSession, corpus: DataFrame, n: Long, report: Report): Double = {
    import spark.implicits._
    val sc = spark.sparkContext

    // 1. instrumented walk: per-doc spans for scan, assembly, parse, extraction
    Tracer.enabled = true
    val walkId = Tracer.nextId()
    val w0 = System.nanoTime()
    val recs = walk(corpus, parse = true).collect().toSeq
    Tracer.add(Span(walkId, -1L, "trace.layer_walk", null, w0, System.nanoTime()))
    recs.foreach { r =>
      val doc = Tracer.nextId()
      Tracer.add(Span(doc, walkId, "walk.doc", r.docId, r.tAssemble - r.scanNs, r.tExtracted))
      Tracer.add(Span(Tracer.nextId(), doc, "scan", r.docId, r.tAssemble - r.scanNs, r.tAssemble))
      Tracer.add(Span(Tracer.nextId(), doc, "spans.assemble", r.docId, r.tAssemble, r.tAssembled))
      Tracer.add(Span(Tracer.nextId(), doc, "html.parse", r.docId, r.tAssembled, r.tParsed))
      Tracer.add(Span(Tracer.nextId(), doc, "algo.extract_from_html", r.docId, r.tParsed, r.tExtracted))
    }
    Tracer.enabled = false
    val parseUs = recs.map(r => (r.tParsed - r.tAssembled) / 1e3)
    // the extraction call parses again inside; its own parse is estimated by ours
    val algoUs = recs.map(r => ((r.tExtracted - r.tParsed) - (r.tParsed - r.tAssembled)) / 1e3)
    val assembleS = recs.map(r => (r.tAssembled - r.tAssemble) / 1e9).sum
    report.layer("scan.self_s", recs.map(_.scanNs).sum / 1e9, "s")
    report.layer("scan.input_bytes",
      corpus.inputFiles.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum.toDouble,
      "bytes")
    report.layer("spans.html_bytes", recs.map(_.htmlBytes).sum.toDouble, "bytes")
    report.layer("html.parse_busy_s", parseUs.sum / 1e6, "s")
    report.layer("html.nodes", recs.map(_.nodes.toLong).sum.toDouble, "count")
    report.layer("html.parse_doc_p50_us", Stats.quantile(parseUs, 0.5), "us")
    report.layer("html.parse_doc_p99_us", Stats.quantile(parseUs, 0.99), "us")
    report.layer("algo.extract_busy_s", algoUs.sum / 1e6, "s")
    report.layer("algo.giant_busy_s", recs.zip(algoUs).filter(_._1.nSpans > GiantSpans).map(_._2).sum / 1e6, "s")
    report.layer("algo.doc_p50_us", Stats.quantile(algoUs, 0.5), "us")
    report.layer("algo.doc_p99_us", Stats.quantile(algoUs, 0.99), "us")
    report.layer("algo.doc_max_ms", algoUs.max / 1e3, "ms")
    val byStatus = recs.groupBy(_.status).map { case (k, v) => k -> v.length }
    Statuses.foreach(s => report.layer(s"algo.status.$s", byStatus.getOrElse(s, 0).toDouble, "count"))
    report.layer("algo.ok_ratio", byStatus.getOrElse("ok", 0).toDouble / recs.length, "ratio")
    report.layer("algo.out_spans", recs.map(_.outSpans.toLong).sum.toDouble, "count")
    report.layer("algo.out_text_chars", recs.map(_.textChars).sum.toDouble, "count")

    // 2. the typed path's assembly (the stream twin's), assembly only
    report.layer("spans.assemble_self_s", assembleS, "s")
    report.layer("spans.assemble_typed_self_s", typedAssembleSeconds(corpus), "s")

    // 3. the same loop without spans or the extra parse, against the pipeline, both to a noop sink
    val (ownS, _) = Stats.timed(walk(corpus, parse = false).map(_ => 1L).sum())
    val pipeProbe = new TaskProbe(sc).start()
    val docs = corpus.as[Doc]
    Tracer.enabled = true
    val (pipeS, _) = Stats.timed(Tracer.span("pipeline.extract_noop") {
      Pipeline.extract(docs, cfg)(spark).write.format("noop").mode("overwrite").save()
    })
    Tracer.enabled = false
    pipeProbe.stop()
    val tasks = pipeProbe.records
    val taskS = tasks.map(t => (t.finishMs - t.launchMs) / 1e3)
    report.layer("pipeline.wrapper_s", pipeS - ownS, "s")
    report.layer("pipeline.oversize_docs", pipeProbe.accumulator("graft.extract.oversize_docs").toDouble, "count")
    report.layer("pipeline.gate_wait_ms", pipeProbe.accumulator("graft.extract.gate_wait_ms").toDouble, "ms")
    report.layer("pipeline.tasks", tasks.length.toDouble, "count")
    report.layer("pipeline.task_p50_s", Stats.median(taskS), "s")
    report.layer("pipeline.task_max_s", if (taskS.isEmpty) 0.0 else taskS.max, "s")
    report.layer("pipeline.busy_share", taskS.sum / (Main.Cores * pipeS), "ratio")

    // 4. single-thread baseline over the same docs, outside Spark
    val all = docs.collect()
    val (oneS, _) = Stats.timed(all.foreach(d => Spans.extractFromHtml(d.doc_id,
      Spans.assembleHtml(if (d.spans == null) Nil else d.spans), cfg.baseUrl, opts, cfg.maxHtmlChars)))
    val oneThread = all.length / oneS
    report.layer("algo.docs_per_s_1t", oneThread, "docs/s")
    report.layer("pipeline.efficiency_1to4", (n / pipeS) / (Main.Cores * oneThread), "ratio")
    pipeS
  }

  // ------------------------------------------------------------ files

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val name = p.getFileName.toString
          java.nio.file.Files.isRegularFile(p) && name.endsWith(".parquet") &&
            !root.relativize(p).toString.split('/').exists(_.startsWith("_"))
        }.toList
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally s.close()
    }
  }

  private def deleteSink(io: TableIO, sink: String): Unit = {
    deleteTree(sink)
    deleteTree(io.sidecar(sink, "lineage"))
  }
}
