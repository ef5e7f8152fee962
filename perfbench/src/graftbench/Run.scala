package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftEngine
import graft.sources.TextIndex

/** State of one benchmark run: the session, operation counts, check
  * failures, the metrics to print and, in a traced run, the span
  * recorder and the job listener. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val jvmStartMs: Long, val work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val attemptedN = new AtomicLong(0)
  private val failedN = new AtomicLong(0)
  private val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  val tracer: Option[Tracer] = if (traced) Some(new Tracer) else None
  val listener: Option[JobListener] =
    if (traced) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()
  def correct: Boolean = synchronized(problems.isEmpty)
  def problemList: Seq[String] = synchronized(problems.toSeq)

  /** One attempted operation; an exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failedN.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  /** A traced-run extra: not one of the run's operations, so it is
    * not counted; a failure is reported and leaves its metric out. */
  def extra[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] traced $what failed: $e")
        None
    }

  /** An operation that completed but whose check found a known
    * program fault: counted as failed, not as a wrong answer. */
  def knownFault(what: String, r: Option[String]): Unit =
    r.foreach { m =>
      failedN.incrementAndGet()
      System.err.println(s"[perfbench] $what failed (known fault): $m")
    }

  def check(what: String, r: Option[String]): Unit =
    r.foreach { m =>
      synchronized(problems += s"$what: $m")
      System.err.println(s"[perfbench] CHECK FAILED $what: $m")
    }

  def span[T](name: String, op: Long)(body: => T): T =
    tracer.fold(body)(_.span(name, op)(body))

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** The median of a run's samples as a metric. With no sample — every
    * timed operation failed — the metric is left out, and an untraced
    * run then ends without a result rather than report 0. */
  def medianMetric(name: String, samples: Seq[Double], unit: String): Unit =
    if (samples.nonEmpty) metric(name, Run.median(samples), unit)

  /** Seconds from JVM start until now. */
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def path(name: String): String = work.resolve(name).toString
}

object Run {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def ms(ns: Long): Double = ns / 1e6

  def timed[T](body: => T): (T, Long) = {
    val t = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t)
  }

  /** Regular files under `p` with their sizes. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
      } finally s.close()
    }

  def mb(p: Path): Double = files(p).values.sum / 1e6

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { f =>
        val t = to.resolve(from.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(t)
        else Files.copy(f, t)
      }
    } finally s.close()
  }
}

/** The corpus a served result is checked against: live documents
  * with their text and source. */
final class Live(docs: Map[Long, (String, String)]) {
  def text(id: Long): Option[String] = docs.get(id).map(_._1)
  def source(id: Long): Option[String] = docs.get(id).map(_._2)
  lazy val bm: Oracle.Bm25 = new Oracle.Bm25(docs.map { case (id, (t, _)) => id -> t })
  private val bySource = mutable.HashMap.empty[String, Oracle.Bm25]
  def bm(source: String): Oracle.Bm25 = bySource.getOrElseUpdate(source,
    new Oracle.Bm25(docs.collect { case (id, (t, s)) if s == source => id -> t }))
}

/** Single-caller served searches and their checks, shared by both
  * workloads. In a traced run every serve is followed by the same
  * query through each layer on its own (ranking, both legs, render,
  * rerank), a source-filtered serve where the index's metadata is
  * intact, and a 32-query batch serve. */
final class Serving(run: Run, engine: GraftEngine, index: String,
                    queries: IndexedSeq[Gen.Query], filtered: Boolean) {
  import Gen._
  import Run._
  import run.spark.implicits._

  val Limit = 10
  val BatchSize = 32
  val serveMs = mutable.ArrayBuffer.empty[Double]
  private val trackedAfter = mutable.ArrayBuffer.empty[Double]

  /** Ranked (doc_id, score) of a served result, by kind. */
  def ranked(kind: Kind, rows: Seq[Row]): Seq[(Long, Double)] = kind match {
    case Bm25 => rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    case _ => rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("hybrid_score")))
  }

  def call(kind: Kind, q: Query): Seq[Row] = kind match {
    case Hybrid => engine.runSearchFromIndex(index, q.text, 0.5, Limit)
    case Bm25 => engine.runSearchFromIndex(index, q.text, 0.0, Limit)
    case Filtered =>
      engine.searchFromIndex(index, q.text, 0.0, Limit,
        filters = Map("source" -> q.source)).collect().toSeq
  }

  /** Serve one query to completion, timed, release the caches it
    * pinned (the serve path persists a frame only the process-global
    * release frees), and check the result. */
  def serve(kind: Kind, q: Query, live: Live): Unit = {
    val rows = run.op(s"$kind serve ${q.qid}") {
      val (rows, ns) = timed(run.span("engine.serve", q.qid)(call(kind, q)))
      serveMs += ms(ns)
      rows
    }
    if (run.traced) trackedAfter += graft.Caches.trackedCount.toDouble
    engine.releaseCaches()
    rows.foreach(check(kind, q, _, live))
    if (run.traced && rows.isDefined) traceLayers(q, live)
  }

  private def traceLayers(q: Query, live: Live): Unit = {
    val terms = Oracle.tokens(q.text).toSeq
    val spark = run.spark
    val rankedRows = run.span("textindex.rank", q.qid)(
      engine.searchFromIndex(index, q.text, 0.5, Limit).collect().toSeq)
    engine.releaseCaches()
    val single = rankedRows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("hybrid_score")))
    run.span("textindex.bm25_leg", q.qid)(
      TextIndex.bm25Serve(spark, index, terms)
        .orderBy($"score".desc, $"doc_id").limit(50).collect())
    run.span("textindex.vector_leg", q.qid)(
      TextIndex.vectorServe(spark, index, terms).collect())
    run.span("textindex.render", q.qid)(
      TextIndex.renderHits(spark, index, single.toDF("doc_id", "hybrid_score"), terms).collect())
    engine.releaseCaches()
    val reranked = run.span("textindex.rerank", q.qid)(
      TextIndex.rerankServe(spark, index, terms, 0.5, Limit).collect().toSeq)
    run.check(s"reranked serve '${q.text}'", Oracle.checkRerank(
      reranked.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rerank_score"))),
      live.text, terms, Limit))
    if (filtered) {
      run.extra(s"filtered serve ${q.qid}")(call(Filtered, q))
        .foreach(check(Filtered, q, _, live))
      engine.releaseCaches()
    }
    val batch = q +: (1 until BatchSize).map(j => queries((q.qid.toInt + j) % queries.size))
    val qs = batch.map(b => (b.qid, b.text))
    run.extra(s"batch serve ${q.qid}")(run.span("engine.batch", q.qid)(
      engine.runSearchBatchFromIndex(index, qs, 0.5, Limit))).foreach { rows =>
      checkBatch(batch, rows, Map(q.qid -> single))
    }
    run.span("textindex.batch", q.qid)(TextIndex.hybridServeBatch(spark, index,
      qs.map { case (id, t) => (id, Oracle.tokens(t).toSeq) }, 0.5, Limit).collect())
  }

  /** Check a served result against the live corpus. */
  def check(kind: Kind, q: Query, rows: Seq[Row], live: Live): Unit = {
    val terms = Oracle.tokens(q.text).toSeq
    val what = s"$kind serve '${q.text}'"
    kind match {
      case Bm25 =>
        run.check(what, Oracle.checkRanked(ranked(Bm25, rows), live.bm.scores(terms),
          Limit, 2e-6))
        run.check(what, Oracle.checkContent(contentOf(rows), live.text))
      case Hybrid =>
        run.check(what, Oracle.checkHybrid(
          rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("hybrid_score"),
            r.getAs[String]("content"))), Limit, live.text))
      case Filtered =>
        run.check(what, Oracle.checkFiltered(ranked(Filtered, rows),
          live.bm(q.source), terms, Limit, id => live.source(id).contains(q.source)))
    }
  }

  /** Each query's block of a batch serve: hybrid properties, and the
    * same ranking as the single-caller ranking of that query. */
  def checkBatch(batch: Seq[Query], rows: Seq[Row],
                 single: Map[Long, Seq[(Long, Double)]]): Unit = {
    val blocks = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rnk"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("hybrid_score")))
    }
    batch.foreach { q =>
      val got = blocks.getOrElse(q.qid, Nil)
      run.check(s"batch block ${q.qid}", Oracle.checkHybrid(
        got.map { case (id, s) => (id, s, "") }, Limit, _ => Some("")))
      single.get(q.qid).foreach(s => run.check(s"batch block ${q.qid}",
        Oracle.checkSame(got, s, "batch and single-caller rankings")))
    }
  }

  private def contentOf(rows: Seq[Row]): Seq[(Long, String)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("content")))

  /** Serve-layer per-layer metrics from the spans and the listener. */
  def layerMetrics(): Unit = for (t <- run.tracer; l <- run.listener) {
    l.settle()
    def medMs(name: String): Double = median(t.named(name).map(s => ms(s.durNs)))
    def perSpan(name: String)(f: (Seq[Job], Span) => Double): Double =
      median(t.named(name).map(s => f(l.jobsIn(s.startMs, s.endMs), s)))
    run.metric("engine.serve_ms", medMs("engine.serve"), "ms")
    run.metric("textindex.rank_ms", medMs("textindex.rank"), "ms")
    run.metric("textindex.bm25_leg_ms", medMs("textindex.bm25_leg"), "ms")
    run.metric("textindex.vector_leg_ms", medMs("textindex.vector_leg"), "ms")
    run.metric("textindex.render_ms", medMs("textindex.render"), "ms")
    run.metric("textindex.rerank_ms", medMs("textindex.rerank"), "ms")
    run.metric("textindex.batch_ms", medMs("textindex.batch"), "ms")
    run.metric("spark.jobs_per_serve", perSpan("engine.serve")((j, _) => j.size), "count")
    run.metric("spark.jobs_per_rank", perSpan("textindex.rank")((j, _) => j.size), "count")
    run.metric("spark.jobs_per_batch", perSpan("engine.batch")((j, _) => j.size), "count")
    run.metric("spark.tasks_per_serve",
      perSpan("engine.serve")((j, _) => j.map(_.tasks).sum), "count")
    run.metric("spark.exec_ms_per_serve",
      perSpan("engine.serve")((j, _) => j.map(_.execMs).sum.toDouble), "ms")
    run.metric("spark.no_job_ms_per_serve",
      perSpan("engine.serve")((_, s) => l.noJobMs(s.startMs, s.endMs).toDouble), "ms")
    run.metric("spark.input_bytes_per_serve",
      perSpan("engine.serve")((j, _) => j.map(_.inputBytes).sum.toDouble), "bytes")
    run.metric("caches.tracked_after_serve", median(trackedAfter.toSeq), "count")
  }
}

/** Index build, index shape and retained heap — the same in every
  * workload. */
object Build {
  import Run._

  def index(run: Run, engine: GraftEngine, path: String): Unit =
    run.span("textindex.build", -1)(engine.buildSearchIndex(path))

  /** Build-time and on-disk shape metrics of the index, read from
    * outside the program: the commit marker, the tombstone artifact
    * and a directory listing. */
  def indexShape(run: Run, path: String): Unit = {
    for (t <- run.tracer; l <- run.listener) {
      val b = t.named("textindex.build")
      run.metric("textindex.build_ms", median(b.map(s => ms(s.durNs))), "ms")
      run.metric("spark.jobs_per_build",
        median(b.map(s => l.jobsIn(s.startMs, s.endMs).size.toDouble)), "count")
    }
    run.metric("textindex.live_batches", liveBatches(path).toDouble, "count")
    run.metric("textindex.tombstones",
      run.spark.read.parquet(s"$path/tombstones/v=${marker(path)(0)}").count().toDouble, "count")
    run.metric("textindex.files_total", files(java.nio.file.Paths.get(path)).size.toDouble, "count")
  }

  /** The index's commit marker: sequence, first and last live batch,
    * last epoch. */
  private def marker(path: String): Array[Long] =
    new String(Files.readAllBytes(java.nio.file.Paths.get(path, "_commit")), "UTF-8")
      .trim.split("\\s+").map(_.toLong)

  /** Live batches of the committed index: one right after a build or a
    * compaction, one more for each plain commit since. */
  def liveBatches(path: String): Long = {
    val m = marker(path)
    m(2) - m(1) + 1
  }

  /** Heap in use after every cache is released and a full GC. */
  def retainedHeap(run: Run, engine: GraftEngine): Unit = {
    engine.releaseCaches()
    graft.Caches.releaseShared()
    run.spark.catalog.clearCache()
    // Spark's context cleaner frees broadcasts and shuffles of
    // collected plans asynchronously, after a GC finds them
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    run.metric("retained_heap_mb", used / 1e6, "MB")
  }
}
