package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.operators.WebMeta
import graft.sources.TextIndex
import graft.streaming.IngestStream

/** `cdc_sync`: CDC epochs committing beside reads — the reference's
  * result-consumer loop. Set-up builds the index with vectors over a
  * seeded corpus with `source`/`url` metadata and starts
  * `IngestStream.syncIndexStream` over an in-memory stream. Each round
  * is two epochs. Each epoch: add a seeded batch of changed pages,
  * unchanged re-crawls, new pages and delete notices; wait until it
  * commits; then read the index statistics and the per-source counts.
  * After the round's first epoch, which leaves readers a second batch
  * and tombstones, serve one single-caller hybrid search; the second
  * epoch's commit carries the count-gated compaction. Serves never
  * race a commit.
  */
object CdcSync {
  val Docs = 200
  /** Batches since the last compaction before the count-gated
    * compaction fires. Two: a round's first epoch leaves readers a
    * second batch and tombstones, its second epoch's commit carries
    * the fused compaction. At today's speed a run fits one round. */
  val MaxBatches = 2L
  val EpochsPerRound = 2
  val EpochPages = Gen.EpochSize(changed = 24, unchanged = 24, added = 16, deleted = 16)

  def apply(run: Run): Unit = {
    import Gen._
    import Run._
    val spark = run.spark
    import spark.implicits._

    val gen = new Gen(run.seed)
    val corpus = gen.servingCorpus(Docs)
    val queries = gen.queries(400, new Oracle.Bm25(corpus.map(d => d.id -> d.text)).df)
    val epochs = gen.epochs(corpus, _ => EpochPages)
    val engine = new GraftEngine(spark,
      corpus.map(d => (d.id, d.text, d.source, d.url)).toDF("doc_id", "text", "source", "url"))
    val index = run.path("index")
    Build.index(run, engine, index)
    val twin = run.path("twin")
    if (run.traced) copyTree(Paths.get(index), Paths.get(twin))
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val query = IngestStream.syncIndexStream(stream.toDF().toDF("doc_id", "text"), index,
      maxBatches = MaxBatches)
    // re-crawled and new pages lose their metadata in the index (the
    // upsert carries only doc_id and text), so no source-filtered serves
    val serving = new Serving(run, engine, index, queries, filtered = false)
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var compactions = 0
    try {
      run.metric("setup_s", run.sinceStart(), "s")
      val start = System.currentTimeMillis()
      var e = 0
      // a failed commit stops the stream's query, so no later epoch
      // could commit: the run ends with that round
      var streaming = true
      // a traced run is one round: its twin replays only the round's
      // first epoch, so a second round would replay onto a twin that
      // missed the compaction
      while (streaming && (e == 0 ||
          !run.traced && System.currentTimeMillis() - start < run.seconds * 1000L)) {
        for (i <- 0 until EpochsPerRound if streaming) {
          val ep = epochs.next()
          e += 1
          val live = new Live(ep.liveAfter.map(d => d.id -> (d.text, d.source)).toMap)
          val before = if (run.traced) files(Paths.get(index)) else Map.empty[String, Long]
          val committed = run.op(s"epoch ${ep.n}") {
            val (_, ns) = timed(run.span("ingeststream.epoch", ep.n.toLong) {
              stream.addData(ep.pages: _*)
              query.processAllAvailable()
            })
            commitMs += ms(ns)
          }
          if (run.traced) {
            written += writes(index, before, ep)
            if (i == 0) traceEpoch(run, twin, ep)
            if (Build.liveBatches(index) == 1) compactions += 1
          }
          streaming = committed.isDefined
          if (committed.isDefined) {
            run.op(s"index stats ${ep.n}") {
              TextIndex.indexStats(spark, index).collect().head
            }.foreach { r =>
              run.check(s"index stats after epoch ${ep.n}",
                Oracle.checkStats(r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"), live.bm))
            }
            if (i == 0) serving.serve(Hybrid, queries(ep.n % queries.size), live)
            // fails every epoch while upserts drop the pages' metadata
            run.op(s"per-source counts ${ep.n}") {
              TextIndex.countChunksServe(spark, index, "source").collect()
            }.foreach { rows =>
              val got = rows.map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
              val want = ep.liveAfter.groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
              run.knownFault(s"per-source counts after epoch ${ep.n}", Oracle.checkCounts(got, want))
            }
          }
          if (e == 1) run.metric("index_mb", mb(Paths.get(index)), "MB")
        }
      }
      System.err.println(s"[perfbench] epochs $e commit_ms $commitMs serve_ms ${serving.serveMs}")
    } finally {
      query.stop()
    }
    run.medianMetric("serve_p50_ms", serving.serveMs.toSeq, "ms")
    run.medianMetric("write_p50_ms", commitMs.toSeq, "ms")
    for (t <- run.tracer; l <- run.listener) {
      serving.layerMetrics()
      def medMs(name: String): Double = median(t.named(name).map(s => ms(s.durNs)))
      val epochSpans = t.named("ingeststream.epoch")
      run.metric("ingeststream.epoch_ms", medMs("ingeststream.epoch"), "ms")
      run.metric("textindex.change_read_ms", medMs("textindex.change_read"), "ms")
      run.metric("webmeta.change_detect_ms", medMs("webmeta.change_detect"), "ms")
      run.metric("textindex.sync_ms", medMs("textindex.sync"), "ms")
      run.metric("ingeststream.epoch_overhead_ms", medMs("ingeststream.epoch") -
        medMs("textindex.change_read") - medMs("webmeta.change_detect") -
        medMs("textindex.sync"), "ms")
      run.metric("spark.jobs_per_epoch",
        median(epochSpans.map(s => l.jobsIn(s.startMs, s.endMs).size.toDouble)), "count")
      run.metric("spark.exec_ms_per_epoch",
        median(epochSpans.map(s => l.jobsIn(s.startMs, s.endMs).map(_.execMs).sum.toDouble)), "ms")
      run.metric("spark.no_job_ms_per_epoch",
        median(epochSpans.map(s => l.noJobMs(s.startMs, s.endMs).toDouble)), "ms")
      run.metric("textindex.compactions", compactions, "count")
      run.metric("textindex.files_written_per_epoch", median(written.map(_._1).toSeq), "count")
      run.metric("textindex.bytes_written_per_epoch", median(written.map(_._2).toSeq), "bytes")
      run.metric("textindex.write_amp", written.map(_._2).sum / written.map(_._3).sum, "ratio")
      Build.indexShape(run, index)
    }
    Build.retainedHeap(run, engine)
  }

  /** Traced runs only, after the round's first epoch: the epoch's steps
    * as the stream runs them — stored-fields read, change detection,
    * the sync commit — called one by one on a twin of the index that
    * has seen the same epochs, so the stream's epoch stays as cold as
    * in an untraced run. Only the first epoch, a plain apply: replaying
    * the compacting one too made a traced run ~15 s longer, close to
    * the time a run may take. */
  private def traceEpoch(run: Run, twin: String, ep: Gen.Epoch): Unit = {
    val spark = run.spark
    import spark.implicits._
    run.extra(s"traced epoch ${ep.n}") {
      val b = ep.pages.toDF("doc_id", "text")
      val pages = b.filter($"text".isNotNull).localCheckpoint(true)
      val dels = b.filter($"text".isNull).select($"doc_id").localCheckpoint(true)
      val stored = run.span("textindex.change_read", ep.n.toLong) {
        TextIndex.contentForIdSet(spark, twin, pages.select($"doc_id"))
          .select($"doc_id".cast("string").as("page_key"), md5($"text").as("body_hash"))
          .localCheckpoint(true)
      }
      val fresh = pages.select($"doc_id".cast("string").as("page_key"),
        md5($"text").as("body_hash"))
      val toUpsert = run.span("webmeta.change_detect", ep.n.toLong) {
        pages.join(WebMeta.changeDetect(fresh, stored).filter($"needs_processing")
          .select($"page_key".cast("long").as("doc_id")), "doc_id").localCheckpoint(true)
      }
      run.span("textindex.sync", ep.n.toLong) {
        TextIndex.syncAuto(toUpsert, dels, twin, epochId = ep.n.toLong, maxBatches = MaxBatches)
      }
    }
  }

  /** Traced runs only: files and bytes the epoch's commit wrote, from
    * directory listings before and after, and the bytes of changed and
    * new page text it carried. */
  private def writes(index: String, before: Map[String, Long],
                     ep: Gen.Epoch): (Double, Double, Double) = {
    val added = Run.files(Paths.get(index)).filter { case (f, _) => !before.contains(f) }
    val upserted = (ep.changed ++ ep.added).toSet
    val textBytes = ep.pages.collect {
      case (id, t) if t != null && upserted(id) => t.getBytes("UTF-8").length.toDouble
    }.sum
    (added.size.toDouble, added.values.sum.toDouble, textBytes)
  }
}
