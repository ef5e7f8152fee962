package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.GraftEngine
import graft.operators.{Chunker, FileIngest}
import graft.streaming.IngestStream

/** `ingest_batch`: the batch data plane. Set-up writes the seeded blob
  * corpus to a parquet blob store. Each pass: file blobs →
  * `FileIngest.ingest` (extract and chunk) → `IngestStream.reingest`
  * (chunk, embed, chunk-store write) → `buildSearchIndex` over the
  * stored chunks → `prepareCorpus` over the extracted documents; then
  * one single-caller BM25 serve on the fresh index.
  */
object IngestBatch {
  val Blobs = 300
  val MaxTokens = 128
  /** Chunk ids in the index: doc_id * ChunkStride + chunk_index. */
  val ChunkStride = 1000L

  def apply(run: Run): Unit = {
    import Gen._
    import Run._
    val spark = run.spark
    import spark.implicits._

    val gen = new Gen(run.seed)
    val set = gen.blobs(Blobs)
    val blobPath = run.path("blobs")
    set.blobs.map(b => (b.id, b.payload, b.mime, b.filename))
      .toDF("doc_id", "payload", "mime", "filename")
      .write.parquet(blobPath)
    val meta = set.docs.map(d => (d.id, d.source, d.url)).toDF("doc_id", "source", "url")
    val okIds = set.docs.map(_.id).toSet
    val fences = set.docs.map(d => d.id -> d.fences).toMap
    val prose = set.docs.map(d => d.id -> d.prose).toMap
    val sourceOf = set.docs.map(d => d.id -> d.source).toMap
    val queries = gen.queries(400, new Oracle.Bm25(set.docs.map(d => d.id -> d.text)).df)
    run.metric("setup_s", run.sinceStart(), "s")

    val passMs = mutable.ArrayBuffer.empty[Double]
    val serveMs = mutable.ArrayBuffer.empty[Double]
    val kept = mutable.ArrayBuffer.empty[Double]
    val chunksPerDoc = mutable.ArrayBuffer.empty[Double]
    var lastIndex = ""
    var engine: GraftEngine = null
    val start = System.currentTimeMillis()
    var p = 0
    while (p == 0 || System.currentTimeMillis() - start < run.seconds * 1000L) {
      p += 1
      val store = run.path(s"store-$p")
      val index = run.path(s"index-$p")
      val files = spark.read.parquet(blobPath)
      val docs = FileIngest.extractText(files).filter($"status" === "ok")
        .select($"doc_id", $"text").join(meta, "doc_id")
      val t0 = System.nanoTime()
      val rows = run.op(s"extract and chunk, pass $p")(run.span("fileingest.chunk", p.toLong)(
        FileIngest.ingest(files, MaxTokens).select($"doc_id", $"status", $"chunk_index")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq))
      val stored = rows.flatMap(_ => run.op(s"reingest, pass $p")(
        run.span("chunkstore.write", p.toLong)(IngestStream.reingest(docs, store, MaxTokens))))
      val built = stored.flatMap(_ => run.op(s"index build, pass $p") {
        engine = new GraftEngine(spark, spark.read.parquet(s"$store/chunks")
          .select(($"doc_id" * ChunkStride + $"chunk_index").as("doc_id"),
            $"content".as("text"), $"source"))
        Build.index(run, engine, index)
      })
      val survivors = built.flatMap(_ => run.op(s"prepareCorpus, pass $p")(
        run.span("engine.prepare", p.toLong)(
          new GraftEngine(spark, docs.select($"doc_id", $"text")).prepareCorpus()
            .select($"doc_id").collect().map(_.getLong(0)).toSet)))
      if (survivors.isDefined) passMs += ms(System.nanoTime() - t0)

      rows.foreach(r => run.check(s"chunk rows, pass $p",
        Oracle.checkChunkRows(r, set.encrypted, set.empty, okIds)))
      survivors.foreach { ids =>
        kept += ids.size.toDouble / okIds.size
        run.check(s"prepareCorpus, pass $p",
          Oracle.checkPrepared(ids, okIds, set.exactCopies, set.nearCopies))
      }
      built.foreach { _ =>
        val chunks = spark.read.parquet(s"$store/chunks")
          .select($"doc_id", $"chunk_index", $"content", $"chunk_type", $"language")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3),
            r.getString(4))).toSeq
        chunksPerDoc += chunks.size.toDouble / okIds.size
        run.check(s"stored chunks, pass $p", Oracle.checkChunks(
          chunks.map(c => (c._1, c._3, c._4, c._5)), fences, MaxTokens))
        run.check(s"stored prose, pass $p", Oracle.checkProse(
          chunks.map(c => (c._1, c._2, c._3, c._5)), prose, MaxTokens))
        val live = new Live(chunks.map(c =>
          (c._1 * ChunkStride + c._2) -> (c._3, sourceOf(c._1))).toMap)
        val serving = new Serving(run, engine, index, queries, filtered = true)
        serving.serve(Bm25, queries((p - 1) % queries.size), live)
        serveMs ++= serving.serveMs
        if (run.traced) serving.layerMetrics()
        if (lastIndex.nonEmpty) deleteTree(Paths.get(lastIndex))
        lastIndex = index
      }
      deleteTree(Paths.get(store))
      if (run.traced) traceStages(run, files, docs, set)
    }
    System.err.println(s"[perfbench] passes $p pass_ms $passMs serve_ms $serveMs")
    run.medianMetric("serve_p50_ms", serveMs.toSeq, "ms")
    run.medianMetric("write_p50_ms", passMs.toSeq, "ms")
    if (lastIndex.nonEmpty) run.metric("index_mb", mb(Paths.get(lastIndex)), "MB")
    for (t <- run.tracer; l <- run.listener) {
      l.settle()
      def medMs(name: String): Double = median(t.named(name).map(s => ms(s.durNs)))
      run.metric("fileingest.chunk_ms", medMs("fileingest.chunk"), "ms")
      run.metric("chunkstore.write_ms", medMs("chunkstore.write"), "ms")
      run.metric("engine.prepare_ms", medMs("engine.prepare"), "ms")
      run.metric("engine.prepare_kept_share", median(kept.toSeq), "ratio")
      run.metric("chunker.chunks_per_doc", median(chunksPerDoc.toSeq), "count")
      val spans = Seq("fileingest.chunk", "chunkstore.write", "textindex.build",
        "engine.prepare").flatMap(t.named)
      val jobs = spans.flatMap(s => l.jobsIn(s.startMs, s.endMs))
      val wall = spans.map(s => s.endMs - s.startMs).sum.toDouble
      run.metric("spark.exec_ms_ingest", jobs.map(_.execMs).sum / p.toDouble, "ms")
      run.metric("spark.shuffle_bytes_ingest", jobs.map(_.shuffleBytes).sum / p.toDouble, "bytes")
      run.metric("spark.busy_share_ingest", jobs.map(_.execMs).sum / (wall * run.cores), "ratio")
      if (lastIndex.nonEmpty) Build.indexShape(run, lastIndex)
    }
    if (engine != null) Build.retainedHeap(run, engine)
  }

  /** Traced runs only: the extract and chunk-and-embed stages on their
    * own, and the chunker in a plain single-threaded loop — the no-Spark
    * baseline. */
  private def traceStages(run: Run, files: DataFrame, docs: DataFrame,
                          set: Gen.IngestSet): Unit = {
    import Run.{median, ms, timed}
    run.extra("extract")(run.span("fileingest.extract", 0)(FileIngest.extractText(files).count()))
    run.extra("chunk and embed")(run.span("ingeststream.chunk_embed", 0)(
      IngestStream.chunkAndEmbed(docs, MaxTokens).count()))
    val (_, ns) = timed(set.docs.foreach(d => Chunker.chunkMarkdown(d.text, MaxTokens, 0)))
    run.metric("chunker.single_thread_docs_per_s", set.docs.size / (ns / 1e9), "1/s")
    for (t <- run.tracer) {
      def medMs(name: String): Double = median(t.named(name).map(s => ms(s.durNs)))
      run.metric("fileingest.extract_ms", medMs("fileingest.extract"), "ms")
      run.metric("ingeststream.chunk_embed_ms", medMs("ingeststream.chunk_embed"), "ms")
    }
  }
}
