package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.TextIndex

/** The store-served request path (GraftEngine.runSearchFromIndex):
  * rows equal to the scan path's, one ranking pass, one commit, no
  * cache handle left behind. */
class ServePathSpec extends SparkSpec {

  private def corpus: DataFrame = {
    val sparkSession = spark
    import sparkSession.implicits._
    Seq(
      (0L, "the hash join wins big on spark tables"),
      (1L, "hash of the join table and a hash join plan"),
      (2L, "spark filters push down into parquet scans"),
      (3L, "join the spark hash club for a join"),
      (4L, "hash join hash join echo hash"),
      (5L, "broadcast join beats a shuffle join"),
      (6L, "vectors and cosine scores rank documents"),
      (7L, "a join of tables needs a key"))
      .toDF("doc_id", "text")
  }

  private def indexOf(e: GraftEngine, name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name).toString
    e.buildSearchIndex(p)
    p
  }

  private val Rendered = Seq("content", "start_pos", "n_terms", "snippet")

  private def cols(rows: Seq[Row], names: Seq[String]): Seq[Seq[Any]] =
    rows.map(r => names.map(r.getAs[Any]))

  test("runSearchFromIndex rows equal runSearch rows: hybrid and alpha = 0") {
    val e = new GraftEngine(spark, corpus)
    val p = indexOf(e, "graft-serve-eq")
    val q = "hash join"
    val hybridStore = e.runSearchFromIndex(p, q, alpha = 0.5, limit = 4)
    val hybridScan = e.runSearch(q, alpha = 0.5, limit = 4)
    assert(hybridStore.nonEmpty)
    assert(cols(hybridStore, "doc_id" +: "hybrid_score" +: Rendered) ==
      cols(hybridScan, "doc_id" +: "hybrid_score" +: Rendered),
      "the store-served hybrid request must render the scan path's rows")
    // at alpha = 0 the store serves raw BM25 `score` while the scan
    // path reports the fused (min-max normalized) score: the hits,
    // their order and every rendered column must agree, and the
    // store's score must be the scan path's BM25 score
    val bm25Store = e.runSearchFromIndex(p, q, alpha = 0.0, limit = 3)
    val bm25Scan = e.runSearch(q, alpha = 0.0, limit = 3)
    assert(bm25Store.size == 3)
    assert(cols(bm25Store, "doc_id" +: Rendered) ==
      cols(bm25Scan, "doc_id" +: Rendered))
    val scanBm25 = e.searchExpanded(q, nExpand = 0, limit = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm25Store.map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))) == scanBm25)
    Caches.releaseAll()
  }

  test("rerank = true keeps the searchRerankedFromIndex order and scores") {
    val e = new GraftEngine(spark, corpus)
    val p = indexOf(e, "graft-serve-rr")
    for (alpha <- Seq(0.5, 0.0)) {
      val served = e.runSearchFromIndex(p, "hash join", alpha = alpha,
        limit = 4, rerank = true)
      val reranked = e.searchRerankedFromIndex(p, "hash join", alpha, 4)
        .collect().toSeq
      assert(served.nonEmpty)
      assert(cols(served, Seq("doc_id", "hybrid_score", "rerank_score")) ==
        cols(reranked, Seq("doc_id", "hybrid_score", "rerank_score")),
        s"alpha $alpha: rendered rows must keep the rerank order")
      val text = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(served.forall(r =>
        text(r.getAs[Long]("doc_id")) == r.getAs[String]("content")))
    }
    Caches.releaseAll()
  }

  /** Job ids of every job start, in delivery order. */
  private final class JobIds extends SparkListener {
    private val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = ids.add(e.jobId)
    def all: Seq[Int] = ids.toArray.toSeq.map(_.asInstanceOf[Int])
  }

  /** The number of Spark jobs `body` submits: job ids are assigned in
    * submission order, so they are the ids strictly between a marker
    * job run just before and one run just after. The listener bus
    * delivers in order: once the closing marker is seen, every job of
    * the body has been too. */
  private def jobsOf(l: JobIds)(body: => Any): Int = {
    val sc = spark.sparkContext
    def marker(): Int = {
      val before = l.all.toSet
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var fresh = l.all.filterNot(before)
      while (fresh.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(20)
        fresh = l.all.filterNot(before)
      }
      assert(fresh.nonEmpty, "the marker job never reached the listener")
      fresh.max
    }
    val from = marker()
    body
    val to = marker()
    l.all.count(id => id > from && id < to)
  }

  test("one served search ranks once: fewer jobs than two rankings, no cache handle left") {
    val e = new GraftEngine(spark, corpus)
    val p = indexOf(e, "graft-serve-jobs")
    val l = new JobIds
    spark.sparkContext.addSparkListener(l)
    try {
      Caches.releaseAll()
      // warm once: the first serve of a session also compiles
      e.runSearchFromIndex(p, "hash join")
      val rank = jobsOf(l)(e.searchFromIndex(p, "hash join").collect())
      val tracked = Caches.trackedCount
      val serve = jobsOf(l)(e.runSearchFromIndex(p, "hash join"))
      assert(Caches.trackedCount == tracked,
        "a served search must not leave a cache handle behind")
      assert(rank > 0 && serve > 0)
      assert(serve < 2 * rank,
        s"a serve ($serve jobs) must rank once ($rank jobs per ranking)")
    } finally spark.sparkContext.removeSparkListener(l)
    Caches.releaseAll()
  }

  test("a serve renders at the commit that ranked it, not a newer one") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-serve-snap").toString
    TextIndex.write(corpus, p)
    val terms = Seq("hash", "join")
    val c0 = TextIndex.commitOf(spark, p)
    def rankAt(c: TextIndex.Commit): DataFrame =
      TextIndex.bm25Serve(spark, p, c, terms)
        .orderBy($"score".desc, $"doc_id").limit(3)
        .select($"doc_id", $"score")
    val ranked = rankAt(c0)
    val hits = ranked.collect().toSeq
    assert(hits.map(_.getLong(0)).contains(4L))
    val oldText = "hash join hash join echo hash"
    val newText = "rewritten page about something else"
    // a commit lands between the ranking and the render; no vacuum,
    // so the older commit's files are still there
    TextIndex.upsert(Seq((4L, newText)).toDF("doc_id", "text"), p)
    val c1 = TextIndex.commitOf(spark, p)
    assert(c1.seq > c0.seq)
    def contentOf(rows: Seq[Row]): Map[Long, String] =
      rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("content")).toMap
    val pinned = TextIndex
      .renderHits(spark, p, c0, hits, ranked.schema, terms, 10).collect().toSeq
    assert(contentOf(pinned) == hits.map(_.getLong(0)).map(id =>
        id -> corpus.filter($"doc_id" === id).collect().head.getString(1)).toMap,
      "a render pinned to the ranking's commit must return that commit's text")
    assert(contentOf(pinned)(4L) == oldText)
    // the ranking at the pinned commit is still the one that was served
    assert(rankAt(c0).collect().toSeq == hits,
      "ranking at the pinned commit must not see the newer commit")
    // the current commit has the new text, and ranks without the page
    assert(contentOf(TextIndex.renderHits(spark, p, c1, hits, ranked.schema,
      terms, 10).collect().toSeq)(4L) == newText)
    assert(!rankAt(c1).collect().map(_.getLong(0)).contains(4L))
    Caches.releaseAll()
  }
}
