package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.TextIndex

/** The store-served request path (GraftEngine.runSearchFromIndex):
  * rows equal to the scan path's, one ranking pass, one commit, no
  * cache handle left behind. */
class ServePathSpec extends SparkSpec with JobCounting {

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

  test("a batch serve reads both legs at the commit it was pinned to") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-serve-batch-snap")
      .toString
    TextIndex.write(corpus, p)
    val qs = Seq(1L -> Seq("hash", "join"), 2L -> Seq("spark", "join"))
    val c0 = TextIndex.commitOf(spark, p)
    def hybridAt(c: TextIndex.Commit): Seq[Row] =
      TextIndex.hybridServeBatch(spark, p, c, qs, 0.5, 4, "relative",
        TextIndex.Candidates, Int.MaxValue).collect().toSeq
    def bm25At(c: TextIndex.Commit): Seq[Row] =
      TextIndex.bm25ServeBatch(spark, p, c, qs, 4).collect().toSeq
    val hybrid0 = hybridAt(c0)
    val bm250 = bm25At(c0)
    assert(hybrid0.map(_.getAs[Long]("doc_id")).contains(4L))
    assert(hybrid0 == TextIndex.hybridServeBatch(spark, p, qs, limit = 4)
      .collect().toSeq, "the pinned overload must equal the public call")
    // a commit rewrites a page both legs ranked; no vacuum, so the
    // older commit's files are still there
    TextIndex.upsert(
      Seq((4L, "rewritten page about something else")).toDF("doc_id", "text"),
      p)
    val c1 = TextIndex.commitOf(spark, p)
    assert(c1.seq > c0.seq)
    assert(hybridAt(c0) == hybrid0,
      "the keyword and vector legs pinned to c0 must both read c0")
    assert(bm25At(c0) == bm250)
    // the newer commit ranks differently: the rewritten page lost
    // its keyword hits
    assert(hybridAt(c1) != hybrid0)
    assert(!bm25At(c1).map(_.getAs[Long]("doc_id")).contains(4L))
    Caches.releaseAll()
  }

  test("a warm hybrid serve runs at most 9 jobs: one ranking action, then the content read") {
    val e = new GraftEngine(spark, corpus)
    val p = indexOf(e, "graft-serve-nine")
    val l = new JobIds
    spark.sparkContext.addSparkListener(l)
    try {
      e.runSearchFromIndex(p, "hash join") // warm: the first serve compiles
      val sites = jobSitesOf(l)(e.runSearchFromIndex(p, "hash join"))
      assert(sites.size <= 9,
        s"a hybrid serve ran ${sites.size} jobs: ${sites.mkString("; ")}")
      // both legs rank in one SQL execution and the render's only
      // execution is the content read: two actions in all
      assert(sites.distinct.size <= 2,
        s"a hybrid serve ran more than two actions: ${sites.mkString("; ")}")
      assert(!sites.exists(_.contains("CompletableFuture")),
        s"every job names the action that started it: ${sites.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(l)
    Caches.releaseAll()
  }

  test("a filtered hybrid serve leaves no cache handle") {
    val e = new GraftEngine(spark, corpus.withColumn("lang",
      org.apache.spark.sql.functions.lit("en")))
    val p = indexOf(e, "graft-serve-filtered")
    Caches.releaseAll()
    val tracked = Caches.trackedCount
    val rows = e.searchFromIndex(p, "hash join",
      filters = Map("lang" -> "en")).collect()
    assert(rows.nonEmpty)
    assert(Caches.trackedCount == tracked,
      "a filtered serve must not leave a cache handle behind")
  }
}
