package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

import graft.sources.TextIndex

/** How TextIndex opens its artifacts: declared schemas, only the
  * committed batch directories (pruned to the query's buckets), no
  * Spark job — and served rows unchanged by it. */
class ArtifactReadSpec extends SparkSpec with JobCounting {

  private val Words = (0 until 240).map(i => s"w${i}x")

  /** A page of 14 words drawn from a 240-word vocabulary: a few
    * pages of these fill more term-bucket directories per batch
    * than Spark lists without a job. */
  private def page(id: Long, salt: Int): String =
    (0 until 14).map(j => Words(((id * 11 + j * 17 + salt) % Words.size).toInt))
      .mkString(" ")

  private def pages(ids: Range, salt: Int): Seq[(Long, String)] =
    ids.map(i => (i.toLong, page(i.toLong, salt)))

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    val sparkSession = spark
    import sparkSession.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def dirExists(p: String): Boolean =
    new java.io.File(p).isDirectory

  private def subdirs(p: String): Int =
    Option(new java.io.File(p).listFiles()).toSeq.flatten.count(_.isDirectory)

  /** The term-bucket directory a term's postings land in. */
  private def bucketOf(term: String): Long = {
    val sparkSession = spark
    import sparkSession.implicits._
    Seq(term).toDF("t").select(pmod(xxhash64($"t"), lit(64L)))
      .collect().head.getLong(0)
  }

  private val Rendered = Seq("content", "start_pos", "n_terms", "snippet")

  private def cols(rows: Seq[Row], names: Seq[String]): Seq[Seq[Any]] =
    rows.map(r => names.map(r.getAs[Any]))

  /** The store-served request equals the scan path over the same live
    * corpus: the hybrid rows, rendered columns included, and at
    * alpha = 0 the scan path's BM25 hits and scores (its fused
    * alpha = 0 ranking fills the limit with vector-only hits, the
    * store's pure BM25 top-k does not), each hit rendering its text. */
  private def assertServesLikeScan(live: Seq[(Long, String)], p: String,
                                   q: String): Unit = {
    val e = new GraftEngine(spark, df(live))
    assert(cols(e.runSearchFromIndex(p, q, alpha = 0.5, limit = 5),
        "doc_id" +: "hybrid_score" +: Rendered) ==
      cols(e.runSearch(q, alpha = 0.5, limit = 5),
        "doc_id" +: "hybrid_score" +: Rendered), s"hybrid '$q'")
    val bm25 = e.runSearchFromIndex(p, q, alpha = 0.0, limit = 5)
    assert(cols(bm25, Seq("doc_id", "score")) ==
      cols(e.searchExpanded(q, nExpand = 0, limit = 5).collect().toSeq,
        Seq("doc_id", "score")), s"bm25 '$q'")
    assert(cols(bm25, Seq("doc_id", "content")) ==
      bm25.map(r => Seq(r.getAs[Long]("doc_id"),
        live.toMap.apply(r.getAs[Long]("doc_id")))))
  }

  test("declared artifact schemas equal the schemas Spark infers") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-read-schema")
    TextIndex.write(pages(0 until 20, 0).map { case (i, t) =>
      (i, t, if (i % 2 == 0) "web" else "docs") }
      .toDF("doc_id", "text", "source"), p)
    val batched = Seq("postings", "fielded", "forward", "content", "vectors")
    val versioned = Seq("vocab", "prefixes", "stats", "tombstones")
    def inferred(name: String, c: TextIndex.Commit) =
      if (batched.contains(name)) spark.read.parquet(s"$p/$name").schema
      else spark.read.parquet(s"$p/$name/v=${c.seq}").schema
    val c0 = TextIndex.commitOf(spark, p)
    for (name <- batched ++ versioned)
      assert(TextIndex.readArtifact(spark, p, name, c0).schema ==
        inferred(name, c0), s"$name: declared schema differs from inferred")
    // after an upsert and a compacting commit the files hold the same
    // fields (consolidated files may order them differently)
    TextIndex.upsert(df(pages(0 until 5, 3)), p)
    assert(TextIndex.upsertAuto(df(pages(5 until 10, 7)), p, epochId = 2L,
      maxBatches = 2L))
    val c2 = TextIndex.commitOf(spark, p)
    for (name <- batched ++ versioned)
      assert(TextIndex.readArtifact(spark, p, name, c2).schema.fields.toSet ==
        inferred(name, c2).fields.toSet, s"$name after compaction")
  }

  /** 40 pages, then an epoch rewriting ten of them: two live batches,
    * each with more than 32 term-bucket directories. */
  private def twoBatchIndex(name: String)
      : (String, Seq[(Long, String)], Seq[(Long, String)]) = {
    val p = tmp(name)
    val base = pages(0 until 40, 0)
    TextIndex.write(df(base), p)
    val epoch1 = pages(0 until 10, 5)
    TextIndex.upsert(df(epoch1), p)
    (p, base, epoch1)
  }

  private val Query = "w5x w17x w40x"

  test("no job a serve starts opens an artifact") {
    val (p, base, epoch1) = twoBatchIndex("graft-read-jobfree")
    val e = new GraftEngine(spark, df(epoch1 ++ base.drop(10)))
    val l = new JobIds
    spark.sparkContext.addSparkListener(l)
    try {
      e.runSearchFromIndex(p, Query) // warm: the session's first serve compiles
      val sites = jobSitesOf(l) {
        e.runSearchFromIndex(p, Query)
        e.runSearchFromIndex(p, Query, alpha = 0.0)
        e.runSearchFromIndex(p, Query, rerank = true)
        TextIndex.indexStats(spark, p).collect()
      }
      assert(sites.nonEmpty)
      assert(!sites.exists(_.startsWith("parquet at")),
        s"a serve opened an artifact with a Spark job: ${sites.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(l)
    Caches.releaseAll()
  }

  test("a serve on a compacted index runs as many jobs as on a fresh one-batch build") {
    val (p, base, epoch1) = twoBatchIndex("graft-read-compacted")
    // the second epoch consolidates into one batch; the superseded
    // batch directories stay on disk (no vacuum)
    val epoch2 = pages(10 until 20, 9)
    assert(TextIndex.upsertAuto(df(epoch2), p, epochId = 2L,
      maxBatches = 2L), "the second epoch must compact in its commit")
    val c = TextIndex.commitOf(spark, p)
    assert(c.minBatch == 2L && c.maxBatch == 2L)
    for (b <- 0 to 2)
      assert(subdirs(s"$p/postings/batch=$b") > 32,
        s"batch $b must hold more bucket directories than Spark lists " +
          "without a job")
    val live = epoch1 ++ epoch2 ++ base.drop(20)
    val fresh = tmp("graft-read-fresh")
    TextIndex.write(df(live), fresh)
    val e = new GraftEngine(spark, df(live))
    val l = new JobIds
    spark.sparkContext.addSparkListener(l)
    try {
      e.runSearchFromIndex(fresh, Query) // warm
      val onCompacted = jobsOf(l)(e.runSearchFromIndex(p, Query))
      val onFresh = jobsOf(l)(e.runSearchFromIndex(fresh, Query))
      assert(onCompacted == onFresh,
        s"superseded batches cost jobs: $onCompacted on the compacted " +
          s"index, $onFresh on a fresh one-batch build")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(cols(e.runSearchFromIndex(p, Query),
        "doc_id" +: "hybrid_score" +: Rendered) ==
      cols(e.runSearchFromIndex(fresh, Query),
        "doc_id" +: "hybrid_score" +: Rendered))
    Caches.releaseAll()
  }

  test("a query term whose bucket directory a small epoch batch lacks serves like the scan path") {
    val p = tmp("graft-read-absent-bucket")
    val base = pages(0 until 30, 0)
    TextIndex.write(df(base), p)
    val small = Seq((100L, "zeta omega"))
    TextIndex.append(df(small), p)
    assert(dirExists(s"$p/postings/batch=1/pbucket=${bucketOf("zeta")}"))
    assert(!dirExists(s"$p/postings/batch=1/pbucket=${bucketOf("w5x")}"),
      "the epoch batch must lack the query term's bucket directory")
    assertServesLikeScan(base ++ small, p, "w5x zeta")
    assertServesLikeScan(base ++ small, p, "w5x w17x")
    Caches.releaseAll()
  }

  test("a term absent from the index serves an empty result, not an error") {
    val p = tmp("graft-read-absent-term")
    val base = pages(0 until 3, 0)
    TextIndex.write(df(base), p)
    // a term whose bucket directory no batch holds: the postings open
    // names no directory at all
    val term = (0 until 200).map(i => s"zq${i}q")
      .find(t => !dirExists(s"$p/postings/batch=0/pbucket=${bucketOf(t)}"))
      .get
    val e = new GraftEngine(spark, df(base))
    assert(e.runSearchFromIndex(p, term, alpha = 0.0).isEmpty)
    assert(TextIndex.bm25Serve(spark, p, Seq(term)).count() == 0)
    assert(TextIndex.bm25ServeBatch(spark, p, Seq(1L -> Seq(term)))
      .count() == 0)
    assert(TextIndex.phraseServe(spark, p, Seq(term, "w5x")).count() == 0)
    assertServesLikeScan(base, p, term)
    Caches.releaseAll()
  }

  test("a keyword-only index serves like the scan path's BM25") {
    val p = tmp("graft-read-keyword")
    val base = pages(0 until 30, 0)
    TextIndex.write(df(base), p, withVectors = false)
    val q = "w5x w17x"
    val e = new GraftEngine(spark, df(base))
    val bm25 = e.runSearchFromIndex(p, q, alpha = 0.0, limit = 5)
    assert(bm25.nonEmpty)
    assert(cols(bm25, Seq("doc_id", "score")) ==
      cols(e.searchExpanded(q, nExpand = 0, limit = 5).collect().toSeq,
        Seq("doc_id", "score")))
    // the hybrid serve degrades to the keyword leg: same hits, same
    // order, rendered alike
    assert(cols(e.runSearchFromIndex(p, q, alpha = 0.5, limit = 5),
      "doc_id" +: Rendered) == cols(bm25, "doc_id" +: Rendered))
    val batch = TextIndex.hybridServeBatch(spark, p, Seq(1L -> Seq("w5x",
      "w17x")), limit = 5).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(batch == bm25.map(_.getAs[Long]("doc_id")))
    Caches.releaseAll()
  }

  test("an index after a delete-only commit serves like the scan path") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-read-delete")
    val base = pages(0 until 30, 0)
    TextIndex.write(df(base), p)
    val q = "w5x w17x"
    val e = new GraftEngine(spark, df(base))
    val dead = e.runSearchFromIndex(p, q, alpha = 0.0, limit = 2)
      .map(_.getAs[Long]("doc_id"))
    assert(dead.size == 2)
    val c0 = TextIndex.commitOf(spark, p)
    TextIndex.delete(dead.toDF("doc_id"), p)
    val c1 = TextIndex.commitOf(spark, p)
    assert(c1.maxBatch == c0.maxBatch, "a delete-only commit adds no batch")
    assertServesLikeScan(base.filterNot(r => dead.contains(r._1)), p, q)
    Caches.releaseAll()
  }

  test("a corpus whose doc_id is not bigint or whose text is not string is rejected") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-read-types")
    val intIds = intercept[IllegalArgumentException](
      TextIndex.write(Seq((1, "a page")).toDF("doc_id", "text"), p))
    assert(intIds.getMessage.contains("'doc_id' must be bigint, got int"),
      intIds.getMessage)
    val intText = intercept[IllegalArgumentException](
      TextIndex.write(Seq((1L, 7)).toDF("doc_id", "text"), p))
    assert(intText.getMessage.contains("'text' must be string, got int"),
      intText.getMessage)
    // the change path checks its batch too
    TextIndex.write(Seq((1L, "a page")).toDF("doc_id", "text"), p)
    intercept[IllegalArgumentException](
      TextIndex.append(Seq((2, "another page")).toDF("doc_id", "text"), p))
    assert(TextIndex.contentTable(spark, p).count() == 1)
  }
}
