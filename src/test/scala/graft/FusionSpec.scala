package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.operators.HybridSearch
import graft.sources.TextIndex

/** The store's driver-side fusion (HybridSearch.fuseCollected) against
  * the scan path's Spark fusions over the same two legs: the same
  * docs in the same order with bit-identical scores, for both fusion
  * algorithms and every alpha. */
class FusionSpec extends SparkSpec {

  private def leg(score: String, rows: (Long, Double)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, s) => Row(id, s) }.asJava,
      StructType.fromDDL(s"doc_id bigint, $score double"))

  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  /** Relative fusion at every alpha; ranked fusion at `rankedAlphas`
    * (its reference runs two partition-less rank windows per call,
    * each a WindowExec warning the suite's warn gate counts). */
  private def assertSame(kw: DataFrame, vec: DataFrame, limit: Int,
                         what: String,
                         rankedAlphas: Seq[Double] = Seq(0.3)): Unit = {
    for (alpha <- Seq(0.0, 0.3, 0.5, 1.0)) {
      val rel = bits(HybridSearch.fuseCollected(kw, vec, alpha, limit,
        "relative"))
      assert(rel == bits(HybridSearch.fuseRelative(kw, vec, alpha, limit)),
        s"$what: relative fusion at alpha $alpha")
    }
    for (alpha <- rankedAlphas) {
      val rrf = bits(HybridSearch.fuseCollected(kw, vec, alpha, limit,
        "ranked"))
      assert(rrf == bits(HybridSearch.fuseRanked(kw, vec, alpha, limit)),
        s"$what: ranked fusion at alpha $alpha")
    }
  }

  private val kw = leg("kw_score", 1L -> 3.5, 2L -> 2.25, 3L -> 1.0,
    4L -> 0.75, 7L -> 0.5)
  private val vec = leg("v_score", 2L -> 0.9, 5L -> 0.8, 6L -> 0.1,
    7L -> 0.35, 8L -> -0.2)

  test("overlapping legs: equal to the Spark fusions, both algorithms, alpha 0 to 1") {
    assertSame(kw, vec, 10, "overlapping legs", Seq(0.0, 0.3, 1.0))
    assertSame(kw, vec, 3, "limit below the candidates")
  }

  test("an empty leg: a keyword-only index, and a query with no keyword hit") {
    val none = leg("v_score")
    assertSame(kw, none, 10, "keyword-only")
    assertSame(leg("kw_score"), vec, 10, "no keyword hit")
  }

  test("a one-row leg normalizes to 0.5 (hi == lo)") {
    assertSame(leg("kw_score", 9L -> 4.0), vec, 10, "one-row keyword leg")
    val got = HybridSearch.fuseCollected(leg("kw_score", 9L -> 4.0),
      leg("v_score"), 0.5, 10, "relative").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq(9L -> 0.25))
  }

  test("equal fused scores order by doc_id") {
    val tied = leg("kw_score", 30L -> 2.0, 10L -> 2.0, 20L -> 2.0, 5L -> 1.0)
    val tiedV = leg("v_score", 20L -> 0.5, 40L -> 0.5, 10L -> 0.5)
    assertSame(tied, tiedV, 10, "ties")
    val ids = HybridSearch.fuseCollected(tied, tiedV, 0.5, 10, "relative")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.take(2) == Seq(10L, 20L))
  }

  test("Spark's double ordering: NaN is greatest, -0.0 equals 0.0") {
    assertSame(leg("kw_score", 1L -> -0.0, 2L -> 0.0, 3L -> 2.0),
      leg("v_score", 1L -> 0.0, 4L -> -0.0, 5L -> 0.5), 10, "signed zeros")
    assertSame(kw, leg("v_score", 2L -> Double.NaN, 5L -> 0.8, 6L -> 0.1),
      10, "a NaN vector score")
  }

  test("the legs of a persisted index: driver fusion equals the Spark fusions") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-fusion").toString
    TextIndex.write(Seq(
        (0L, "the hash join wins big on spark tables"),
        (1L, "hash of the join table and a hash join plan"),
        (2L, "spark filters push down into parquet scans"),
        (3L, "join the spark hash club for a join"),
        (4L, "broadcast join beats a shuffle join"),
        (5L, "vectors and cosine scores rank documents"))
      .toDF("doc_id", "text"), p)
    for (terms <- Seq(Seq("hash", "join"), Seq("cosine"), Seq("zebra"))) {
      val kwLeg = TextIndex.bm25Serve(spark, p, terms)
        .orderBy($"score".desc, $"doc_id").limit(TextIndex.Candidates)
        .select($"doc_id", $"score".as("kw_score"))
      assertSame(kwLeg, TextIndex.vectorServe(spark, p, terms), 10,
        terms.mkString(" "))
    }
    Caches.releaseAll()
  }
}
