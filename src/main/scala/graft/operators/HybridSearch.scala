package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.Tables
import graft.functions.{VectorFunctions => V}

/** Hybrid retrieval (SURVEY.md §2.C) — the batch re-expression of
  * qurio's search path (apps/backend/internal/retrieval/service.go:56
  * Search: embed query -> hybrid(alpha, limit, filters) -> rerank;
  * Weaviate side: adapter/weaviate/store.go:105).
  *
  * Scale design: BM25 is the inverted-index shape — explode tokens,
  * shuffle once on token for tf/df, broadcast the tiny idf table back.
  * The vector leg broadcasts one query vector. Fusion and rerank
  * operate on the top-k candidate set only.
  */
object HybridSearch {

  val QueryTerms: Seq[String] = Seq("spark", "join", "filter")

  /** The gated phrase/proximity query — THREE terms (the most
    * common real phrase length), so the positional chain is
    * exercised past its first hop at every gate. */
  val PhraseTerms: Seq[String] = Seq("hash", "join", "key")
  private[graft] val K1 = 1.2
  private[graft] val B = 0.75

  /** Weaviate `word`-class tokenization (the class the reference's
    * chunk schema uses): lowercase, keep alphanumeric runs, split on
    * everything else (adapter/weaviate/store.go:105-110) — so
    * punctuation-adjacent terms ("spark," / "(join") score the same
    * as their bare forms, matching the top-10 lists a migrating qurio
    * user compares against. \p{L}\p{N} (not [a-z0-9]) so non-ASCII
    * words survive like Weaviate's unicode-aware tokenizer. */
  private[graft] val WordTokenPattern = "[\\p{L}\\p{N}]+"

  private def docTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
              regexp_extract_all(lower($"text"), lit(WordTokenPattern), lit(0)).as("tok"))
      .withColumn("dl", size($"tok").cast("double"))
  }

  /** BM25 scores for the fixed query terms; top-10 docs.
    * tf/df computed via the token shuffle; idf + corpus stats come
    * back as broadcasts. */
  def s1KeywordBm25(spark: SparkSession, dir: String): DataFrame =
    bm25(spark, dir).orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("score"))

  private def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, docTokens(spark, dir), QueryTerms)

  /** BM25 over any DF with (doc_id, tok array<string>, dl double).
    *
    * Query-serving shape: the term set is small (a user query), so tf
    * per term is a columnwise `size(filter(tok, = term))` — one narrow
    * pass per document, NO token explode, NO (doc, token) shuffle.
    * Corpus stats (n_docs, avgdl, df per term) reduce to a single-row
    * agg broadcast back; a term absent from a doc contributes 0 to the
    * score by construction (tf=0 zeroes the numerator), and docs
    * matching no term are filtered exactly as the inverted-index
    * formulation's inner join would. The tiny (doc_id, dl, tf…) base
    * feeds both the stats agg and the scoring pass — persisted via the
    * tracked registry so the tokenizer runs once.
    *
    * The explode-into-(token → postings) shuffle remains the right
    * shape for INDEX BUILD over ad-hoc terms; for a fixed query it
    * would move every token of the corpus to score three of them. */
  def bm25Scores(spark: SparkSession, docs: DataFrame, queryTerms: Seq[String]): DataFrame = {
    import spark.implicits._
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter($"tok", tok => tok === lit(t))).cast("double").as(s"tf_$i")
    }
    val base = graft.Caches.persist(
      docs.select(($"doc_id" +: $"dl" +: tfCols): _*)
        .filter(queryTerms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _)))
    // n_docs/avgdl must cover the WHOLE corpus (including no-match
    // docs), so they aggregate `docs`; df aggregates the matching base
    val corpus = docs.agg(count(lit(1)).cast("double").as("n_docs"),
                          avg($"dl").as("corpus_avgdl"))
    val dfAggs = queryTerms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1.0).otherwise(0.0)).as(s"df_$i"))
    val stats = base.agg(dfAggs.head, dfAggs.tail: _*).crossJoin(corpus)
    scoreBm25(base, stats, queryTerms.size)
  }

  /** The BM25 scoring pass over a prepared (doc_id, dl, tf_0..tf_n)
    * base and a one-row (df_0..df_n, n_docs, corpus_avgdl) stats
    * frame — shared by the scan path ([[bm25Scores]]) and the
    * persisted-index path (sources.TextIndex.bm25Serve) so the two
    * CANNOT drift: identical expression tree, identical fold order,
    * identical rounding. */
  private[graft] def scoreBm25(base: DataFrame, stats: DataFrame,
                               nTerms: Int): DataFrame = {
    import base.sparkSession.implicits._
    val w = (0 until nTerms).map { i =>
      val tf = col(s"tf_$i"); val df = col(s"df_$i")
      val idf = log(lit(1.0) + ($"n_docs" - df + 0.5) / (df + 0.5))
      idf * (tf * (K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / $"corpus_avgdl"))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select($"doc_id", round(w, 6).as("score"))
  }

  import org.apache.spark.sql.Column

  /** s5: metadata-filtered keyword search (store.go:133-150 equality
    * filters ANDed): lang='en' docs ranked by 'spark' term frequency.
    * Integer math end to end — fully oracle-stable. */
  def s5FilteredSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docTokens(spark, dir)
      .filter($"lang" === "en")
      .select($"doc_id", $"source",
        size(filter($"tok", (t: Column) => t === "spark")).cast("long").as("tf_spark"))
      .filter($"tf_spark" > 0)
      .orderBy($"tf_spark".desc, $"doc_id")
      .limit(20)
  }

  /** s3: alpha-weighted relative-score fusion (Weaviate's
    * relativeScoreFusion): min-max normalize each leg over its own
    * candidate list, blend with alpha=0.5, top-10. The vector leg
    * embeds with the same hashed-BoW scheme as c5 but skips the
    * explicit L2 normalization — cosine is scale-invariant, so
    * cosine_sim(raw, q) ≡ cosine_sim(raw/‖raw‖, q/‖q‖) and the
    * per-doc sqrt/divide higher-order functions drop out entirely.
    * Tokenization is shared with the keyword leg (one regexp plan,
    * not two). */
  def s3HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(spark, dir)
    val emb = docs.select(col("doc_id"), expr("poly_bow(tok, 64)").as("embedding"))
    hybrid(spark, docs, emb, QueryTerms, alpha = 0.5, limit = 10)
  }

  /** Parameterized hybrid search over any tokenized corpus +
    * embedding table (doc_id, embedding array<double>). */
  def hybrid(spark: SparkSession, docs: DataFrame, embeddings: DataFrame,
             queryTerms: Seq[String], alpha: Double, limit: Int,
             candidates: Int = 50): DataFrame = {
    import spark.implicits._
    val kw = bm25Scores(spark, docs, queryTerms)
      .orderBy($"score".desc, $"doc_id").limit(candidates)
      .select($"doc_id", $"score".as("kw_score"))

    // raw poly-BoW query vector (the SQL-reproducible hash — the whole
    // hybrid pipeline stays oracle-checkable); cosine_sim normalizes
    // both sides, so neither vector needs explicit L2 scaling
    val queryTok = array(queryTerms.map(lit): _*)
    val qvec = spark.range(1)
      .select(queryTok.as("tok"))
      .select(expr("poly_bow(tok, 64)").as("qv"))
    val vec = embeddings
      .crossJoin(broadcast(qvec))
      .select($"doc_id", V.cosineD($"embedding", $"qv").as("v_score"))
      .orderBy($"v_score".desc, $"doc_id").limit(candidates)

    fuseRelative(kw, vec, alpha, limit)
  }

  /** relativeScoreFusion (Weaviate HybridSearcher) over prepared
    * (doc_id, kw_score) and (doc_id, v_score) candidate legs — SHARED
    * by the scan path ([[hybrid]]) and the persisted-index path
    * (sources.TextIndex.hybridServe) so the two cannot drift:
    * identical join, identical normalization, identical rounding.
    * Each leg is min-max normalized over ITS OWN candidate list; a
    * doc absent from a leg contributes 0 for that leg. Bounds come
    * from ONE aggregate over the joined candidates broadcast back as
    * a single row (the s3 oracle's own `bounds` CTE shape) — min/max
    * aggregates skip nulls, so min(kw_score) over all rows IS the kw
    * leg's own min (vec-only rows have kw_score null); the join is
    * ≤2*candidates rows by construction, so the bounds pass is
    * trivial and no partition-less WINDOW (single-partition sort)
    * ever runs. */
  private[graft] def fuseRelative(kw: DataFrame, vec: DataFrame,
                                  alpha: Double, limit: Int): DataFrame = {
    import kw.sparkSession.implicits._
    val cand = kw.join(vec, Seq("doc_id"), "full_outer")
    val bounds = cand.agg(
      min($"kw_score").as("kmin"), max($"kw_score").as("kmax"),
      min($"v_score").as("vmin"), max($"v_score").as("vmax"))
    cand.crossJoin(broadcast(bounds))
      .select($"doc_id", relativeScore(alpha).as("hybrid_score"))
      .orderBy($"hybrid_score".desc, $"doc_id")
      .limit(limit)
  }

  /** relativeScoreFusion's score of one candidate row carrying its
    * leg scores (`kw_score`, `v_score`, null where a leg missed the
    * doc) and the four leg bounds (`kmin` … `vmax`) — the ONE
    * expression [[fuseRelative]] and the store's driver-side fusion
    * ([[fuseCollected]]) both evaluate. */
  private[graft] def relativeScore(alpha: Double): Column = {
    def normalized(score: Column, lo: Column, hi: Column): Column =
      when(score.isNull, 0.0)
        .when(hi === lo, 0.5)
        .otherwise((score - lo) / (hi - lo))
    round(
      lit(alpha) * normalized(col("v_score"), col("vmin"), col("vmax")) +
      lit(1 - alpha) * normalized(col("kw_score"), col("kmin"), col("kmax")),
      6)
  }

  /** rankedFusion's score of one candidate row carrying its leg ranks
    * (`kw_rank`, `v_rank`, null where a leg missed the doc) — shared
    * by [[fuseRanked]] and [[fuseCollected]] like [[relativeScore]]. */
  private[graft] def rankedScore(alpha: Double): Column =
    round(
      when(col("v_rank").isNull, 0.0)
        .otherwise(lit(alpha) / (lit(60.0) + col("v_rank"))) +
      when(col("kw_rank").isNull, 0.0)
        .otherwise(lit(1 - alpha) / (lit(60.0) + col("kw_rank"))), 6)

  /** rankedFusion (reciprocal-rank fusion) over the same prepared
    * candidate legs — [[fuseRelative]]'s integer-exact twin, shared
    * with the persisted-index path for the same no-drift reason.
    * Each leg ranks its own candidates by (score desc, doc_id); a
    * doc's fused score is Σ weight/(60 + rank), absent legs
    * contributing 0. */
  private[graft] def fuseRanked(kw: DataFrame, vec: DataFrame,
                                alpha: Double, limit: Int): DataFrame = {
    import kw.sparkSession.implicits._
    val kwR = kw.withColumn("kw_rank",
        row_number().over(Window.orderBy($"kw_score".desc, $"doc_id"))
          .cast("long"))
      .select($"doc_id", $"kw_rank")
    val vecR = vec.withColumn("v_rank",
        row_number().over(Window.orderBy($"v_score".desc, $"doc_id"))
          .cast("long"))
      .select($"doc_id", $"v_rank")
    kwR.join(vecR, Seq("doc_id"), "full_outer")
      .select($"doc_id", rankedScore(alpha).as("rrf_score"))
      .orderBy($"rrf_score".desc, $"doc_id")
      .limit(limit)
  }

  /** The store-served twin of [[fuseRelative]] / [[fuseRanked]]
    * (`fusion` = "relative" | "ranked") over the same two prepared
    * legs, each already limited to its candidates: the legs union
    * into ONE action, so each leg runs once and both share one plan
    * (and its tombstone broadcast). The ≤2×candidates collected rows
    * then merge by doc_id on the driver (the full outer join's rows),
    * the leg bounds or ranks are taken there with Spark's double
    * ordering (NaN greatest, −0.0 = 0.0, the order `min`/`max` and
    * `orderBy` use), and the SHARED score expression runs as a
    * projection over a local relation, which Spark folds on the
    * driver with no job. Rows come back ordered (score desc, doc_id)
    * and limited, as (doc_id, hybrid_score) or (doc_id, rrf_score).
    * The returned frame holds those rows — collecting it runs no job
    * — and keeps the executed leg plan (Spark's CommandResult, the
    * node an eagerly run command returns), so `explain` still shows
    * the pruned reads that produced them. */
  private[graft] def fuseCollected(kw: DataFrame, vec: DataFrame,
                                   alpha: Double, limit: Int,
                                   fusion: String): DataFrame = {
    val spark = kw.sparkSession
    import spark.implicits._
    require(fusion == "relative" || fusion == "ranked",
      s"fusion must be 'relative' or 'ranked', got '$fusion'")
    val legs = kw.select(lit(0).as("leg"), $"doc_id", $"kw_score".as("s"))
      .unionAll(vec.select(lit(1).as("leg"), $"doc_id", $"v_score".as("s")))
    val got = legs.collect()
    def leg(i: Int): Seq[(Long, Double)] =
      got.toSeq.filter(_.getInt(0) == i).map(r => (r.getLong(1), r.getDouble(2)))
    val (kwRows, vecRows) = (leg(0), leg(1))
    val (out, score) = if (fusion == "relative") {
      val cand = fullOuter(kwRows, vecRows)
      val (kmin, kmax) = sqlBounds(cand.flatMap(_._2))
      val (vmin, vmax) = sqlBounds(cand.flatMap(_._3))
      val rows = cand.map { case (id, k, v) =>
        Row(id, k.map(Double.box).orNull, v.map(Double.box).orNull,
          kmin.orNull, kmax.orNull, vmin.orNull, vmax.orNull)
      }
      (local(spark, rows, "doc_id bigint, kw_score double, v_score double, " +
          "kmin double, kmax double, vmin double, vmax double")
        .select($"doc_id", relativeScore(alpha).as("hybrid_score")),
        "hybrid_score")
    } else {
      // each leg ranks its own candidates by (score desc, doc_id)
      def ranks(l: Seq[(Long, Double)]): Seq[(Long, java.lang.Long)] =
        l.sortWith(byScoreDesc).zipWithIndex
          .map { case ((id, _), i) => (id, Long.box(i + 1L)) }
      val rows = fullOuter(ranks(kwRows), ranks(vecRows)).map {
        case (id, k, v) => Row(id, k.orNull, v.orNull)
      }
      (local(spark, rows, "doc_id bigint, kw_rank bigint, v_rank bigint")
        .select($"doc_id", rankedScore(alpha).as("rrf_score")), "rrf_score")
    }
    val fused = out.collect().toSeq
      .sortWith((a, b) => byScoreDesc((a.getLong(0), a.getDouble(1)),
        (b.getLong(0), b.getDouble(1))))
      .take(limit)
    val schema = StructType.fromDDL(s"doc_id bigint, $score double")
    val enc = ExpressionEncoder(schema)
    val toRow = enc.createSerializer()
    new classic.Dataset[Row](spark.asInstanceOf[classic.SparkSession],
      CommandResult(DataTypeUtils.toAttributes(schema),
        legs.queryExecution.analyzed, legs.queryExecution.executedPlan,
        fused.map(r => toRow(r).copy())), enc)
  }

  /** A full outer join of two (doc_id, value) legs on doc_id, on the
    * driver: one row per matching pair, a missing side as None. */
  private def fullOuter[A, B](l: Seq[(Long, A)], r: Seq[(Long, B)])
      : Seq[(Long, Option[A], Option[B])] = {
    val (lBy, rBy) = (l.groupBy(_._1), r.groupBy(_._1))
    def side[V](m: Map[Long, Seq[(Long, V)]], id: Long): Seq[Option[V]] =
      m.get(id).fold(Seq(Option.empty[V]))(_.map(x => Some(x._2)))
    (l.map(_._1) ++ r.map(_._1)).distinct.flatMap(id =>
      for (a <- side(lBy, id); b <- side(rBy, id)) yield (id, a, b))
  }

  /** Spark's `min`/`max` of a double column: NaN is the greatest
    * value and −0.0 equals 0.0 (the first seen is kept on a tie). */
  private def sqlBounds(xs: Seq[Double])
      : (Option[java.lang.Double], Option[java.lang.Double]) = {
    def pick(keep: Int => Boolean): Option[java.lang.Double] =
      xs.reduceOption((a, b) =>
        if (keep(SQLOrderingUtil.compareDoubles(b, a))) b else a)
        .map(Double.box)
    (pick(_ < 0), pick(_ > 0))
  }

  /** (score desc, doc_id) in Spark's double ordering. */
  private def byScoreDesc(a: (Long, Double), b: (Long, Double)): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(b._2, a._2)
    c < 0 || (c == 0 && a._1 < b._1)
  }

  /** Driver-side rows as a local relation — a projection over it
    * folds on the driver with no job. */
  private def local(spark: SparkSession, rows: Seq[Row], ddl: String): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** s6: alpha-weighted RANKED fusion — Weaviate's `rankedFusion`
    * algorithm, the classic reciprocal-rank fusion (Cormack et al.
    * 2009) and the OTHER hybrid fusion a qurio deployment can select
    * server-side next to s3's relativeScoreFusion (store.go:105
    * builds the hybrid query; the fusion algorithm is a Weaviate
    * schema/query setting). Each leg ranks its own top-`candidates`
    * list; a doc's fused score is Σ weight/(60 + rank) with the
    * vector leg weighted alpha and the keyword leg 1-alpha, absent
    * legs contributing 0. Rank arithmetic is integer-exact, so the
    * oracle replays it digit for digit — no float-normalization
    * sensitivity like relative-score fusion.
    *
    * Scale shape: identical to s3 — both legs end in
    * TakeOrderedAndProject over their candidate lists, the rank
    * window runs over ≤candidates rows, and the fusion join touches
    * ≤2*candidates rows. */
  def s6RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(spark, dir)
    val emb = docs.select(col("doc_id"), expr("poly_bow(tok, 64)").as("embedding"))
    rrf(spark, docs, emb, QueryTerms, alpha = 0.5, limit = 10)
  }

  /** Parameterized reciprocal-rank fusion over any tokenized corpus +
    * embedding table — the rankedFusion twin of [[hybrid]], sharing
    * its leg shapes. */
  def rrf(spark: SparkSession, docs: DataFrame, embeddings: DataFrame,
          queryTerms: Seq[String], alpha: Double, limit: Int,
          candidates: Int = 50): DataFrame = {
    import spark.implicits._
    val kw = bm25Scores(spark, docs, queryTerms)
      .orderBy($"score".desc, $"doc_id").limit(candidates)
      .select($"doc_id", $"score".as("kw_score"))
    val queryTok = array(queryTerms.map(lit): _*)
    val qvec = spark.range(1)
      .select(queryTok.as("tok"))
      .select(expr("poly_bow(tok, 64)").as("qv"))
    val vec = embeddings
      .crossJoin(broadcast(qvec))
      .select($"doc_id", V.cosineD($"embedding", $"qv").as("v_score"))
      .orderBy($"v_score".desc, $"doc_id").limit(candidates)
    fuseRanked(kw, vec, alpha, limit)
  }

  /** The deterministic rerank expression — token-overlap Jaccard of
    * a document's token array against the query terms, the
    * "cross-encoder" stand-in every rerank path shares (the
    * reference calls Jina/Cohere: adapter/reranker/client.go; any
    * local scorer slots into the same shape). ONE definition so the
    * scan path (s4, GraftEngine.searchReranked) and the store-served
    * path (TextIndex.rerankServe, s30) cannot drift. */
  private[graft] def rerankScore(tok: Column,
                                 queryTerms: Seq[String]): Column = {
    val queryTok = array_distinct(array(queryTerms.map(lit): _*))
    size(array_intersect(array_distinct(tok), queryTok)).cast("double") /
      size(array_union(array_distinct(tok), queryTok))
  }

  /** s4: deterministic rerank stage over the hybrid candidates. */
  def s4Rerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cands = s3HybridSearch(spark, dir)
    val rr = cands
      .join(docTokens(spark, dir), "doc_id")
      .select($"doc_id", $"hybrid_score",
        round(rerankScore($"tok", QueryTerms), 6).as("rerank_score"))
    rr.select($"doc_id", $"rerank_score", $"hybrid_score",
              row_number().over(
                Window.orderBy($"rerank_score".desc, $"hybrid_score".desc, $"doc_id"))
                .cast("long").as("final_rank"))
      .orderBy($"final_rank")
  }

  /** s8: SEARCH-QUALITY calibration — a12's "measure, don't guess"
    * discipline applied to the retrieval family: every serving
    * ranking (BM25, fielded BM25F, relative-score hybrid, RRF)
    * scored as NDCG@10
    * against the corpus's own semantic relevance (exact poly-BoW
    * cosine to the query, clamped at 0 so irrelevant docs add no
    * gain). The exact-vector ranking rides along at NDCG 1.0 by
    * construction — the sanity row. This is the offline eval a
    * deployment runs before picking a fusion algorithm or alpha;
    * every leg replays in the oracle, so even the eval itself is
    * hash-checked. Cost shape: one full-corpus cosine scan (the
    * relevance labels), three candidate pipelines that each end in
    * TakeOrderedAndProject, DCG folds over ≤k rows. */
  def s8SearchEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    // ONE tokenizer pass for the whole panel: every leg re-derives
    // docTokens internally (bm25 base + corpus agg, both hybrid legs'
    // embeddings, the rerank join, the relevance labels — 7-8 full
    // regex scans when run standalone); persisting the tokenized
    // frame here lets Spark's cache manager substitute the
    // materialized scan into every leg's identical subplan, so the
    // eval pays the corpus regex ONCE. Per-query cache (released by
    // the harness after the query) — within-query reuse, not a
    // cross-run memo.
    val docs = graft.Caches.persist(docTokens(spark, dir))
    val emb = docs.filter(size($"tok") > 0)
      .select($"doc_id", expr("poly_bow(tok, 64)").as("embedding"))
    val queryTok = array(QueryTerms.map(lit): _*)
    val qvec = spark.range(1)
      .select(queryTok.as("tok"))
      .select(expr("poly_bow(tok, 64)").as("qv"))
    // persisted (tracked): the relevance labels join against every
    // method's list AND define the ideal ranking
    val rel = graft.Caches.persist(emb.crossJoin(broadcast(qvec))
      .select($"doc_id", greatest(V.cosineD($"embedding", $"qv"), lit(0.0)).as("rel")))
    // Every method's ranking unions into one panel ranked top-k by a
    // method-PARTITIONED window (TopKPerKey's PartialTopK/FinalTopK
    // heap rewrite — no sort, no partition-less window). Each leg is
    // EAGERLY materialized (localCheckpoint) BEFORE the union, in
    // two phases. Phase 1 (serial): the two legs that MATERIALIZE
    // the shared caches — bm25 (the shared BM25 base over the cached
    // tokenized corpus) and the relevance labels. Phase 2: the
    // remaining legs read ONLY warm caches, so they submit as
    // CONCURRENT jobs (guide §2.6) — no shared LAZY frame is left to
    // race, which is what made r13's fold flake the warn gate
    // (concurrent union branches re-executed shared bounded fusion
    // windows nondeterministically, 910 vs 934); each leg here still
    // executes its own bounded windows exactly once per run, so the
    // warn-gate count stays deterministic. s4's rerank carries its
    // own composite order (rerank desc, hybrid desc, doc_id) — its
    // final_rank IS the ranking and unions in below.
    def tagOf(n: String, df: DataFrame, c: String): DataFrame =
      df.select(lit(n).as("method"), $"doc_id",
        col(c).cast("double").as("s"))
        .localCheckpoint(true)
    val bm25T = tagOf("bm25", bm25(spark, dir), "score")
    val relT = tagOf("vector_exact", rel, "rel")
    val slots = new Array[DataFrame](4)
    graft.Par.run(Seq(
      () => slots(0) = tagOf("fielded", s13FieldedBm25(spark, dir), "score"),
      () => slots(1) = tagOf("hybrid", s3HybridSearch(spark, dir),
        "hybrid_score"),
      () => slots(2) = tagOf("rrf", s6RrfFusion(spark, dir), "rrf_score"),
      () => slots(3) = s4Rerank(spark, dir).filter($"final_rank" <= k)
        .select(lit("reranked").as("method"), $"doc_id",
          $"final_rank".as("rnk"))
        .localCheckpoint(true)))
    val tagged = Seq(bm25T, slots(0), slots(1), slots(2), relT)
      .reduce(_ unionByName _)
    val wM = Window.partitionBy($"method").orderBy($"s".desc, $"doc_id")
    val rankedAll = tagged
      .withColumn("rnk", row_number().over(wM))
      .filter($"rnk" <= k)
      .select($"method", $"doc_id", $"rnk".cast("long").as("rnk"))
      .unionByName(slots(3))
      // ≤ methods×k rows, read by BOTH the per-method DCG agg and
      // the idcg branch — checkpointing runs the panel job ONCE
      .localCheckpoint(true)
    val dcgs = rankedAll.join(rel, Seq("doc_id"), "left")
      .groupBy($"method")
      .agg(sum(coalesce($"rel", lit(0.0)) / log2($"rnk" + 1)).as("dcg"))
    val idcg = dcgs.filter($"method" === "vector_exact")
      .select($"dcg".as("idcg"))
    dcgs.crossJoin(broadcast(idcg))
      .select($"method", round($"dcg", 4).as("dcg_at_10"),
        round($"dcg" / $"idcg", 4).as("ndcg_at_10"))
      .orderBy($"method")
  }

  /** s9: PSEUDO-RELEVANCE-FEEDBACK query expansion (RM3 shape, the
    * classic IR trick a qurio deployment reaches for when recall is
    * short): run the seed BM25 query, treat its top-`fb` docs as
    * implicitly relevant, mine their `nExpand` highest tf·idf terms
    * (corpus idf, so boilerplate can't be "feedback"), and re-run
    * BM25 with the widened term set. The expansion terms are a
    * BOUNDED driver collect (nExpand strings — the a12-style report
    * action, not a data path); both BM25 passes are the shared
    * columnwise shape (tf columns + broadcast stats, zero wide
    * shuffles), and term selection ties break on (score, term) so
    * the whole loop — seed ranking, mined terms, final ranking —
    * replays deterministically in the oracle. */
  def s9PrfExpansion(spark: SparkSession, dir: String, nExpand: Int = 3,
                     fb: Int = 10, k: Int = 10): DataFrame = {
    import spark.implicits._
    val docs = docTokens(spark, dir)
    val expTerms = prfExpand(spark, docs, QueryTerms, nExpand, fb)
    bm25Scores(spark, docs, QueryTerms ++ expTerms)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .select($"doc_id", $"score")
  }

  /** Mine `nExpand` expansion terms from the seed query's top-`fb`
    * BM25 docs (feedback tf × corpus idf, deterministic (score, term)
    * tie-break) — the PRF core shared by s9 and
    * GraftEngine.searchExpanded. Returns a bounded driver-side term
    * list. */
  def prfExpand(spark: SparkSession, docs: DataFrame, seedTerms: Seq[String],
                nExpand: Int, fb: Int): Seq[String] = {
    import spark.implicits._
    if (nExpand <= 0) return Nil
    val seedIds = bm25Scores(spark, docs, seedTerms)
      .orderBy($"score".desc, $"doc_id").limit(fb).select($"doc_id")
    val fbTf = docs.join(broadcast(seedIds), "doc_id")
      .select(explode($"tok").as("term"))
      .filter(!$"term".isin(seedTerms: _*))
      .groupBy($"term").agg(count(lit(1)).as("tf_fb"))
    val dfCorpus = docs
      .select($"doc_id", explode(array_distinct($"tok")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    fbTf.join(dfCorpus, "term").crossJoin(broadcast(total))
      .select($"term", ($"tf_fb" * log($"n_docs" / $"df")).as("escore"))
      .orderBy($"escore".desc, $"term").limit(nExpand)
      .collect().map(_.getString(0)).toSeq
  }

  /** s16: MORE-LIKE-THIS serving (Lucene's MoreLikeThis / the
    * keyword leg of weaviate's nearObject: "find documents like this
    * one", queried by ID rather than by text): mine the seed
    * document's top-`nTerms` terms by tf × corpus idf — the same
    * salience formula s9's feedback mining uses, with the feedback
    * set being the seed doc itself — then rank the corpus by BM25
    * over the mined terms, excluding the seed. The mined set is a
    * bounded driver-side list (the s9/s11 discipline); scoring is
    * s1's columnwise serving shape (no token explode, one broadcast
    * stats row), so serving cost matches a hand-typed query of the
    * same length at any corpus size. */
  def s16MoreLikeThis(spark: SparkSession, dir: String,
                      seedId: Long = 0L, nTerms: Int = 5,
                      k: Int = 10): DataFrame = {
    import spark.implicits._
    val docs = docTokens(spark, dir)
    val terms = mltTerms(spark, docs, seedId, nTerms)
    bm25Scores(spark, docs, terms)
      .filter($"doc_id" =!= seedId)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .select($"doc_id", $"score")
  }

  /** The seed document's top-`n` salient terms (tf_seed × ln(N/df),
    * deterministic (escore, term) tie-break) — a bounded driver-side
    * list; the seed's term set broadcasts into the corpus df join. */
  def mltTerms(spark: SparkSession, docs: DataFrame, seedId: Long,
               n: Int): Seq[String] = {
    import spark.implicits._
    if (n <= 0) return Nil
    val seedTf = docs.filter($"doc_id" === seedId)
      .select(explode($"tok").as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf_seed"))
    val dfCorpus = docs
      .select($"doc_id", explode(array_distinct($"tok")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    dfCorpus.join(broadcast(seedTf), "term")
      .crossJoin(broadcast(total))
      .select($"term", ($"tf_seed" * log($"n_docs" / $"df")).as("escore"))
      .orderBy($"escore".desc, $"term").limit(n)
      .collect().map(_.getString(0)).toSeq
  }

  /** s10: SNIPPET extraction — the serving step between "these are
    * the top-k doc ids" and what a search UI actually renders (the
    * reference returns chunk content with every hit;
    * retrieval/service.go's results carry text): for each of s1's
    * top-10 docs, find the `window`-token span covering the MOST
    * DISTINCT query terms (ties: most term hits, then earliest
    * start) and emit it as the snippet. Candidate starts are term
    * hit positions only — the classic highlighting trick that makes
    * the scan O(hits·window-hits) per doc instead of O(|doc|·window)
    * — and the hit×hit range join is keyed on doc_id with hits-per-
    * doc tiny (query-term occurrences), never a token×token blowup.
    * Integer scoring end to end; the snippet itself is a
    * deterministic slice+join of the token array. */
  def s10Snippets(spark: SparkSession, dir: String,
                  window: Int = 10): DataFrame = {
    import spark.implicits._
    val top = s1KeywordBm25(spark, dir)
    snippetsOf(Tables.documents(spark, dir), top, QueryTerms, window)
      .select($"doc_id", $"score", $"start_pos", $"n_terms", $"snippet")
      .orderBy($"score".desc, $"doc_id")
  }

  /** Corpus-generic snippet serving — s10's windowing over ANY
    * (doc_id, text) corpus and ANY ranked hit list, so the facade's
    * runSearch can return renderable text with every hit like the
    * reference's SearchResult.Content (retrieval/service.go:11,
    * 114-120: every hit carries chunk Content to the client and the
    * reranker). Returns `ranked.*` + (content, start_pos, n_terms,
    * snippet). A hit with NO query-term occurrence (vector-leg-only
    * match) still renders: its snippet falls back to the document's
    * first `window` tokens with n_terms = 0 — the "return the chunk
    * text" behavior, never a dropped row. Only the ranked top-k docs
    * are tokenized (broadcast semi-join into the corpus scan), so
    * serving cost is O(k), independent of corpus size. `ranked` stays
    * lazy here and is evaluated by both the semi-join and the final
    * join — the form for a ranking that is itself a query (s10); a
    * serve that materializes its hits calls [[snippetsOfHits]]. */
  def snippetsOf(corpus: DataFrame, ranked: DataFrame,
                 terms: Seq[String], window: Int = 10): DataFrame = {
    import corpus.sparkSession.implicits._
    val docs = graft.Caches.persist(tokenizedHits(
      corpus.join(broadcast(ranked.select($"doc_id")), "doc_id")))
    windowed(docs, ranked, terms, window)
  }

  /** [[snippetsOf]] for a hit list the serve already COLLECTED (≤k
    * rows — the request/response boundary, so the ranking runs
    * exactly once): the hits' (doc_id, text) rows are read by one id
    * filter and collected too — the only Spark job of the render.
    * Hits join their content on the driver, and the best window is
    * scored per row over its own token array with the SAME
    * [[bestWindow]] expression, as one projection over a local
    * relation: Spark folds it on the driver, so the render runs no
    * job past the content read and leaves no cache handle. Returns
    * the rendered hits in hit order. */
  private[graft] def snippetsOfHits(corpus: DataFrame, hits: Seq[Row],
                                    schema: StructType, terms: Seq[String],
                                    window: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val id = schema.fieldIndex("doc_id")
    val text = corpus.filter($"doc_id".isin(hits.map(_.getLong(id)): _*))
      .select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the hit ⋈ content join, on the driver: one row per hit with
    // content, in hit order
    val joined = hits.flatMap(h =>
      text.get(h.getLong(id)).map(t => Row.fromSeq(h.toSeq :+ t)))
    val keep = "doc_id" +: schema.fieldNames.toSeq.filterNot(_ == "doc_id")
    val docs = spark.createDataFrame(joined.asJava,
        schema.add("text", "string"))
      .select(keep.map(col) :+ $"text" :+ tokensOf($"text"): _*)
    // each row's own query-term hits as the (p, term) pairs the
    // best-window expression scores, p 1-based
    val hs = filter(
      transform($"tok", (t, i) =>
        struct((i + 1).cast("long").as("p"), t.as("term"))),
      h => h("term").isin(terms: _*))
    val best = docs.select(keep.map(col) :+ $"text" :+ $"tok" :+
      bestWindow(hs, window).as("b"): _*)
    rendered(best.select(keep.map(col) :+ $"text" :+ $"tok" :+
        $"b.p".as("start_pos") :+ (-$"b.nt").cast("long").as("n_terms"): _*),
      keep, window)
  }

  /** (doc_id, text, tok) of the hit documents. */
  private def tokenizedHits(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"text", tokensOf($"text"))
  }

  /** The word-class token array of a text column, as `tok`. */
  private def tokensOf(text: Column): Column =
    regexp_extract_all(lower(text), lit(WordTokenPattern), lit(0)).as("tok")

  /** The best `window`-token span of a document from its query-term
    * hits `hs` (array of struct(p, term)): each hit start p scores the
    * hits in [p, p + window) as (−distinct terms, −hits, p), and the
    * least triple wins — most distinct terms, then most hits, then
    * the earliest start. Null when the document has no hit. Shared by
    * [[windowed]] (hits grouped per document) and [[snippetsOfHits]]
    * (hits taken from each row's own token array). */
  private def bestWindow(hs: Column, window: Int): Column =
    array_min(transform(hs, h => {
      val in = filter(hs, x => x("p") >= h("p") && x("p") < h("p") + window)
      struct((-size(array_distinct(transform(in, _("term"))))).as("nt"),
        (-size(in)).as("nh"), h("p").as("p"))
    }))

  /** A hit row's rendered columns from its best window (`start_pos`,
    * `n_terms`, null without a hit): the content, and the snippet —
    * the window's tokens, or the document's first `window` tokens
    * with n_terms = 0 for a hit with no query term. */
  private def rendered(docs: DataFrame, keep: Seq[String],
                       window: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(keep.map(col) ++ Seq($"text".as("content"),
        coalesce($"start_pos", lit(1L)).as("start_pos"),
        coalesce($"n_terms", lit(0L)).as("n_terms"),
        concat_ws(" ", slice($"tok",
          coalesce($"start_pos", lit(1L)).cast("int"),
          lit(window))).as("snippet")): _*)
  }

  /** The snippet windowing of a lazy ranking (s10): candidate starts
    * are query-term hit positions, grouped per document. */
  private def windowed(docs: DataFrame, ranked: DataFrame,
                       terms: Seq[String], window: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val hits = docs
      .select($"doc_id", posexplode($"tok"))
      .filter($"col".isin(terms: _*))
      .select($"doc_id", ($"pos" + 1).cast("long").as("p"),
        $"col".as("term"))
    // one group per doc; the best window is array work within the
    // row, so the grouping is the only exchange
    val best = hits.groupBy($"doc_id")
      .agg(collect_list(struct($"p", $"term")).as("hs"))
      .select($"doc_id", bestWindow($"hs", window).as("b"))
      .select($"doc_id", $"b.p".as("start_pos"),
        (-$"b.nt").cast("long").as("n_terms"))
    ranked.join(rendered(docs.join(best, Seq("doc_id"), "left"),
      Seq("doc_id"), window), "doc_id")
  }

  /** Misspelled probe terms the s11 driver query corrects (one
    * deletion, one transposition-ish, one truncation of the s1
    * QueryTerms). */
  val FuzzyProbes: Seq[String] = Seq("spak", "jion", "filtr")

  /** s11: FUZZY term correction — the "did you mean" step every
    * search box ships, as a SymSpell-style deletion-neighborhood
    * join: a query term and a vocabulary term are candidates iff
    * their delete-1 variant sets intersect (that neighborhood covers
    * every edit-distance-1 pair: deletion, insertion, substitution),
    * then the exact Levenshtein verify keeps dist ≤ 1 and ranks
    * corrections by (distance, corpus df desc, term). The join is
    * keyed on variant STRINGS — vocabulary-sized × term-length fan-
    * out, never query×vocabulary — and both the variant enumeration
    * and the verify are engine built-ins (transform/substring,
    * levenshtein), so the whole correction replays in DuckDB. */
  def s11FuzzyCorrect(spark: SparkSession, dir: String,
                      probes: Seq[String] = FuzzyProbes,
                      k: Int = 3): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(array_distinct(
        regexp_extract_all(lower($"text"), lit(WordTokenPattern), lit(0))))
        .as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    fuzzyCorrections(vocab, probes, k)
  }

  /** s15: PREFIX AUTOCOMPLETE — the search-as-you-type completion
    * index (Elasticsearch edge-ngram / Weaviate's suggester class):
    * every vocabulary term is indexed under its leading prefixes
    * (lengths `minPrefix`..`maxPrefix`), and a prefix serves its
    * top-k completions ranked by document frequency (how many docs
    * a completion would actually reach), term tie-break. Built from
    * the same distinct-term vocabulary s11's corrector uses — both
    * are offline artifacts over the term DICTIONARY, which is
    * vocab-cardinality (tiny vs the corpus — Heaps' law), so at
    * 100 TB the index build costs one vocab scan + a bounded
    * prefix explode (≤ maxPrefix−minPrefix+1 rows per term) and the
    * per-prefix top-k rides the TopKPerKey heap rewrite; serving is
    * a broadcast-able point lookup. */
  def s15Autocomplete(spark: SparkSession, dir: String,
                      minPrefix: Int = 2, maxPrefix: Int = 4,
                      k: Int = 3): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(array_distinct(
        regexp_extract_all(lower($"text"), lit(WordTokenPattern), lit(0))))
        .as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    autocompleteOf(vocab, minPrefix, maxPrefix, k)
  }

  /** The completion index over any (term, df) vocabulary. */
  def autocompleteOf(vocab: DataFrame, minPrefix: Int = 2,
                     maxPrefix: Int = 4, k: Int = 3): DataFrame = {
    import vocab.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(minPrefix >= 1 && maxPrefix >= minPrefix && k >= 1)
    val w = Window.partitionBy($"prefix").orderBy($"df".desc, $"term")
    vocab.filter(length($"term") >= minPrefix)
      .select($"term", $"df", explode(transform(
        sequence(lit(minPrefix), least(lit(maxPrefix), length($"term"))),
        l => $"term".substr(lit(1), l))).as("prefix"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"prefix", $"rank".cast("long").as("rank"), $"term", $"df")
      .orderBy($"prefix", $"rank")
  }

  /** The correction core over any (term, df) vocabulary. */
  def fuzzyCorrections(vocab: DataFrame, probes: Seq[String],
                       k: Int = 3): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def variants(c: Column): Column =
      array_union(array(c), transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c)))))
    val vv = vocab
      .select($"term", $"df", explode(variants($"term")).as("v"))
    val qv = probes.toDF("q_term")
      .select($"q_term", explode(variants($"q_term")).as("v"))
    val w = Window.partitionBy($"q_term")
      .orderBy($"dist", $"df".desc, $"term")
    qv.join(vv, "v")
      .select($"q_term", $"term", $"df").distinct()
      .withColumn("dist", levenshtein($"q_term", $"term"))
      .filter($"dist" <= 1)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_term", $"term".as("correction"), $"dist", $"df", $"rnk")
      .orderBy($"q_term", $"rnk")
  }

  /** s12: COLLAPSED search serving — at most one hit per NEAR-DUP
    * cluster (what every production engine does so a mirrored page
    * can't fill the whole first page of results): the full BM25
    * ranking left-joins the shared component labels (p5's cluster
    * assignment, computed once per corpus), each cluster keeps its
    * best-scoring member, and top-k runs over the survivors.
    * Collapse happens BEFORE the limit — post-limit dedup would
    * under-fill exactly when it matters (a dup-heavy result page).
    * Costs one label join + one cluster-keyed window on the scored
    * set; unlabeled docs are their own singleton clusters. */
  def s12CollapsedSearch(spark: SparkSession, dir: String,
                         k: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scores(spark, docTokens(spark, dir), QueryTerms)
    val labels = Pipeline.componentLabels(spark, dir)
    val lab = scored.join(labels, scored("doc_id") === labels("id"), "left")
      .select($"doc_id", $"score", coalesce($"lbl", $"doc_id").as("cluster_rep"))
    val w = Window.partitionBy($"cluster_rep").orderBy($"score".desc, $"doc_id")
    lab.withColumn("r", row_number().over(w)).filter($"r" === 1)
      .select($"doc_id", $"cluster_rep", $"score")
      .orderBy($"score".desc, $"doc_id").limit(k)
  }

  /** s13: FIELDED BM25 (BM25F, Robertson–Zaragoza simple variant) —
    * the structured-document ranking real search engines serve: a
    * match in the TITLE outweighs the same match buried in the body.
    * Fields: the document's FIRST LINE plays the title role (the
    * heading role WebMeta's <title> plays for crawled pages — the
    * reference's chunks carry a real title property, and c13
    * extracts first-heading titles the same way); everything after
    * the first newline is the body. A document with no newline is
    * all title, empty body — the per-field avgdl normalizers are
    * floored at 1.0 on BOTH engine sides so a corpus-wide-empty
    * field can never 0/0. BM25F combines per-field length-normalized
    * tfs into ONE pseudo-frequency per term (w_t·tf_t/B_t +
    * w_b·tf_b/B_b, B_f the field's own length normalizer) and
    * saturates ONCE — unlike naively summing two BM25 scores, a term
    * can't double-dip the saturation curve. Serving shape is s1's:
    * columnwise tf per field (no token explode, no (doc, token)
    * shuffle), corpus stats as one broadcast row, avgdl per field
    * from EXACT integer length sums (no unordered double mean),
    * score a fixed-order fold over the query terms. */
  def s13FieldedBm25(spark: SparkSession, dir: String): DataFrame =
    fieldedBm25Of(fieldedSplitOf(Tables.documents(spark, dir)), QueryTerms, 10)

  /** First-line-as-title field split over any (doc_id, text …)
    * corpus → (doc_id, ttok, btok) token arrays. Pure column
    * expressions — one narrow scan, no explode. */
  def fieldedSplitOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val nl = instr($"text", "\n")
    val title = substring_index($"text", "\n", 1)
    val body = when(nl > 0, $"text".substr(nl + lit(1), length($"text")))
      .otherwise(lit(""))
    docs.select($"doc_id",
      regexp_extract_all(lower(title), lit(WordTokenPattern), lit(0)).as("ttok"),
      regexp_extract_all(lower(body), lit(WordTokenPattern), lit(0)).as("btok"))
  }

  /** The s13 core over any (doc_id, ttok array<string>, btok
    * array<string>) pre-split fielded corpus. */
  def fieldedBm25Of(split: DataFrame, queryTerms: Seq[String], limit: Int,
                    wTitle: Double = 2.0, wBody: Double = 1.0): DataFrame = {
    import split.sparkSession.implicits._
    val tfCols = queryTerms.zipWithIndex.flatMap { case (t, i) => Seq(
      size(filter($"ttok", tok => tok === lit(t))).cast("double").as(s"tt_$i"),
      size(filter($"btok", tok => tok === lit(t))).cast("double").as(s"bt_$i"))
    }
    val fields = split.select(($"doc_id" +:
      size($"ttok").cast("long").as("nlt") +:
      size($"btok").cast("long").as("nlb") +: tfCols): _*)
    val base = graft.Caches.persist(fields
      .filter(queryTerms.indices
        .map(i => col(s"tt_$i") + col(s"bt_$i") > 0).reduce(_ || _)))
    // n_docs and the per-field avgdl cover the WHOLE corpus; exact
    // integer sums make the means engine-identical
    val corpus = fields.agg(count(lit(1)).as("n"),
        sum($"nlt").as("slt"), sum($"nlb").as("slb"))
      .select($"n".cast("double").as("n_docs"),
        ($"slt".cast("double") / $"n".cast("double")).as("avgdlt"),
        ($"slb".cast("double") / $"n".cast("double")).as("avgdlb"))
    val dfAggs = queryTerms.indices.map(i =>
      sum(when(col(s"tt_$i") + col(s"bt_$i") > 0, 1.0).otherwise(0.0))
        .as(s"df_$i"))
    val stats = base.agg(dfAggs.head, dfAggs.tail: _*).crossJoin(corpus)
    scoreFielded(base, stats, queryTerms.size, wTitle, wBody, limit)
  }

  /** The BM25F scoring pass over a prepared (doc_id, nlt, nlb,
    * tt_0.., bt_0..) base and a one-row (df_0.., n_docs, avgdlt,
    * avgdlb) stats frame — shared by the scan path and the
    * persisted-index path (sources.TextIndex.fieldedServe), same
    * no-drift contract as [[scoreBm25]]. */
  private[graft] def scoreFielded(base: DataFrame, stats: DataFrame,
                                  nTerms: Int, wTitle: Double,
                                  wBody: Double, limit: Int): DataFrame = {
    import base.sparkSession.implicits._
    val score = (0 until nTerms).map { i =>
      val idf = log(lit(1.0) +
        ($"n_docs" - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      // avgdl floors at 1.0: a corpus-wide-empty field has tf 0
      // everywhere, so its normalizer value is irrelevant — the floor
      // only prevents the 0/0 ANSI error
      val tfw =
        lit(wTitle) * col(s"tt_$i") /
          (lit(1.0 - B) + lit(B) * $"nlt".cast("double") /
            greatest($"avgdlt", lit(1.0))) +
        lit(wBody) * col(s"bt_$i") /
          (lit(1.0 - B) + lit(B) * $"nlb".cast("double") /
            greatest($"avgdlb", lit(1.0)))
      idf * tfw / (lit(K1) + tfw)
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select($"doc_id", round(score, 6).as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(limit)
  }

  /** s14: SEMANTIC-collapsed search serving — s12's "collapse
    * duplicate results" toggle over SEMANTIC similarity instead of
    * near-dup text: the cluster labels come from a20's mutual-kNN
    * components over the document embeddings (vec_id ≡ doc_id in
    * this corpus), so paraphrases and rewrites that share no shingle
    * collapse too, not just byte-level mirrors. Same discipline as
    * s12: the FULL BM25 ranking joins the labels, each cluster keeps
    * its best-scoring member, and top-k runs over the survivors —
    * collapse BEFORE the limit, because post-limit dedup under-fills
    * exactly on the dup-heavy page where it matters. Costs one label
    * join + one cluster-keyed window on the scored set; docs without
    * an embedding stay their own singleton clusters. At 100 TB the
    * label side is a20's: LSH-bounded candidates, 8-byte-id edges,
    * alternating-star components — embeddings never shuffle past the
    * kNN scoring stage. */
  def s14SemanticCollapsedSearch(spark: SparkSession, dir: String,
                                 k: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scores(spark, docTokens(spark, dir), QueryTerms)
    val labels = Knn.mutualKnnLabels(spark, dir)
    val lab = scored.join(labels, scored("doc_id") === labels("vec_id"), "left")
      .select($"doc_id", $"score",
        coalesce($"cluster_rep", $"doc_id").as("cluster_rep"))
    val w = Window.partitionBy($"cluster_rep").orderBy($"score".desc, $"doc_id")
    lab.withColumn("r", row_number().over(w)).filter($"r" === 1)
      .select($"doc_id", $"cluster_rep", $"score")
      .orderBy($"score".desc, $"doc_id").limit(k)
  }

  /** The session's PERSISTED text index for `dir` — built once per
    * (session, corpus) into a fresh directory (the TrainedModels
    * memo, the same train-once/serve-many discipline as the ANN
    * quantizers); a deployment swaps the temp path for a permanent
    * store location. */
  def textIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft_text_index")
        .toString
      // lang/source/n_chars ride along as document metadata — the
      // side table s23's filtered store-serving equality-filters on
      // and s31's chunk retrieval returns as stored fields
      graft.sources.TextIndex.write(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")), p)
      p
    }

  /** s17: BM25 served FROM the persisted index — s1's exact query
    * answered by reading the written postings/vocab/stats artifacts
    * (bucket-pruned scan, shared scorer) instead of re-tokenizing
    * the corpus; the oracle is s1's, so the write→load→serve round
    * trip is hash-gated to reproduce scan-path scores exactly. */
  def s17ServedBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex
      .bm25Serve(spark, textIndexPath(spark, dir), QueryTerms)
      .orderBy($"score".desc, $"doc_id").limit(10)
      .select($"doc_id", $"score")
  }

  /** The session's APPENDED text index for `dir`: built on the even
    * doc_id-div-50 blocks, then the odd blocks arrive as an
    * incremental batch through TextIndex.append — the index s18
    * serves from. */
  /** (base-build seconds, append seconds) recorded by the
    * [[appendedIndexPath]] memo — so Bench can bill the APPEND call
    * on its own line, directly comparable to the full build's line,
    * instead of bundling it with its half-corpus precursor. */
  private val appendTimings =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Double, Double)]()

  def appendedIndexTimings(spark: SparkSession,
                           dir: String): Option[(Double, Double)] =
    Option(appendTimings.get((spark, dir)))

  def appendedIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index_appended:$dir") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_text_index_app").toString
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // keyword-only: s18 gates the TEXT merge; the vector artifacts
      // have their own build line on the full index
      val t0 = System.nanoTime()
      graft.sources.TextIndex.write(
        docs.filter(expr("(doc_id div 50) % 2 = 0")), p, withVectors = false)
      val t1 = System.nanoTime()
      graft.sources.TextIndex.append(
        docs.filter(expr("(doc_id div 50) % 2 = 1")), p)
      val t2 = System.nanoTime()
      appendTimings.put((spark, dir), ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      p
    }

  /** s18: BM25 served from an INCREMENTALLY APPENDED index — half
    * the corpus is built, the other half arrives as a batch through
    * TextIndex.append, and serving must reproduce the full-corpus
    * scan scores EXACTLY (the oracle is s1's): postings append into
    * the bucket layout, vocab dfs re-aggregate, the exact integer
    * stats sums add — the merge guarantee an approximate index
    * can't give, hash-gated end to end. */
  def s18AppendedBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex
      .bm25Serve(spark, appendedIndexPath(spark, dir), QueryTerms)
      .orderBy($"score".desc, $"doc_id").limit(10)
      .select($"doc_id", $"score")
  }

  /** s19: PHRASE search served FROM the positional index — s7's
    * exact query answered by the CHAINED position-list intersection
    * over the persisted postings (Lucene PhraseQuery's n-term
    * mechanics) instead of a corpus-text regex scan; the oracle is
    * s7's, so the positional round trip is hash-gated against the
    * same ground truth. Three terms, not two — the single most
    * common real phrase length, exercising the +1-shift chain past
    * its first hop. */
  def s19PhraseFromIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.phraseServe(
      spark, textIndexPath(spark, dir), PhraseTerms, 20)

  /** s20: ORDERED-PROXIMITY search (`"hash join key"~3`) — s19's
    * positional mechanics with a slop window chained term by term:
    * 'join' within 3 tokens after 'hash', then 'key' within 3
    * tokens after that surviving 'join'. Strictly widens s19's
    * survivor set (adjacency = slop 1); the oracle replays the
    * chained windowed intersection from the token arrays. */
  def s20ProximitySearch(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.proximityServe(
      spark, textIndexPath(spark, dir), PhraseTerms, slop = 3, k = 20)

  /** s21: HYBRID search served FROM the persisted index — the
    * reference's actual serving call (retrieval/service.go:23-47
    * against the persisted Weaviate index, store.go:105): the BM25
    * leg reads the postings artifacts, the vector leg reads the
    * stored poly-BoW document vectors, and relativeScoreFusion runs
    * through the SAME shared expression as the scan path — so the
    * oracle IS s3's SQL, hash-gating the whole store round trip
    * (postings + vectors + fusion) against the scan pipeline's own
    * ground truth. Exact-probe mode (nprobe = all cells) is the
    * gated configuration; nprobe < cells is the IVF recall/latency
    * dial with cid partition pruning. */
  def s21ServedHybrid(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.hybridServe(
      spark, textIndexPath(spark, dir), QueryTerms, alpha = 0.5, limit = 10)

  /** s24: the rankedFusion (RRF) twin of s21 — s6's query served
    * from the same persisted artifacts through the shared fuseRanked
    * expression; oracle = s6's SQL. */
  def s24ServedRrf(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.hybridServe(
      spark, textIndexPath(spark, dir), QueryTerms, alpha = 0.5,
      limit = 10, fusion = "ranked")

  /** s23: metadata-FILTERED search served FROM the persisted index —
    * s5's equality filters (store.go:133-150) in the store-served
    * mode: the term's postings are a bucket-pruned read and the
    * lang='en' filter evaluates on the persisted `docs/` metadata
    * side table, semi-joining BEFORE ranking (filter-then-rank, the
    * a16 rule on the text side). Oracle = s5's SQL. */
  def s23FilteredFromIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex.filteredServe(
        spark, textIndexPath(spark, dir), "spark",
        Map("lang" -> "en"), k = 20)
      .select($"doc_id", $"source", $"tf".as("tf_spark"))
  }

  /** s25: the reference's FULL serving call from the store —
    * Search(query, alpha, limit, FILTERS) in one shot
    * (retrieval/service.go:23-47: the filter set rides into the
    * hybrid Weaviate query, store.go:133-150): lang='en' restricts
    * BOTH legs before ranking, BM25 stats are the FILTERED corpus's
    * (computed from the store artifacts — filtered doc set + exact
    * length sums from `docs/`, df from the semi-joined postings
    * base; no corpus scan), and relativeScoreFusion runs through
    * the shared expression. Oracle = s3's SQL over the lang='en'
    * corpus — the filter-first semantics GraftEngine.search
    * established, hash-gated end to end. */
  def s25FilteredHybrid(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.filteredHybridServe(
      spark, textIndexPath(spark, dir), QueryTerms,
      Map("lang" -> "en"), alpha = 0.5, limit = 10)

  /** The s28 query batch: three concurrent searches (s1's own terms
    * ride along as qid 1, so the batch path's ranking for it must
    * reproduce the per-query path's). */
  private[graft] val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "filter"),
    2L -> Seq("hash", "join"),
    3L -> Seq("data", "table"))

  /** s28: BATCHED multi-query serving from the index — the
    * throughput shape (one job, one pruned postings read, one
    * shuffle for a whole query batch; per-query bm25Serve is the
    * latency shape). The oracle replays the batch join + per-(qid,
    * doc) BM25 aggregation + per-qid ranking digit for digit, and
    * the spec pins the batch path's qid-1 ranking == the per-query
    * path's s1 ranking. */
  def s28BatchServe(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.bm25ServeBatch(
      spark, textIndexPath(spark, dir), BatchQueries, k = 5)

  /** s29: BATCHED HYBRID serving from the index — s28's throughput
    * shape applied to the reference's PRIMARY call: every query in
    * the batch gets the full relativeScoreFusion of its persisted
    * BM25 leg and its persisted vector leg, in ONE job (one pruned
    * postings read for all keyword legs, one vectors scan scoring
    * all query cosines, qid-partitioned fusion windows). The oracle
    * replays the whole batch pipeline; the spec pins each qid block
    * == the per-query hybridServe. */
  def s29BatchHybrid(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.hybridServeBatch(
      spark, textIndexPath(spark, dir), BatchQueries, alpha = 0.5,
      limit = 10)

  /** s27: the STATS endpoint served FROM the index (the reference's
    * stats handler, handlers/stats.go shape, answered from the store
    * instead of the corpus): document count, exact token sums (full/
    * title/body) and vocabulary size — persisted-sums + term-
    * dictionary reads only, no corpus access. The oracle recomputes
    * the same numbers from the raw documents table, so the index's
    * bookkeeping (the very sums every BM25 serve divides by) is
    * hash-gated directly. */
  def s27IndexStats(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.indexStats(spark, textIndexPath(spark, dir))

  /** s26: SNIPPETS served FROM the index — s10's query with the
    * content coming from the index's STORED FIELDS (`content/`,
    * Lucene's stored-fields file; the SearchResult.Content contract,
    * retrieval/service.go:11,114-120) instead of the corpus: s1's
    * ranking through bm25Serve, then the top-k ids prune the content
    * read (dbucket partitions + doc_id row groups, ≤k rows) and the
    * SHARED snippet windowing renders. Zero corpus access at query
    * time; oracle IS s10's SQL. */
  def s26ServedSnippets(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextIndex.snippetServe(
      spark, textIndexPath(spark, dir), QueryTerms)

  /** s30: RERANK served FROM the index — the reference service's
    * last serving stage (retrieval/service.go:112-130 reranks
    * whatever the store returned) closed on the store path: s21's
    * persisted hybrid candidates, hit content from the STORED FIELDS
    * (≤k pruned rows), the shared token-overlap rerank — zero corpus
    * access end to end. Output is s4's exact shape (rounded score +
    * composite final_rank), and the oracle IS s4's SQL, so the whole
    * store round trip (postings + vectors + fusion + stored-fields
    * content + rerank) hash-gates against the scan pipeline's own
    * ground truth. */
  def s30RerankedFromIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rr = graft.sources.TextIndex.rerankServe(
        spark, textIndexPath(spark, dir), QueryTerms, alpha = 0.5,
        limit = 10)
      .select($"doc_id", $"hybrid_score",
        round($"rerank_score", 6).as("rerank_score"))
    rr.select($"doc_id", $"rerank_score", $"hybrid_score",
        row_number().over(
          Window.orderBy($"rerank_score".desc, $"hybrid_score".desc,
            $"doc_id"))
          .cast("long").as("final_rank"))
      .orderBy($"final_rank")
  }

  /** s31: CHUNK RETRIEVAL served FROM the index — the reference's
    * GetChunksByURL read (store.go:311-335, one page's chunks in
    * chunk order) answered from the persisted `docs/` + `content/`
    * artifacts with zero corpus access: the source equality
    * evaluates on the narrow metadata side table, the survivors join
    * the stored fields for their text. The oracle IS c6's SQL (the
    * corpus-scan twin), so the store round trip — metadata filter,
    * stored-fields content, per-chunk hash — is gated against the
    * same ground truth. */
  def s31ChunksFromStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex.chunksServe(
        spark, textIndexPath(spark, dir), Map("source" -> "src3"))
      .select($"doc_id", $"source", md5($"text").as("content_md5"),
        $"n_chars")
      .orderBy($"doc_id")
  }

  /** The session's UPSERTED text index for `dir`: built on a STALE
    * corpus (the odd doc_id-div-50 blocks carry placeholder text),
    * then c18's change detection (WebMeta.changeDetect — the CDC
    * classify of result_consumer.go:196-198) compares fresh vs
    * stored content hashes and exactly the CHANGED set re-ingests
    * through TextIndex.upsert (tombstone + fresh batch in one
    * commit). After the upsert the index's live corpus IS the true
    * documents table — which is why s22 reuses s1's oracle. */
  /** (stale-build seconds, detect+upsert seconds) recorded by the
    * [[upsertedIndexPath]] memo — Bench bills the CDC pass (change
    * detection + upsert) on its own line; the stale precursor build
    * is the same shape as _text_index_build. */
  private val upsertTimings =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Double, Double)]()

  def upsertedIndexTimings(spark: SparkSession,
                           dir: String): Option[(Double, Double)] =
    Option(upsertTimings.get((spark, dir)))

  def upsertedIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index_upserted:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_text_index_ups").toString
      val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      // one div-50 block in five is stale (~20% — a heavy but
      // realistic re-crawl change rate; the tiny-corpus specs own
      // the 50/50 and edge cases)
      val stale = docs.select($"doc_id",
        when(expr("(doc_id div 50) % 5 = 1"),
          concat(lit("stale placeholder content "), $"doc_id"))
          .otherwise($"text").as("text"))
      val t0 = System.nanoTime()
      graft.sources.TextIndex.write(stale, p, withVectors = false)
      val t1 = System.nanoTime()
      val fresh = docs.select($"doc_id".cast("string").as("page_key"),
        md5($"text").as("body_hash"))
      val stored = stale.select($"doc_id".cast("string").as("page_key"),
        md5($"text").as("body_hash"))
      val changed = WebMeta.changeDetect(fresh, stored)
        .filter($"change" === "changed")
        .select($"page_key".cast("long").as("doc_id"))
      graft.sources.TextIndex.upsert(docs.join(changed, "doc_id"), p)
      val t2 = System.nanoTime()
      upsertTimings.put((spark, dir), ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      p
    }

  /** The source every metadata-addressed mutation gate targets —
    * ~5% of the gate corpus (20 uniform sources), so the delete and
    * resync both move the BM25 statistics enough that an inexact
    * subtraction cannot hash-match. */
  private val DeletedSource = "src7"

  /** (full-build seconds, delete-by-source seconds) recorded by the
    * [[sourceDeletedIndexPath]] memo — the metadata-addressed
    * tombstone commit bills on its own line next to the build. */
  private val srcDelTimings =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Double, Double)]()

  def sourceDeletedIndexTimings(spark: SparkSession,
                                dir: String): Option[(Double, Double)] =
    Option(srcDelTimings.get((spark, dir)))

  /** The session's DELETE-BY-SOURCE index — DeleteChunksBySourceID
    * (store.go:93) run against the SERVING index: the full corpus
    * builds with its source metadata, then ONE metadata-addressed
    * delete purges [[DeletedSource]] — doc_ids resolved from the
    * index's own `docs/` side table (idsByMeta: a narrow pruned
    * read, zero corpus access), tombstoned with exact statistics
    * subtraction in one commit. s33 serves s1's query from it; the
    * oracle is s1's SQL over the corpus WITHOUT the source. */
  def sourceDeletedIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index_srcdel:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_text_index_sdel").toString
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"text", $"source")
      val t0 = System.nanoTime()
      graft.sources.TextIndex.write(docs, p, withVectors = false)
      val t1 = System.nanoTime()
      val n = graft.sources.TextIndex.deleteByMeta(spark, p,
        Map("source" -> DeletedSource))
      require(n > 0, s"gate corpus carries no $DeletedSource docs")
      val t2 = System.nanoTime()
      srcDelTimings.put((spark, dir), ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      p
    }

  /** s33: BM25 served AFTER an index-side DELETE BY SOURCE — the
    * reference's store mutation addressed by METADATA, not by ids
    * the caller happens to hold. Hash-gated against s1's SQL over
    * the rebuild-without corpus: n_docs, avgdl, and every df must
    * subtract exactly or the scores drift. */
  def s33DeletedBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex
      .bm25Serve(spark, sourceDeletedIndexPath(spark, dir), QueryTerms)
      .orderBy($"score".desc, $"doc_id").limit(10)
      .select($"doc_id", $"score")
  }

  /** (stale-build seconds, resync seconds) recorded by the
    * [[resyncedIndexPath]] memo. */
  private val resyncTimings =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Double, Double)]()

  def resyncedIndexTimings(spark: SparkSession,
                           dir: String): Option[(Double, Double)] =
    Option(resyncTimings.get((spark, dir)))

  /** The session's RESYNCED index — source/source.go:257 ReSync end
    * to end: the index (and a chunk store) build over a corpus
    * where [[DeletedSource]]'s pages all went STALE (placeholder
    * content) and one page exists that the fresh crawl no longer
    * has; then ONE GraftEngine.resyncSource call purges the source
    * across both stores and re-ingests the fresh pages. The
    * resulting index must serve EXACTLY like a fresh-corpus build —
    * stale pages replaced, the vanished page gone — so s34's oracle
    * IS s1's SQL over the fresh corpus. */
  def resyncedIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index_resync:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_text_index_rsyn").toString
      val store = java.nio.file.Files
        .createTempDirectory("graft_chunk_store_rsyn").toString
      val docs = Tables.documents(spark, dir)
      val staleDocs = docs
        .withColumn("text",
          when($"source" === DeletedSource,
            concat(lit("stale placeholder content "), $"doc_id"))
            .otherwise($"text"))
        .unionByName(spark.range(1).select(
          lit(-424242L).as("doc_id"),
          lit("vanished page content").as("text"),
          lit("en").as("lang"),
          lit(DeletedSource).as("source"),
          lit(21L).as("n_chars")))
      val t0 = System.nanoTime()
      graft.streaming.IngestStream.reingest(staleDocs, store)
      graft.sources.TextIndex.write(staleDocs, p, withVectors = false)
      val t1 = System.nanoTime()
      new graft.GraftEngine(spark, docs).resyncSource(p, store,
        DeletedSource, docs.filter($"source" === DeletedSource))
      val t2 = System.nanoTime()
      resyncTimings.put((spark, dir), ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      p
    }

  /** s34: BM25 served AFTER a full SOURCE RESYNC — the "this site
    * went stale, redo it" composition (purge across chunk store +
    * serving index, re-ingest, one sync commit). The oracle is
    * s1's SQL over the FRESH corpus: resync must converge the
    * stale index to exactly the fresh-build state. */
  def s34ResyncedBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex
      .bm25Serve(spark, resyncedIndexPath(spark, dir), QueryTerms)
      .orderBy($"score".desc, $"doc_id").limit(10)
      .select($"doc_id", $"score")
  }

  /** (base-build seconds, evolve-append seconds) recorded by the
    * [[evolvedIndexPath]] memo — Bench bills the schema-evolving
    * append on its own line, the narrow precursor build on a `_base`
    * line (the bb pattern). */
  private val evolveTimings =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Double, Double)]()

  def evolvedIndexTimings(spark: SparkSession,
                          dir: String): Option[(Double, Double)] =
    Option(evolveTimings.get((spark, dir)))

  /** The session's SCHEMA-EVOLVED text index — vector/schema.go
    * EnsureSchema's AddProperty exercised on the serving index
    * itself: the even doc_ids build the index when only `lang`
    * metadata existed, then the odd doc_ids append carrying the
    * LATER-ADDED `source` + `n_chars` properties. The committed docs
    * schema widens in the append's commit; pre-evolution rows read
    * the new columns as NULL through the explicit-schema docs read
    * (no mergeSchema, no backfill rewrite — the parquet
    * missing-column contract does the work). */
  def evolvedIndexPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"text_index_evolved:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_text_index_evo").toString
      val docs = Tables.documents(spark, dir)
      val t0 = System.nanoTime()
      graft.sources.TextIndex.write(
        docs.filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"text", $"lang"),
        p, withVectors = false)
      val t1 = System.nanoTime()
      graft.sources.TextIndex.append(
        docs.filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars"), p)
      val t2 = System.nanoTime()
      evolveTimings.put((spark, dir), ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      p
    }

  /** s32: store-served chunk retrieval THROUGH a schema evolution —
    * the filter column did not exist when half the index was built:
    * rows from the pre-evolution batches read `source` as NULL and
    * fall out of the equality; rows from the evolved batch carry
    * their true metadata. The oracle replays the same split on the
    * raw corpus, so the widened commit, the NULL semantics, and the
    * stored-fields round trip all hash-gate together. */
  def s32EvolvedSchema(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex.chunksServe(
        spark, evolvedIndexPath(spark, dir), Map("source" -> "src3"))
      .select($"doc_id", $"lang", $"source", $"n_chars",
        md5($"text").as("content_md5"))
      .orderBy($"doc_id")
  }

  /** s22: BM25 served from an UPSERTED index — the CDC loop closed:
    * half the index was built from stale text, change detection
    * found exactly those pages, and upsert (delete + append in one
    * commit) replaced them. Serving must reproduce the TRUE-corpus
    * scan scores EXACTLY (the oracle is s1's): tombstones kill the
    * stale rows, vocab/stats subtract their exact contributions and
    * add the fresh ones — hash-gated end to end. */
  def s22UpsertedBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.TextIndex
      .bm25Serve(spark, upsertedIndexPath(spark, dir), QueryTerms)
      .orderBy($"score".desc, $"doc_id").limit(10)
      .select($"doc_id", $"score")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s32_evolved_schema" -> s32EvolvedSchema _,
    "s31_chunks_from_store" -> s31ChunksFromStore _,
    "s30_reranked_from_index" -> s30RerankedFromIndex _,
    "s29_batch_hybrid" -> s29BatchHybrid _,
    "s28_batch_serve" -> s28BatchServe _,
    "s27_index_stats" -> s27IndexStats _,
    "s26_served_snippets" -> s26ServedSnippets _,
    "s25_filtered_hybrid" -> s25FilteredHybrid _,
    "s24_served_rrf" -> s24ServedRrf _,
    "s23_filtered_from_index" -> s23FilteredFromIndex _,
    "s33_deleted_by_source" -> s33DeletedBySource _,
    "s34_resynced_bm25" -> s34ResyncedBm25 _,
    "s22_upserted_bm25" -> s22UpsertedBm25 _,
    "s21_served_hybrid" -> s21ServedHybrid _,
    "s20_proximity_search" -> s20ProximitySearch _,
    "s19_phrase_from_index" -> s19PhraseFromIndex _,
    "s18_appended_bm25" -> s18AppendedBm25 _,
    "s17_served_bm25" -> s17ServedBm25 _,
    "s14_semantic_collapsed" -> ((s, d) => s14SemanticCollapsedSearch(s, d)),
    "s13_fielded_bm25" -> s13FieldedBm25 _,
    "s12_collapsed_search" -> ((s, d) => s12CollapsedSearch(s, d)),
    "s15_autocomplete" -> ((s, d) => s15Autocomplete(s, d)),
    "s11_fuzzy_correct" -> ((s, d) => s11FuzzyCorrect(s, d)),
    "s10_snippets" -> ((s, d) => s10Snippets(s, d)),
    "s9_prf_expansion" -> ((s, d) => s9PrfExpansion(s, d)),
    "s16_more_like_this" -> ((s, d) => s16MoreLikeThis(s, d)),
    "s8_search_eval" -> ((s, d) => s8SearchEval(s, d)),
    "s1_keyword_bm25" -> s1KeywordBm25 _,
    "s3_hybrid_search" -> s3HybridSearch _,
    "s4_rerank" -> s4Rerank _,
    "s5_filtered_search" -> s5FilteredSearch _,
    "s6_rrf_fusion" -> s6RrfFusion _,
    "s7_phrase_search" -> s7PhraseSearch _)

  /** s7: exact-PHRASE search — the query mode bag-of-words BM25
    * cannot express: "hash join" must appear as ADJACENT tokens, not
    * two scattered matches. The adjacency test is a per-row codegen
    * HOF over the token array (exists(tok[i]=t1 ∧ tok[i+1]=t2)) —
    * one narrow scan, no positional index and no (doc, pos) shuffle;
    * an index-build variant would precompute (term, doc, pos)
    * postings, which is exactly the explode this serving path
    * avoids. Ranking: the phrase survivors semi-join the standard
    * full-corpus BM25 scores for the phrase's terms (corpus-wide
    * idf/avgdl — scoring against the whole collection, filtering by
    * the phrase). */
  def s7PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        regexp_extract_all(lower($"text"), lit(WordTokenPattern), lit(0)).as("tok"))
      .withColumn("dl", size($"tok").cast("double"))
    phraseSearchOf(docs, PhraseTerms, 20)
  }

  /** The s7 core over any (doc_id, text, tok array<string>, dl)
    * frame, for an n-term phrase. The adjacency test compiles to ONE
    * codegen regex over the raw text — "t1 as a complete token, then
    * only non-token chars, then t2, … then tn" is exactly "adjacent
    * in the token stream" (tokens are maximal \p{L}\p{N} runs), and
    * the single regex pass replaces a per-element interpreted lambda
    * over the token array (4.4s → ~1s at sf0.1). The oracle keeps
    * the token-array formulation as the semantic spec; hash-equality
    * of the two forms is the gate. */
  def phraseSearchOf(docs: DataFrame, terms: Seq[String],
                     k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    require(terms.nonEmpty, "phraseSearchOf needs at least one term")
    val qs = terms.map(t => java.util.regex.Pattern.quote(t.toLowerCase))
    val phraseRe = "(^|[^\\p{L}\\p{N}])" +
      qs.mkString("[^\\p{L}\\p{N}]+") + "($|[^\\p{L}\\p{N}])"
    val phraseDocs = docs.filter(lower($"text").rlike(phraseRe))
    // distinct: a repeated-word phrase must score the term once,
    // matching the index path's deduped term set
    bm25Scores(docs.sparkSession, docs, terms.distinct)
      .join(phraseDocs.select($"doc_id"), Seq("doc_id"), "left_semi")
      .orderBy($"score".desc, $"doc_id")
      .limit(k)
  }


  /** s3's full-pipeline SQL, shared with s4's oracle (which reranks
    * over exactly this result set). */
  private lazy val s3Sql: String = oraclesBase("s3_hybrid_search")

  /** The 31-poly rolling-hash 64-bucket BoW of a token-list SQL
    * expression — the replay of the poly_bow kernel (same hash as
    * s3's pb/qv CTEs). */
  private def polyBowSql(tok: String): String =
    s"""list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
       |      list_transform($tok, t ->
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(generate_series(1, length(t)),
       |            i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
       |          (a, c) -> (a*31 + c) % 1000000007)),
       |      x -> x % 64 = b)) AS DOUBLE))""".stripMargin

  /** s29's full replay: the s28 keyword pipeline per qid + per-qid
    * query vectors + per-qid candidate cuts + per-qid min-max
    * fusion — the batched form of s3's pipeline. */
  private lazy val s29Sql: String = {
    val cos = cosineSql29
    s"""WITH docs AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS tok,
       |         CAST(len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
       |qt AS (
       |  SELECT CAST(qid AS BIGINT) AS qid, term FROM (VALUES
       |    (1, 'spark'), (1, 'join'), (1, 'filter'),
       |    (2, 'hash'), (2, 'join'),
       |    (3, 'data'), (3, 'table')) AS t(qid, term)),
       |tf AS (
       |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
       |  WHERE token IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY doc_id, dl, token),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |kwscored AS (
       |  SELECT qt.qid, tf.doc_id,
       |    round(sum(
       |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
       |      * (tf.tf * (1.2 + 1.0))
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS kw_score
       |  FROM tf JOIN qt USING (term) JOIN df USING (term), stats
       |  GROUP BY qt.qid, tf.doc_id),
       |kw AS (
       |  SELECT qid, doc_id, kw_score FROM (
       |    SELECT qid, doc_id, kw_score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY kw_score DESC, doc_id) AS rnk
       |    FROM kwscored)
       |  WHERE rnk <= 50),
       |pb AS (
       |  SELECT doc_id,
       |    ${polyBowSql("tok")} AS v
       |  FROM docs WHERE len(tok) > 0),
       |qv AS (
       |  SELECT qid,
       |    ${polyBowSql("terms")} AS v
       |  FROM (SELECT qid, list(term ORDER BY term) AS terms
       |        FROM qt GROUP BY qid)),
       |vscored AS (
       |  SELECT qv.qid, pb.doc_id,
       |    $cos AS v_score
       |  FROM pb, qv),
       |vec AS (
       |  SELECT qid, doc_id, v_score FROM (
       |    SELECT qid, doc_id, v_score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY v_score DESC, doc_id) AS rnk
       |    FROM vscored)
       |  WHERE rnk <= 50),
       |cand AS (
       |  SELECT coalesce(kw.qid, vec.qid) AS qid,
       |         coalesce(kw.doc_id, vec.doc_id) AS doc_id,
       |         kw_score, v_score
       |  FROM kw FULL OUTER JOIN vec
       |    ON kw.qid = vec.qid AND kw.doc_id = vec.doc_id),
       |bounds AS (
       |  SELECT qid, min(kw_score) AS kmin, max(kw_score) AS kmax,
       |         min(v_score) AS vmin, max(v_score) AS vmax
       |  FROM cand GROUP BY qid),
       |blended AS (
       |  SELECT cand.qid, cand.doc_id,
       |    round(0.5 * CASE WHEN v_score IS NULL THEN 0.0
       |                WHEN vmax = vmin THEN 0.5
       |                ELSE (v_score - vmin) / (vmax - vmin) END
       |        + 0.5 * CASE WHEN kw_score IS NULL THEN 0.0
       |                WHEN kmax = kmin THEN 0.5
       |                ELSE (kw_score - kmin) / (kmax - kmin) END, 6) AS hybrid_score
       |  FROM cand JOIN bounds ON cand.qid = bounds.qid)
       |SELECT qid, doc_id, hybrid_score, rnk FROM (
       |  SELECT qid, doc_id, hybrid_score,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY hybrid_score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM blended)
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  /** cosine of pb.v against qv.v (the vscored CTE's arguments). */
  private lazy val cosineSql29: String =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(pb.v)), i -> pb.v[i]*qv.v[i])), (s,x) -> s+x)
      |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |         list_transform(pb.v, x -> x*x)), (s,x) -> s+x))
      |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |         list_transform(qv.v, x -> x*x)), (s,x) -> s+x)))""".stripMargin

  /** poly-BoW relevance labels + ideal ranking, shared by the s8
    * oracle: same 64-bucket hashed BoW and cosine as the serving
    * legs, clamped at 0. */
  private lazy val s8RelSql: String =
    """docs8 AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok
      |  FROM documents),
      |pb8 AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
      |      list_transform(tok, t ->
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(t)),
      |            i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
      |          (a, c) -> (a*31 + c) % 1000000007)),
      |      x -> x % 64 = b)) AS DOUBLE)) AS v
      |  FROM docs8 WHERE len(tok) > 0),
      |qv8 AS (
      |  SELECT list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
      |    list_transform(['spark','join','filter'], t ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, length(t)),
      |          i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
      |        (a, c) -> (a*31 + c) % 1000000007)),
      |    x -> x % 64 = b)) AS DOUBLE)) AS v),
      |rel AS (
      |  SELECT doc_id, greatest(
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(pb8.v)), i -> pb8.v[i]*qv8.v[i])), (s,x) -> s+x)
      |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |         list_transform(pb8.v, x -> x*x)), (s,x) -> s+x))
      |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |         list_transform(qv8.v, x -> x*x)), (s,x) -> s+x))), 0.0) AS rel
      |  FROM pb8, qv8),
      |ideal AS (
      |  SELECT doc_id, rnk FROM (
      |    SELECT doc_id, CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS rnk
      |    FROM rel) WHERE rnk <= 10)""".stripMargin

  private def s8RankedSql(sql: String, score: String): String =
    s"""(SELECT doc_id, rnk FROM (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY $score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM ($sql)) WHERE rnk <= 10)""".stripMargin

  /** s13's full replay — same title/body split, same per-field
    * exact-integer avgdl, same single-saturation BM25F combination in
    * fixed term order. A val so s8's eval panel can rank the same
    * string it hash-checks. */
  private lazy val s13Sql: String = {
      val terms = QueryTerms.zipWithIndex
      val tfCols = terms.map { case (t, i) =>
        s"""    CAST(len(list_filter(ttok, x -> x = '$t')) AS DOUBLE) AS tt_$i,
           |    CAST(len(list_filter(btok, x -> x = '$t')) AS DOUBLE) AS bt_$i""".stripMargin
      }.mkString(",\n")
      val dfCols = terms.map { case (_, i) =>
        s"CAST(sum(CASE WHEN tt_$i + bt_$i > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df_$i"
      }.mkString(",\n    ")
      // avgdl floors at 1.0 on both sides (greatest(avgdl, 1.0)):
      // a corpus-wide-empty field would otherwise 0/0 here while the
      // Spark side returns 0 — the floor keeps the engines identical
      val scoreSum = terms.map { case (_, i) =>
        s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))
           |      * (2.0 * tt_$i / (0.25 + 0.75 * dlt / greatest(avgdlt, 1.0))
           |         + 1.0 * bt_$i / (0.25 + 0.75 * dlb / greatest(avgdlb, 1.0)))
           |      / (1.2 + (2.0 * tt_$i / (0.25 + 0.75 * dlt / greatest(avgdlt, 1.0))
           |         + 1.0 * bt_$i / (0.25 + 0.75 * dlb / greatest(avgdlb, 1.0))))""".stripMargin
      }.mkString("\n      + ")
      val anyMatch = terms.map { case (_, i) => s"tt_$i + bt_$i > 0" }
        .mkString(" OR ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    regexp_extract_all(lower(split_part(text, chr(10), 1)),
         |      '[\\p{L}\\p{N}]+') AS ttok,
         |    regexp_extract_all(lower(CASE WHEN position(chr(10) IN text) > 0
         |        THEN substring(text, position(chr(10) IN text) + 1)
         |        ELSE '' END), '[\\p{L}\\p{N}]+') AS btok
         |  FROM documents),
         |d AS (
         |  SELECT doc_id,
         |    CAST(len(ttok) AS BIGINT) AS nlt, CAST(len(btok) AS BIGINT) AS nlb,
         |$tfCols
         |  FROM f),
         |corpus AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(sum(nlt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdlt,
         |    CAST(sum(nlb) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdlb
         |  FROM d),
         |m AS (SELECT * FROM d WHERE $anyMatch),
         |dfs AS (
         |  SELECT $dfCols
         |  FROM m)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id,
         |    round(
         |      $scoreSum, 6) AS score
         |  FROM (SELECT m.*, CAST(nlt AS DOUBLE) AS dlt,
         |          CAST(nlb AS DOUBLE) AS dlb FROM m), corpus, dfs)
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin
    }

  // s26: snippets rendered from the stored fields must hash-match
  // s10's corpus-scan rendering — same ranking, same windowing (the
  // alias is added AFTER the map closes because s10's SQL lives in
  // this chain, not in oraclesBase)
  val oracles: Map[String, String] = {
    val all = oraclesWithout26
    all + ("s26_served_snippets" -> all("s10_snippets"))
  }

  /** s1's replay over the corpus MINUS the purged source. The
    * docs-CTE injection must actually land — a later reshape of
    * s1's SQL would otherwise silently gate s33 against the
    * UN-deleted corpus (which can only hash-FAIL, but the require
    * turns that into a named error at registration time). */
  private lazy val s33Sql: String = {
    val base = oraclesBase("s1_keyword_bm25")
    val out = base.replace("FROM documents)",
      s"FROM documents WHERE source <> '$DeletedSource')")
    require(out != base,
      "s1 SQL reshape broke s33's docs-CTE injection point")
    out
  }

  private lazy val oraclesWithout26: Map[String, String] = oraclesBase +
    // s17 must reproduce the SCAN path's scores exactly from the
    // persisted artifacts, so its oracle IS s1's query — any drift in
    // the write→load→serve round trip (lost postings, wrong df,
    // length-norm mismatch) hash-fails against the same ground truth
    ("s17_served_bm25" -> oraclesBase("s1_keyword_bm25")) +
    // s18's served scores must equal the full-corpus scan's even
    // though half the index arrived via append — same ground truth
    ("s18_appended_bm25" -> oraclesBase("s1_keyword_bm25")) +
    // s22: after the change-detected upsert the index's live corpus
    // is the true documents table — same ground truth as s1, so any
    // tombstone/merge drift (stale rows surviving, wrong df/stats
    // subtraction) hash-fails here
    ("s22_upserted_bm25" -> oraclesBase("s1_keyword_bm25")) +
    // s33: after the metadata-addressed delete the live corpus is
    // the documents table WITHOUT the purged source — the one-line
    // docs-CTE injection keeps the BM25 replay shared with s1's, so
    // an inexact n_docs/avgdl/df subtraction hash-fails
    ("s33_deleted_by_source" -> s33Sql) +
    // s34: a full source resync must converge the stale index to
    // exactly the fresh-corpus build — same ground truth as s1
    ("s34_resynced_bm25" -> oraclesBase("s1_keyword_bm25")) +
    // s21/s24: store-served hybrid must reproduce the scan-path
    // fusion pipelines exactly — the oracles ARE s3's and s6's SQL
    ("s21_served_hybrid" -> oraclesBase("s3_hybrid_search")) +
    ("s24_served_rrf" -> oraclesBase("s6_rrf_fusion")) +
    // s25: s3's exact pipeline with the corpus restricted to
    // lang='en' FIRST (filter-first semantics — stats/df/candidates
    // all over the filtered corpus); the one-line docs-CTE injection
    // keeps the rest of the replay shared with s3's
    ("s25_filtered_hybrid" -> oraclesBase("s3_hybrid_search")
      .replace("FROM documents)", "FROM documents WHERE lang = 'en')")) +
    // s23: the filtered store-serve must hash-match s5's scan query
    ("s23_filtered_from_index" -> oraclesBase("s5_filtered_search")) +
    // s30: store-served rerank must reproduce the scan rerank (s4)
    // digit for digit — same candidates (s21 ≡ s3), same stored-
    // fields tokens, same overlap expression, same composite order
    // (s4Sql directly: s4's entry lives in THIS chain, not in
    // oraclesBase — a self-lookup here is a class-init crash)
    ("s30_reranked_from_index" -> s4Sql) +
    // s31: store-served chunk retrieval must hash-match c6's
    // corpus-scan read — same page, same order, same content hashes
    ("s31_chunks_from_store" ->
      graft.operators.ChunkQueries.oracles("c6_chunks_by_url")) +
    // s32: the evolved-schema read — pre-evolution rows (even ids)
    // read the later-added columns as NULL and fall out of the
    // equality filter; the oracle replays the same split on the raw
    // corpus, so rows/values/hash gate the evolution end to end
    ("s32_evolved_schema" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS content_md5
        |FROM documents
        |WHERE doc_id % 2 = 1 AND source = 'src3'
        |ORDER BY doc_id""".stripMargin) +
    // s29: the batched HYBRID replay — the s28 keyword pipeline per
    // qid, a per-qid poly-BoW query vector against the per-doc
    // vectors, per-qid candidate cuts, per-qid min-max fusion
    ("s29_batch_hybrid" -> s29Sql) +
    // s28: the batched-serving replay — per-(qid, doc) BM25 with
    // global df (= vocab df: docs containing the term corpus-wide,
    // which the tf CTE restricted to batch terms reproduces exactly),
    // one rank window per qid
    ("s28_batch_serve" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |qt AS (
        |  SELECT CAST(qid AS BIGINT) AS qid, term FROM (VALUES
        |    (1, 'spark'), (1, 'join'), (1, 'filter'),
        |    (2, 'hash'), (2, 'join'),
        |    (3, 'data'), (3, 'table')) AS t(qid, term)),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |  FROM tf JOIN qt USING (term) JOIN df USING (term), stats
        |  GROUP BY qt.qid, tf.doc_id)
        |SELECT qid, doc_id, score, rnk FROM (
        |  SELECT qid, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin) +
    // s27: the index's persisted bookkeeping recomputed from the raw
    // corpus — count, exact token sums (full/title/body split like
    // the index's tokenizer), distinct-term vocabulary size
    ("s27_index_stats" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |    regexp_extract_all(lower(split_part(text, chr(10), 1)),
        |      '[\p{L}\p{N}]+') AS ttok,
        |    regexp_extract_all(lower(CASE WHEN position(chr(10) IN text) > 0
        |        THEN substring(text, position(chr(10) IN text) + 1)
        |        ELSE '' END), '[\p{L}\p{N}]+') AS btok
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(tok)) AS BIGINT) AS sum_tokens,
        |  CAST(sum(len(ttok)) AS BIGINT) AS sum_title_tokens,
        |  CAST(sum(len(btok)) AS BIGINT) AS sum_body_tokens,
        |  (SELECT CAST(count(DISTINCT t) AS BIGINT)
        |   FROM (SELECT unnest(tok) AS t FROM f)) AS vocab_size
        |FROM f""".stripMargin) +
    // s19 must reproduce s7's phrase results from the POSITIONAL
    // index — same ground truth, different mechanics (position-list
    // intersection vs corpus regex), hash-gated
    ("s19_phrase_from_index" -> oraclesBase("s7_phrase_search")) +
    // s20: s7's replay with the adjacency chain widened to ordered
    // slop-3 windows per hop (gap 1..3 after the SURVIVING previous
    // occurrence), same BM25 restriction
    ("s20_proximity_search" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |phrase AS (
        |  SELECT doc_id FROM docs
        |  WHERE len(list_filter(generate_series(1, len(tok)),
        |    i -> tok[i] = 'hash' AND len(list_filter(
        |      generate_series(i + 1, least(i + 3, len(tok))),
        |      j -> tok[j] = 'join' AND len(list_filter(
        |        generate_series(j + 1, least(j + 3, len(tok))),
        |        l -> tok[l] = 'key')) > 0)) > 0)) > 0),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms AS (SELECT unnest(['hash', 'join', 'key']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        |SELECT doc_id, score FROM (
        |  SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |  FROM tf JOIN df USING (term), stats
        |  WHERE tf.doc_id IN (SELECT doc_id FROM phrase)
        |  GROUP BY tf.doc_id)
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin) +
    ("s13_fielded_bm25" -> s13Sql) +
    // same distinct-term vocabulary as s11, same prefix lengths,
    // same (df desc, term) ranking
    ("s15_autocomplete" ->
      s"""WITH vocab AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(
         |      regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+'))) AS term
         |    FROM documents)
         |  GROUP BY term),
         |pfx AS (
         |  SELECT substring(term, 1, CAST(g.l AS INTEGER)) AS prefix,
         |    term, df
         |  FROM vocab, LATERAL unnest(
         |    generate_series(2, LEAST(4, length(term)))) AS g(l)
         |  WHERE length(term) >= 2),
         |ranked AS (
         |  SELECT prefix, term, df,
         |    row_number() OVER (PARTITION BY prefix
         |      ORDER BY df DESC, term) AS rnk
         |  FROM pfx)
         |SELECT prefix, CAST(rnk AS BIGINT) AS rank, term, df
         |FROM ranked WHERE rnk <= 3
         |ORDER BY prefix, rank""".stripMargin) +
    // s1's full BM25 scoring (no limit) + p5's recursive component
    // labels over d2's verified pairs + best-per-cluster collapse
    ("s12_collapsed_search" ->
      s"""WITH RECURSIVE $bm25ScoredCtesSql,
         |pairs AS (
         |  SELECT a_id, b_id FROM (
         |${Dedup.d2Sql}
         |  )),
         |cedges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL
         |  SELECT b_id, a_id FROM pairs),
         |cverts AS (SELECT DISTINCT src AS id FROM cedges),
         |reach(id, r) AS (
         |  SELECT id, id FROM cverts
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN cedges e ON e.src = reach.id),
         |comp AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id),
         |lab AS (
         |  SELECT s.doc_id, s.score, coalesce(c.lbl, s.doc_id) AS cluster_rep
         |  FROM scored s LEFT JOIN comp c ON c.id = s.doc_id),
         |best AS (
         |  SELECT doc_id, cluster_rep, score FROM (
         |    SELECT doc_id, cluster_rep, score,
         |      row_number() OVER (PARTITION BY cluster_rep
         |        ORDER BY score DESC, doc_id) AS r
         |    FROM lab) WHERE r = 1)
         |SELECT doc_id, cluster_rep, score FROM best
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin) +
    // s1's full scoring + a20's mutual-kNN component labels replayed
    // (vec_id ≡ doc_id) + the same best-per-cluster collapse
    ("s14_semantic_collapsed" ->
      s"""WITH RECURSIVE $bm25ScoredCtesSql,
         |${Knn.mutualCompCtesSql},
         |lab AS (
         |  SELECT s.doc_id, s.score, coalesce(c.cluster_rep, s.doc_id) AS cluster_rep
         |  FROM scored s LEFT JOIN comp c ON c.id = s.doc_id),
         |best AS (
         |  SELECT doc_id, cluster_rep, score FROM (
         |    SELECT doc_id, cluster_rep, score,
         |      row_number() OVER (PARTITION BY cluster_rep
         |        ORDER BY score DESC, doc_id) AS r
         |    FROM lab) WHERE r = 1)
         |SELECT doc_id, cluster_rep, score FROM best
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin) +
    // same delete-1 neighborhoods, same exact-Levenshtein verify,
    // same (dist, df desc, term) ranking
    ("s11_fuzzy_correct" ->
      s"""WITH vocab AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(
         |      regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+'))) AS term
         |    FROM documents)
         |  GROUP BY term),
         |vv AS (
         |  SELECT term, df, unnest(list_distinct(list_prepend(term,
         |    list_transform(generate_series(1, length(term)),
         |      i -> substring(term, 1, i-1)
         |        || substring(term, i+1, length(term)))))) AS v
         |  FROM vocab),
         |q AS (SELECT unnest([${FuzzyProbes.map(p => s"'$p'").mkString(", ")}]) AS q_term),
         |qv AS (
         |  SELECT q_term, unnest(list_distinct(list_prepend(q_term,
         |    list_transform(generate_series(1, length(q_term)),
         |      i -> substring(q_term, 1, i-1)
         |        || substring(q_term, i+1, length(q_term)))))) AS v
         |  FROM q),
         |cand AS (SELECT DISTINCT q_term, term, df FROM qv JOIN vv USING (v)),
         |ver AS (
         |  SELECT q_term, term, df,
         |    CAST(levenshtein(q_term, term) AS INTEGER) AS dist
         |  FROM cand WHERE levenshtein(q_term, term) <= 1),
         |ranked AS (
         |  SELECT q_term, term AS correction, dist, df,
         |    CAST(row_number() OVER (PARTITION BY q_term
         |      ORDER BY dist, df DESC, term) AS INTEGER) AS rnk
         |  FROM ver)
         |SELECT q_term, correction, dist, df, rnk FROM ranked
         |WHERE rnk <= 3
         |ORDER BY q_term, rnk""".stripMargin) +
    // same candidate starts (hit positions), same (n_terms, n_hits,
    // start) tie-break, same 1-based window slice
    ("s10_snippets" ->
      s"""WITH top AS (
         |${oraclesBase("s1_keyword_bm25")}
         |),
         |d AS (
         |  SELECT documents.doc_id, top.score,
         |    regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS tok
         |  FROM documents JOIN top ON documents.doc_id = top.doc_id),
         |hits AS (
         |  SELECT doc_id, g.i AS p, tok[g.i] AS term
         |  FROM d, LATERAL unnest(generate_series(1, len(tok))) AS g(i)
         |  WHERE tok[g.i] IN ('spark', 'join', 'filter')),
         |wins AS (
         |  SELECT a.doc_id, a.p,
         |    count(DISTINCT b.term) AS n_terms, count(*) AS n_hits
         |  FROM (SELECT DISTINCT doc_id, p FROM hits) a
         |  JOIN hits b ON b.doc_id = a.doc_id
         |    AND b.p >= a.p AND b.p < a.p + 10
         |  GROUP BY a.doc_id, a.p),
         |best AS (
         |  SELECT doc_id, p AS start_pos, n_terms FROM (
         |    SELECT doc_id, p, n_terms,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY n_terms DESC, n_hits DESC, p) AS rnk
         |    FROM wins) WHERE rnk = 1)
         |SELECT d.doc_id, d.score,
         |  CAST(best.start_pos AS BIGINT) AS start_pos,
         |  CAST(best.n_terms AS BIGINT) AS n_terms,
         |  array_to_string(tok[best.start_pos:best.start_pos + 9], ' ')
         |    AS snippet
         |FROM d JOIN best ON d.doc_id = best.doc_id
         |ORDER BY d.score DESC, d.doc_id""".stripMargin) +
    ("s9_prf_expansion" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms0 AS (SELECT unnest(['spark','join','filter']) AS term),
        |tf0 AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms0)
        |  GROUP BY doc_id, dl, token),
        |df0 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf0 GROUP BY term),
        |seed AS (
        |  SELECT doc_id FROM (
        |    SELECT tf0.doc_id,
        |      round(sum(
        |        ln(1.0 + (stats.n_docs - df0.df + 0.5) / (df0.df + 0.5))
        |        * (tf0.tf * (1.2 + 1.0))
        |        / (tf0.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf0.dl / stats.avgdl))), 6) AS score
        |    FROM tf0 JOIN df0 USING (term), stats
        |    GROUP BY tf0.doc_id)
        |  ORDER BY score DESC, doc_id
        |  LIMIT 10),
        |fbtf AS (
        |  SELECT token AS term, CAST(count(*) AS BIGINT) AS tf_fb
        |  FROM (SELECT unnest(tok) AS token FROM docs
        |        WHERE doc_id IN (SELECT doc_id FROM seed))
        |  WHERE token NOT IN ('spark', 'join', 'filter')
        |  GROUP BY token),
        |dfall AS (
        |  SELECT token AS term, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(tok)) AS token FROM docs)
        |  GROUP BY token),
        |exp AS (
        |  SELECT term FROM (
        |    SELECT fbtf.term, tf_fb * ln(n_docs / df) AS escore
        |    FROM fbtf JOIN dfall USING (term), stats)
        |  ORDER BY escore DESC, term
        |  LIMIT 3),
        |terms2 AS (
        |  SELECT term FROM terms0 UNION ALL SELECT term FROM exp),
        |tf2 AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms2)
        |  GROUP BY doc_id, dl, token),
        |df2 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf2 GROUP BY term)
        |SELECT doc_id, score FROM (
        |  SELECT tf2.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - df2.df + 0.5) / (df2.df + 0.5))
        |      * (tf2.tf * (1.2 + 1.0))
        |      / (tf2.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf2.dl / stats.avgdl))), 6) AS score
        |  FROM tf2 JOIN df2 USING (term), stats
        |  GROUP BY tf2.doc_id)
        |ORDER BY score DESC, doc_id
        |LIMIT 10""".stripMargin) +
    // seed-doc salience mining + BM25 replay, the s9 shape with the
    // feedback set = the seed document itself
    ("s16_more_like_this" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |seedtf AS (
        |  SELECT token AS term, CAST(count(*) AS BIGINT) AS tf_seed
        |  FROM (SELECT unnest(tok) AS token FROM docs WHERE doc_id = 0)
        |  GROUP BY token),
        |dfall AS (
        |  SELECT token AS term, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(tok)) AS token FROM docs)
        |  GROUP BY token),
        |mlt AS (
        |  SELECT term FROM (
        |    SELECT seedtf.term, tf_seed * ln(n_docs / df) AS escore
        |    FROM seedtf JOIN dfall USING (term), stats)
        |  ORDER BY escore DESC, term
        |  LIMIT 5),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM mlt)
        |  GROUP BY doc_id, dl, token),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        |SELECT doc_id, score FROM (
        |  SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |  FROM tf JOIN dfq USING (term), stats
        |  GROUP BY tf.doc_id)
        |WHERE doc_id <> 0
        |ORDER BY score DESC, doc_id
        |LIMIT 10""".stripMargin) +
    ("s8_search_eval" ->
      s"""WITH $s8RelSql,
         |m_bm25 AS ${s8RankedSql(oraclesBase("s1_keyword_bm25"), "score")},
         |m_fielded AS ${s8RankedSql(s13Sql, "score")},
         |m_hybrid AS ${s8RankedSql(oraclesBase("s3_hybrid_search"), "hybrid_score")},
         |m_rrf AS ${s8RankedSql(oraclesBase("s6_rrf_fusion"), "rrf_score")},
         |m_reranked AS (
         |  SELECT doc_id, final_rank AS rnk FROM (
         |$s4Sql
         |) WHERE final_rank <= 10),
         |dcg AS (
         |  SELECT 'bm25' AS method, sum(coalesce(rel, 0.0) / log2(rnk + 1)) AS dcg
         |  FROM m_bm25 LEFT JOIN rel USING (doc_id)
         |  UNION ALL
         |  SELECT 'fielded', sum(coalesce(rel, 0.0) / log2(rnk + 1))
         |  FROM m_fielded LEFT JOIN rel USING (doc_id)
         |  UNION ALL
         |  SELECT 'hybrid', sum(coalesce(rel, 0.0) / log2(rnk + 1))
         |  FROM m_hybrid LEFT JOIN rel USING (doc_id)
         |  UNION ALL
         |  SELECT 'reranked', sum(coalesce(rel, 0.0) / log2(rnk + 1))
         |  FROM m_reranked LEFT JOIN rel USING (doc_id)
         |  UNION ALL
         |  SELECT 'rrf', sum(coalesce(rel, 0.0) / log2(rnk + 1))
         |  FROM m_rrf LEFT JOIN rel USING (doc_id)
         |  UNION ALL
         |  SELECT 'vector_exact', sum(rel / log2(rnk + 1))
         |  FROM ideal JOIN rel USING (doc_id)),
         |idcg AS (
         |  SELECT sum(rel / log2(rnk + 1)) AS idcg
         |  FROM ideal JOIN rel USING (doc_id))
         |SELECT method, round(dcg, 4) AS dcg_at_10,
         |  round(dcg / idcg, 4) AS ndcg_at_10
         |FROM dcg, idcg
         |ORDER BY method""".stripMargin) +
    ("s4_rerank" -> s4Sql)

  /** s4's full replay (s3 candidates + overlap rerank + composite
    * final order). A val so s8's eval panel can rank the same string
    * it hash-checks — the same sharing discipline as s13Sql. */
  private lazy val s4Sql: String =
    s"""WITH s3res AS (
       |$s3Sql
       |),
       |toks AS (
       |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS dtok
       |  FROM documents),
       |rr AS (
       |  SELECT s3res.doc_id, s3res.hybrid_score,
       |    round(CAST(len(list_intersect(dtok, ['spark','join','filter'])) AS DOUBLE)
       |        / len(list_distinct(list_concat(dtok, ['spark','join','filter']))), 6) AS rerank_score
       |  FROM s3res JOIN toks ON s3res.doc_id = toks.doc_id)
       |SELECT doc_id, rerank_score, hybrid_score,
       |  CAST(row_number() OVER (ORDER BY rerank_score DESC, hybrid_score DESC, doc_id) AS BIGINT) AS final_rank
       |FROM rr
       |ORDER BY final_rank""".stripMargin

  /** Shared oracle CTE chain (starts after WITH [RECURSIVE]): s1's
    * full BM25 scoring with no limit, ending in scored(doc_id,
    * score) — the common prefix of the s12 and s14 collapse replays.
    * Concat-free lines; safe to re-interpolate into stripMargin. */
  private lazy val bm25ScoredCtesSql: String =
    s"""docs AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS tok,
       |         CAST(len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
       |terms AS (SELECT unnest(['spark','join','filter']) AS term),
       |tf AS (
       |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
       |  WHERE token IN (SELECT term FROM terms)
       |  GROUP BY doc_id, dl, token),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    round(sum(
       |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
       |      * (tf.tf * (1.2 + 1.0))
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
       |  FROM tf JOIN df USING (term), stats
       |  GROUP BY tf.doc_id)""".stripMargin

  private lazy val oraclesBase: Map[String, String] = Map(
    // same adjacency chain from the token arrays, same full-corpus
    // BM25 restricted to the phrase survivors — three terms, so the
    // oracle replays the n-term chain, not just one adjacency
    "s7_phrase_search" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |phrase AS (
        |  SELECT doc_id FROM docs
        |  WHERE len(tok) >= 3 AND len(list_filter(
        |    generate_series(1, len(tok) - 2),
        |    i -> tok[i] = 'hash' AND tok[i + 1] = 'join'
        |      AND tok[i + 2] = 'key')) > 0),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms AS (SELECT unnest(['hash', 'join', 'key']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        |SELECT doc_id, score FROM (
        |  SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |  FROM tf JOIN df USING (term), stats
        |  WHERE tf.doc_id IN (SELECT doc_id FROM phrase)
        |  GROUP BY tf.doc_id)
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,
    "s1_keyword_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms AS (SELECT unnest(['spark','join','filter']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        |SELECT doc_id, score FROM (
        |  SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |  FROM tf JOIN df USING (term), stats
        |  GROUP BY tf.doc_id)
        |ORDER BY score DESC, doc_id
        |LIMIT 10""".stripMargin,
    "s3_hybrid_search" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms AS (SELECT unnest(['spark','join','filter']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |kw AS (
        |  SELECT doc_id, score AS kw_score FROM (
        |    SELECT tf.doc_id,
        |      round(sum(
        |        ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |    FROM tf JOIN df USING (term), stats
        |    GROUP BY tf.doc_id)
        |  ORDER BY score DESC, doc_id
        |  LIMIT 50),
        |pb AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
        |      list_transform(tok, t ->
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(generate_series(1, length(t)),
        |            i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |          (a, c) -> (a*31 + c) % 1000000007)),
        |      x -> x % 64 = b)) AS DOUBLE)) AS v
        |  FROM docs WHERE len(tok) > 0),
        |qv AS (
        |  SELECT list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
        |    list_transform(['spark','join','filter'], t ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(1, length(t)),
        |          i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |        (a, c) -> (a*31 + c) % 1000000007)),
        |    x -> x % 64 = b)) AS DOUBLE)) AS v),
        |vec AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, len(pb.v)), i -> pb.v[i]*qv.v[i])), (s,x) -> s+x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(pb.v, x -> x*x)), (s,x) -> s+x))
        |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(qv.v, x -> x*x)), (s,x) -> s+x))) AS v_score
        |  FROM pb, qv
        |  ORDER BY v_score DESC, doc_id
        |  LIMIT 50),
        |cand AS (
        |  SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id, kw_score, v_score
        |  FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id),
        |bounds AS (
        |  SELECT min(kw_score) AS kmin, max(kw_score) AS kmax,
        |         min(v_score) AS vmin, max(v_score) AS vmax
        |  FROM cand)
        |SELECT doc_id,
        |  round(0.5 * CASE WHEN v_score IS NULL THEN 0.0
        |              WHEN vmax = vmin THEN 0.5
        |              ELSE (v_score - vmin) / (vmax - vmin) END
        |      + 0.5 * CASE WHEN kw_score IS NULL THEN 0.0
        |              WHEN kmax = kmin THEN 0.5
        |              ELSE (kw_score - kmin) / (kmax - kmin) END, 6) AS hybrid_score
        |FROM cand, bounds
        |ORDER BY hybrid_score DESC, doc_id
        |LIMIT 10""".stripMargin,
    "s6_rrf_fusion" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS tok,
        |         CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM docs),
        |terms AS (SELECT unnest(['spark','join','filter']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, token AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tok) AS token FROM docs)
        |  WHERE token IN (SELECT term FROM terms)
        |  GROUP BY doc_id, dl, token),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |kw AS (
        |  SELECT doc_id, kw_rank FROM (
        |    SELECT doc_id,
        |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rank
        |    FROM (
        |      SELECT tf.doc_id,
        |        round(sum(
        |          ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |          * (tf.tf * (1.2 + 1.0))
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6) AS score
        |      FROM tf JOIN df USING (term), stats
        |      GROUP BY tf.doc_id))
        |  WHERE kw_rank <= 50),
        |pb AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
        |      list_transform(tok, t ->
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(generate_series(1, length(t)),
        |            i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |          (a, c) -> (a*31 + c) % 1000000007)),
        |      x -> x % 64 = b)) AS DOUBLE)) AS v
        |  FROM docs WHERE len(tok) > 0),
        |qv AS (
        |  SELECT list_transform(generate_series(0, 63), b -> CAST(len(list_filter(
        |    list_transform(['spark','join','filter'], t ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(1, length(t)),
        |          i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |        (a, c) -> (a*31 + c) % 1000000007)),
        |    x -> x % 64 = b)) AS DOUBLE)) AS v),
        |vec AS (
        |  SELECT doc_id, v_rank FROM (
        |    SELECT doc_id,
        |      CAST(row_number() OVER (ORDER BY v_score DESC, doc_id) AS BIGINT) AS v_rank
        |    FROM (
        |      SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(pb.v)), i -> pb.v[i]*qv.v[i])), (s,x) -> s+x)
        |        / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |             list_transform(pb.v, x -> x*x)), (s,x) -> s+x))
        |         * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |             list_transform(qv.v, x -> x*x)), (s,x) -> s+x))) AS v_score
        |      FROM pb, qv))
        |  WHERE v_rank <= 50)
        |SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
        |  round(CASE WHEN v_rank IS NULL THEN 0.0 ELSE 0.5 / (60.0 + v_rank) END
        |      + CASE WHEN kw_rank IS NULL THEN 0.0 ELSE 0.5 / (60.0 + kw_rank) END, 6) AS rrf_score
        |FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
        |ORDER BY rrf_score DESC, doc_id
        |LIMIT 10""".stripMargin,
    "s5_filtered_search" ->
      """SELECT doc_id, source, tf_spark FROM (
        |  SELECT doc_id, source,
        |   len(list_filter(regexp_extract_all(lower(text), '[\p{L}\p{N}]+'), t -> t = 'spark')) AS tf_spark
        |  FROM documents
        |  WHERE lang = 'en')
        |WHERE tf_spark > 0
        |ORDER BY tf_spark DESC, doc_id
        |LIMIT 20""".stripMargin)
}
