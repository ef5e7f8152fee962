package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChunkQueries, Chunker, Dedup, HybridSearch, Knn}

/** Public library facade — the Spark-native equivalent of qurio's
  * service surface, so a reference user can run every operation they
  * run today as batch DataFrame jobs:
  *
  *  - retrieval.Service.Search (embed -> hybrid(alpha, limit,
  *    filters) -> rerank)        -> [[search]]
  *  - Store.GetChunksByURL       -> [[chunksByUrl]]
  *  - Store.CountChunks(+BySource)/stats handler -> [[stats]]
  *  - Store.DeleteChunksBySourceID -> [[deleteBySource]]
  *  - ingestion (chunk + embed)  -> [[chunkDocuments]] / [[embedChunks]]
  *  - plus the training-data ops the reference lacks: [[dedupExact]],
  *    [[dedupNearMinHash]], [[knn]].
  *
  * The corpus is any DataFrame with (doc_id bigint, text string) and
  * optional metadata columns; all operators are declarative plans, so
  * Catalyst pushdown/broadcast/AQE apply unchanged on a real cluster.
  */
object GraftEngine {
  /** The settings-service defaults (settings/service.go: search_alpha
    * 0.5, search_top_k 10) — per-call opts override, like
    * retrieval.Service.Search's resolve step. The provider names
    * complete the reference settings row (migration 000002
    * rerank_provider, 000004 gemini/embedder choice): the store
    * persists WHICH provider serves each adapter seam
    * ("overlap"/"hash" are the in-plan defaults, a real client name
    * swaps in via ModelAdapters) — API keys stay in the secret
    * manager, never in an analytics store. */
  final case class Settings(searchAlpha: Double = 0.5,
                            searchTopK: Int = 10,
                            rerankProvider: String = "overlap",
                            embedProvider: String = "hash")
}

final class GraftEngine(spark: SparkSession, corpus: DataFrame,
                        settings: GraftEngine.Settings = GraftEngine.Settings()) {
  import spark.implicits._

  graft.plans.GraftFunctions.ensureRegistered(spark)
  graft.plans.GraftPlanner.ensureInjected(spark)

  require(Seq("doc_id", "text").forall(corpus.columns.contains),
    s"GraftEngine corpus needs (doc_id, text) columns; got [${corpus.columns.mkString(", ")}]")

  private val dims = 64

  /** Tokenized view used by the keyword leg — the Weaviate
    * `word`-class tokenization (lowercase alphanumeric runs,
    * HybridSearch.WordTokenPattern), the SAME tokenizer the
    * documents-table queries and the persisted index use, so a
    * query scores identically through the facade, the scan queries,
    * and the store-served paths ("spark," matches "spark"). */
  private def tokenized: DataFrame =
    corpus.select(col("*"),
        regexp_extract_all(lower($"text"),
          lit(operators.HybridSearch.WordTokenPattern), lit(0)).as("tok"))
      .withColumn("dl", size($"tok").cast("double"))

  /** Query tokenization — the SAME word-class pattern as [[tokenized]]
    * (maximal \p{L}\p{N} runs of the lowered query), never a
    * whitespace split: a query term carrying punctuation ("spark,")
    * must match the identically-tokenized document token. */
  private def queryTermsOf(query: String): Seq[String] =
    operators.HybridSearch.WordTokenPattern.r
      .findAllIn(query.toLowerCase).toSeq

  /** Structural chunking (markdown-aware; see operators.Chunker). */
  def chunkDocuments(maxTokens: Int = 256, overlap: Int = 0): DataFrame = {
    import ChunkQueries.DocChunk
    corpus.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        Chunker.chunkMarkdown(text, maxTokens, overlap).zipWithIndex.map {
          case (c, i) => DocChunk(id, i, c.content, c.chunkType, c.language)
        }
      }
      .toDF()
  }

  /** Deterministic hashed-BoW embeddings (stub for the external
    * embedder; same shape/normalization as a real one). */
  def embedChunks(): DataFrame = {
    // explode + ordered-frame window, not transform-lambda norms:
    // CollapseProject would inline the norm (and poly_bow) into a
    // per-element lambda, re-hashing every token `dims` times
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tokenized
      .filter(size($"tok") > 0)
      .select($"doc_id", posexplode(expr(s"poly_bow(tok, $dims)")))
      .withColumn("nrm", sqrt(sum($"col" * $"col").over(w)))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"pos", ($"col" / $"nrm").as("val")))).as("pv"))
      .select($"doc_id", transform($"pv", p => p("val")).as("embedding"))
  }

  /** Hybrid search: BM25 keyword leg + hashed-BoW vector leg with
    * ANDed metadata equality filters — the Search(ctx, query, opts)
    * shape. `fusion` selects between Weaviate's two fusion
    * algorithms: "relative" (relativeScoreFusion, min-max-normalized
    * scores — the Weaviate ≥1.24 default) and "ranked" (rankedFusion
    * = reciprocal-rank fusion, Σ w/(60+rank)) — the server-side
    * setting a qurio deployment can flip without touching clients. */
  def search(query: String, alpha: Double = settings.searchAlpha,
             limit: Int = settings.searchTopK,
             filters: Map[String, String] = Map.empty,
             fusion: String = "relative"): DataFrame = {
    require(fusion == "relative" || fusion == "ranked",
      s"fusion must be 'relative' or 'ranked', got '$fusion'")
    val terms = queryTermsOf(query)
    val filtered = filters.foldLeft(tokenized) { case (df, (k, v)) =>
      df.filter(col(k) === v)
    }
    // raw poly-BoW (matches hybrid()'s query vector hash) — cosine_sim
    // normalizes both sides, so explicit L2 scaling would be wasted work
    val emb = filtered
      .filter(size($"tok") > 0)
      .select($"doc_id", expr(s"poly_bow(tok, $dims)").as("embedding"))
    if (fusion == "ranked")
      HybridSearch.rrf(spark, filtered, emb, terms, alpha, limit)
    else
      HybridSearch.hybrid(spark, filtered, emb, terms, alpha, limit)
  }

  /** PRF-expanded keyword search (s9): the query's top feedback docs
    * mine expansion terms (tf × corpus idf, deterministic
    * tie-breaks), and BM25 re-ranks with the widened term set — the
    * recall lever a deployment pulls when the raw query is too
    * sparse. `nExpand = 0` degrades to plain BM25. */
  def searchExpanded(query: String, nExpand: Int = 3,
                     limit: Int = settings.searchTopK): DataFrame = {
    val terms = queryTermsOf(query)
    require(terms.nonEmpty, "searchExpanded needs at least one query term")
    val exp = HybridSearch.prfExpand(spark, tokenized, terms, nExpand, fb = 10)
    HybridSearch.bm25Scores(spark, tokenized, terms ++ exp)
      .orderBy(col("score").desc, col("doc_id")).limit(limit)
      .select(col("doc_id"), col("score"))
  }

  /** More-like-this serving (s16 — Lucene MLT / the keyword leg of
    * weaviate's nearObject): query by DOCUMENT ID instead of text —
    * the seed's top-`nTerms` salient terms (tf × corpus idf) become
    * the BM25 query; the seed itself is excluded from the results. */
  def searchMoreLikeThis(docId: Long, nTerms: Int = 5,
                         limit: Int = settings.searchTopK): DataFrame = {
    val terms = HybridSearch.mltTerms(spark, tokenized, docId, nTerms)
    require(terms.nonEmpty, s"document $docId has no minable terms")
    HybridSearch.bm25Scores(spark, tokenized, terms)
      .filter(col("doc_id") =!= docId)
      .orderBy(col("score").desc, col("doc_id")).limit(limit)
      .select(col("doc_id"), col("score"))
  }

  /** Exact-phrase search (s7): the terms must appear ADJACENT in
    * order — any phrase length, not just two words; survivors
    * ranked by corpus-wide BM25 over the phrase's distinct terms. */
  def searchPhrase(terms: Seq[String],
                   limit: Int = settings.searchTopK): DataFrame = {
    require(terms.nonEmpty, "searchPhrase needs at least one term")
    graft.operators.HybridSearch.phraseSearchOf(
      tokenized, terms.map(_.toLowerCase), limit)
  }


  /** Build the PERSISTED text-serving index for this corpus at
    * `path` (sources.TextIndex — the analog of the reference's
    * persisted Weaviate index, store.go:105); the *FromIndex /
    * proximity modes serve from it without touching the corpus
    * again, and [[appendToSearchIndex]] keeps it current. */
  def buildSearchIndex(path: String): Unit =
    // the WHOLE corpus row persists: text as stored fields, every
    // other column as `docs/` metadata — what searchFromIndex's
    // filters and the store-served chunk reads evaluate on
    graft.sources.TextIndex.write(corpus, path)

  /** Incremental maintenance: append NEW documents into a built
    * index (s18's exact merge — serve-after-append is bit-equal to
    * a rebuild). Re-ingesting an existing doc_id needs the delete
    * first, like every append index here. */
  def appendToSearchIndex(path: String, newDocs: DataFrame): Unit =
    // full rows ride through; a batch carrying NEW metadata columns
    // WIDENS the index schema (EnsureSchema's AddProperty,
    // vector/schema.go) — older rows read the new columns as NULL
    graft.sources.TextIndex.append(newDocs, path)

  /** Search served FROM the persisted index — the query-latency
    * mode. Defaults resolve from [[GraftEngine.Settings]] exactly
    * like [[search]]'s (retrieval/service.go:72-90 resolves
    * SearchAlpha 0.5 / SearchTopK from the settings service), so the
    * default store-served call is the reference's ACTUAL serving
    * call: hybrid-with-alpha against the persisted index
    * (retrieval/service.go:23-47, store.go:105). alpha = 0 opts down
    * to the pure BM25 store path (s17); alpha > 0 fuses the
    * persisted BM25 leg with the persisted vector leg under the scan
    * path's own fusion expression (`fusion` = "relative" | "ranked",
    * s21/s24); a keyword-only index degrades to the BM25 leg. All
    * reads are bucket/cell-pruned; no corpus scan. A hybrid ranking
    * (alpha > 0, filtered or not) runs its legs when this is called,
    * in one action fused on the driver, and returns its ≤`limit`
    * rows as a frame that collects with no job; the alpha = 0 BM25
    * top-k stays a lazy plan. */
  def searchFromIndex(path: String, query: String,
                      alpha: Double = settings.searchAlpha,
                      limit: Int = settings.searchTopK,
                      fusion: String = "relative",
                      filters: Map[String, String] = Map.empty): DataFrame = {
    val terms = queryTermsOf(query)
    require(terms.nonEmpty, "searchFromIndex needs at least one query term")
    if (filters.nonEmpty)
      // the scan path's filter-first semantics ([[search]]) from the
      // store: both legs and the BM25 stats restrict to the filtered
      // corpus BEFORE ranking, alpha = 0 included (the fusion with a
      // zero vector weight, exactly like search(alpha = 0, filters))
      graft.sources.TextIndex.filteredHybridServe(spark, path, terms,
        filters, alpha, limit, fusion)
    else
      rankFromIndex(path, graft.sources.TextIndex.commitOf(spark, path),
        terms, alpha, limit, fusion)
  }

  /** The unfiltered store ranking at commit `c`: hybrid-with-alpha,
    * or the pure BM25 top-k at alpha = 0. */
  private def rankFromIndex(path: String,
                            c: graft.sources.TextIndex.Commit,
                            terms: Seq[String], alpha: Double, limit: Int,
                            fusion: String): DataFrame =
    if (alpha > 0.0)
      graft.sources.TextIndex.hybridServe(spark, path, c, terms, alpha,
        limit, fusion, graft.sources.TextIndex.Candidates, Int.MaxValue)
    else
      graft.sources.TextIndex.bm25Serve(spark, path, c, terms)
        .orderBy(col("score").desc, col("doc_id")).limit(limit)
        .select(col("doc_id"), col("score"))

  /** Search + deterministic rerank served FROM the persisted index —
    * [[searchReranked]]'s store twin (retrieval/service.go:112-130:
    * the service reranks whatever the store returned): persisted
    * hybrid candidates, hit content from the stored fields, the
    * SHARED rerank expression — bit-equal to the scan path, zero
    * corpus access. */
  def searchRerankedFromIndex(path: String, query: String,
                              alpha: Double = settings.searchAlpha,
                              limit: Int = settings.searchTopK): DataFrame = {
    val terms = queryTermsOf(query)
    require(terms.nonEmpty,
      "searchRerankedFromIndex needs at least one query term")
    graft.sources.TextIndex.rerankServe(spark, path, terms, alpha, limit)
  }

  /** Serve one search FROM the persisted index to completion — the
    * store-served twin of [[runSearch]]: rank (hybrid with alpha by
    * default, BM25 at alpha = 0; `rerank = true` adds the
    * reference's rerank stage over the hits' stored-fields content,
    * service.go:112-130), render content + snippet per hit from the
    * index's STORED FIELDS (zero corpus access at query time), log
    * to the session query log, return the rows in ranked order.
    *
    * The commit resolves ONCE: ranking, content and render all read
    * that snapshot, so a commit landing mid-request cannot mix two
    * index states into one response. The ≤k ranked rows are
    * collected ONCE (the request/response boundary); the render's
    * ids and its join both come from those rows, so the ranking
    * never runs twice, and the render leaves no cache handle. */
  def runSearchFromIndex(path: String, query: String,
                         alpha: Double = settings.searchAlpha,
                         limit: Int = settings.searchTopK,
                         rerank: Boolean = false,
                         correlationId: String = ""): Seq[org.apache.spark.sql.Row] = {
    import graft.sources.TextIndex
    val t0 = System.nanoTime()
    val terms = queryTermsOf(query)
    require(terms.nonEmpty,
      "runSearchFromIndex needs at least one query term")
    val c = TextIndex.commitOf(spark, path)
    // rerank applies at EVERY alpha — the reference service reranks
    // whatever the store returned (service.go:112-130), BM25-only
    // results included; at alpha = 0 the hybrid candidates degrade
    // to the keyword leg and the rerank stage still reorders them
    val ranked =
      if (rerank)
        TextIndex.rerankServe(spark, path, c, terms, alpha, limit,
          "relative", TextIndex.Candidates, Int.MaxValue)
      else rankFromIndex(path, c, terms, alpha, limit, "relative")
    val hits = ranked.collect().toSeq
    val rows = inHitOrder(hits, TextIndex
      .renderHits(spark, path, c, hits, ranked.schema, terms, 10)
      .collect().toSeq)
    queryLog.log(QueryLog.entry(query, rows.length,
      System.nanoTime() - t0, correlationId))
    rows
  }

  /** Rendered rows in the order of the collected hits they came from
    * — the ranking's own order, kept on the driver instead of a
    * second distributed sort of ≤k rows. */
  private def inHitOrder(hits: Seq[org.apache.spark.sql.Row],
                         rendered: Seq[org.apache.spark.sql.Row])
      : Seq[org.apache.spark.sql.Row] = {
    val at = hits.map(_.getAs[Long]("doc_id")).zipWithIndex.toMap
    rendered.sortBy(r => at(r.getAs[Long]("doc_id")))
  }

  /** Serve a whole QUERY BATCH from the persisted index — the
    * throughput tier over TextIndex.bm25ServeBatch/hybridServeBatch
    * (one job, one pruned postings read, one vectors pass for every
    * query in the batch; [[runSearchFromIndex]] is the latency
    * shape), with [[runSearch]]'s query-log integration: one entry
    * per query with its own hit count, the shared wall time, and the
    * batch correlation id. Returns the ranked rows ordered
    * (qid, rnk); each qid block is bit-equal to the per-query call
    * (TextIndexSpec pins the underlying equality). */
  def runSearchBatchFromIndex(path: String, queries: Seq[(Long, String)],
                              alpha: Double = settings.searchAlpha,
                              limit: Int = settings.searchTopK,
                              fusion: String = "relative",
                              correlationId: String = ""): Seq[org.apache.spark.sql.Row] = {
    require(queries.nonEmpty, "runSearchBatchFromIndex needs queries")
    val t0 = System.nanoTime()
    val terms = queries.map { case (qid, q) => (qid, queryTermsOf(q)) }
    terms.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"query $qid has no terms") }
    val ranked =
      if (alpha > 0.0)
        graft.sources.TextIndex.hybridServeBatch(spark, path, terms,
          alpha, limit, fusion)
      else
        graft.sources.TextIndex.bm25ServeBatch(spark, path, terms,
          k = limit)
    val rows = ranked.orderBy(col("qid"), col("rnk")).collect().toSeq
    val dt = System.nanoTime() - t0
    val counts = rows.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    queries.foreach { case (qid, q) =>
      queryLog.log(QueryLog.entry(q, counts.getOrElse(qid, 0), dt,
        correlationId))
    }
    rows
  }

  /** UPSERT documents into the persisted index — delete + append in
    * ONE commit (s22's path): re-arriving doc_ids replace their old
    * copies exactly; serve-after-upsert is bit-equal to a rebuild. */
  def upsertIntoSearchIndex(path: String, docs: DataFrame): Unit =
    graft.sources.TextIndex.upsert(docs, path)

  /** DELETE documents from the persisted index (the store's
    * DeleteChunks* analog): tombstoned in one commit, statistics
    * subtracted exactly. */
  def deleteFromSearchIndex(path: String, ids: DataFrame): Unit =
    graft.sources.TextIndex.delete(ids.select("doc_id"), path)

  /** Index-side DELETE BY SOURCE — DeleteChunksBySourceID
    * (store.go:93) against the SERVING index: the source's doc_ids
    * resolve from the index's own `docs/` metadata side table (a
    * narrow pruned read, zero corpus access) and tombstone in one
    * commit. Where the same ids also live in ANN serving tiers,
    * pass them through [[idsBySourceFromIndex]] to the stores'
    * delete calls. Returns the number of documents deleted. */
  def deleteBySourceFromIndex(path: String, sourceId: String,
                              sourceCol: String = "source"): Long =
    graft.sources.TextIndex.deleteByMeta(spark, path,
      Map(sourceCol -> sourceId))

  /** Index-side DELETE BY URL — DeleteChunksByURL (store.go:73:
    * source AND url equality) against the serving index; same
    * metadata-addressed tombstone commit as
    * [[deleteBySourceFromIndex]]. Returns the deleted count. */
  def deleteByUrlFromIndex(path: String, sourceId: String, url: String,
                           sourceCol: String = "source",
                           urlCol: String = "url"): Long =
    graft.sources.TextIndex.deleteByMeta(spark, path,
      Map(sourceCol -> sourceId, urlCol -> url))

  /** The ids a metadata-addressed mutation resolves to, as a
    * (vec_id) frame — the bridge from the text index's metadata to
    * the ANN serving tiers, whose stores are keyed by id alone:
    * `deleteFromIvfIndex(spark, ivfPath, idsBySourceFromIndex(...))`
    * removes the same source from the vector side in its own
    * commit. */
  def idsBySourceFromIndex(path: String, sourceId: String,
                           sourceCol: String = "source"): DataFrame =
    graft.sources.TextIndex.idsByMeta(spark, path,
        Map(sourceCol -> sourceId))
      .select(col("doc_id").as("vec_id"))

  /** Run c18 change detection against the index's own idea of the
    * corpus and apply the result: `changed` + `new` pages upsert,
    * `deleted` pages tombstone — the result_consumer.go:196-198 CDC
    * loop closed against the persisted index in ONE commit
    * (TextIndex.sync), so no crash window exists where the upserts
    * are visible but the deletes are not. */
  def syncSearchIndex(path: String, fresh: DataFrame,
                      stored: DataFrame): Unit = {
    val classes = detectChanges(fresh, stored)
    val toUpsert = corpus.join(
      classes.filter($"needs_processing")
        .select($"page_key".cast("long").as("doc_id")), "doc_id")
    val toDelete = classes.filter($"change" === "deleted")
      .select($"page_key".cast("long").as("doc_id"))
    if (!(toUpsert.isEmpty && toDelete.isEmpty))
      graft.sources.TextIndex.sync(toUpsert, toDelete, path)
  }

  /** SOURCE RESYNC — source/source.go:257 ReSync (surfaced at
    * handler.go:204): "this source went stale, redo it" as ONE
    * composed call. Steps: (1) the source's stale doc_ids resolve
    * from the serving index's own `docs/` metadata BEFORE any
    * mutation (zero corpus access); (2) the chunk store drops the
    * source's partition (metadata-only) and re-ingests the fresh
    * pages (chunk + embed, IngestStream.reingest); (3) the serving
    * index applies the whole change as ONE sync commit — stale ids
    * tombstone, fresh rows land — so a page that DISAPPEARED from
    * the source deletes, a changed page replaces, and a new page
    * appends, with no window where half the source is visible. The
    * two stores commit independently (each atomically); a crash
    * between them leaves both serving a committed state and a
    * resync re-run converges — the CDC replay idempotence contract.
    * Returns the number of stale documents purged from the index. */
  def resyncSource(indexPath: String, storePath: String,
                   sourceId: String, freshPages: DataFrame,
                   sourceCol: String = "source",
                   maxTokens: Int = 64): Long = {
    // materialized ONCE: the fresh pages are read by an emptiness
    // probe, the chunk+embed re-ingest, and the index sync — for a
    // crawl-backed frame that would be three full source scans (the
    // embed pass the expensive one) plus this probe
    val fresh = freshPages.filter(col(sourceCol) === sourceId)
      .localCheckpoint(true)
    val hasFresh = !fresh.isEmpty
    val stale = graft.sources.TextIndex.idsByMeta(spark, indexPath,
      Map(sourceCol -> sourceId))
    val nStale = stale.count()
    // the chunk-store chain (purge the source partition, then
    // re-ingest the fresh pages) and the index's one sync commit
    // touch different stores and read only the materialized
    // fresh/stale frames — the two commit chains overlap; each store
    // still commits atomically, so the crash contract is unchanged.
    graft.Par.run(Seq(
      () => {
        graft.sources.ChunkStore.deleteSourcePartition(spark,
          s"$storePath/chunks", sourceCol, sourceId): Unit
        if (hasFresh)
          graft.streaming.IngestStream.reingest(fresh, storePath,
            maxTokens): Unit
      },
      () =>
        if (nStale > 0 || hasFresh)
          graft.sources.TextIndex.sync(fresh, stale, indexPath)))
    nStale
  }

  /** Ordered-proximity search from the persisted index, chained
    * over any number of terms: each term within `slop` tokens AFTER
    * a surviving occurrence of the previous one (slop 1 = exact
    * phrase — s19's mechanics; wider slop = s20's). */
  def searchProximity(path: String, terms: Seq[String],
                      slop: Int = 1,
                      limit: Int = settings.searchTopK): DataFrame = {
    require(terms.nonEmpty, "searchProximity needs at least one term")
    graft.sources.TextIndex.proximityServe(spark, path,
      terms.map(_.toLowerCase), slop, limit)
  }


  /** Fuzzy-corrected search (s11 → BM25): each query term is replaced
    * by its best edit-distance-≤1 vocabulary correction (delete-1
    * neighborhood join + exact Levenshtein; ranked by corpus df) and
    * BM25 ranks with the corrected set. Terms with no near neighbor
    * drop — they could not have matched anyway. The correction list
    * is a ≤|terms| bounded collect (the s9 expansion-terms shape). */
  def searchFuzzy(query: String, limit: Int = settings.searchTopK): DataFrame = {
    val terms = queryTermsOf(query)
    require(terms.nonEmpty, "searchFuzzy needs at least one query term")
    val vocab = tokenized
      .select(explode(array_distinct($"tok")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val corrected = HybridSearch.fuzzyCorrections(vocab, terms, k = 1)
      .select($"correction").collect().map(_.getString(0)).toSeq.distinct
    if (corrected.isEmpty)
      spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    else
      HybridSearch.bm25Scores(spark, tokenized, corrected)
        .orderBy(col("score").desc, col("doc_id")).limit(limit)
        .select(col("doc_id"), col("score"))
  }

  /** Prefix completion serving (s15 over this corpus): the top-k
    * completions of `prefix` from the corpus vocabulary, ranked by
    * document frequency. Empty prefix → the full completion index
    * (the offline artifact a serving tier broadcasts). */
  def autocomplete(prefix: String = "", k: Int = 3): DataFrame = {
    val vocab = tokenized
      .select(explode(array_distinct($"tok")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val idx = HybridSearch.autocompleteOf(vocab,
      minPrefix = if (prefix.isEmpty) 2 else prefix.length,
      maxPrefix = if (prefix.isEmpty) 4 else prefix.length, k = k)
    if (prefix.isEmpty) idx
    else idx.filter(col("prefix") === prefix.toLowerCase)
  }

  /** Collapsed search serving (s12 over this corpus): BM25 ranking
    * with at most one hit per near-dup cluster — the LSH pair graph
    * and component labels are computed on THIS corpus, each cluster
    * keeps its best-scoring member, and top-k runs over survivors. */
  def searchCollapsed(query: String,
                      limit: Int = settings.searchTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = queryTermsOf(query)
    require(terms.nonEmpty, "searchCollapsed needs at least one query term")
    val scored = HybridSearch.bm25Scores(spark, tokenized, terms)
    val labels = operators.Pipeline.connectedComponentsAdaptive(
      operators.Dedup.minhashLshPairsOf(
        operators.Dedup.sigOf(corpus.select($"doc_id", $"text"))))
    val lab = scored.join(labels, scored("doc_id") === labels("id"), "left")
      .select($"doc_id", $"score", coalesce($"lbl", $"doc_id").as("cluster_rep"))
    val w = Window.partitionBy($"cluster_rep").orderBy($"score".desc, $"doc_id")
    lab.withColumn("r", row_number().over(w)).filter($"r" === 1)
      .select($"doc_id", $"cluster_rep", $"score")
      .orderBy($"score".desc, $"doc_id").limit(limit)
  }

  /** Semantic-collapsed search serving (s14 over this corpus): BM25
    * ranking with at most one hit per SEMANTIC cluster — cluster
    * labels are a20's mutual-kNN components over `embeddings`
    * ((vec_id, embedding array) aligned with doc_id; defaults to
    * this engine's hashed-BoW document embeddings), so paraphrases
    * collapse, not just near-dup mirrors. Collapse runs before the
    * limit, like [[searchCollapsed]]. */
  def searchSemanticCollapsed(query: String,
                              embeddings: DataFrame = null,
                              limit: Int = settings.searchTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = queryTermsOf(query)
    require(terms.nonEmpty,
      "searchSemanticCollapsed needs at least one query term")
    val emb = Option(embeddings).getOrElse(
      embedChunks().select($"doc_id".as("vec_id"), $"embedding"))
    val vecs = emb.select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val labels = Knn.mutualKnnLabelsOf(Knn.mutualEdgesOf(vecs), vecs)
    val scored = HybridSearch.bm25Scores(spark, tokenized, terms)
    val lab = scored.join(labels, scored("doc_id") === labels("vec_id"), "left")
      .select($"doc_id", $"score",
        coalesce($"cluster_rep", $"doc_id").as("cluster_rep"))
    val w = Window.partitionBy($"cluster_rep").orderBy($"score".desc, $"doc_id")
    lab.withColumn("r", row_number().over(w)).filter($"r" === 1)
      .select($"doc_id", $"cluster_rep", $"score")
      .orderBy($"score".desc, $"doc_id").limit(limit)
  }

  /** Fielded search serving (s13 over this corpus): BM25F ranking
    * where the document's first line plays the title role — a title
    * match outweighs the same match buried in the body by
    * wTitle/wBody, and the per-term field contributions saturate
    * once (no double-dipping). */
  def searchFielded(query: String, limit: Int = settings.searchTopK,
                    wTitle: Double = 2.0, wBody: Double = 1.0): DataFrame = {
    val terms = queryTermsOf(query)
    require(terms.nonEmpty, "searchFielded needs at least one query term")
    HybridSearch.fieldedBm25Of(
      HybridSearch.fieldedSplitOf(corpus.select($"doc_id", $"text")),
      terms, limit, wTitle, wBody)
  }

  /** Session query log — the reference wires a QueryLogger into
    * retrieval.Service and defers a Log after every successful
    * Search (service.go:62-70); [[runSearch]] is the materializing
    * call that feeds it here. Always on: the ring is bounded and an
    * entry is a few hundred bytes. */
  val queryLog = new QueryLog()

  /** Serve one search to completion: materialize the top-k (a
    * serving result is k small rows — collecting them IS the
    * request/response boundary, not a driver-side compute loop), log
    * (query, num_results, duration, correlation_id) like the
    * reference's deferred QueryLogger call, return the rows. A
    * failed search logs nothing — same as the reference's err==nil
    * gate.
    *
    * Every hit carries renderable text — the reference's
    * SearchResult.Content contract (retrieval/service.go:11,114-120:
    * hits return chunk Content to the client and the reranker) — as
    * two columns past (doc_id, hybrid_score): `content` (the full
    * document text) and `snippet` (the best `window`-token span of
    * query-term coverage, s10's operator made corpus-generic; a
    * vector-only hit with no term occurrence falls back to the
    * document head). Snippet cost is O(k): only the top-k docs are
    * re-tokenized: the ranked rows are collected once and their
    * docs read by an id filter (HybridSearch.snippetsOfHits). */
  def runSearch(query: String, alpha: Double = settings.searchAlpha,
                limit: Int = settings.searchTopK,
                filters: Map[String, String] = Map.empty,
                correlationId: String = ""): Seq[org.apache.spark.sql.Row] = {
    val t0 = System.nanoTime()
    val terms = queryTermsOf(query)
    val ranked = search(query, alpha, limit, filters)
    // ranked ONCE, like the store path: the render reads the
    // collected ≤k rows, not the lazy ranking plan
    val hits = ranked.collect().toSeq
    val rows = inHitOrder(hits, HybridSearch
      .snippetsOfHits(corpus, hits, ranked.schema, terms)
      .collect().toSeq)
    queryLog.log(QueryLog.entry(query, rows.length,
      System.nanoTime() - t0, correlationId))
    rows
  }

  /** Search + deterministic rerank (the reranker-configured path). */
  def searchReranked(query: String, alpha: Double = settings.searchAlpha,
                     limit: Int = settings.searchTopK): DataFrame = {
    val terms = queryTermsOf(query)
    search(query, alpha, limit)
      .join(tokenized.select($"doc_id", $"tok"), "doc_id")
      .select($"doc_id", $"hybrid_score",
        HybridSearch.rerankScore($"tok", terms).as("rerank_score"))
      .orderBy($"rerank_score".desc, $"hybrid_score".desc, $"doc_id")
  }

  /** All rows of one page/url, in chunk order (GetChunksByURL). */
  def chunksByUrl(urlCol: String, url: String, orderCol: String = "doc_id"): DataFrame =
    corpus.filter(col(urlCol) === url).orderBy(col(orderCol))

  /** One keyset page of a source's chunks (GetChunks(sourceID,
    * limit, offset), store.go:238) — cursor-style over the in-memory
    * corpus view; [[graft.sources.ChunkStore.pageChunks]] is the
    * partition-pruned persisted-store form. Rows strictly after
    * `after`'s (index, id) in (indexCol, idCol) order; top-n plan,
    * no global sort. */
  def pageBySource(sourceCol: String, source: String,
                   after: Option[(Int, Long)], limit: Int,
                   indexCol: String = "chunkIndex",
                   idCol: String = "doc_id"): DataFrame = {
    val scoped = corpus.filter(col(sourceCol) === source)
    val page = after match {
      case Some((ci, id)) => scoped.filter(
        col(indexCol) > lit(ci) ||
          (col(indexCol) === lit(ci) && col(idCol) > lit(id)))
      case None => scoped
    }
    page.orderBy(col(indexCol), col(idCol)).limit(limit)
  }

  /** [[chunksByUrl]] served FROM the persisted index — the store
    * read GetChunksByURL actually is (store.go:311-335): metadata
    * equality on the `docs/` side table, text from the stored
    * fields, zero corpus access. The index must have been built from
    * a corpus carrying `urlCol` as metadata. */
  def chunksByUrlFromIndex(path: String, urlCol: String, url: String,
                           orderCol: String = "doc_id"): DataFrame =
    graft.sources.TextIndex.chunksServe(spark, path, Map(urlCol -> url))
      .orderBy(col(orderCol))

  /** [[pageBySource]] served FROM the persisted index — keyset
    * paging in doc_id order with the top-n cut on the narrow
    * metadata scan (GetChunks, store.go:238-270). */
  def pageBySourceFromIndex(path: String, sourceCol: String,
                            source: String, after: Option[Long],
                            limit: Int): DataFrame =
    graft.sources.TextIndex.pageChunksServe(spark, path,
      Map(sourceCol -> source), after, limit)

  /** [[countBySource]] served FROM the persisted index — a narrow
    * grouped count over `docs/` metadata, no content read
    * (CountChunksBySource, store.go:440). */
  def countBySourceFromIndex(path: String,
                             sourceCol: String = "source"): DataFrame =
    graft.sources.TextIndex.countChunksServe(spark, path, sourceCol)

  /** Approximate distinct count of any corpus column via the m=256
    * HyperLogLog sketch (q25's machinery) — ~6.5% standard error,
    * constant memory: the stats-endpoint answer that stays cheap when
    * the corpus is 100 TB (the shuffle carries 256 ints, and partial
    * sketches union across partitions losslessly). */
  def approxDistinct(column: String): Double =
    operators.EngineQueries.hllEstimateOf(
        operators.EngineQueries.hllRegistersOf(corpus.select(col(column))))
      .head().getDouble(0)

  /** Corpus stats: sources/documents counts (stats handler). */
  def stats(sourceCol: String = "source"): DataFrame =
    corpus.agg(countDistinct(col(sourceCol)).as("sources"),
               count(lit(1)).as("documents"))

  /** Surviving view after deleting sources (DeleteChunksBySourceID). */
  def deleteBySource(sourceCol: String, sources: Seq[String]): DataFrame =
    corpus.join(broadcast(sources.toDF("del_source")),
                col(sourceCol) === $"del_source", "left_anti")

  /** Surviving view after deleting one page of one source
    * (DeleteChunksByURL: sourceId AND url equality). */
  def deleteByUrl(sourceCol: String, urlCol: String,
                  sourceId: String, url: String): DataFrame =
    corpus.filter(!(col(sourceCol) === sourceId && col(urlCol) === url))

  /** Per-source chunk counts (CountChunksBySource). */
  def countBySource(sourceCol: String = "source"): DataFrame =
    corpus.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_chunks"))

  /** Exact dedup: one keeper per distinct content fingerprint (the
    * exchange moves digests, not documents). */
  def dedupExact(): DataFrame =
    corpus.select(md5($"text").as("text_md5"), $"doc_id")
      .groupBy($"text_md5")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("copies"))

  /** Unicode hygiene over this corpus (t27's pass as a service call):
    * Latin-1 double-encoding repair then NFC composition, both
    * codegen kernels, zero shuffle. Returns every corpus column with
    * `text` REPLACED by the cleaned string, plus the per-doc repair
    * and composition counts — the form the downstream dedup/token
    * passes should consume (mojibake and decomposed accents
    * otherwise defeat exact hashing). */
  def cleanUnicode(): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    corpus
      .withColumn("_rep", expr("mojibake_repair(text)"))
      .withColumn("_cln", expr("nfc_normalize(_rep)"))
      .withColumn("n_repaired",
        (length($"text") - length($"_rep")).cast("long"))
      .withColumn("n_composed",
        (length($"_rep") - length($"_cln")).cast("long"))
      .drop("text", "_rep").withColumnRenamed("_cln", "text")
  }

  /** Intra-document repetition strip over this corpus (t28's pass as
    * a service call): repeated non-empty lines within one document
    * drop, first occurrence kept in place, empty lines preserved —
    * per-row columnar HOF, zero shuffle. Returns (doc_id, n_lines,
    * n_dropped, clean_page). */
  def stripRepetition(): DataFrame =
    graft.operators.CorpusFilters.repetitionStripOf(
      corpus.select($"doc_id", $"text".as("page")))

  /** Corpus-wide boilerplate-span strip (d19): remove every token
    * covered by an 8-gram span shared across ≥ `minBreadth`
    * documents — the cross-doc complement of [[stripRepetition]]'s
    * intra-doc pass. */
  def stripBoilerplate(minBreadth: Long = 2L): DataFrame =
    graft.operators.Curation.boilerplateStripOf(
      corpus.select($"doc_id", $"text"), minBreadth = minBreadth)

  /** MinHash signatures (doc_id, hs, mh) of a (doc_id, tok) frame —
    * persisted (tracked): the band explode and both verify sides of
    * the LSH pair join all read it. */
  private def minhashSigsOf(docs: DataFrame): DataFrame =
    Caches.persist(docs
      .filter(size($"tok") >= 3)
      .select($"doc_id",
        graft.functions.HashFunctions.hashedShingles($"tok", 3).as("hs"))
      .select($"doc_id", $"hs", expr("minhash_sig(hs)").as("mh")))

  /** MinHash-LSH near-dup pairs at the given jaccard threshold —
    * hashed shingle sets end to end (the d2 shape: sketches and the
    * verify merge-walk both work on 8-byte longs; band buckets capped
    * at Dedup.MaxBandBucket so boilerplate clusters never make the
    * bucket self-join quadratic). */
  def dedupNearMinHash(threshold: Double = 0.3): DataFrame =
    Dedup.minhashLshPairsOf(minhashSigsOf(tokenized), threshold = threshold)

  /** Incremental near-dedup — a new batch against this corpus'
    * standing signatures (the d8 shape as a service call): only the
    * batch is sketched fresh here (a deployment keeps the corpus
    * signatures materialized alongside the corpus), and the band
    * join probes batch × (corpus ∪ earlier-batch) — never
    * corpus × corpus, whose pairs were settled when the corpus was
    * built. Returns (doc_id, dup_of, jaccard): one best prior match
    * per batch loser. Batch doc_ids must be disjoint from the
    * corpus'. Sketching matches the d8 driver query (raw-text
    * shingles), not the lowercased keyword tokenization. */
  def dedupIncremental(newDocs: DataFrame, threshold: Double = 0.3): DataFrame = {
    require(Seq("doc_id", "text").forall(newDocs.columns.contains),
      "dedupIncremental batch needs (doc_id, text) columns")
    Dedup.incrementalLosersOf(
        Caches.persist(Dedup.sigOf(corpus.select($"doc_id", $"text"))),
        Dedup.sigOf(newDocs.select(col("doc_id"), col("text"))),
        threshold = threshold)
      .orderBy($"doc_id")
  }

  /** Near-dup CLUSTERS over [[dedupNearMinHash]]'s verified pairs:
    * distributed connected components (alternating large-star/
    * small-star contraction — O(log² n) rounds even on chain-shaped
    * duplicate graphs), one row per clustered doc with (id,
    * lbl=component representative). Keep-one-per-cluster = keep rows
    * where id == lbl plus every unclustered doc — transitively
    * correct where the pairwise lowest-id drop over-keeps on
    * chains. */
  def dedupClusters(threshold: Double = 0.3): DataFrame =
    graft.operators.Pipeline.connectedComponents(
      dedupNearMinHash(threshold).select($"a_id", $"b_id"))

  /** One-call training-data preparation — the standard pre-training
    * corpus pipeline over this engine's operators, in dependency
    * order:
    *   1. language ID + quality scoring (single narrow pass),
    *   2. quality floor + optional language allowlist,
    *   3. exact dedup: first occurrence per content digest (a
    *      row_number window the TopKPerKey rewrite turns into a
    *      heap — the exchange carries 16-byte digests),
    *   4. MinHash-LSH near-dedup: of every pair ≥ `nearDupThreshold`
    *      the higher doc_id is dropped (greedy lowest-id keeper).
    * Returns the surviving corpus with lang_id/quality attached. Each
    * stage is a declarative plan, so the whole pipeline is one
    * Catalyst-optimized job graph, not four materialized passes. */
  def prepareCorpus(minQuality: Double = 0.0,
                    langs: Option[Set[String]] = None,
                    nearDupThreshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextAnalysis
    val scored = corpus
      .withColumn("lang_id", TextAnalysis.langId($"text"))
      .withColumn("quality", TextAnalysis.quality($"text"))
      .filter($"quality" >= minQuality)
    val langFiltered = langs.fold(scored)(ls =>
      scored.filter($"lang_id".isin(ls.toSeq: _*)))
    // persisted (tracked; engine.releaseCaches() frees it): the
    // survivor set feeds BOTH the near-dedup sketch and the final
    // anti-join
    val exactKept = Caches.persist(langFiltered
      .withColumn("__md5", md5($"text"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"__md5").orderBy($"doc_id")))
      .filter($"__rn" === 1)
      .drop("__md5", "__rn"))
    // Near-dedup sees only the EXACT-DEDUP SURVIVORS — each distinct
    // text once. Running LSH on the raw corpus would put every
    // byte-identical copy of a boilerplate page into the same band
    // buckets (O(copies^2) candidates); chaining off exactKept makes
    // the near-dup stage scale with distinct content. The kept set is
    // unchanged on an unfiltered corpus (every raw pair maps to a
    // survivor pair with the keeper id lower); under quality/lang
    // filters the sketch now sees only eligible docs, so similarity
    // to already-rejected garbage no longer drops survivors.
    val survivorsTok = exactKept.select($"doc_id",
      expr("regexp_extract_all(lower(text), '\\\\S+', 0)").as("tok"))
    // no broadcast hint: the loser set scales with the duplicate rate
    // (corpus-sized in the worst case) — AQE picks broadcast at
    // runtime when the set turns out small
    val nearDupLosers = graft.operators.Dedup
      .minhashLshPairsOf(minhashSigsOf(survivorsTok), threshold = nearDupThreshold)
      .select($"b_id".as("doc_id")).distinct()
    exactKept.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** C4-style cleaning rule INPUTS for each corpus doc (line-rule
    * survivors, sentence count, lorem/brace flags, keep verdict) —
    * the t6 pass over this engine's own corpus text. */
  def corpusFilterC4(): DataFrame = {
    val kept = filter(split($"text", "\n"), l =>
      l.rlike("[.!?\"]$") &&
        size(regexp_extract_all(l, lit("""\S+"""), lit(0))) >= 5)
    corpus.select($"doc_id",
        size(split($"text", "\n")).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        size(regexp_extract_all(concat_ws("\n", kept), lit("[.!?]"), lit(0)))
          .cast("long").as("n_sentences"),
        lower($"text").contains("lorem ipsum").as("has_lorem"),
        $"text".contains("{").as("has_brace"),
        concat_ws("\n", kept).as("cleaned"))
      .withColumn("doc_kept",
        $"n_sentences" >= 3 && !$"has_lorem" && !$"has_brace")
  }

  /** Gopher quality-rule signals for each corpus doc (word-count
    * bounds, mean word length, symbol/bullet/ellipsis ratios,
    * alphabetic-word fraction, stop-word presence) + composed
    * verdict — the t9 pass over this engine's own corpus text. */
  def gopherQuality(): DataFrame = {
    import graft.operators.CorpusFilters.GopherStops
    val words = regexp_extract_all($"text", lit("""\S+"""), lit(0))
    val lines = split($"text", "\n")
    val stopHits = GopherStops.map(s =>
      when(lower($"text").rlike("\\b" + s + "\\b"), 1).otherwise(0))
      .reduce(_ + _)
    corpus.select($"doc_id",
        size(words).cast("long").as("n_words"),
        round(aggregate(words, lit(0L), (a, w) => a + length(w))
          .cast("double") / size(words), 6).as("mean_word_len"),
        round(size(regexp_extract_all($"text", lit("""#|\.\.\."""), lit(0)))
          .cast("double") / size(words), 6).as("symbol_ratio"),
        round(size(filter(lines, l => l.rlike("""^\s*[-*•]""")))
          .cast("double") / size(lines), 6).as("bullet_line_frac"),
        round(size(filter(lines, l => l.rlike("""\.\.\.$""")))
          .cast("double") / size(lines), 6).as("ellipsis_line_frac"),
        round(size(filter(words, w => w.rlike("[A-Za-z]")))
          .cast("double") / size(words), 6).as("alpha_word_frac"),
        stopHits.cast("long").as("n_stop_present"))
      .withColumn("quality_kept",
        $"n_words" >= 50 && $"n_words" <= 100000 &&
        $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0 &&
        $"symbol_ratio" <= 0.1 &&
        $"bullet_line_frac" <= 0.1 && $"ellipsis_line_frac" <= 0.3 &&
        $"alpha_word_frac" >= 0.8 && $"n_stop_present" >= 2)
  }

  /** PII scrub of the corpus text (email / NANP phone / IPv4 →
    * typed sentinels) with per-class counts — the t8 pass. */
  def redactPii(): DataFrame = {
    import graft.operators.CorpusFilters.{EmailPat, IpPat, PhonePat}
    corpus.withColumn("n_email",
        size(regexp_extract_all($"text", lit(EmailPat), lit(0))).cast("long"))
      .withColumn("n_phone",
        size(regexp_extract_all($"text", lit(PhonePat), lit(0))).cast("long"))
      .withColumn("n_ip",
        size(regexp_extract_all($"text", lit(IpPat), lit(0))).cast("long"))
      .withColumn("text",
        regexp_replace(regexp_replace(regexp_replace($"text",
          lit(EmailPat), lit("<EMAIL>")),
          lit(PhonePat), lit("<PHONE>")),
          lit(IpPat), lit("<IP>")))
  }

  /** Benchmark decontamination: corpus docs sharing any hashed
    * 8-gram with `evalSet` (doc_id, text), with evidence counts. */
  def decontaminate(evalSet: DataFrame): DataFrame =
    graft.operators.Curation.decontaminate(corpus.select($"doc_id", $"text"), evalSet)

  /** Leakage-safe deterministic train/val/test assignment (content
    * hash — exact copies co-split, stable across reruns). */
  def assignSplits(): DataFrame =
    graft.operators.Curation.splitOf(corpus.select($"doc_id", $"text"))

  /** Binary-file ingestion (the converter-pool file path): opaque
    * (doc_id, payload binary, mime, filename) blobs -> per-task
    * converter (decode stubbed) -> ERR_ENCRYPTED/ERR_EMPTY taxonomy
    * -> structural chunking of the extracted markdown. One row per
    * chunk, plus one row per rejected file (status != 'ok'). */
  def ingestFiles(files: DataFrame, maxTokens: Int = 256): DataFrame =
    graft.operators.FileIngest.ingest(files, maxTokens)

  /** Crawl-frontier expansion (worker.DiscoverLinks): normalize +
    * filter discovered links against the crawl host, excluding
    * patterns, up to maxDepth. */
  def discoverLinks(links: org.apache.spark.sql.Dataset[String], sourceId: String,
                    host: String, currentDepth: Int, maxDepth: Int,
                    exclusions: Seq[String] = Nil): DataFrame =
    graft.operators.LinkDiscovery.discover(
      links, sourceId, host, currentDepth, maxDepth, exclusions)

  /** Release every cached block the engine's plans have pinned
    * (diamond-reuse persists inside search/dedup). Call after the
    * consuming action completes — e.g. once per request in a batch
    * serving loop — so repeated searches don't accumulate cached
    * candidate sets for the session lifetime. */
  def releaseCaches(): Unit = Caches.releaseAll()

  /** Exact top-k nearest neighbors of `queryVec` (array<double>). */
  def knn(embeddings: DataFrame, queryVec: Seq[Double], k: Int = 10): DataFrame = {
    val qv: Column = array(queryVec.map(lit(_)): _*)
    embeddings
      .select($"doc_id", call_function("cosine_sim",
        transform(col("embedding"), _.cast("double")), qv).as("cosine"))
      .orderBy($"cosine".desc, $"doc_id")
      .limit(k)
  }

  /** The failed-jobs table (features/job handler's List; the store
    * is migration 000009's failed_jobs under the versioned-commit
    * discipline). */
  def failedJobs(path: String): DataFrame =
    graft.sources.JobStore.read(spark, path)

  /** Batch Retry (service.go:31, set-at-a-time): requeue every
    * transient-error failed job below the attempt cap and commit the
    * store without them — publish-then-delete as one snapshot. The
    * returned frame (job_id, source_id, handler, topic, payload) is
    * what a queue adapter publishes. */
  def retryFailedJobs(path: String, maxAttempts: Int = 3): DataFrame =
    graft.sources.JobStore.retryJobs(spark, path, maxAttempts)._1

  /** ResetStuckJobs (service.go:86 / source.go:326's sweep applied):
    * stale `processing` rows reset to pending with attempts+1 or
    * exhaust to failed, as one commit; returns the new version. */
  def resetStuckJobs(path: String, timeoutHours: Int = 1,
                     maxAttempts: Int = 3): Long =
    graft.sources.JobStore.resetStuck(spark, path, timeoutHours,
      maxAttempts)

  /** Every neighbor of `queryVec` at or above `minCosine` — the
    * RANGE form of [[knn]] (FAISS range_search semantics, a27's
    * exact baseline): no k anywhere, the result is exactly the
    * threshold set — what threshold-based near-dup mining wants,
    * where top-k truncates dense queries and over-fetches sparse
    * ones. The IVF-pruned scale path over a persisted cell store is
    * operators.Knn.rangeFromIvfIndex. */
  def rangeSearch(embeddings: DataFrame, queryVec: Seq[Double],
                  minCosine: Double): DataFrame = {
    val qv: Column = array(queryVec.map(lit(_)): _*)
    embeddings
      .select($"doc_id", call_function("cosine_sim",
        transform(col("embedding"), _.cast("double")), qv).as("cosine"))
      .filter($"cosine" >= minCosine)
      .orderBy($"cosine".desc, $"doc_id")
  }

  /** Fixed-point PageRank over a (src, dst) link-graph frame — the
    * crawl-scheduler authority score (c15; bit-exact integer ranks,
    * see operators.ChunkQueries.pageRankOf). */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame =
    graft.operators.ChunkQueries.pageRankOf(edges, iters)

  /** Flesch/FK readability per corpus document (t12's scoring over
    * this engine's corpus): doc_id, counts, flesch_ease, fk_grade. */
  def readability(): DataFrame = {
    val nSent = greatest(
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
      .cast("long")
    val nWord = greatest(
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")), lit(1))
      .cast("long")
    val nSyl = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
      .cast("long")
    corpus.select($"doc_id", nSent.as("n_sentences"), nWord.as("n_words"),
        nSyl.as("n_syllables"))
      .withColumn("wps", $"n_words".cast("double") / $"n_sentences")
      .withColumn("spw", $"n_syllables".cast("double") / $"n_words")
      .select($"doc_id", $"n_sentences", $"n_words", $"n_syllables",
        round(lit(206.835) - lit(1.015) * $"wps" - lit(84.6) * $"spw", 4)
          .as("flesch_ease"),
        round(lit(0.39) * $"wps" + lit(11.8) * $"spw" - lit(15.59), 4)
          .as("fk_grade"))
  }

  /** Lay the corpus out as fixed-length training sequences (p7's
    * concat-and-chunk packing, keyed per source shard). Requires a
    * `source` column. */
  def packSequences(maxLen: Int = 1024): DataFrame = {
    require(corpus.columns.contains("source"),
      "packSequences needs a source column (one pack stream per shard)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    corpus
      .select($"doc_id", $"source",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
          .as("n_tokens"),
        element_at(call_function("poly_hash_all", array($"text")), 1).as("h"))
      .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
      .select($"source", $"doc_id", $"n_tokens", $"start_off",
        expr(s"start_off div $maxLen").as("seq_id"),
        pmod($"start_off", lit(maxLen.toLong)).as("seq_pos"),
        ($"n_tokens" > 0 &&
          expr(s"(start_off div $maxLen) != ((start_off + n_tokens - 1) div $maxLen)"))
          .as("crosses_seq"))
  }

  /** Incremental-crawl change detection (c18's CDC classify): fresh
    * (page_key, body_hash) batch vs the stored hash table →
    * unchanged/changed/new/deleted + needs_processing. */
  def detectChanges(fresh: DataFrame, stored: DataFrame): DataFrame =
    graft.operators.WebMeta.changeDetect(fresh, stored)

  /** robots.txt frontier evaluation (c16): parse per-host robots
    * bodies, evaluate every frontier URL in one host-keyed join. */
  def evaluateRobots(frontier: DataFrame, robots: DataFrame,
                     agent: String = "*"): DataFrame =
    graft.operators.Robots.evaluate(frontier,
      graft.operators.Robots.parseRobots(robots), agent)

  /** Adaptive recrawl scheduling (c24's composition) over caller
    * state: change classes with priors (page_key, change,
    * prev_interval_s, host — [[detectChanges]]' shape plus the
    * stored interval) and per-host (host, crawl_delay_s) declared
    * delays → each surviving page's adapted interval and its slot in
    * the host's politeness-paced serial queue. Changed pages revisit
    * sooner (halve, floored), stable pages back off (double,
    * capped), deleted pages retire. */
  def scheduleRecrawl(changes: DataFrame, delays: DataFrame,
                      orderCol: String = "page_key",
                      minS: Double = 60.0, maxS: Double = 3600.0,
                      defaultS: Double = 300.0): DataFrame = {
    val due = graft.operators.Robots
      .revisitIntervals(changes, minS, maxS, defaultS)
      .withColumn("due_in_s", col("next_interval_s"))
      .join(broadcast(delays), Seq("host"), "left")
      .withColumn("crawl_delay_s", coalesce(col("crawl_delay_s"), lit(1.0)))
    graft.operators.Robots.paceByHost(due, orderCol)
  }

  /** Per-host fetch-budget apportionment (c25) over any ranked
    * (host, rank_e12) frontier: exact integer Hamilton split of the
    * cycle budget by rank mass, grants capped at pending counts.
    * Count-gated: above Robots.AutoHierarchyHosts distinct hosts the
    * split runs hierarchically (TLD → host), so no partition-less
    * window ever sees a row count the frontier controls. */
  def crawlBudget(frontier: DataFrame, budget: Long = 100L): DataFrame =
    graft.operators.Robots.apportionBudgetAuto(frontier, budget)

  /** Event-rate anomaly detection over any (event_type, ts) frame
    * (q43): hourly counts vs their trailing-24h baseline, spikes
    * flagged — the pipeline's own operational monitoring. */
  def rateAnomaly(events: DataFrame, spikeFactor: Double = 3.0): DataFrame =
    graft.operators.EngineQueries.rateAnomalyOf(events, spikeFactor)

  /** Terminal-address resolution over a (src, dst) redirect-edge
    * frame (c20): pointer jumping — O(log chain) rounds — with
    * redirect loops flagged unresolved. */
  def resolveRedirects(edges: DataFrame, rounds: Int = 3): DataFrame =
    graft.operators.ChunkQueries.resolveRedirects(edges, rounds)

  /** Quality-decile curriculum staging over the corpus (p9): one
    * percentile aggregate broadcast as 9 boundaries, map-only
    * assignment — no global sort. */
  def curriculum(): DataFrame =
    graft.operators.Curation.curriculumOf(corpus)

  /** All-pairs kNN graph over an embeddings frame (a9): every vector
    * gets its top-k neighbors via the capped LSH bucket join. */
  def knnJoin(embeddings: DataFrame, k: Int = 3): DataFrame =
    Knn.knnJoinOf(embeddings, k = k)

  /** NN-Descent refinement over a (vec_id, v) frame (a21): seed the
    * kNN graph with the LSH-bounded join, then run `rounds`
    * neighbor-of-neighbor refinement rounds — the graph a weak seed
    * geometry alone can't recall. Returns the refined directed
    * top-k edge list. */
  def refineKnnGraph(embeddings: DataFrame, k: Int = 3,
                     rounds: Int = 2): DataFrame = {
    val seed = Knn.knnJoinOf(embeddings, k = k)
      .select(col("q_id"), col("vec_id"))
    val vecs = embeddings.select(col("vec_id"), col("v"))
    (1 to rounds).foldLeft(seed)((g, _) => Knn.descentRound(g, vecs, k))
  }

  /** Graph-serving ANN (a22): answer a (q_id, qv) query frame by
    * walking a directed kNN edge list (built by [[refineKnnGraph]]
    * or read from a persisted edge table) — exact-score the entry
    * ids, then `hops` beam-bounded undirected expansions scoring
    * only never-visited candidates; top-k of everything visited. */
  def graphSearch(embeddings: DataFrame, graph: DataFrame,
                  queries: DataFrame, entryIds: DataFrame, k: Int = 5,
                  beam: Int = 8, hops: Int = 2): DataFrame =
    Knn.graphSearchOf(embeddings.select(col("vec_id"), col("v")),
      graph, queries, entryIds, k, beam, hops)

  /** Vamana robust prune over a directed kNN edge list (a29's build
    * half): re-select every node's out-neighborhood by the α-RNG
    * rule from the undirected ∪ neighbor-of-neighbor pool. */
  def vamanaPrune(embeddings: DataFrame, graph: DataFrame,
                  alpha: Double = 1.2, degreeCap: Int = 6,
                  poolCap: Int = 12): DataFrame =
    Knn.robustPrune(graph, embeddings.select(col("vec_id"), col("v")),
      alpha, degreeCap, poolCap)

  /** FreshDiskANN's delete-consolidation with the α-RNG rule over a
    * caller-built vamana graph (a32): dead nodes drop, nodes that
    * pointed at them re-prune over survivors ∪ the dead nodes' live
    * out-edges, untouched nodes pass through bit-identical. */
  def vamanaDelete(embeddings: DataFrame, graph: DataFrame,
                   deadIds: DataFrame, alpha: Double = 1.2,
                   degreeCap: Int = 6, poolCap: Int = 12): DataFrame =
    Knn.vamanaDeleteOf(graph, deadIds.select(col("vec_id")),
      embeddings.select(col("vec_id"), col("v")),
      alpha, degreeCap, poolCap)

  /** DiskANN's insert algorithm over a caller-built vamana graph
    * (a31, set-at-a-time): each new vector's candidate pool is the
    * visited set of the serving walk from `entryIds`, its out-edges
    * are the α-RNG prune of that pool, and pointed-at nodes
    * re-prune over their neighbors ∪ the arriving backlinks.
    * Returns the patched directed edge list. */
  def vamanaInsert(embeddings: DataFrame, graph: DataFrame,
                   inserts: DataFrame, entryIds: DataFrame,
                   alpha: Double = 1.2, degreeCap: Int = 6,
                   poolCap: Int = 12, beam: Int = 6,
                   hops: Int = 2): DataFrame =
    Knn.vamanaInsertOf(embeddings.select(col("vec_id"), col("v")),
      graph, inserts.select(col("vec_id"), col("v")),
      inserts.select(col("vec_id").as("q_id"))
        .crossJoin(org.apache.spark.sql.functions.broadcast(
          entryIds.select(col("vec_id")))),
      alpha, degreeCap, poolCap, beam, hops)

  /** Magic-byte MIME routing over a binary-file frame (f2) — adds a
    * `mime` column sniffed from payload signatures. */
  def sniffTypes(files: DataFrame,
                 payloadCol: String = "payload"): DataFrame =
    files.withColumn("mime",
      graft.operators.FileIngest.sniffMime(col(payloadCol)))

  /** Top-k tf-idf keywords per corpus document (t13): one tokenize
    * scan, broadcast idf join, per-doc heap top-k. */
  def keywords(k: Int = 5): DataFrame =
    graft.operators.TextAnalysis.keywordsOf(corpus, k)

  /** Bigram log-perplexity quality scores over the corpus (t24):
    * order-aware fluency filter against a corpus-trained LM. */
  def bigramPerplexity(): DataFrame =
    graft.operators.TextAnalysis.bigramPplOf(corpus)

  /** Temperature-scaled (α=0.5) mixture weights and token quotas per
    * source (p20) — the multinomial sampling recipe for multi-source
    * training mixes. */
  def temperatureMix(budget: Long = 1000000L): DataFrame =
    graft.operators.Curation.temperatureMixOf(corpus, budget)

  /** Near-dup threshold sweep over the corpus (d16): what each
    * candidate τ would actually touch, measured in one pass. */
  def thresholdSweep(): DataFrame =
    graft.operators.Dedup.thresholdSweepOf(corpus)

  /** Deterministic epoch shuffle of the corpus (p11): content-hash
    * shards + within-shard hash order — one fixed pseudo-random
    * permutation with no global row_number. */
  def globalShuffle(nShards: Int = 64): DataFrame =
    graft.operators.Curation.globalShuffleOf(corpus, nShards)

  /** Containment (asymmetric-Jaccard) near-dup pairs over the corpus
    * (d11): quote/subset detection symmetric Jaccard can't see. */
  def dedupContainment(tau: Double = 0.8): DataFrame =
    graft.operators.Dedup.containmentOf(
      graft.operators.Dedup.hashedShingleSetsOf(corpus), tau)

  /** Trained quality filter over the corpus (t16): logistic
    * regression on hashed BoW, self-trained against the above-median
    * heuristic label; returns per-doc score + verdict. */
  def qualityFilter(): DataFrame =
    graft.operators.QualityModel.scoreOf(corpus)

  /** DSIR importance weights for the corpus against a caller-chosen
    * target slice (p13): kept = more target-like than raw-like. */
  def dsirWeights(isTarget: org.apache.spark.sql.Column): DataFrame =
    graft.operators.Curation.dsirOf(corpus, isTarget)

  /** Quality-weighted sample WITHOUT replacement (p17): exactly k
    * docs, inclusion ∝ quality, deterministic A-ES keys from the
    * content digest. Scores computed inline from the corpus. */
  def weightedSample(k: Int = 100): DataFrame = {
    import org.apache.spark.sql.functions.md5
    import corpus.sparkSession.implicits._
    graft.operators.Curation.weightedSampleScored(
      corpus.select($"doc_id", $"source",
        graft.operators.TextAnalysis.quality($"text").as("quality"),
        md5($"text").as("digest")), k)
  }

  /** Perceptual (dHash) near-dup pairs over the corpus payloads
    * (m11): banded Hamming join, exact popcount verify. */
  def perceptualDedup(maxHamming: Int = 5, maxBucket: Int = 64): DataFrame =
    graft.operators.Multimodal.perceptualPairsOf(corpus, maxHamming, maxBucket)

  /** Near-dup-cluster-atomic train/val/test split (p19): every
    * verified near-dup cluster lands whole in one split — the
    * leakage fix content-hash splitting can't express. */
  def clusterSplit(threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.functions.{array, call_function, element_at}
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val hashed = corpus.select(col("doc_id"),
      element_at(call_function("poly_hash_all", array(col("text"))), 1).as("h"))
    graft.operators.Pipeline.clusterSplitOf(hashed, dedupClusters(threshold))
  }

  /** Dedup-savings audit over the corpus (d15): the cluster-size
    * histogram with exactly what keep-one-per-cluster would drop. */
  def dedupSavings(threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.functions.{expr, length, size}
    val stats = corpus.select(col("doc_id"),
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tok"),
      length(col("text")).cast("long").as("len_chars"))
    graft.operators.Pipeline.dedupSavingsOf(stats, dedupClusters(threshold))
  }

  /** Packing-efficiency audit of [[packBins]]'s layout (p14). */
  def packReport(cap: Long = 1024L): DataFrame =
    graft.operators.Curation.packReportOf(packBins(cap), cap)

  /** SCD2 history build from a (user_id, ts, event_id, attr) change
    * log (q47). */
  def scd2(changeLog: DataFrame): DataFrame =
    graft.operators.EngineQueries.scd2Of(changeLog)

  /** Sketch-state trending estimates over an event frame (st10):
    * CMS cells + min-probe for each observed (window, key). */
  def sketchTrending(events: DataFrame): DataFrame = {
    val cells = graft.streaming.EventStream.sketchCells(events)
    val keys = events
      .select(org.apache.spark.sql.functions.window($"ts", "1 hour")("start")
          .as("window_start"), $"event_type")
      .distinct()
    graft.streaming.EventStream.probeSketch(cells, keys)
  }

  /** Train a BPE tokenizer on the corpus (t17): the per-round merge
    * table with pair counts and the compression trajectory. */
  def trainTokenizer(rounds: Int = graft.operators.BpeTrainer.Rounds): DataFrame =
    graft.operators.BpeTrainer.trainOf(corpus, rounds)

  /** Tokenize the corpus with a trained merge list (t18):
    * whitespace-vs-BPE token counts per document. */
  def tokenize(merges: Seq[(String, String)]): DataFrame =
    graft.operators.BpeTrainer.tokenizeOf(corpus, merges)

  /** Pack documents whole into fixed-capacity bins (p8's next-fit
    * layout — SFT/instruction data where a split document is a
    * corrupted example). Requires a `source` column; oversize
    * documents sit alone in their bin. */
  def packBins(cap: Long = 1024L): DataFrame = {
    require(corpus.columns.contains("source"),
      "packBins needs a source column (one pack stream per shard)")
    val docs = corpus
      .select($"doc_id", $"source",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
          .as("n_tokens"),
        element_at(call_function("poly_hash_all", array($"text")), 1).as("h"))
    graft.operators.Packing
      .packNextFit(docs, Seq("source"), Seq("h", "doc_id"), "n_tokens", cap)
      .select($"source", $"doc_id", $"n_tokens",
        $"bin_id", $"bin_off", $"oversize")
  }
}
