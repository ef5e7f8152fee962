package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ChunkQueries, Chunker, Knn}

/** Continuous document ingestion — the reference's queue-worker
  * pipeline (NSQ ingest → chunker → embedder consumer → vector store;
  * apps/backend/internal/worker/{events,embedder_consumer}.go)
  * re-expressed as ONE Structured Streaming query: each arriving
  * document is structurally chunked, given its contextual embed
  * input, embedded (stub hashed-BoW), and appended to the
  * partitioned lakehouse chunk store.
  *
  * foreachBatch gives exactly-once appends per epoch against the
  * checkpointed source offsets; the store layout matches
  * sources.ChunkStore (partitioned by source → per-source reads stay
  * pruned, deletes stay partition drops). At scale the same query
  * runs against a Kafka source with watermarked dedup
  * (EventStream.dedupStream) in front.
  */
object IngestStream {

  /** The queue task-payload schema (result_consumer.go's
    * ResultPayload: source_id, url, content, links, depth). */
  val TaskSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("links",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("depth",
        org.apache.spark.sql.types.LongType)))

  /** POISON-PILL tolerant message decode — the consumers' rule that a
    * malformed payload must never wedge the queue
    * (result_consumer.go HandleMessage returns nil on unmarshal
    * failure so NSQ won't requeue forever; its PoisonPill and
    * MissingRequiredFields tests pin it). Streaming twist: one bad
    * row must not kill the QUERY — so the decode never throws,
    * it ROUTES: `reason` is null for well-formed tasks,
    * "malformed_json" / "missing_required_fields" otherwise, and the
    * caller splits ok-rows from the dead-letter frame per batch. */
  def decodeTasks(raw: DataFrame, col: String = "value"): DataFrame = {
    import raw.sparkSession.implicits._
    // PERMISSIVE from_json half-parses bad payloads into all-null
    // structs; the corrupt-record column is what actually separates
    // "unparseable" from "parsed but incomplete"
    val withCorrupt = TaskSchema.add("_corrupt",
      org.apache.spark.sql.types.StringType)
    raw
      .withColumn("task", from_json(org.apache.spark.sql.functions.col(col),
        withCorrupt, Map("columnNameOfCorruptRecord" -> "_corrupt")))
      .withColumn("reason",
        when($"task".isNull || $"task._corrupt".isNotNull, "malformed_json")
          .when($"task.source_id".isNull || $"task.url".isNull,
            "missing_required_fields"))
  }

  /** Chunk + contextualize + embed a (doc_id, source, text) frame —
    * shared by the streaming query and batch backfills (same lambda/
    * kappa pairing as EventStream.windowedAgg). */
  /** st13: TRAINED-MODEL quality gate on the ingest path — the t16
    * classifier served inline on the stream: each arriving document
    * scores map-only against the broadcast weight literal (the same
    * IEEE-exact fast-sigmoid fold the batch scorer runs — a
    * stateless projection, so it composes with any downstream
    * stateful stage), and low-scoring documents route to a quarantine
    * flag instead of silently vanishing (the DLQ discipline
    * decodeTasks uses for poison payloads). Weights come from a
    * prior training run (ModelStore.loadVector / TrainedModels) —
    * train offline, serve online, the standard split. Works
    * identically on batch frames; StreamingSpec gates stream ≡
    * batch scoring. */
  def qualityGate(docs: DataFrame, weights: Seq[Double],
                  threshold: Double = 0.5): DataFrame = {
    import docs.sparkSession.implicits._
    graft.plans.GraftFunctions.ensureRegistered(docs.sparkSession)
    val dim = weights.length
    val scored = docs
      .withColumn("_tk", expr("regexp_extract_all(lower(content), '\\\\S+', 0)"))
      .withColumn("_x", concat(
        transform(call_function("poly_bow", $"_tk", lit(dim - 1)),
          c => c / greatest(size($"_tk"), lit(1)).cast("double")),
        array(lit(1.0))))
      .withColumn("_z", aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (acc, j) => acc + element_at($"_x", j) * element_at(typedLit(weights), j)))
      .withColumn("quality_score",
        round(lit(0.5) + lit(0.5) * $"_z" / (lit(1.0) + abs($"_z")), 6))
      .drop("_tk", "_x", "_z")
    scored.withColumn("quarantined", $"quality_score" < threshold)
  }

  /** Unicode hygiene stage (t27's pass in the ingestion plane): the
    * worker runs Latin-1 mojibake repair + NFC composition on
    * crawled content BEFORE chunking and hashing — a mis-decoded
    * page that reaches the store otherwise defeats exact dedup and
    * pollutes the tokenizer. Both kernels are stateless per-row
    * projections: no state, no watermark interaction, safe at any
    * point in a streaming plan, and a no-op on already-clean text
    * (NFC is idempotent, repair touches only C2/C3 pairs). */
  def cleanText(docs: DataFrame, column: String = "text"): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.withColumn(column,
      expr(s"nfc_normalize(mojibake_repair($column))"))
  }

  /** Boilerplate strip at ingest (d19's pass in the ingestion
    * plane): tokens covered by an 8-gram span whose hash is in the
    * FROZEN `banned` list are removed before chunking — the
    * production shape, where the batch profile
    * (Curation.d18/d19 over the existing corpus) freezes the top
    * boilerplate spans and the worker applies the list to every
    * arriving page; a stream can't know corpus-wide breadth, and
    * doesn't need to (sitewide boilerplate is by definition already
    * visible in the batch corpus). The list rides along as an array
    * literal — bounded by construction (top spans by breadth, the
    * stopword-list cardinality class; at fleet scale it broadcasts) —
    * and the whole stage is a stateless per-row projection: no
    * state, no watermark interaction, safe anywhere in the plan. */
  def stripFrozenSpans(docs: DataFrame, banned: Seq[Long],
                       column: String = "text",
                       ngram: Int = graft.operators.Curation.ContamNgram)
      : DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(docs.sparkSession)
    if (banned.isEmpty) return docs
    val bannedLit = lit(banned.toArray)
    val w = expr(s"regexp_extract_all($column, '\\\\S+', 0)")
    // positional gram hashes; short docs get an empty gram array
    // (shinglesAll's sequence would DESCEND below the n-gram width)
    val grams = when(size(col("_w")) >= ngram, call_function(
      "poly_hash_all",
      graft.functions.HashFunctions.shinglesAll(col("_w"), ngram)))
      .otherwise(array().cast("array<bigint>"))
    // a token survives unless some banned span start covers it
    val kept = filter(col("_w"), (t, i) =>
      !exists(col("_bs"), s =>
        (i + 1).cast("long") >= s && (i + 1).cast("long") <= s + (ngram - 1)))
    docs
      .withColumn("_w", w)
      .withColumn("_g", grams)
      // guard: sequence(1, 0) DESCENDS, and ANSI element_at throws on
      // a bad index — empty gram arrays get an empty start list
      .withColumn("_bs", when(size(col("_g")) > 0, filter(
        transform(sequence(lit(1), size(col("_g"))), i => i.cast("long")),
        s => array_contains(bannedLit, element_at(col("_g"), s.cast("int")))))
        .otherwise(array().cast("array<bigint>")))
      // rebuild ONLY when a banned span actually matched — the
      // tokenize→join round trip collapses newlines/tabs/multi-spaces
      // to single spaces, which would silently destroy line structure
      // (chunkMarkdown's heading splits, t28's line passes) in every
      // document, matched or not
      .withColumn(column, when(size(col("_bs")) > 0, array_join(kept, " "))
        .otherwise(col(column)))
      .drop("_w", "_g", "_bs")
  }

  /** Freeze the top-`n` boilerplate span hashes from a batch corpus
    * (breadth-ranked) — the list [[stripFrozenSpans]] applies. */
  def frozenSpanList(corpus: DataFrame, n: Int = 1000,
                     minBreadth: Long = 2L): Seq[Long] = {
    import corpus.sparkSession.implicits._
    graft.plans.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val ngram = graft.operators.Curation.ContamNgram
    corpus
      .select($"doc_id",
        expr("regexp_extract_all(text, '\\\\S+', 0)").as("w"))
      .filter(size($"w") >= ngram)
      .select($"doc_id", explode(array_distinct(
        graft.functions.HashFunctions.hashedShingles($"w", ngram)))
        .as("g"))
      .groupBy($"g").agg(count(lit(1)).as("n_docs_with"))
      .filter($"n_docs_with" >= minBreadth)
      .orderBy($"n_docs_with".desc, $"g")
      .limit(n)
      .select($"g").collect().map(_.getLong(0)).toSeq
  }

  /** `clean = false` skips the [[cleanText]] hygiene pass — the
    * mojibake C2/C3-pair heuristic is lossy on text that legitimately
    * contains 'Â'/'Ã' + U+0080–U+00BF sequences, so trusted-clean
    * corpora need the opt-out. */
  /** The production frozen-span lifecycle in one call: load the
    * persisted list from the model store, or freeze it from the
    * batch corpus and persist — the same train-offline/serve-online
    * split the quality gate's weights use (ModelStore.vectorOrTrain).
    * A batch profile job calls this against the full corpus; the
    * streaming worker calls it at startup and gets the stored list
    * with NO corpus scan. */
  def frozenSpanListOrLoad(corpus: DataFrame, storeRoot: String,
                           name: String = "frozen_spans", n: Int = 1000,
                           minBreadth: Long = 2L): Seq[Long] =
    graft.sources.ModelStore.longsOrBuild(
      corpus.sparkSession, storeRoot, name)(
      frozenSpanList(corpus, n, minBreadth))

  def chunkAndEmbed(docs: DataFrame, maxTokens: Int = 64, dims: Int = 64,
                    clean: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    (if (clean) cleanText(docs) else docs)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)]
      .flatMap { case (docId, source, text) =>
        Chunker.chunkMarkdown(text, maxTokens, overlap = 0).zipWithIndex.map {
          case (c, i) => (docId, source, i, c.content, c.chunkType, c.language)
        }
      }
      .toDF("doc_id", "source", "chunk_index", "content", "chunk_type", "language")
      .withColumn("ctx", ChunkQueries.contextualString(
        $"source", concat(lit("doc-"), $"doc_id"), $"chunk_type", $"content"))
      .withColumn("tok", expr("regexp_extract_all(lower(ctx), '\\\\S+', 0)"))
      .filter(size($"tok") > 0)
      .withColumn("embedding", expr(s"poly_bow(tok, $dims)"))
      .drop("tok", "ctx")
  }

  /** Idempotent re-ingestion — the reference's page-update path
    * (DeleteChunksByURL then re-insert; store.go:93-103) against the
    * plain-parquet chunk store: survivors of the touched source
    * partitions are read, the re-ingested doc_ids' old chunks are
    * anti-joined away, the fresh chunks appended, and ONLY those
    * partitions rewritten via dynamic partition overwrite — untouched
    * sources are never read or written. localCheckpoint truncates
    * lineage so the store path can be overwritten while it is also
    * the read source (on Delta/Iceberg this whole method is a MERGE;
    * the partition math is identical). */
  def reingest(docs: DataFrame, storePath: String, maxTokens: Int = 64,
               clean: Boolean = true): Unit = {
    val spark = docs.sparkSession
    val chunksPath = s"$storePath/chunks"
    val incoming = chunkAndEmbed(docs, maxTokens, clean = clean)
    // data probe, not a bare existence probe (and Hadoop FileSystem,
    // NOT java.io.File — the store path may be HDFS/S3): a store
    // whose every partition was dropped (a single-source purge) still
    // has its directory and _SUCCESS marker, but reading it for the
    // merge would throw on schema inference — treat it as absent so
    // the re-ingest lands as the first write
    val storeExists = graft.sources.ChunkStore
      .hasDataFiles(spark, chunksPath)
    val merged =
      if (storeExists) {
        val survivors = spark.read.parquet(chunksPath)
          .join(incoming.select("source").distinct(), Seq("source"), "left_semi")
          .join(incoming.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        incoming.unionByName(survivors.select(incoming.columns.map(col): _*))
      } else incoming
    merged.localCheckpoint(true)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("source")
      .parquet(chunksPath)
  }

  /** Streaming MERGE-style upsert ingestion: every micro-batch runs
    * the [[reingest]] merge — chunks of re-arriving doc_ids are
    * replaced, siblings and untouched source partitions survive —
    * instead of a blind append. This is the foreachBatch MERGE
    * pattern for page-UPDATE streams (the reference's re-crawl path),
    * where [[ingest]] is the append-only first-crawl path.
    * Exactly-once per epoch: offsets are checkpointed and the
    * dynamic-partition overwrite is idempotent on replay. */
  def upsert(docs: DataFrame, storePath: String, maxTokens: Int = 64,
             clean: Boolean = true): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$storePath/_checkpoints")
      .foreachBatch((batch: DataFrame, _: Long) =>
        reingest(batch, storePath, maxTokens, clean))
      .start()

  /** STREAMING maintenance of the persisted text-serving index —
    * s18's batch append driven per micro-batch, so the BM25 index
    * stays query-ready while the crawl ingests (the reference keeps
    * Weaviate's hybrid index current on every upsert; this is the
    * lakehouse twin). First epoch against an empty path BUILDS the
    * index (Hadoop-FS existence probe, the reingest discipline —
    * local java.io checks lie on HDFS/S3); later epochs APPEND, and
    * because TextIndex.append merges exactly, the served scores
    * after any epoch are bit-equal to a batch rebuild over
    * everything ingested so far (StreamingSpec pins it). Contract:
    * arriving doc_ids are new — a page-update stream routes through
    * TextIndex.upsert semantics instead.
    *
    * Exactly-once EFFECT under foreachBatch's at-least-once delivery:
    * the epoch id rides into the index's commit marker
    * (TextIndex.lastEpoch), so a redelivered epoch that already
    * COMMITTED is skipped here (appending it twice would
    * double-count tf/df/stats — append is exact, which cuts both
    * ways); an epoch that STAGED but crashed before its marker flip
    * re-stages idempotently (dynamic-partition batch overwrite +
    * versioned artifact overwrite) and commits once. Existence is
    * the marker read, not a directory probe — a crashed half-build
    * must read as absent.
    *
    * Every epoch's append carries the count-gated auto-compaction
    * decision inside its own commit (TextIndex.appendAuto — marker-
    * read signals only; a due compaction consolidates in the same
    * write wave and marker flip): streaming appends are exactly the
    * one-file-per-batch-per-bucket small-file curve, so the stream is
    * where the OPTIMIZE trigger belongs; `maxBatches` bounds
    * batches-since-compaction (the StreamingSpec pins that a
    * mid-stream compaction changes no served byte). */
  def indexStream(docs: DataFrame, indexPath: String,
                  maxBatches: Long = 16L): StreamingQuery = {
    val appendEpoch: (DataFrame, Long) => Unit = (batch, epochId) => {
      val spark = batch.sparkSession
      val b = batch.select("doc_id", "text")
      if (!graft.sources.TextIndex.exists(spark, indexPath))
        graft.sources.TextIndex.write(b, indexPath, withVectors = false,
          epochId = epochId)
      else if (epochId > graft.sources.TextIndex.lastEpoch(spark, indexPath)) {
        // the count-gated compaction decision rides INSIDE the
        // append's commit (one write wave, one marker flip) instead
        // of a post-commit compact re-reading the batch just written
        graft.sources.TextIndex.appendAuto(b, indexPath,
          epochId = epochId, maxBatches = maxBatches): Unit
      }
      // else: an already-committed epoch redelivered — skip (replay
      // guard; the offsets checkpoint advances normally)
    }
    docs.writeStream
      .option("checkpointLocation", s"$indexPath/_checkpoints")
      .foreachBatch(appendEpoch)
      .start()
  }

  /** STREAMING index maintenance for page-UPDATE streams —
    * [[indexStream]]'s twin where arriving doc_ids may REPLACE
    * existing documents (the re-crawl path): every micro-batch runs
    * TextIndex.upsert (tombstone + fresh batch in ONE commit), so
    * the served index after any epoch is bit-equal to a batch
    * rebuild over each doc's LATEST version. Same exactly-once
    * discipline: committed epochs are skipped on redelivery via the
    * marker's epoch id, staged-but-uncommitted epochs re-stage
    * idempotently. */
  def upsertIndexStream(docs: DataFrame, indexPath: String,
                        maxBatches: Long = 16L): StreamingQuery = {
    val upsertEpoch: (DataFrame, Long) => Unit = (batch, epochId) => {
      val spark = batch.sparkSession
      val b = batch.select("doc_id", "text")
      if (!graft.sources.TextIndex.exists(spark, indexPath))
        graft.sources.TextIndex.write(b, indexPath, withVectors = false,
          epochId = epochId)
      else if (epochId > graft.sources.TextIndex.lastEpoch(spark, indexPath)) {
        // upserts also grow the TOMBSTONE list — both auto-compaction
        // signals apply, fused into the upsert's own commit
        graft.sources.TextIndex.upsertAuto(b, indexPath,
          epochId = epochId, maxBatches = maxBatches): Unit
      }
    }
    docs.writeStream
      .option("checkpointLocation", s"$indexPath/_checkpoints")
      .foreachBatch(upsertEpoch)
      .start()
  }

  /** STREAMING CDC maintenance — result_consumer.go:196-198's loop
    * as a stream, closing the c18 change classes against the
    * persisted index END TO END: each micro-batch carries crawl
    * RESULTS — (doc_id, text, metadata…) page fetches plus
    * (doc_id, NULL) delete notices; metadata columns (source, url…)
    * land in the index's `docs/` side table with every built or
    * upserted page, so store-served filters and counts see them. The
    * epoch classifies arriving pages against the
    * index's OWN stored fields (WebMeta.changeDetect on content
    * hashes, the needs_processing gate — an unchanged re-crawl
    * re-ingests NOTHING), then applies the changed/new upserts AND
    * the deletes in ONE commit (TextIndex.sync), so the
    * at-least-once replay guard covers the whole epoch — no crash
    * window where half the epoch is visible. The stored-hash lookup
    * is an id-semi-joined content read (batch-bounded, dbucket-
    * prunable), never a corpus scan. The count-gated compaction
    * decision rides inside the epoch's commit (TextIndex.syncAuto),
    * like [[indexStream]]'s; an epoch that changes nothing runs the
    * gate alone (TextIndex.maybeCompact). */
  def syncIndexStream(docs: DataFrame, indexPath: String,
                      maxBatches: Long = 16L): StreamingQuery = {
    val syncEpoch: (DataFrame, Long) => Unit = (batch, epochId) => {
      val spark = batch.sparkSession
      import spark.implicits._
      // every column rides: extra ones (source, url…) are page
      // metadata the build and the upsert persist in `docs/`; a
      // delete notice needs only its doc_id
      val b = batch
      if (!graft.sources.TextIndex.exists(spark, indexPath)) {
        // delete wins inside the epoch: a page fetched AND deleted in
        // the same first batch must not land in the fresh index (the
        // else branch gets the same semantics from sync, whose delete
        // ids tombstone the whole epoch)
        val dels0 = b.filter($"text".isNull).select($"doc_id")
        graft.sources.TextIndex.write(
          b.filter($"text".isNotNull)
            .join(dels0, Seq("doc_id"), "left_anti"),
          indexPath, withVectors = false, epochId = epochId)
      }
      else if (epochId > graft.sources.TextIndex.lastEpoch(spark, indexPath)) {
        val pages = b.filter($"text".isNotNull).localCheckpoint(true)
        val dels = b.filter($"text".isNull).select($"doc_id")
          .localCheckpoint(true)
        // batch-bounded stored-fields read: the pages' dbuckets prune
        // the content/ partitions and the id match stays a
        // distributed semi join (contentForIdSet) — never a full
        // stored-fields scan per epoch
        val stored = graft.sources.TextIndex
          .contentForIdSet(spark, indexPath, pages.select($"doc_id"))
          .select($"doc_id".cast("string").as("page_key"),
            md5($"text").as("body_hash"))
        val fresh = pages.select($"doc_id".cast("string").as("page_key"),
          md5($"text").as("body_hash"))
        val toUpsert = pages.join(
          graft.operators.WebMeta.changeDetect(fresh, stored)
            .filter($"needs_processing")
            .select($"page_key".cast("long").as("doc_id")), "doc_id")
          .localCheckpoint(true)
        // the whole epoch — upserts, deletes AND the due compaction —
        // lands as ONE commit (syncAuto); an epoch that changed
        // nothing still runs the standalone compaction check
        if (toUpsert.count() > 0 || dels.count() > 0)
          graft.sources.TextIndex.syncAuto(toUpsert, dels, indexPath,
            epochId = epochId, maxBatches = maxBatches): Unit
        else
          graft.sources.TextIndex.maybeCompact(spark, indexPath,
            maxBatches = maxBatches): Unit
      }
    }
    docs.writeStream
      .option("checkpointLocation", s"$indexPath/_checkpoints")
      .foreachBatch(syncEpoch)
      .start()
  }

  /** THE epoch driver of every ANN-store maintenance stream (the
    * replay contract is Knn's ANN-store contract): an epoch at or
    * below the store's `_epoch` marker is a re-delivered committed one
    * and is skipped; otherwise `apply` runs the epoch's mutations on
    * its (vec_id, v) batch — (vec_id, NULL) rows are delete notices —
    * the marker advances only after they landed, and `compact` runs
    * the store's count gate. Offsets checkpoint under the store's
    * `_checkpoints`. */
  private def storeStream(updates: DataFrame, path: String)(
      apply: (SparkSession, DataFrame) => Unit,
      compact: SparkSession => Boolean): StreamingQuery = {
    val epochFn: (DataFrame, Long) => Unit = (batch, epochId) => {
      val spark = batch.sparkSession
      if (epochId > Knn.storeLastEpoch(spark, path)) {
        apply(spark, batch.select("vec_id", "v"))
        Knn.writeStoreEpoch(spark, path, epochId)
        compact(spark): Unit
      }
    }
    updates.writeStream
      .option("checkpointLocation", s"$path/_checkpoints")
      .foreachBatch(epochFn)
      .start()
  }

  /** One epoch of a VECTOR store (IVF or PQ, told apart by their tier
    * lists and kernels): the first epoch with vectors BUILDS the store
    * (`build`: assign/encode + append under the up-front quantizer),
    * later ones `upsert` (remove-then-add, old cells cleaned even when
    * a vector moved), and delete notices tombstone.
    *
    * The build probe asks whether EVERY tier of the current generation
    * holds cells: a root probe would see the stream's own checkpoint
    * dir, or miss a store whose in-stream OPTIMIZE moved it to
    * `_gen_N` (appending re-embeds without the remove step), and a
    * one-tier probe would route a first build torn between its tier
    * writes into an upsert that reads the missing tier — on every
    * replay. A torn build's tiers are wiped before it re-runs (blind
    * re-append would duplicate rows); the epoch marker never advanced,
    * so the torn state is entirely this epoch's. */
  private def vectorStoreEpoch(spark: SparkSession, b: DataFrame,
                               path: String, tiers: Seq[String],
                               build: DataFrame => Unit,
                               upsert: DataFrame => Unit): Unit = {
    import spark.implicits._
    val ups = b.filter($"v".isNotNull).localCheckpoint(true)
    val dels = b.filter($"v".isNull).select($"vec_id").localCheckpoint(true)
    if (!Knn.storeBuilt(spark, path, "cid", tiers)) {
      // a delete-only first epoch builds nothing: an empty write would
      // leave a cell-less dir that wedges every later read
      if (ups.count() > 0) {
        Knn.wipeTiers(spark, path, tiers)
        build(ups)
        // a delete notice can precede the first build; the arriving
        // ids revive like an upsert's (same-batch deletes still win —
        // they re-tombstone below)
        Knn.clearIvfTombstones(spark, path, ups.select($"vec_id"))
      }
    }
    else if (ups.count() > 0) upsert(ups)
    if (dels.count() > 0) Knn.deleteFromIvfIndex(spark, path, dels)
  }

  /** STREAMING maintenance of a persisted IVF vector store —
    * [[syncIndexStream]]'s twin on the ANN tier (the reference keeps
    * Weaviate's vector index current on every re-embed; this is the
    * lakehouse form): each micro-batch carries (vec_id, v) re-embed
    * results plus (vec_id, NULL) delete notices. Fresh vectors apply
    * through Knn.upsertIvfIndex (FAISS remove-then-add under the
    * FROZEN quantizer), deletes tombstone, and the count-gated
    * auto-OPTIMIZE check runs per epoch. The first epoch against an
    * empty path BUILDS the store under the given quantizer. */
  def ivfIndexStream(vectors: DataFrame, path: String,
                     cents: Seq[Seq[Double]],
                     maxTombstones: Long = 10000L,
                     maxFilesPerCell: Double = 16.0): StreamingQuery =
    storeStream(vectors, path)(
      (spark, b) => vectorStoreEpoch(spark, b, path, Knn.IvfTiers,
        Knn.appendToIvfIndex(path, cents, _),
        Knn.upsertIvfIndex(spark, path, cents, _)),
      Knn.maybeCompactIvf(_, path, maxTombstones, maxFilesPerCell))

  /** STREAMING maintenance of the persisted PQ store —
    * [[ivfIndexStream]]'s twin on the codes tier: the quantizer pair
    * is trained and persisted UP FRONT (Knn.writePqQuantizer — the
    * FAISS train-once/add-forever contract), and every micro-batch's
    * re-embeds apply through Knn.upsertPqIndex (remove-then-add across
    * BOTH tiers), delete notices tombstone, and the count-gated
    * auto-OPTIMIZE check runs per epoch. */
  def pqIndexStream(vectors: DataFrame, path: String,
                    maxTombstones: Long = 10000L,
                    maxFilesPerCell: Double = 16.0): StreamingQuery =
    storeStream(vectors, path)(
      (spark, b) => vectorStoreEpoch(spark, b, path, Knn.PqTiers,
        Knn.appendToPqIndex(spark, path, _),
        Knn.upsertPqIndex(spark, path, _)),
      Knn.maybeCompactPq(_, path, maxTombstones, maxFilesPerCell))

  /** STREAMING maintenance of a persisted VAMANA store — the
    * FreshDiskANN freshness loop with the α-RNG kernels end to end:
    * inserts wire in through DiskANN's §4 insert
    * (Knn.insertIntoVamanaStore — walk-visited pool → RobustPrune →
    * backlink re-prune, touched buckets only), delete notices
    * consolidate through the α-RNG rule (Knn.deleteFromVamanaStore),
    * and the first epoch BUILDS from its own batch (NN-descent seed +
    * robust prune — the batch vamana recipe). It is [[nnGraphStream]]
    * with other kernels, so the serving walk over this store stays at
    * the published DiskANN operating point as the corpus churns,
    * instead of degrading toward raw top-k edges. */
  def vamanaStream(updates: DataFrame, path: String,
                   alpha: Double = 1.2, degreeCap: Int = 6,
                   poolCap: Int = 12, k: Int = 3): StreamingQuery = {
    val kernels = GraphKernels(
      prune = (g, v) =>
        Knn.robustPrune(g, v, alpha, degreeCap, poolCap).localCheckpoint(true),
      consolidate = (graphPath, dead, v) => Knn.deleteFromVamanaStore(
        dead.sparkSession, graphPath, dead, v, alpha, degreeCap, poolCap),
      insert = (graphPath, vecPath, ups) => Knn.insertIntoVamanaStore(
        ups.sparkSession, graphPath, vecPath, ups, alpha, degreeCap,
        poolCap))
    storeStream(updates, path)(
      applyGraphEpoch(_, _, path, k, kernels),
      Knn.maybeCompactNnGraph(_, s"$path/graph"))
  }

  /** STREAMING maintenance of the persisted kNN-GRAPH store plus its
    * companion vector table — FreshDiskANN's freshness loop
    * (Singh et al. 2021: StreamingMerge inserts + delete
    * consolidation over a co-located vector/adjacency store) as a
    * Structured Streaming query, completing maintenance symmetry
    * across all three serving tiers (text: indexStream/
    * upsertIndexStream/syncIndexStream; IVF: ivfIndexStream; graph:
    * this). Micro-batches carry (vec_id, v) INSERTS — new vectors
    * wire in via the incremental delta (LSH-seeded candidates +
    * neighbor-of-neighbor refinement + back-patch, only the touched
    * buckets rewrite) — and (vec_id, NULL) delete notices, applied
    * as the delete-consolidation (dirty nodes re-rank over survivors
    * ∪ bridges; dead vectors drop from the vector table). The first
    * epoch BUILDS the graph from its own batch (the NN-Descent
    * recipe), with same-batch delete notices excluded (delete wins
    * inside an epoch, like the other two tiers). Per-epoch
    * count-gated compaction.
    *
    * Replay: a crashed half-epoch replays as REMOVE-THEN-ADD —
    * arriving ids already present in the vector store (a replayed
    * half-epoch, or a re-embed) are delete-consolidated out of both
    * stores first, so the delta always computes against a graph
    * without the batch. The replayed state is a valid consolidated
    * graph (k best-available edges per node, no dangling edges, no
    * duplicates); it is NOT promised digit-equal to the uncrashed
    * application — the same contract FreshDiskANN's crash recovery
    * gives (Singh et al. 2021 §3.4: rebuild the delta from the last
    * durable snapshot). Remove-then-add is also what makes RE-EMBEDS
    * correct here: stale inbound edges scored against the old vector
    * are consolidated away rather than surviving untouched. */
  def nnGraphStream(updates: DataFrame, path: String, k: Int = 3)
      : StreamingQuery =
    storeStream(updates, path)(
      applyGraphEpoch(_, _, path, k, nnGraphKernels(k)),
      Knn.maybeCompactNnGraph(_, s"$path/graph"))

  /** The kernels that tell the graph epochs apart: `prune` turns the
    * first build's NN-descent graph into the stored one (given the
    * batch vectors), `consolidate` delete-consolidates dead ids out of
    * the edge store at the graph path against the given vectors, and
    * `insert` wires arriving vectors into the graph and vector tiers
    * at the two paths. */
  private final case class GraphKernels(
      prune: (DataFrame, DataFrame) => DataFrame,
      consolidate: (String, DataFrame, DataFrame) => Unit,
      insert: (String, String, DataFrame) => Unit)

  /** NN-descent's kernels: the descent graph stored as is, top-k
    * rerank consolidation, and the incremental delta insert. */
  private def nnGraphKernels(k: Int): GraphKernels = GraphKernels(
    prune = (g, _) => g,
    consolidate = (graphPath, dead, v) =>
      Knn.deleteFromNnGraphStore(dead.sparkSession, graphPath, dead, v, k),
    insert = (graphPath, vecPath, ups) => {
      val spark = ups.sparkSession
      import spark.implicits._
      // vectors land BEFORE the edge delta: a crash between the two
      // replays as remove-then-add (the present check sees the
      // half-applied ids), never as a second delta over an
      // already-patched graph
      Knn.upsertNnVecStore(spark, vecPath, ups)
      // the checkpoint is a CACHE-ISOLATION boundary, not a lineage
      // fix: the delta kernels persist their vector side, and a
      // persisted raw file-relation of this MUTABLE path would
      // plan-match a later epoch's fresh read onto the stale file
      // listing (reading bucket files a later delete removed)
      val all = Knn.readNnVecStore(spark, vecPath).localCheckpoint(true)
      val delta = Knn.appendToNnGraphDelta(
        Knn.readNnGraphStore(spark, graphPath), all, ups.select($"vec_id"), k)
      Knn.upsertNnGraphStore(spark, graphPath, delta.localCheckpoint(true))
    })

  /** One graph-store epoch's mutations — the body of
    * [[nnGraphStream]], [[vamanaStream]] and [[graphPqStream]]: stage
    * the batch, build-or-patch the co-located graph + vector tiers
    * with `kernels`, physical deletes with consolidation. Runs under
    * Caches.scoped: the descent/delta kernels persist their vector
    * side per call, and without a per-epoch release a long-running
    * stream would pin one vector-table copy per epoch.
    *
    * `codesUpsert`/`codesDelete`: a caller co-maintaining a CODES
    * tier passes its mutations here so they run as a CONCURRENT job
    * next to the graph/vector chain of the same phase (the codes
    * tier reads only the staged batch + its own directory — disjoint
    * from the consolidation's graph/vector reads). The epoch marker
    * still flips only after every tier landed (Par waits for all),
    * and a crashed half-epoch still replays remove-then-add across
    * all three tiers: the codes upsert REPLACES rows and the codes
    * delete is idempotent, so tier landing ORDER within the epoch is
    * free. */
  private def applyGraphEpoch(spark: SparkSession, b: DataFrame,
                              path: String, k: Int, kernels: GraphKernels,
                              codesUpsert: Option[DataFrame => Unit] = None,
                              codesDelete: Option[DataFrame => Unit] = None)
      : Unit = graft.Caches.scoped {
    import spark.implicits._
    val graphPath = s"$path/graph"
    val vecPath = s"$path/vectors"
    // run `chain` (the graph/vector mutations of one phase) with the
    // caller's codes-tier task overlapped as a concurrent job
    def withCodes(hook: Option[DataFrame => Unit], arg: DataFrame)
                 (chain: => Unit): Unit = hook match {
      case Some(h) => graft.Par.run(Seq(() => chain, () => h(arg)))
      case None => chain
    }
    // the insert batch STAGES to parquet and is read back: the graph
    // kernels union branches derived from one source, and Spark's
    // Union constraint rewrite mis-maps in-memory
    // (LocalRelation/LogicalRDD) lineage there ("key not found:
    // vec_id") while file relations are fine — and a staged epoch
    // batch is what a deployment has anyway
    val delsRaw = b.filter($"v".isNull).select($"vec_id")
    // delete wins inside an epoch: a vector inserted AND deleted in
    // the same batch never enters the stores (and an existing copy
    // still deletes below) — applied at staging so BOTH branches read
    // the file-backed, already-filtered batch
    b.filter($"v".isNotNull)
      .join(delsRaw, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$path/_stage/ups")
    val ups = spark.read.parquet(s"$path/_stage/ups")
    val dels = delsRaw.localCheckpoint(true)
    // generation-aware data probe: after the stream's own compaction
    // commits a `_gen_N` layout the graph ROOT has no nbucket=
    // children, and the build branch's static overwrite would replace
    // the whole store with just this micro-batch
    if (!Knn.storeBuilt(spark, graphPath, "nbucket", Seq(""))) {
      // delete notices against a store that doesn't exist yet are
      // no-ops (graph deletes are physical — there is nothing to hide
      // behind); a delete-only first epoch just advances the marker
      if (ups.count() > 0) withCodes(codesUpsert, ups) {
        val vecs = ups.select($"vec_id", $"v")
        val init = Knn.knnJoinOf(ups, tables = 4, bits = 6, k = k,
          bucketCap = 256).select($"q_id", $"vec_id")
        val (g, _) = Knn.nnDescentBuild(vecs, init, k, maxRounds = 2)
        val graph = kernels.prune(g.localCheckpoint(true), vecs)
        // vectors FIRST: the build probe is on the graph dir, so a
        // crash between the writes replays into the build branch
        // (graph absent) and rewrites both; graph-first would replay
        // into the else branch and read a vector store never written
        Knn.writeNnVecStore(ups, vecPath)
        Knn.writeNnGraphStore(graph, graphPath)
      }
    } else {
      if (ups.count() > 0) withCodes(codesUpsert, ups) {
        // REMOVE-THEN-ADD (the replay/re-embed contract): arriving ids
        // already present consolidate out first
        val stored = Knn.readNnVecStore(spark, vecPath)
        val present = stored
          .join(ups.select($"vec_id"), Seq("vec_id"), "left_semi")
          .select($"vec_id").localCheckpoint(true)
        if (present.count() > 0) {
          kernels.consolidate(graphPath, present, stored)
          Knn.deleteFromNnVecStore(spark, vecPath, present)
        }
        kernels.insert(graphPath, vecPath, ups)
      }
      if (dels.count() > 0) withCodes(codesDelete, dels) {
        // ordered: the consolidation READS the vector store, so the
        // vector delete must follow it — the codes-tier delete
        // (disjoint directory) overlaps both
        kernels.consolidate(graphPath, dels, Knn.readNnVecStore(spark, vecPath))
        Knn.deleteFromNnVecStore(spark, vecPath, dels)
      }
    }
    // every tier landed: the staged batch is spent
    val stage = new org.apache.hadoop.fs.Path(s"$path/_stage")
    stage.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(stage, true): Unit
  }

  /** STREAMING maintenance of the persisted GRAPH+PQ serving tier —
    * [[nnGraphStream]] extended to the DiskANN disk layout proper
    * (a30's store: edges + vectors + PQ codes co-located): every
    * epoch's graph/vector mutations apply through the shared
    * [[applyGraphEpoch]], and the SAME staged batch maintains the
    * codes tier — arriving vectors re-encode under the store's
    * frozen codebooks and replace their old code rows
    * (Knn.upsertGraphPqCodes), delete notices drop code rows
    * physically (Knn.deleteGraphPqCodes). The quantizer trains and
    * persists UP FRONT (Knn.writeGraphPqQuantizer — FAISS's
    * train-once/add-forever). Reference anchor: the reference
    * delegates index freshness to Weaviate's vector store
    * (store.go:105); this is that loop on the DiskANN layout (Singh et
    * al. 2021, FreshDiskANN). */
  def graphPqStream(updates: DataFrame, path: String, k: Int = 3)
      : StreamingQuery =
    storeStream(updates, path)(
      (spark, b) => applyGraphEpoch(spark, b, path, k, nnGraphKernels(k),
        codesUpsert = Some(Knn.upsertGraphPqCodes(spark, path, _)),
        codesDelete = Some(Knn.deleteGraphPqCodes(spark, path, _))),
      Knn.maybeCompactNnGraph(_, s"$path/graph"))

  /** Start the ingestion stream into `storePath` (chunks under
    * /chunks partitioned by source, offsets under /_checkpoints). */
  def ingest(docs: DataFrame, storePath: String, maxTokens: Int = 64,
             clean: Boolean = true): StreamingQuery = {
    val writeEpoch: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.mode("append").partitionBy("source")
        .parquet(s"$storePath/chunks")
    chunkAndEmbed(docs, maxTokens, clean = clean)
      .writeStream
      .option("checkpointLocation", s"$storePath/_checkpoints")
      .foreachBatch(writeEpoch)
      .start()
  }
}
