package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{VectorFunctions => V}

/** Similarity search over the `embeddings` table (SURVEY.md §2.E) —
  * the batch ANN side of qurio's vector retrieval
  * (apps/backend/internal/retrieval/service.go:93-101 embeds the
  * query then asks the store for nearest chunks).
  *
  * Scale design:
  *  - brute force (a1): query side is small -> broadcast; base side
  *    streams through codegen, per-partition top-k via window after
  *    hashing on q_id. Exact, O(|Q| * n), the recall baseline.
  *  - LSH (a2): 16 random-hyperplane bits -> bucket join; only
  *    same-bucket candidates are scored. Sub-linear probes, recall
  *    depends on bucket granularity.
  *  - IVF (a3): coarse quantizer = per-label centroids (at scale a
  *    k-means fit); queries probe nprobe nearest cells and score only
  *    those cells' vectors.
  */
object Knn {

  private def base(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", V.asDouble($"embedding").as("v"))
  }

  /** Exact top-5 neighbors for each of the first 10 vectors.
    * Ranking uses the raw (unrounded) cosine so Spark and the oracle
    * rank identical doubles; output rounds for hash-robustness. */
  def a1BruteForce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = base(spark, dir)
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    all.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Random-hyperplane LSH, multi-table: 16 tables x 4 bits. Bit
    * (t,p) = sign(sum_d w_{t,p,d} * v_d) with deterministic +-1
    * weights from xxhash64(plane*64+d). A pair is a candidate if ANY
    * table bucket matches (P(bit)=1-theta/pi, so 4-bit/16-table
    * recalls ~0.9 of cosine>=0.4 neighbors); candidates are scored
    * exactly and top-5 kept. At scale the bucket join shuffles on
    * (table, sig) — never all-pairs. */
  def a2Lsh(spark: SparkSession, dir: String): DataFrame =
    lshKnn(spark, dir, tables = 24, bits = 4, k = 5)

  /** Recall-tunable hyperplane LSH: `tables` independent hash tables
    * of `bits` bits each. Per-bit match probability is 1 - theta/pi,
    * so recall for a neighbor at angle theta is
    * 1 - (1 - (1-theta/pi)^bits)^tables — more tables buys recall
    * (more candidates, more shuffle volume), more bits buys
    * precision (smaller buckets). The serving knobs of every
    * production ANN index, exposed as plain parameters; the bucket
    * join shuffles on (table, sig) and never goes all-pairs at any
    * setting. */
  def lshKnn(spark: SparkSession, dir: String, tables: Int, bits: Int,
             k: Int): DataFrame = {
    import spark.implicits._
    val sigs = expr(s"hyperplane_sig(v, $tables, $bits)")
    val all = base(spark, dir).withColumn("sigs", sigs)
    val buckets = all
      .select($"vec_id", $"v", posexplode($"sigs"))
      .select($"vec_id", $"v", $"pos".as("tbl"), $"col".as("sig"))
    val qBuckets = buckets.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"tbl", $"sig")
    val candidates = buckets.as("b")
      .join(broadcast(qBuckets).as("q"),
            $"b.tbl" === $"q.tbl" && $"b.sig" === $"q.sig" && $"b.vec_id" =!= $"q.q_id")
      .select($"q.q_id".as("q_id"), $"q.qv".as("qv"), $"b.vec_id".as("vec_id"), $"b.v".as("v"))
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    candidates
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a10: MULTI-PROBE hyperplane LSH — the memory-side of the
    * recall/cost dial: a2 buys recall with MORE TABLES (each table
    * is another full copy of the bucket index — at 100 TB, index
    * bytes scale linearly with tables), multi-probe buys it by
    * PROBING MORE BUCKETS of ONE table. A missed neighbor usually
    * differs in exactly one hyperplane bit (per-bit disagreement
    * probability theta/pi is small for near vectors), so the query
    * probes its exact bucket plus every 1-bit flip — bits+1 probes —
    * and the single index stays resident. Probe fan-out rides the
    * tiny broadcast query side; the data side is scanned once with
    * one signature per vector. Exact cosine rerank on the candidate
    * union, top-k on the TopKPerKey window. */
  def a10MultiprobeLsh(spark: SparkSession, dir: String, bits: Int = 8,
                       k: Int = 5): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = base(spark, dir)
      .withColumn("sig", element_at(expr(s"hyperplane_sig(v, 1, $bits)"), 1))
    val flips = Seq($"sig") ++
      (0 until bits).map(j => $"sig".bitwiseXOR(lit(1L << j)))
    val qProbes = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"),
        explode(array(flips: _*)).as("psig"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    all.select($"vec_id", $"v", $"sig")
      .join(broadcast(qProbes),
        $"sig" === $"psig" && $"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a11: IVF+PQ with RESIDUAL encoding — the FAISS IndexIVFPQ
    * composition, and the layout real billion-vector deployments
    * run: the coarse quantizer (the session's TRAINED k=8 IVF
    * centroids — train once, serve everywhere) splits the corpus
    * into cells, and PQ encodes each vector's RESIDUAL v − c(cell)
    * rather than v itself. Residuals matter: within a cell the
    * vectors share the centroid's direction, so the residual cloud
    * is tighter than the raw cloud and the same 4-byte code carries
    * more precision. Serving: probe nprobe=2 cells (broadcast
    * centroid scores), subtract the PROBED cell's centroid from the
    * query (ADC must compare residuals against residuals of the
    * same cell), asymmetric-distance scan of only the probed cells'
    * codes, exact rerank of the top-20. Codebooks are sampled
    * residual seeds (a6's build; a7's pqFit is the trained
    * upgrade); encode and ADC run as the pq_encode/pq_adc codegen
    * kernels; the whole chain — Lloyd loop, residuals, encode, ADC,
    * rerank — unrolls in the DuckDB oracle. */
  def a11IvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = 8; val sub = 8; val kb = 16; val nprobe = 2
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(base(spark, dir))
    val cents = ivfCentroids(spark, dir, all)
    val centMat = typedLit(cents)
    val withRes = assign(all, cents)
      .withColumn("r", zip_with($"v", element_at(centMat, $"cid" + 1),
        (a, b) => a - b))
    val seeds: Seq[Seq[Double]] = withRes.orderBy($"vec_id").limit(kb)
      .select($"r").as[Seq[Double]].collect().toSeq
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub))
    }
    val bookMat = typedLit(books)
    val coded = withRes.withColumn("code",
      call_function("pq_encode", $"r", bookMat))
    // probe: nprobe best cells per query through the shared
    // probedCells block (same tie-break as ivfServe / the a4 oracle)
    val probed = probedCells(all.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"v".as("qv")), cents, nprobe)
      .withColumn("rq", zip_with($"qv", element_at(centMat, $"cid" + 1),
        (a, b) => a - b))
    val wA = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    coded.join(broadcast(probed), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", call_function("pq_adc", $"rq", $"code", bookMat))
      .withColumn("qrnk", row_number().over(wA))
      .filter($"qrnk" <= 20)
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a9: ALL-PAIRS kNN-graph build — every vector gets its top-k
    * neighbors (the batch op behind semantic clustering, SemDeDup
    * cell seeding, and link-prediction features), where a1-a8 serve
    * a small query set. Candidate generation is the hyperplane-LSH
    * bucket self-join — never N² — with THREE scale guards:
    * (1) the join carries ids only (vectors fetched by two hash
    * joins after dedup — carrying v through an 8-table bucket join
    * would multiply vector bytes by table count in the shuffle);
    * (2) buckets beyond `bucketCap` are dropped BEFORE the self-join
    * (the d4 mega-bucket guard, mirrored in the oracle so both
    * engines skip the same buckets); (3) top-k rides the raw-cosine
    * window the TopKPerKey rewrite turns into partial heaps. */
  def a9KnnJoin(spark: SparkSession, dir: String, tables: Int = 8,
                bits: Int = 6, k: Int = 3, bucketCap: Int = 256): DataFrame =
    knnJoinOf(base(spark, dir), tables, bits, k, bucketCap)

  /** The a9 core over any (vec_id, v array<double>) frame. */
  def knnJoinOf(vectors: DataFrame, tables: Int = 8, bits: Int = 6,
                k: Int = 3, bucketCap: Int = 256): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(vectors
      .withColumn("sigs", expr(s"hyperplane_sig(v, $tables, $bits)")))
    val buckets = all
      .select($"vec_id", posexplode($"sigs"))
      .select($"vec_id", $"pos".as("tbl"), $"col".as("sig"))
    val wB = Window.partitionBy($"tbl", $"sig")
    val capped = buckets
      .withColumn("bcnt", count(lit(1)).over(wB))
      .filter($"bcnt" <= bucketCap)
      .select($"vec_id", $"tbl", $"sig")
    val cand = capped.as("a")
      .join(capped.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.sig" === $"b.sig" &&
          $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("q_id"), $"b.vec_id".as("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val vecs = all.select($"vec_id", $"v")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cand
      .join(vecs.select($"vec_id".as("q_id"), $"v".as("qv")), "q_id")
      .join(vecs, "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-dimension centroid means with a DETERMINISTIC accumulation
    * order: explode dims, then an ordered-frame window sum over
    * members sorted by vec_id. A plain groupBy+avg folds in partition
    * arrival order (nondeterministic doubles across runs/engines);
    * the ordered frame makes the sum a strict left fold the DuckDB
    * oracle reproduces with list_reduce(list(val ORDER BY vec_id)) —
    * same trick as c5's L2 norm. One shuffle either way. */
  private def orderedCentroids(exploded: DataFrame, key: String): DataFrame = {
    import exploded.sparkSession.implicits._
    val wSum = Window.partitionBy(col(key), $"pos").orderBy($"vec_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wFirst = Window.partitionBy(col(key), $"pos").orderBy($"vec_id")
    exploded
      .withColumn("c", sum($"col").over(wSum) / count(lit(1)).over(wSum))
      .withColumn("rn", row_number().over(wFirst))
      .filter($"rn" === 1)
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct($"pos", $"c"))).as("pc"))
      .select(col(key), transform($"pc", p => p("c")).as("cv"))
  }

  /** IVF: per-label centroids as the coarse quantizer; each query
    * probes its nprobe=3 nearest cells and scores only those cells. */
  def a3Ivf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persist (tracked; released post-action): the cast-to-double
    // embedding view feeds the centroid build, the query probe, and
    // the cell-scoring join
    val all = graft.Caches.persist(base(spark, dir))
    val centroids = orderedCentroids(
        all.select($"vec_id", $"label", posexplode($"v")), "label")
      .select($"label".as("c_label"), $"cv")
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    // probe: top-3 centroids per query by cosine
    val wProbe = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"c_label")
    val probed = queries.crossJoin(broadcast(centroids))
      .select($"q_id", $"qv", $"c_label", V.cosineD($"qv", $"cv").as("c_cos"))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter($"p_rnk" <= 3)
      .select($"q_id", $"qv", $"c_label")
    // exact scoring inside probed cells only
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    all.join(broadcast(probed), $"label" === $"c_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Lloyd's k-means over an embedding DataFrame (vec_id, v) — the
    * IVF coarse-quantizer BUILD step a3's label shortcut stands in
    * for. Spherical variant: assignment by cosine (scale-invariant,
    * so mean centroids need no re-normalization). Deterministic init
    * (first k vectors by id). Centroids are collected to the driver
    * each iteration and re-broadcast as literals — k·dims doubles,
    * the same loop shape MLlib uses — which keeps the per-iteration
    * lineage flat (no exponential lazy-plan growth) and assignment a
    * ZERO-join map: scores against the centroid array literal via the
    * cosine kernel, argmax in-row. One shuffle per iteration (the
    * per-dimension centroid average). */
  def kmeansFit(vectors: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    import vectors.sparkSession.implicits._
    var cents: Seq[Seq[Double]] = vectors.orderBy($"vec_id").limit(k)
      .select($"v").as[Seq[Double]].collect().toSeq
    for (_ <- 1 to iters) {
      val assigned = assign(vectors, cents)
      // collect (cid, cv) PAIRS, not a positional list: if a cluster
      // empties during an iteration its slot keeps the previous
      // centroid instead of silently compacting ids — cid semantics
      // stay stable across iterations (and vs the oracle's
      // label-preserving CTE replay)
      val updated = orderedCentroids(
          assigned.select($"vec_id", $"cid", posexplode($"v")), "cid")
        .select($"cid".cast("int"), $"cv").as[(Int, Seq[Double])].collect().toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Plan-size budget in DOUBLES (k·dims) above which a centroid
    * matrix travels to executors as a broadcast variable instead of
    * a plan literal. Small quantizers (a4's k=8, the shared k=64 at
    * 64 dims = 4096 doubles) stay literal — cheapest, folded once at
    * codegen. A 100 TB-scale coarse quantizer (k in the tens of
    * thousands) as a literal blows up analyzed-plan size, plan
    * serialization, and constant-folding time; above the budget the
    * plan carries only a broadcast HANDLE and executors pull the
    * matrix once via torrent blocks. Both paths score with the
    * identical sequential fold, so results are bit-equal
    * (PlanAuditSpec asserts the large-k plan carries no literals). */
  private[graft] val LiteralCentroidBudget = 8192

  private val bcHandles = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Seq[Seq[Double]]), java.lang.Long]()

  private def bcHandle(spark: SparkSession, cents: Seq[Seq[Double]]): Long =
    bcHandles.computeIfAbsent((spark, cents),
      _ => graft.plans.CentroidBroadcasts.register(spark, cents)).longValue()

  private def centroidDoubles(cents: Seq[Seq[Double]]): Int =
    cents.length * (if (cents.isEmpty) 0 else cents.head.length)

  /** argmax-cosine centroid id for `v` — literal matrix below
    * [[LiteralCentroidBudget]], broadcast handle above it. */
  private[graft] def nearestCentroidCol(spark: SparkSession, v: Column,
                                        cents: Seq[Seq[Double]]): Column = {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    if (centroidDoubles(cents) <= LiteralCentroidBudget)
      call_function("nearest_centroid", v, typedLit(cents))
    else
      call_function("nearest_centroid_bc", v, lit(bcHandle(spark, cents)))
  }

  /** Per-centroid cosine scores (array<double>, element j bit-equal
    * to CosineSim(qv, cents(j))) for the probe side — same
    * literal-vs-broadcast switch as [[nearestCentroidCol]]. */
  private[graft] def centroidScoresCol(spark: SparkSession, qv: Column,
                                       cents: Seq[Seq[Double]]): Column = {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    if (centroidDoubles(cents) <= LiteralCentroidBudget)
      transform(array(cents.map(c => array(c.map(lit): _*)): _*),
        c => V.cosineD(qv, c))
    else
      call_function("centroid_scores_bc", qv, lit(bcHandle(spark, cents)))
  }

  /** The (−score, index) struct every probe site sorts ASCENDING —
    * one definition so the ranking can't drift from [[assign]]'s
    * first-max argmax (score desc, index ASC on ties), INCLUDING the
    * NaN edge: NearestCentroid orders NaN greatest (a NaN-scoring
    * centroid wins assignment), but −NaN is still NaN and would sort
    * LAST ascending — so a NaN score maps to −∞ and ranks first,
    * exactly where the rows landed. */
  private[graft] def probeKey(s: Column, i: Column): Column =
    struct(when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s)
      .as("s"), i.as("i"))

  /** Nearest-centroid assignment: adds a `cid` column, no join, no
    * shuffle. Shared with d7's semantic dedup, whose blocking
    * structure is this same trained quantizer. */
  private[graft] def assign(vectors: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    import vectors.sparkSession.implicits._
    // nearest_centroid = one codegen loop over the centroid matrix
    // (per-centroid cosine with CosineSim's exact fold, first-max
    // argmax like array_position-on-array_max) — the transform()
    // HOF it replaces ran k interpreted cosine calls per row per
    // Lloyd iteration, the bulk of the _model_training bench line
    vectors.withColumn("cid",
      nearestCentroidCol(vectors.sparkSession, $"v", cents))
  }

  /** The session's trained IVF coarse quantizer (a4): memoized per
    * (session, corpus) via [[graft.TrainedModels]]. */
  private[graft] def ivfCentroids(spark: SparkSession, dir: String,
                                  all: DataFrame): Seq[Seq[Double]] =
    graft.TrainedModels.memo(spark, s"kmeans:$dir:k=8:it=3") {
      kmeansFit(all, k = 8, iters = 3)
    }

  /** The session's trained PQ codebooks (a7): memoized per
    * (session, corpus). */
  private[graft] def pqBooks(spark: SparkSession, dir: String,
                             all: DataFrame): Seq[Seq[Seq[Double]]] =
    graft.TrainedModels.memo(spark, s"pq:$dir:m=8:sub=8:k=16:it=2") {
      pqFit(all, m = 8, sub = 8, k = 16, iters = 2)
    }

  /** Index-build pass: train every serving-path model for this
    * corpus (IVF centroids + PQ codebooks) into the session cache.
    * Bench bills this as its own `_model_training` line — the same
    * honest accounting as the shared shingle scan: a deployment
    * builds its index once and serves many queries against it. */
  def trainServingModels(spark: SparkSession, dir: String): Unit = {
    val all = graft.Caches.persist(base(spark, dir))
    ivfCentroids(spark, dir, all)
    pqBooks(spark, dir, all)
    opqModel(spark, dir, all)
    // release only this chain's scan — a global releaseAll here
    // would unpersist caches a CONCURRENT trainer (Bench overlaps
    // the four model-training chains) is still iterating over
    all.unpersist(false): Unit
  }

  /** a4: IVF with a real k-means coarse quantizer (k=8 cells, 3 Lloyd
    * iterations), nprobe=2, exact rerank inside probed cells. The
    * cluster build is the index-construction phase; the probe+rerank
    * is the serving phase — at scale the assignment DataFrame is the
    * persisted index, partitioned by cid. */
  def a4IvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    // train-once/serve-many: the coarse quantizer is the session's
    // index-build artifact, shared by every query on this corpus
    val cents = ivfCentroids(spark, dir, all)
    ivfServe(assign(all, cents), cents, nprobe = 2)
  }

  /** The ONE probe block every IVF-tier serve uses: nprobe nearest
    * cells per query row through the shared probe key — (−score,
    * index) ascending = score desc, index ASC on ties, the first-max
    * tie-break assign() lands rows with (NaN-aligned via probeKey),
    * so a probe of a tied/duplicated centroid reads the populated
    * cell. Keeps every query column and adds `cid`, one row per
    * probed cell. Centralized so the tie-break/NaN discipline can
    * never drift between the serving paths the specs pin bit-equal
    * (the r13 alignment fix touched five copies of this block). */
  private[graft] def probedCells(queries: DataFrame,
                                 cents: Seq[Seq[Double]],
                                 nprobe: Int): DataFrame = {
    import queries.sparkSession.implicits._
    queries
      .withColumn("__scores",
        centroidScoresCol(queries.sparkSession, $"qv", cents))
      .withColumn("probe", slice(array_sort(zip_with($"__scores",
        sequence(lit(0), lit(cents.length - 1)),
        (s, i) => probeKey(s, i))), 1,
        math.min(nprobe, cents.length)))
      .withColumn("cid", explode($"probe.i"))
      .drop("__scores", "probe")
  }

  /** The IVF serving phase over any assigned cell index: probe the
    * top-`nprobe` centroids per query against the centroid literals,
    * exact-rerank inside the probed cells. Shared by a4 (k=8) and
    * a8 (the k=64 quantizer d7 trains). */
  private def ivfServe(cells: DataFrame, cents: Seq[Seq[Double]],
                       nprobe: Int): DataFrame = {
    import cells.sparkSession.implicits._
    val queries = cells.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val probed = probedCells(queries, cents, nprobe)
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cells.join(broadcast(probed), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** THE ANN-STORE CONTRACT. The five persisted ANN stores (IVF, PQ,
    * NN-graph, Vamana, graph+PQ) share one on-disk discipline and
    * mutate only through the private primitives that follow this
    * block; the public store functions are each one call into them.
    *
    *  - LAYOUT: a store is one or more TIERS of parquet, each
    *    partitioned by one column: `cid=` cells (IVF at its data root;
    *    PQ's `codes/` + `vectors/`), `nbucket=` edge buckets (a graph
    *    store's edge tier) or `vbucket=` id buckets (the graph stores'
    *    companion vector and codes tables). A mutation rewrites only
    *    the partitions it touches ([[rewriteParts]], [[replaceRows]]).
    *  - TOMBSTONES: `_tombstones` (vec_id rows) is the IVF/PQ
    *    logical-delete list — FAISS's remove_ids for the disk layout:
    *    a delete is one tiny write, every serve anti-joins the list,
    *    and upsert/compact/optimize are where rows physically leave.
    *    [[ivfTombstones]] is its one reader, [[writeTombstones]] its
    *    one writer. The graph stores delete physically and keep none.
    *  - GENERATIONS: a full-layout rewrite ([[optimizeStore]]) stages
    *    the whole store under `_gen_{N+1}[/tier]` (an underscore dir,
    *    so partition discovery on the live root never sees it) and
    *    flips the ONE `_gen` marker: a crash at any earlier point
    *    leaves readers on generation N, the torn staging invisible.
    *    Generation 0 (no marker) keeps its data at the store root, so
    *    IVF's generation-0 data root also holds `_tombstones`,
    *    `_epoch` and a stream's `_checkpoints` — nothing may wipe it.
    *    Incremental mutations stay in place within the current
    *    generation ([[storeDataDir]]).
    *  - EPOCH MARKER: `_epoch` is the highest streaming epoch folded
    *    in ([[storeLastEpoch]]), written AFTER the epoch's mutations
    *    landed ([[writeStoreEpoch]], via [[graft.sources.Markers]]).
    *  - REPLAY: at-least-once delivery re-runs epochs. A re-delivered
    *    COMMITTED epoch is skipped on the marker; a crashed half-epoch
    *    re-runs, and converges because every mutation is
    *    remove-then-add (an upsert first drops the arriving ids' old
    *    rows, wherever they sit) and a delete is idempotent. The
    *    maintenance streams share one driver,
    *    graft.streaming.IngestStream's `storeStream`. */
  private[graft] def storeGen(spark: SparkSession, path: String): Long =
    graft.sources.Markers.read(spark, s"$path/_gen")
      .map(_.trim.toLong).getOrElse(0L)

  /** The data root of the store's CURRENT generation. */
  private[graft] def storeDataDir(spark: SparkSession,
                                  path: String): String = {
    val g = storeGen(spark, path)
    if (g == 0L) path else s"$path/_gen_$g"
  }

  /** Tier lists of the two vector stores, relative to the current
    * generation's data root ("" is that root itself). */
  private[graft] val IvfTiers = Seq("")
  private[graft] val PqTiers = Seq("codes", "vectors")

  private def tierDirs(spark: SparkSession, path: String,
                       tiers: Seq[String]): Seq[String] = {
    val d = storeDataDir(spark, path)
    tiers.map(t => if (t.isEmpty) d else s"$d/$t")
  }

  private def fsOf(spark: SparkSession,
                   dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Whether `dir` holds `part=` partitions — a data probe, not an
    * existence probe: a stream's checkpoint creates the store root
    * before its first batch, and an empty write leaves a
    * `_SUCCESS`-only directory that would wedge every later read. */
  private def hasParts(spark: SparkSession, dir: String,
                       part: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$part="))
  }

  /** Whether EVERY tier of the current generation holds partitions —
    * the maintenance streams' build probe. A store with one tier
    * landed and another missing (a first build torn between its tier
    * writes) reads as unbuilt. */
  private[graft] def storeBuilt(spark: SparkSession, path: String,
                                part: String, tiers: Seq[String]): Boolean =
    tierDirs(spark, path, tiers).forall(hasParts(spark, _, part))

  /** Delete the NAMED tiers of the current generation — a torn first
    * build's leftovers. Never the data root (""): see the contract. */
  private[graft] def wipeTiers(spark: SparkSession, path: String,
                               tiers: Seq[String]): Unit =
    tierDirs(spark, path, tiers).zip(tiers).foreach { case (d, t) =>
      if (t.nonEmpty)
        fsOf(spark, d).delete(new org.apache.hadoop.fs.Path(d), true): Unit
    }

  /** The logical-delete list (empty when absent). */
  private def ivfTombstones(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val t = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    if (fsOf(spark, path).exists(t)) spark.read.parquet(s"$path/_tombstones")
    else Seq.empty[Long].toDF("vec_id")
  }

  /** The three edits of the tombstone list: add ids (a delete), remove
    * ids (an upsert or a first build re-adding them), or empty it
    * (after its ids left physically). */
  private sealed trait TombstoneEdit
  private final case class Bury(ids: DataFrame) extends TombstoneEdit
  private final case class Revive(ids: DataFrame) extends TombstoneEdit
  private case object ResetTombstones extends TombstoneEdit

  /** The ONE `_tombstones` writer. Revive and reset of an absent list
    * write nothing (there is nothing to remove); the localCheckpoint
    * breaks the read→overwrite cycle on the list. */
  private def writeTombstones(spark: SparkSession, path: String,
                              edit: TombstoneEdit): Unit = {
    import spark.implicits._
    val t = s"$path/_tombstones"
    val exists = fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(t))
    val next = edit match {
      case Bury(ids) => Some(ivfTombstones(spark, path)
        .unionByName(ids.select($"vec_id")).distinct().localCheckpoint(true))
      case Revive(ids) if exists => Some(ivfTombstones(spark, path)
        .join(broadcast(ids.select($"vec_id")), Seq("vec_id"), "left_anti")
        .localCheckpoint(true))
      case ResetTombstones if exists => Some(Seq.empty[Long].toDF("vec_id"))
      case _ => None
    }
    next.foreach(_.write.mode("overwrite").parquet(t))
  }

  /** Highest streaming epoch folded into the store (−1 when never
    * stream-maintained) — the replay guard of the contract. */
  def storeLastEpoch(spark: SparkSession, path: String): Long =
    graft.sources.Markers.read(spark, s"$path/_epoch")
      .map(_.toLong).getOrElse(-1L)

  /** Record the epoch AFTER its mutations landed. */
  def writeStoreEpoch(spark: SparkSession, path: String, e: Long): Unit =
    graft.sources.Markers.write(spark, s"$path/_epoch", e.toString,
      "ANN-store epoch marker")

  /** Distinct values of `c` over `df`, as longs (partition values are
    * discovered as ints or longs depending on their range). */
  private def partsOf(df: DataFrame, c: Column): Seq[Long] =
    df.select(c.cast("long")).distinct().collect().map(_.getLong(0)).toSeq

  private def bucketOf(id: Column): Column =
    pmod(id, lit(GraphBuckets.toLong))

  /** THE partition rewrite: the `touched` partitions of `dir` become
    * `kept` through a dynamic overwrite (every other partition stays
    * untouched on disk), and a touched partition that `kept` leaves
    * EMPTY is dropped explicitly — dynamic overwrite only replaces
    * partitions present in the written data, so its old files would
    * otherwise survive (resurrecting deletes once a tombstone list
    * clears). Driver state: ≤ |touched| partition values. */
  private def rewriteParts(spark: SparkSession, dir: String, part: String,
                           touched: Seq[Long], kept: DataFrame): Unit = {
    if (touched.isEmpty) return
    // kept usually reads `dir` itself: materialize before overwriting
    val k = kept.localCheckpoint(true)
    k.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(part).parquet(dir)
    val fs = fsOf(spark, dir)
    (touched.toSet -- partsOf(k, col(part))).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$part=$b"), true): Unit
    }
  }

  /** Inside the `touched` partitions of `dir`, every row whose `key`
    * is in `keys` leaves and `add`'s rows land: a delete (no `add`)
    * or a survivors-plus-delta upsert (`keys` = the delta's own
    * keys). A table with no partitions yet takes `add` as its first
    * write. */
  private def replaceRows(spark: SparkSession, dir: String, part: String,
                          key: String, touched: Seq[Long], keys: DataFrame,
                          add: Option[DataFrame] = None): Unit = {
    val survivors =
      if (!hasParts(spark, dir, part)) None
      else Some(spark.read.parquet(dir).filter(col(part).isin(touched: _*))
        .join(broadcast(keys.select(key).distinct()), Seq(key), "left_anti"))
    (add ++ survivors)
      .reduceOption((a, s) => a.unionByName(s.select(a.columns.map(col): _*)))
      .foreach(rewriteParts(spark, dir, part, touched, _))
  }

  /** Physically drop `ids` from each cid-partitioned tier directory:
    * only the cells holding them — found by an id join, since a
    * changed vector's old copy may sit in a DIFFERENT cell than its
    * new one — rewrite. */
  private def dropFromCells(spark: SparkSession, dirs: Seq[String],
                            ids: DataFrame): Unit =
    dirs.foreach { dir =>
      val touched = partsOf(spark.read.parquet(dir)
        .join(broadcast(ids), Seq("vec_id"), "left_semi"), col("cid"))
      replaceRows(spark, dir, "cid", "vec_id", touched, ids)
    }

  /** UPSERT into a vector store (IVF or PQ): the batch ids' old rows
    * leave every tier, their tombstones revive, and `append` adds the
    * new rows under the FROZEN quantizer — remove-then-add. */
  private def upsertVectorStore(spark: SparkSession, path: String,
                                tiers: Seq[String], vectors: DataFrame,
                                append: DataFrame => Unit): Unit = {
    import spark.implicits._
    val ids = vectors.select($"vec_id").distinct().localCheckpoint(true)
    dropFromCells(spark, tierDirs(spark, path, tiers), ids)
    writeTombstones(spark, path, Revive(ids))
    append(vectors.select($"vec_id", $"v"))
  }

  /** COMPACT a vector store: tombstoned rows leave the cells that hold
    * them (cell-scoped, every tier), then the list empties. Serving
    * is identical before and after; the anti-join just gets cheaper. */
  private def compactVectorStore(spark: SparkSession, path: String,
                                 tiers: Seq[String]): Unit = {
    val tomb = ivfTombstones(spark, path).localCheckpoint(true)
    dropFromCells(spark, tierDirs(spark, path, tiers), tomb)
    writeTombstones(spark, path, ResetTombstones)
  }

  /** THE generation commit — full OPTIMIZE of any ANN store: each
    * tier's live rows (tombstones dropped, one file per partition)
    * stage complete under `_gen_{N+1}[/tier]`, the ONE `_gen` flip
    * commits, and older generations — plus, on the first flip, the
    * generation-0 tiers at the root — sweep. The sweep is idempotent,
    * so a crash between flip and sweep self-heals on the next flip;
    * the tombstone reset after the flip is harmless either way (the
    * new generation already dropped those rows). The tier rewrites
    * read and write disjoint directories: concurrent jobs. */
  private def optimizeStore(spark: SparkSession, path: String, part: String,
                            tiers: Seq[String]): Unit = {
    val gen = storeGen(spark, path) + 1
    val tomb = ivfTombstones(spark, path)
    graft.Par.run(tierDirs(spark, path, tiers).zip(tiers).map {
      case (from, t) => () =>
        // a static overwrite of the fresh staging dir also truncates
        // torn staging left by a crashed earlier attempt
        spark.read.parquet(from)
          .join(broadcast(tomb), Seq("vec_id"), "left_anti")
          .repartition(col(part))
          .write.mode("overwrite").partitionBy(part)
          .parquet(s"$path/_gen_$gen" + (if (t.isEmpty) "" else s"/$t"))
    })
    graft.sources.Markers.write(spark, s"$path/_gen", gen.toString,
      "ANN-store generation marker")
    val fs = fsOf(spark, path)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).map(_.getPath)
      .foreach { c =>
        val n = c.getName
        val stale = (n.startsWith("_gen_") && n.stripPrefix("_gen_").toLong < gen) ||
          n.startsWith(s"$part=") || tiers.contains(n)
        if (stale) fs.delete(c, true): Unit
      }
    writeTombstones(spark, path, ResetTombstones)
  }

  /** THE count gate — TextIndex.maybeCompact's pattern for every ANN
    * store: metadata-only signals decide, no data scan. The mean files
    * per partition across the tiers' listings (every append or bucket
    * rewrite adds files) and, for a tombstoned store, the list's row
    * count; past either bound [[optimizeStore]] runs, which resets
    * both. A store with no data yet (a stream can tombstone deletes
    * before its first build) never fires. Returns whether it ran. */
  private def optimizeIfDue(spark: SparkSession, path: String, part: String,
                            tiers: Seq[String], maxFilesPerPart: Double,
                            maxTombstones: Option[Long]): Boolean = {
    import spark.implicits._
    if (!storeBuilt(spark, path, part, tiers)) return false
    val files = tierDirs(spark, path, tiers).zip(tiers)
      .map { case (d, t) => graft.sources.Compaction.listFiles(spark, d)
        .withColumn("partition", concat(lit(t + "/"), $"partition")) }
      .reduce(_ unionByName _)
      .filter(!$"partition".endsWith("/")) // partitioned data files only
      .groupBy($"partition").agg(count(lit(1)).as("n"))
      .agg(coalesce(avg($"n"), lit(0.0)).as("avg_files"))
      .head().getDouble(0)
    val due = files > maxFilesPerPart ||
      maxTombstones.exists(ivfTombstones(spark, path).count() > _)
    if (due) optimizeStore(spark, path, part, tiers)
    due
  }

  /** PERSISTED IVF index — the serving layout a 100 TB deployment
    * actually reads: assignments written `partitionBy(cid)`, so a
    * probe of nprobe cells is a PARTITION-PRUNED scan (the scan
    * touches nprobe directories, zero I/O on every other cell — the
    * disk analog of FAISS's inverted lists). Build once
    * ([[writeIvfIndex]]), serve many ([[serveFromIvfIndex]]);
    * KnnIndexSpec asserts both the pruning (PartitionFilters on cid)
    * and result-equality with the in-memory a4 path. */
  def writeIvfIndex(spark: SparkSession, dir: String,
                    path: String): Seq[Seq[Double]] = {
    import spark.implicits._
    // a fresh build's static root overwrite truncates the path —
    // markers included — so the new store starts at generation 0
    val all = base(spark, dir)
    val cents = ivfCentroids(spark, dir, all)
    assign(all, cents).select($"vec_id", $"v", $"cid")
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    cents
  }

  /** INCREMENTAL index maintenance — the d8 discipline applied to
    * ANN: assign a new vector batch against the EXISTING quantizer
    * and append into the persisted cell layout, so the index grows
    * by one narrow write of the batch (each row lands in its cid
    * directory) instead of a full rebuild. The quantizer stays
    * frozen — that is the contract every production IVF add() has —
    * and the price is cell drift: additions can only land in
    * existing cells, so a shifting distribution slowly skews the
    * layout. a18's balance audit is the signal that the skew
    * warrants retrain + rewrite; until then, serving reads appended
    * rows through the same partition-pruned scan with zero serving-
    * path changes. */
  def appendToIvfIndex(path: String, cents: Seq[Seq[Double]],
                       vectors: DataFrame): Unit = {
    import vectors.sparkSession.implicits._
    assign(vectors.select($"vec_id", $"v"), cents)
      .select($"vec_id", $"v", $"cid")
      .write.mode("append").partitionBy("cid")
      .parquet(storeDataDir(vectors.sparkSession, path))
  }

  /** DELETE vectors from a written IVF or PQ store: the ids join the
    * tombstone list and every serve excludes them. A tombstoned id
    * comes back only through an upsert, which physically replaces it. */
  def deleteFromIvfIndex(spark: SparkSession, path: String,
                         ids: DataFrame): Unit =
    writeTombstones(spark, path, Bury(ids))

  /** Remove `ids` from the tombstone list — the revive half of an
    * upsert on its own. The streaming first BUILD needs it: a delete
    * notice can arrive before the store has any cells, and the later
    * build epoch must clear that tombstone or the vector stays
    * invisible forever. */
  def clearIvfTombstones(spark: SparkSession, path: String,
                         ids: DataFrame): Unit =
    writeTombstones(spark, path, Revive(ids))

  /** UPSERT vectors into a written IVF store — re-embedded documents
    * replace their old copies (the c18 re-crawl consumer on the ANN
    * side), remove-then-add under the FROZEN quantizer, old cells
    * physically cleaned even when the vector moved cells. a24
    * oracle-gates serve-after-upsert against exact kNN over the
    * final vectors. */
  def upsertIvfIndex(spark: SparkSession, path: String,
                     cents: Seq[Seq[Double]], vectors: DataFrame): Unit =
    upsertVectorStore(spark, path, IvfTiers, vectors,
      appendToIvfIndex(path, cents, _))

  /** COMPACT a written IVF store: tombstoned rows drop physically from
    * only the cells that carry them, and the list clears. */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactVectorStore(spark, path, IvfTiers)

  /** Full OPTIMIZE of the IVF store as one staged generation commit
    * (see the ANN-store contract); [[compactIvfIndex]] remains the
    * cheaper tombstone-only cell rewrite when fragmentation isn't the
    * signal. */
  def optimizeIvfIndex(spark: SparkSession, path: String): Unit =
    optimizeStore(spark, path, "cid", IvfTiers)

  /** COUNT-GATED auto-compaction for the IVF store: fires
    * [[optimizeIvfIndex]] past either bound. Serving is bit-equal
    * either way, so maintenance paths drop the result. */
  def maybeCompactIvf(spark: SparkSession, path: String,
                      maxTombstones: Long = 10000L,
                      maxFilesPerCell: Double = 4.0): Boolean =
    optimizeIfDue(spark, path, "cid", IvfTiers, maxFilesPerCell,
      Some(maxTombstones))

  /** The session's UPSERTED IVF store for `dir`: built on a STALE
    * vector set (vec_id % 7 == 3 rows shifted by +1.0 per dimension —
    * re-crawled documents whose embeddings changed), then the true
    * vectors of exactly those ids replace their old copies through
    * [[upsertIvfIndex]] — old cells physically cleaned even when the
    * changed vector moved to a DIFFERENT cell. After the upsert the
    * store holds the true corpus, which is why a24 reuses a1's exact
    * oracle. Returns (path, cents). */
  def upsertedIvfPath(spark: SparkSession,
                      dir: String): (String, Seq[Seq[Double]]) =
    graft.TrainedModels.memo(spark, s"ivf_upserted:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_ups").toString + "/index"
      val all = base(spark, dir)
      val cents = ivfCentroids(spark, dir, all)
      val stale = all.select($"vec_id",
        when($"vec_id" % 7 === 3, transform($"v", x => x + 1.0))
          .otherwise($"v").as("v"))
      assign(stale, cents).select($"vec_id", $"v", $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(p)
      upsertIvfIndex(spark, p, cents, all.filter($"vec_id" % 7 === 3)
        .select($"vec_id", $"v"))
      (p, cents)
    }

  /** The session's STREAM-MAINTAINED IVF store for `dir` — st17's
    * gate, the a24 recipe driven through a REAL Structured Streaming
    * query: the store builds on a STALE vector set (vec_id % 7 == 3
    * shifted +1.0/dim) plus five planted garbage vectors; then ONE
    * re-embed micro-batch arrives through
    * [[graft.streaming.IngestStream.ivfIndexStream]] — the true
    * vectors of exactly the stale ids, and NULL-vector delete
    * notices for the garbage. After the epoch the store's live
    * vectors ARE the true corpus (which is why st17 reuses a1's
    * exact oracle), and the per-epoch auto-OPTIMIZE check ran
    * in-stream. Returns (path, cents). */
  def streamedIvfPath(spark: SparkSession,
                      dir: String): (String, Seq[Seq[Double]]) =
    graft.TrainedModels.memo(spark, s"ivf_streamed:$dir") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_ivf_stream").toString
      val p = root + "/index"
      val all = base(spark, dir)
      val cents = ivfCentroids(spark, dir, all)
      val garbage = all.filter($"vec_id" < 5)
        .select(($"vec_id" + 900000000L).as("vec_id"),
          transform($"v", x => -x - 0.25).as("v"))
      val stale = all.select($"vec_id",
          when($"vec_id" % 7 === 3, transform($"v", x => x + 1.0))
            .otherwise($"v").as("v"))
        .unionByName(garbage)
      appendToIvfIndex(p, cents, stale)
      val payload = all.filter($"vec_id" % 7 === 3)
        .select($"vec_id", $"v")
        .unionByName(garbage.select($"vec_id",
          lit(null).cast("array<double>").as("v")))
      val stage = root + "/payload"
      payload.write.parquet(stage)
      val q = graft.streaming.IngestStream.ivfIndexStream(
        spark.readStream.schema(payload.schema).parquet(stage), p, cents)
      try q.processAllAvailable() finally q.stop()
      (p, cents)
    }

  /** The session's STREAM-MAINTAINED PQ store for `dir` — st19's
    * gate, [[streamedIvfPath]]'s recipe on the codes tier: the
    * quantizer pair trains and persists UP FRONT
    * ([[writePqQuantizer]]), the store builds on a STALE vector set
    * (vec_id % 7 == 3 shifted +1.0/dim) plus five planted garbage
    * vectors, then ONE re-embed micro-batch arrives through
    * [[graft.streaming.IngestStream.pqIndexStream]] — true vectors
    * for the stale ids, NULL delete notices for the garbage. After
    * the epoch the store's live content IS the true corpus under
    * a11's exact encode, which is why st19 reuses a11's oracle. */
  def streamedPqPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"pq_streamed:$dir") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_pq_stream").toString
      val p = root + "/index"
      val all = base(spark, dir)
      writePqQuantizer(spark, dir, p)
      val garbage = all.filter($"vec_id" < 5)
        .select(($"vec_id" + 900000000L).as("vec_id"),
          transform($"v", x => -x - 0.25).as("v"))
      val stale = all.select($"vec_id",
          when($"vec_id" % 7 === 3, transform($"v", x => x + 1.0))
            .otherwise($"v").as("v"))
        .unionByName(garbage)
      appendToPqIndex(spark, p, stale)
      val payload = all.filter($"vec_id" % 7 === 3)
        .select($"vec_id", $"v")
        .unionByName(garbage.select($"vec_id",
          lit(null).cast("array<double>").as("v")))
      val stage = root + "/payload"
      payload.write.parquet(stage)
      val q = graft.streaming.IngestStream.pqIndexStream(
        spark.readStream.schema(payload.schema).parquet(stage), p)
      try q.processAllAvailable() finally q.stop()
      p
    }

  /** st19: IVF+PQ serving from the STREAM-MAINTAINED PQ store —
    * after the re-embed epoch the live codes encode exactly the
    * true corpus, so the persisted-PQ serve must hash-match the
    * in-memory a11 chain (a lost upsert, a stale cell copy in
    * either tier, a missed delete, or a replay duplicate
    * hash-fails). */
  def st19StreamedPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = base(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    serveFromPqIndex(spark, streamedPqPath(spark, dir), queries)
  }

  /** st17: exact-kNN serving from a STREAM-MAINTAINED IVF store —
    * the end-to-end ANN CDC gate: stale vectors replaced (cells
    * physically cleaned), garbage deleted, all through foreachBatch
    * epochs with the replay marker; the exhaustive-probe serve must
    * reproduce a1's exact ranking digit for digit. */
  def st17StreamedIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (p, cents) = streamedIvfPath(spark, dir)
    val queries = base(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    serveFromIvfIndex(spark, p, cents, queries,
      nprobe = cents.length, k = 5)
  }

  /** The a25 deletion set: two mid-range ids, so both consolidation
    * cases exercise (nodes pointing at them must bridge; the dead
    * nodes' own rows vanish). */
  private[graft] val GraphDeadIds = Seq(3L, 11L)

  /** The session's STREAM-MAINTAINED kNN-graph store for `dir` —
    * st18's gate: the a21 refined graph and its vectors bootstrap
    * the co-located store (the batch-build → streaming-maintenance
    * handoff), then ONE micro-batch of NULL-vector delete notices
    * for [[GraphDeadIds]] arrives through
    * [[graft.streaming.IngestStream.nnGraphStream]] — the
    * FreshDiskANN delete-consolidation driven by a real stream.
    * After the epoch the stored edge set IS a25's consolidated
    * graph (which is why st18 reuses a25's oracle), and the dead
    * vectors are gone from the companion table. */
  def streamedGraphPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"nn_graph_streamed:$dir") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_graph_stream").toString
      val g = refinedGraph(spark, dir)
      val vecs = base(spark, dir).select($"vec_id", $"v")
      writeNnGraphStore(g, s"$root/graph")
      writeNnVecStore(vecs, s"$root/vectors")
      val payload = GraphDeadIds.toDF("vec_id")
        .select($"vec_id", lit(null).cast("array<double>").as("v"))
      val stage = s"$root/payload"
      payload.write.parquet(stage)
      val q = graft.streaming.IngestStream.nnGraphStream(
        spark.readStream.schema(payload.schema).parquet(stage), root, k = 3)
      try q.processAllAvailable() finally q.stop()
      root
    }

  /** st18: the STREAM-MAINTAINED graph store's edge set — must equal
    * a25's batch consolidation digit for digit (same shared build,
    * same delete formula, driven through foreachBatch epochs with
    * the replay marker); oracle IS a25's full-pipeline replay. */
  def st18StreamedGraphDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readNnGraphStore(spark, s"${streamedGraphPath(spark, dir)}/graph")
      .orderBy($"q_id", $"vec_id")
  }

  /** The session's STREAM-MAINTAINED graph+PQ store for `dir` —
    * st20's gate on a30's full disk layout (edges + vectors + codes
    * co-located): the quantizer trains and persists UP FRONT
    * ([[writeGraphPqQuantizer]]), the batch build hands every tier
    * over (refined graph, corpus vectors, exact codes — the
    * batch-build → streaming-maintenance handoff), then ONE
    * micro-batch of NULL delete notices for [[GraphDeadIds]] arrives
    * through [[graft.streaming.IngestStream.graphPqStream]] — the
    * FreshDiskANN delete-consolidation driven across ALL THREE
    * tiers by a real stream: edges consolidate (a25's formula),
    * dead vectors drop from the vector tier, dead codes drop from
    * the codes tier. */
  def streamedGraphPqPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"graph_pq_streamed:$dir") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_graph_pq_stream").toString + "/store"
      val vecs = base(spark, dir).select($"vec_id", $"v")
      // three independent store-tier chains (graph, vectors,
      // quantizer→codes) — concurrent jobs into disjoint directories
      graft.Par.run(Seq(
        () => writeNnGraphStore(refinedGraph(spark, dir), s"$root/graph"),
        () => writeNnVecStore(vecs, s"$root/vectors"),
        () => {
          writeGraphPqQuantizer(spark, dir, root)
          writeGraphPqCodes(spark, root, vecs)
        }))
      val payload = GraphDeadIds.toDF("vec_id")
        .select($"vec_id", lit(null).cast("array<double>").as("v"))
      val stage = s"$root/payload"
      payload.write.parquet(stage)
      val q = graft.streaming.IngestStream.graphPqStream(
        spark.readStream.schema(payload.schema).parquet(stage), root, k = 3)
      try q.processAllAvailable() finally q.stop()
      root
    }

  /** st20: the PQ-scored beam walk SERVED from the stream-maintained
    * graph+PQ store — every artifact the walk touches (edges, codes,
    * rerank vectors) comes from the post-delete disk tiers, so a
    * missed delete in the graph (dead node still routable), the
    * codes tier (dead candidate still scorable), or the vector tier
    * (dead id still rerankable), OR a botched consolidation edge,
    * shifts the walk and hash-fails. Oracle: a23's walk replay over
    * a25's consolidated graph with the coded corpus restricted to
    * survivors — the quantizer and the medoid entries stay trained
    * on the FULL pre-delete corpus, exactly like the serve. */
  def st20StreamedGraphPq(spark: SparkSession, dir: String, k: Int = 5,
                          beam: Int = 8, hops: Int = 2, eCells: Int = 8,
                          rerank: Int = 16): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val path = streamedGraphPqPath(spark, dir)
    val bookMat = typedLit(readCodebooks(spark, path))
    val all = graft.Caches.persist(base(spark, dir))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    graphSearchPqTiered(
      spark.read.parquet(s"$path/codes"),
      readNnVecStore(spark, s"$path/vectors"),
      readNnGraphStore(spark, s"$path/graph"),
      queries, medoidEntries(queries, medoids, cents, eCells),
      bookMat, k, beam, hops, rerank)
  }

  /** a25: kNN-graph DELETE with FreshDiskANN consolidation over the
    * SHARED refined graph (a21's build): dead nodes drop, every
    * node that pointed at one re-ranks over its surviving neighbors
    * ∪ the dead node's live out-neighbors (the bridge that keeps
    * the walk navigable), untouched nodes pass through bit-identical.
    * The oracle replays the WHOLE pipeline — the NN-Descent build
    * CTEs (a21's own replay) and the consolidation formula — digit
    * for digit, so both the graph and the delete mechanics are
    * hash-gated in one query. */
  def a25GraphDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = refinedGraph(spark, dir)
    val vecs = base(spark, dir).select($"vec_id", $"v")
    deleteFromNnGraph(g, GraphDeadIds.toDF("vec_id"), vecs, k = 3)
      .orderBy($"q_id", $"vec_id")
  }

  /** a24: serve-after-UPSERT from the persisted IVF store — the ANN
    * side's s22: the store was built with stale embeddings for the
    * re-crawled slice, the upsert physically replaced them (delete
    * from the old cells + assign-and-append under the frozen
    * quantizer), and exhaustive-probe serving must now reproduce
    * EXACT kNN over the true vectors — the oracle IS a1's SQL, so
    * any surviving stale row, lost row, or double copy hash-fails
    * against ground truth. */
  def a24UpsertedIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (p, cents) = upsertedIvfPath(spark, dir)
    val queries = base(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    serveFromIvfIndex(spark, p, cents, queries,
      nprobe = cents.length, k = 5)
  }

  /** Serve top-k from a written index: score centroids, read ONLY
    * the probed cell partitions, exact rerank inside them (tombstoned
    * ids excluded). */
  def serveFromIvfIndex(spark: SparkSession, path: String,
                        cents: Seq[Seq[Double]], queries: DataFrame,
                        nprobe: Int = 2, k: Int = 5): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val probes = probedCells(queries.select($"q_id", $"qv"), cents, nprobe)
    val cells = prunedLiveCells(spark, path, probes)
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cells.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** The store-side scan every persisted-IVF serve reads: the probed
    * cid set as `cid IN (<literals>)` — a PartitionFilter, so only
    * the probed directories of the current committed generation are
    * touched — with the logical-delete list anti-joined. */
  private def prunedLiveCells(spark: SparkSession, path: String,
                              probes: DataFrame): DataFrame = {
    import spark.implicits._
    val probedCids = probes.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq
    spark.read.parquet(storeDataDir(spark, path))
      .filter($"cid".isin(probedCids: _*))
      .join(broadcast(ivfTombstones(spark, path)), Seq("vec_id"),
        "left_anti")
  }

  /** [[a27RangeSearch]] against the PERSISTED IVF store — FAISS
    * IndexIVF::range_search proper: the probe's `cid IN (...)`
    * reaches the scan as a PartitionFilter (only the nprobe
    * directories of the committed generation are read, tombstones
    * anti-joined), and every surviving vector above the radius
    * returns — no top-k. Probe, scoring, threshold, and ordering are
    * the SAME code as the in-memory path ([[probedCells]] +
    * [[rangeServe]]), so the two cannot drift; KnnIndexSpec pins the
    * store-vs-in-memory equality anyway. */
  def rangeFromIvfIndex(spark: SparkSession, path: String,
                        cents: Seq[Seq[Double]], queries: DataFrame,
                        minCosine: Double,
                        nprobe: Int = 3): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val probes = probedCells(queries.select($"q_id", $"qv"), cents, nprobe)
    rangeServe(prunedLiveCells(spark, path, probes), probes, minCosine)
  }

  /** PERSISTED IVF+PQ store — a11's FAISS IndexIVFPQ composition as
    * the layout a 100 TB deployment actually READS: the serving scan
    * is the 4-bit-per-subspace PQ codes (~32× smaller than the raw
    * doubles), and the raw vectors are a separate rerank tier touched
    * only for the ≤ candidates·|queries| ADC survivors — the
    * DiskANN/FAISS disk discipline (codes resident, vectors
    * point-read). Layout, all inside the committed generation
    * ([[storeGen]]'s staged `_gen` + one-marker-flip crash safety):
    *
    *   codes/cid=N/    (vec_id, code)     — ADC scan, partition-pruned
    *   vectors/cid=N/  (vec_id, v)        — rerank tier, same pruning
    *
    * plus store-level artifacts: `_centroids` + `_codebooks` (the
    * FROZEN quantizer pair every append encodes against — the FAISS
    * add() contract), `_tombstones` (the shared logical-delete list:
    * [[deleteFromIvfIndex]]/[[clearIvfTombstones]] work unchanged on
    * this store), `_gen`. Reference: the store tier the engine
    * delegates to Weaviate (internal/adapter/weaviate/store.go:105);
    * encode/ADC semantics follow FAISS IndexIVFPQ (residual
    * encoding), cited at [[a11IvfPq]]. Build trains on the full
    * corpus; `initial` (when given) seeds the data tier so the rest
    * can arrive through [[appendToPqIndex]]. */
  def writePqIndex(spark: SparkSession, dir: String, path: String,
                   initial: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    // fresh build truncates the root (markers included): gen 0
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true): Unit
    writePqQuantizer(spark, dir, path)
    appendToPqIndex(spark, path,
      initial.getOrElse(base(spark, dir)).select($"vec_id", $"v"))
  }

  /** Train (or reuse) the quantizer pair for `dir`'s corpus and
    * persist ONLY the `_centroids` + `_codebooks` artifacts — the
    * index-BUILD half of [[writePqIndex]] on its own, so a
    * streaming-maintained store ([[graft.streaming.IngestStream
    * .pqIndexStream]]) can be trained up front and then filled
    * entirely by epochs (the train-once/add-forever FAISS shape). */
  def writePqQuantizer(spark: SparkSession, dir: String,
                       path: String): Unit = {
    import spark.implicits._
    val m = 8; val sub = 8; val kb = 16
    val all = base(spark, dir)
    val cents = ivfCentroids(spark, dir, all)
    val centMat = typedLit(cents)
    // a11's codebooks exactly: seed words = the first kb residuals by
    // vec_id — a trained pqFit drop-in upgrades this without touching
    // the layout (the artifact schema is the contract, not the fit)
    val withRes = assign(all, cents).withColumn("r",
      zip_with($"v", element_at(centMat, $"cid" + 1), (a, b) => a - b))
    val seeds: Seq[Seq[Double]] = withRes.orderBy($"vec_id").limit(kb)
      .select($"r").as[Seq[Double]].collect().toSeq
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub))
    }
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    books.zipWithIndex.flatMap { case (bk, s) =>
      bk.zipWithIndex.map { case (w, j) => (s, j, w) }
    }.toDF("s", "j", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** COUNT-GATED auto-compaction for the PQ store — [[maybeCompactIvf]]
    * with the files-per-cell curve read across BOTH tiers' listings;
    * fires [[optimizePqIndex]], which resets both signals. */
  def maybeCompactPq(spark: SparkSession, path: String,
                     maxTombstones: Long = 10000L,
                     maxFilesPerCell: Double = 4.0): Boolean =
    optimizeIfDue(spark, path, "cid", PqTiers, maxFilesPerCell,
      Some(maxTombstones))

  /** The PQ store's frozen quantizer pair, read back from its
    * artifacts (tiny: k cells + m·kb codewords). */
  def pqStoreModel(spark: SparkSession, path: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/_centroids")
      .orderBy($"cid").select($"vals").as[Seq[Double]].collect().toSeq
    (cents, readCodebooks(spark, path))
  }

  /** Incremental add into the PQ store — the frozen-quantizer FAISS
    * add(): the batch assigns against the stored centroids, encodes
    * its residuals against the stored codebooks, and appends one
    * narrow write per touched cell into BOTH tiers (codes for the
    * scan, vectors for the rerank). No serving-path change; cell
    * drift is a18's audit signal, same as the raw IVF store. */
  def appendToPqIndex(spark: SparkSession, path: String,
                      vectors: DataFrame): Unit = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val (cents, books) = pqStoreModel(spark, path)
    val centMat = typedLit(cents)
    val bookMat = typedLit(books)
    val data = storeDataDir(spark, path)
    // assign + encode run ONCE (eagerly materialized), then the two
    // tier writes are cache reads into independent directories —
    // submitted concurrently; the old shape paid the full
    // assign+encode scan twice, once per tier.
    // persist (not localCheckpoint): blocks release deterministically
    // after both tier writes — a maintenance stream's appends must not
    // accumulate cached blocks per epoch — and a lost block recomputes
    // from lineage instead of failing the write
    val coded = assign(vectors.select($"vec_id", $"v"), cents)
      .withColumn("r", zip_with($"v", element_at(centMat, $"cid" + 1),
        (a, b) => a - b))
      .select($"vec_id", $"v", $"cid",
        call_function("pq_encode", $"r", bookMat).as("code"))
      .persist()
    try {
      coded.count() // eager: both writes read the cache, not the scan
      graft.Par.run(Seq(
        () => coded.select($"vec_id", $"code", $"cid")
          .write.mode("append").partitionBy("cid").parquet(s"$data/codes"),
        () => coded.select($"vec_id", $"v", $"cid")
          .write.mode("append").partitionBy("cid").parquet(s"$data/vectors")))
    } finally coded.unpersist(false): Unit
  }

  /** Serve top-k from the PERSISTED PQ store — bit-equal to the
    * in-memory [[a11IvfPq]] chain at the same geometry (KnnPqStoreSpec
    * pins it): probe nprobe cells, ADC-scan ONLY the probed cells'
    * CODES (a `cid IN (...)` PartitionFilter — the raw vectors are
    * not read here), take the `candidates` best per query by
    * asymmetric distance, then exact-rerank just those survivors
    * against the vectors tier (same pruned cells, id-equi-join on a
    * broadcast candidate set ≤ candidates·|queries| rows). At 100 TB
    * the scan I/O is the code bytes of nprobe cells; the raw-vector
    * read is bounded by the candidate count, not the corpus. */
  def serveFromPqIndex(spark: SparkSession, path: String,
                       queries: DataFrame, nprobe: Int = 2, k: Int = 5,
                       candidates: Int = 20): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val (cents, books) = pqStoreModel(spark, path)
    val centMat = typedLit(cents)
    val bookMat = typedLit(books)
    val data = storeDataDir(spark, path)
    val probes = probedCells(queries.select($"q_id", $"qv"), cents, nprobe)
      .withColumn("rq", zip_with($"qv", element_at(centMat, $"cid" + 1),
        (a, b) => a - b))
    val probedCids = probes.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq
    val tomb = ivfTombstones(spark, path)
    val codes = spark.read.parquet(s"$data/codes")
      .filter($"cid".isin(probedCids: _*))
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    val wA = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val survivors = codes.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", call_function("pq_adc", $"rq", $"code", bookMat))
      .withColumn("qrnk", row_number().over(wA))
      .filter($"qrnk" <= candidates)
      .select($"q_id", $"qv", $"vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    spark.read.parquet(s"$data/vectors")
      .filter($"cid".isin(probedCids: _*))
      .join(broadcast(survivors), Seq("vec_id"))
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** UPSERT into the PQ store — [[upsertIvfIndex]]'s remove-then-add
    * on BOTH tiers: the batch ids' old rows leave the cells that carry
    * them, their tombstones clear, and the new vectors encode against
    * the FROZEN quantizer pair and append. Serve afterwards is
    * bit-equal to a fresh build over the final vectors (KnnPqStoreSpec
    * pins it). */
  def upsertPqIndex(spark: SparkSession, path: String,
                    vectors: DataFrame): Unit =
    upsertVectorStore(spark, path, PqTiers, vectors,
      appendToPqIndex(spark, path, _))

  /** COMPACT the PQ store: [[compactIvfIndex]] over both tiers. */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    compactVectorStore(spark, path, PqTiers)

  /** Full OPTIMIZE of the PQ store: the generation commit over the
    * two-tier layout (`_gen_N+1/codes` + `_gen_N+1/vectors`; the first
    * flip retires the generation-0 pair at the root). */
  def optimizePqIndex(spark: SparkSession, path: String): Unit =
    optimizeStore(spark, path, "cid", PqTiers)

  /** The session's PERSISTED PQ store for `dir`: trained on the full
    * corpus, data tier built on the EVEN vec_ids, the odd half
    * arriving through [[appendToPqIndex]] against the frozen
    * quantizer pair — so a28's serve exercises the incremental
    * layout, and because the final contents are the whole corpus
    * under a11's exact encode, a28 reuses a11's oracle. */
  def pqStorePath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"pq_store:$dir") {
      import spark.implicits._
      val p = java.nio.file.Files
        .createTempDirectory("graft_pq_store").toString + "/index"
      val all = base(spark, dir)
      writePqIndex(spark, dir, p,
        initial = Some(all.filter($"vec_id" % 2 === 0)))
      appendToPqIndex(spark, p,
        all.filter($"vec_id" % 2 === 1).select($"vec_id", $"v"))
      p
    }

  /** a28: IVF+PQ serving FROM the persisted code store — a11's exact
    * chain (probe → residual ADC → top-20 → exact rerank top-5), but
    * the ADC scan reads persisted CODES (partition-pruned, raw
    * vectors untouched) and the rerank reads the vectors tier for
    * survivors only. Oracle: a11's SQL — the store round trip must
    * reproduce the in-memory scores bit-exactly. */
  def a28PqStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = base(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    serveFromPqIndex(spark, pqStorePath(spark, dir), queries)
  }

  /** FILTERED-ANN serving layout — a16's metadata predicate pushed
    * into the PERSISTED index: assignments written
    * `partitionBy(label, cid)`, label OUTERMOST, so a
    * tenant-filtered probe prunes whole label directories before cid
    * pruning even starts — the scan cost is the probed cells of ONE
    * tenant, not of the corpus. Build once, serve many (the
    * [[writeIvfIndex]] discipline); KnnIndexSpec asserts the label
    * predicate reaches PartitionFilters and that served results are
    * bit-equal to the in-memory paths. */
  def writeFilteredIvfIndex(spark: SparkSession, dir: String,
                            path: String): Seq[Seq[Double]] = {
    import spark.implicits._
    val all = base(spark, dir)
    val cents = ivfCentroids(spark, dir, all)
    assign(all, cents).select($"vec_id", $"v", $"label", $"cid")
      .write.mode("overwrite").partitionBy("label", "cid").parquet(path)
    cents
  }

  /** In-memory (vec_id, v, label, cid) cells under the same
    * quantizer — the spec's drift check against the persisted
    * layout. */
  def assignedCells(spark: SparkSession, dir: String,
                    cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    assign(base(spark, dir), cents).select($"vec_id", $"v", $"label", $"cid")
  }

  /** Filtered-IVF serving core over any (vec_id, v, label, cid)
    * cell frame: each query probes its nprobe nearest cells AMONG
    * ITS OWN LABEL's vectors (filter-before-search, a16's rule);
    * `nprobe >= cents.length` degenerates to exact filtered search.
    * Shared by the in-memory path and the persisted-index path so
    * the two can't drift. */
  def filteredIvfServe(cells: DataFrame, cents: Seq[Seq[Double]],
                       queries: DataFrame, nprobe: Int,
                       k: Int = 5): DataFrame = {
    import cells.sparkSession.implicits._
    val probes = filteredProbes(queries, cents, nprobe)
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cells.join(broadcast(probes), Seq("cid"))
      .filter($"label" === $"q_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"q_label", $"vec_id",
        V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"q_label", $"vec_id",
        round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** nprobe nearest cells per (q_id, qv, q_label) query row. */
  private def filteredProbes(queries: DataFrame, cents: Seq[Seq[Double]],
                             nprobe: Int): DataFrame = {
    import queries.sparkSession.implicits._
    probedCells(queries, cents, nprobe)
      .select($"q_id", $"qv", $"q_label", $"cid")
  }

  /** Serve filtered top-k from a [[writeFilteredIvfIndex]] layout:
    * the (label, cid) pairs each query needs become conjunctive
    * partition filters, so ONLY the probed cells of the queried
    * labels are read off storage. */
  def serveFilteredFromIvfIndex(spark: SparkSession, path: String,
                                cents: Seq[Seq[Double]],
                                queries: DataFrame, nprobe: Int = 2,
                                k: Int = 5): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val probes = filteredProbes(queries, cents, nprobe)
    // bounded collects (|Q| labels, |Q|·nprobe cids) — the probe
    // lists become PartitionFilters on BOTH partition columns
    // untyped collects: tenant labels may be strings (the docstring's
    // use case) or ints — mirror the key-type-generic twin
    val labels = probes.select($"q_label").distinct()
      .collect().map(_.get(0)).toSeq
    val cids = probes.select($"cid").distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(path)
      .filter($"label".isin(labels: _*) && $"cid".isin(cids: _*))
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cells.join(broadcast(probes), Seq("cid"))
      .filter($"label" === $"q_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"q_label", $"vec_id",
        V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"q_label", $"vec_id",
        round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a8: IVF serving over the SHARED k=64 quantizer — the IVF/
    * SemDeDup hybrid: the dedup pass (d7) and this ANN path run
    * against ONE trained quantizer ([[graft.TrainedModels]] keyed
    * `kmeans:<dir>:k=64`), so a corpus pays its index-build once and
    * both the curation side and the serving side reuse it. Finer
    * cells than a4 (each probe touches ~n/64 vectors), so nprobe=4
    * keeps candidate coverage while scanning ~8× fewer rows per
    * probe — the cell-count/nprobe trade every IVF deployment
    * tunes. */
  def a8KnnIvfShared(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(
      Tables.embeddings(spark, dir)
        .select($"vec_id", V.asDouble($"embedding").as("v")))
    val cents = Dedup.semCentroids(spark, dir, all)
    ivfServe(Knn.assign(all, cents)
        .select($"vec_id", $"cid", $"v"), cents, nprobe = 4)
  }

  /** a5: int8 SCALAR-QUANTIZED scan + exact rerank — the
    * memory-compression serving path every production vector store
    * offers (FAISS SQ8, Lucene/Weaviate scalar quantization): store
    * 1 byte per dimension instead of 4/8, scan the quantized
    * vectors with an INTEGER dot product (exact arithmetic, no
    * float-order issues), keep a refine set, and rerank it against
    * the full-precision vectors. At 100 TB of embeddings the 4-8x
    * footprint cut is the difference between an in-memory index and
    * spilling; the refine step restores exact ranking. Per-dim
    * min/max scales come from an order-insensitive agg (exact for
    * doubles), and quantization uses floor(x+0.5) so the oracle
    * replays it bit for bit. */
  def a5KnnSq8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val refine = 20
    // scoring runs on the DEQUANTIZED values (lo + q/255*(hi-lo)) —
    // the symmetric-distance computation FAISS SQ8 does: a raw
    // integer dot of offset-scaled codes does NOT order like cosine.
    // Exact arithmetic on exact ints/extrema, so the oracle replays
    // the doubles bit for bit. Codes come from the SHARED per-corpus
    // index build ([[vectorReps]]).
    val quant = vectorReps(spark, dir)
    val queries = quant.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"dq".as("dqq"), $"v".as("qfull"))
    val wQ = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"vec_id")
    val cand = quant.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"qfull", $"v", V.cosineD($"dqq", $"dq").as("qcos"))
      .withColumn("qrnk", row_number().over(wQ))
      .filter($"qrnk" <= refine)
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cand
      .select($"q_id", $"vec_id", V.cosineD($"qfull", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Single-query exact top-10 (the retrieval-service shape: one
    * embedded query against the chunk index). */
  def s2VectorTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = base(spark, dir)
    val q = all.filter($"vec_id" === 0).select($"v".as("qv"))
    all.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .orderBy($"cosine_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cosine_raw", 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
  }

  /** a6: PRODUCT-QUANTIZED ANN (FAISS PQ / ADC) — the other
    * production memory-compression path next to a5's SQ8: split the
    * 64-dim space into m=8 subspaces of 8 dims, give each subspace a
    * k=16-entry codebook, store each vector as 8 four-bit codes
    * (4 bytes/vector vs 512 — the compression that keeps a 100 TB
    * embedding corpus memory-resident), scan with asymmetric
    * distance computation (query stays full-precision; per-doc
    * distance = sum of query-to-assigned-centroid subdistances), and
    * rerank the top-20 refine set against the full vectors.
    *
    * Codebooks here are SAMPLED (subvectors of the 16 lowest-id
    * vectors) rather than Lloyd-fit — deterministic and fully
    * replayable in SQL; a4 already demonstrates the iterative Lloyd
    * build, and swapping its centroids in is the production step.
    * Encode/ADC are pure codegen column math: argmin by
    * array_position(dists, array_min(dists)) so ties break on the
    * first (lowest) code in BOTH engines. */
  def a6KnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = 8; val sub = 8; val k = 16
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(base(spark, dir))
    // codebook: k·dims doubles collected once (like a4's centroids)
    val seeds: Seq[Seq[Double]] = all.orderBy($"vec_id").limit(k)
      .select($"v").as[Seq[Double]].collect().toSeq
    // per-subspace layout for the pq_encode/pq_adc codegen kernels
    // (books(s)(j) = seed j's slice for subspace s) — the HOF
    // formulation this replaces walked ~m·k·sub element_at lambdas
    // per row interpreted; arithmetic (left-to-right (x-c)² folds,
    // first-min argmin) is bit-identical, oracle untouched
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub))
    }
    val bookMat = typedLit(books)
    val coded = all.withColumn("code",
      call_function("pq_encode", $"v", bookMat))
    val queries0 = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    // ADC: approx = Σ_s ||q_sub(s) - centroid(code[s])_sub(s)||²
    val approx = coded.crossJoin(broadcast(queries0))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist",
        call_function("pq_adc", $"qv", $"code", bookMat))
    val wA = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    approx
      .withColumn("qrnk", row_number().over(wA))
      .filter($"qrnk" <= 20)
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-subspace Lloyd's k-means for a PQ codebook — the production
    * BUILD step a6's sampled codebooks stand in for (FAISS trains
    * each sub-quantizer with k-means exactly like this). ALL m
    * subspaces train in ONE distributed pass per iteration: the
    * subvector frame explodes (vec_id, sp, 8-dim slice), assignment
    * is a zero-join map against the codebook literal (argmin of the
    * seeded-fold L2, ties to the lowest code), and the centroid
    * update is one keyed exchange on the composite (sp, cid) key
    * through the same ordered-frame mean a3/a4 use — so the whole
    * loop replays in SQL. Per iteration the driver collects
    * m·k·sub = 1024 doubles (the MLlib loop shape); empty codewords
    * keep their previous centroid so code semantics stay stable.
    * Returns books[sp][cid] = 8-dim centroid. */
  def pqFit(vectors: DataFrame, m: Int, sub: Int, k: Int,
            iters: Int): Seq[Seq[Seq[Double]]] = {
    import vectors.sparkSession.implicits._
    val init: Seq[Seq[Double]] = vectors.orderBy($"vec_id").limit(k)
      .select($"v").as[Seq[Double]].collect().toSeq
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => init.map(v => v.slice(s * sub, s * sub + sub)))
    graft.plans.GraftFunctions.ensureRegistered(vectors.sparkSession)
    for (_ <- 1 to iters) {
      val bookMat = typedLit(books)
      // pq_encode assigns ALL m subspaces in one codegen pass (same
      // first-min argmin over the same (x-c)² folds the per-subspace
      // l2sq transform computed interpreted); the explode then just
      // fans the codes out to (sp, sv, cid) rows for the update agg
      val assigned = vectors
        .withColumn("code", call_function("pq_encode", $"v", bookMat))
        .select($"vec_id", explode(sequence(lit(0), lit(m - 1))).as("sp"),
          $"v", $"code")
        .select($"vec_id", $"sp",
          slice($"v", $"sp" * sub + 1, lit(sub)).as("sv"),
          element_at($"code", $"sp" + 1).as("cid"))
        .withColumn("gkey", $"sp" * k + $"cid")
      val updated = orderedCentroids(
          assigned.select($"vec_id", $"gkey", posexplode($"sv")), "gkey")
        .select($"gkey".cast("int"), $"cv").as[(Int, Seq[Double])].collect().toMap
      books = (0 until m).map(s =>
        (0 until k).map(j => updated.getOrElse(s * k + j, books(s)(j))))
    }
    books
  }

  /** a7: PQ/ADC serving (a6's scan shape) over LLOYD-FIT codebooks —
    * the full production PQ pipeline: per-subspace k-means build
    * (2 iterations, [[pqFit]]), encode against the trained books,
    * asymmetric-distance scan, top-20 refine, exact rerank. The
    * ENTIRE pipeline — both Lloyd iterations per subspace, the
    * final encode, ADC, rerank — is unrolled as DuckDB CTE stages
    * and hash-verified, the PQ twin of a4's k-means artifact. */
  def a7KnnPqKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = 8; val sub = 8; val k = 16
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(base(spark, dir))
    val books = pqBooks(spark, dir, all)
    val bookMat = typedLit(books)
    // encode: code[s] = argmin_j ||v_sub(s) - books(s)(j)||², ties to
    // the lowest code in both engines (first-min argmin); same
    // codegen kernels as a6 — the l2sq HOF chain they replace kept
    // the trained-codebook serve pass interpreted
    val coded = all.withColumn("code",
      call_function("pq_encode", $"v", bookMat))
    val queries0 = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val approx = coded.crossJoin(broadcast(queries0))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist",
        call_function("pq_adc", $"qv", $"code", bookMat))
    val wA = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    approx
      .withColumn("qrnk", row_number().over(wA))
      .filter($"qrnk" <= 20)
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** OPQ rotation layers: fixed disjoint coordinate pairings, one
    * Givens rotation per pair per layer. Layer 1 couples far dims
    * (d, d+32) — cross-subspace variance exchange; layer 2 couples
    * neighbors (2d, 2d+1) — within/adjacent-subspace cleanup.
    * 0-based dims. */
  private val OpqPairs: Seq[Seq[(Int, Int)]] = Seq(
    (0 until 32).map(d => (d, d + 32)),
    (0 until 32).map(d => (2 * d, 2 * d + 1)))

  /** Closed-form Jacobi rotation coefficients for one layer: per
    * pair (i, j), the angle θ = ½·atan2(2·cov, varᵢ − varⱼ) that
    * decorrelates the 2×2 covariance block — computed WITHOUT
    * transcendentals via the half-angle identities
    * (c = √((1+d/r)/2), s = sign(cov)·√((1−d/r)/2),
    * r = √(d²+4cov²)): sqrt and division are IEEE-correctly-rounded
    * in both the JVM and DuckDB, so the trained rotation replays
    * bit-for-bit in the oracle, which atan2/cos/sin (libm-dependent,
    * last-ulp divergent) would not. Stats come from the same
    * ordered-fold window sums as [[orderedCentroids]] so the float
    * accumulation order matches the oracle's list_reduce. Returns
    * per-dim (partner 1-based, a1, a2) with
    * rotated[d] = a1[d]·v[d] + a2[d]·v[partner[d]]. */
  private[graft] def jacobiCoefs(rv: DataFrame, pairs: Seq[(Int, Int)])
      : (Seq[Int], Seq[Double], Seq[Double]) = {
    import rv.sparkSession.implicits._
    val pairLit = typedLit(pairs.map { case (i, j) => Seq(i, j) })
    val px = rv.select($"vec_id", $"v", posexplode(pairLit))
      .select($"vec_id", $"pos".as("p"),
        element_at($"v", element_at($"col", 1) + 1).as("xi"),
        element_at($"v", element_at($"col", 2) + 1).as("xj"))
    val w = Window.partitionBy($"p").orderBy($"vec_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val stats = px
      .withColumn("sxi", sum($"xi").over(w))
      .withColumn("sxj", sum($"xj").over(w))
      .withColumn("sxij", sum($"xi" * $"xj").over(w))
      .withColumn("sxi2", sum($"xi" * $"xi").over(w))
      .withColumn("sxj2", sum($"xj" * $"xj").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .select($"p", $"sxi", $"sxj", $"sxij", $"sxi2", $"sxj2", $"n")
      .dropDuplicates("p")
      .orderBy($"p")
      .collect()
    val partner = Array.tabulate(64)(d => d + 1)
    val a1 = Array.fill(64)(1.0)
    val a2 = Array.fill(64)(0.0)
    stats.foreach { row =>
      val p = row.getInt(0)
      val (i, j) = pairs(p)
      val n = row.getLong(6).toDouble
      val mi = row.getDouble(1) / n
      val mj = row.getDouble(2) / n
      val cov = row.getDouble(3) / n - mi * mj
      val vi = row.getDouble(4) / n - mi * mi
      val vj = row.getDouble(5) / n - mj * mj
      val d = vi - vj
      val r = math.sqrt(d * d + 4.0 * cov * cov)
      val (c, s) =
        if (r == 0.0) (1.0, 0.0)
        else {
          val cos2 = d / r
          (math.sqrt((1.0 + cos2) / 2.0),
            (if (cov >= 0.0) 1.0 else -1.0) * math.sqrt((1.0 - cos2) / 2.0))
        }
      partner(i) = j + 1; a1(i) = c; a2(i) = -s
      partner(j) = i + 1; a1(j) = c; a2(j) = s
    }
    (partner.toSeq, a1.toSeq, a2.toSeq)
  }

  /** Apply one rotation layer: out[d] = a1[d]·v[d] + a2[d]·v[pt[d]]
    * — two exact-rounded multiplies and one add per element, the
    * same op sequence the oracle's list_transform runs. */
  private[graft] def rotCol(v: Column, pt: Seq[Int], a1: Seq[Double],
                            a2: Seq[Double]): Column =
    transform(sequence(lit(1), lit(64)), d =>
      element_at(typedLit(a1), d) * element_at(v, d) +
        element_at(typedLit(a2), d) * element_at(v, element_at(typedLit(pt), d)))

  /** The session's trained OPQ model for this corpus: two Jacobi
    * rotation layers + PQ codebooks Lloyd-fit IN THE ROTATED SPACE
    * (train-once via [[graft.TrainedModels]], like a4/a7). */
  private[graft] def opqModel(spark: SparkSession, dir: String, all: DataFrame)
      : (Seq[(Seq[Int], Seq[Double], Seq[Double])], Seq[Seq[Seq[Double]]]) =
    graft.TrainedModels.memo(spark, s"opq:$dir:l=2:m=8:sub=8:k=16:it=2") {
      import spark.implicits._
      val l1 = jacobiCoefs(all, OpqPairs(0))
      val rv1 = all.select($"vec_id", rotCol($"v", l1._1, l1._2, l1._3).as("v"))
      val l2 = jacobiCoefs(rv1, OpqPairs(1))
      val rv2 = rv1.select($"vec_id", rotCol($"v", l2._1, l2._2, l2._3).as("v"))
      val books = pqFit(rv2, m = 8, sub = 8, k = 16, iters = 2)
      (Seq(l1, l2), books)
    }

  /** a13: OPQ — PQ behind a TRAINED orthonormal rotation (Ge et al.
    * 2013, "Optimized Product Quantization"; FAISS's OPQ pre-
    * transform). PQ's distortion depends on how variance and
    * correlation fall across its fixed subspace grid; OPQ learns a
    * rotation that re-mixes coordinates before quantization. This
    * implementation parameterizes the rotation as two layers of 32
    * DISJOINT Givens rotations with closed-form Jacobi angles
    * ([[jacobiCoefs]]) — chosen over the SVD-Procrustes alternation
    * so the ENTIRE pipeline (rotation training from covariance
    * stats, Lloyd codebooks in rotated space, encode, ADC, rerank)
    * unrolls in the DuckDB oracle like a7, with no trained literal
    * injected from outside the SQL. Same 4 bytes/vector as a6/a7
    * (m=8, k=16): equal-memory recall, measured head-to-head in
    * a12's calibration (prototype: 0.58 vs 0.52 recall@5 at
    * sf0.01). Serving cost is a7 plus two 64-element
    * multiply-adds per vector — the rotation is FREE at scan time
    * relative to the ADC loop. */
  def a13KnnOpq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(base(spark, dir))
    val (layers, books) = opqModel(spark, dir, all)
    val bookMat = typedLit(books)
    val rotated = layers.foldLeft(all.withColumn("rv", $"v")) {
      case (df, (pt, a1, a2)) => df.withColumn("rv", rotCol($"rv", pt, a1, a2))
    }
    val coded = rotated.withColumn("code",
      call_function("pq_encode", $"rv", bookMat))
    val queries0 = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"rv".as("qrv"))
    val approx = coded.crossJoin(broadcast(queries0))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist",
        call_function("pq_adc", $"qrv", $"code", bookMat))
    val wA = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    approx
      .withColumn("qrnk", row_number().over(wA))
      .filter($"qrnk" <= 20)
      // rerank on the ORIGINAL vectors: the rotation is an index
      // artifact, results stay in the user's space
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a14: BINARY (sign) QUANTIZATION — the coarsest point on the
    * quantization dial (a5 SQ8 → a6/a7 PQ → this): each 64-dim float
    * vector collapses to 64 SIGN BITS packed into two 32-bit words,
    * a 16× reduction over the raw floats (256 B → 16 B), and distance
    * becomes Hamming = popcount(xor) — the Lucene/FAISS binary-
    * quantization serving trick. The scan side touches ONLY the
    * packed words (integer xor + bit_count, whole-stage codegen,
    * SIMD-friendly); the top-`shortlist` Hamming candidates per query
    * are then reranked with exact cosine on the original vectors, so
    * float vectors are read for ≤ shortlist×|Q| rows, never the full
    * base. At 100 TB the signature column is the only full-scan
    * input — in production it ships as its own 16×-smaller parquet
    * column (the ChunkStore signature-table layout), and the
    * shortlist join is a broadcast of the tiny query side. Hamming
    * ranking is INTEGER, so shortlist membership is engine-exact
    * (no float boundary between Spark and the oracle). */
  /** SHARED quantized serving representations — the per-corpus index
    * build the quantized family reads: every vector's binary sign
    * words (a14/a15 stage 1) and SQ8 dequantized values under the
    * corpus's per-dim extrema (a5 / a15 stage 2), computed once per
    * (session, corpus) via Caches.shared — the same build-once/
    * serve-many accounting as the minhash signature scan and the
    * trained centroid models (Bench bills it as
    * `_shared_vector_reps`). */
  def vectorReps(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.shared(spark, s"vec_reps:$dir") {
      import spark.implicits._
      graft.plans.GraftFunctions.ensureRegistered(spark)
      val all = base(spark, dir)
      val scales = all
        .select(posexplode($"v"))
        .groupBy($"pos")
        .agg(min($"col").as("lo"), max($"col").as("hi"))
        .agg(array_sort(collect_list(struct($"pos", $"lo", $"hi"))).as("plh"))
        .select(transform($"plh", p => p("lo")).as("los"),
                transform($"plh", p => p("hi")).as("his"))
      // sign_words/sq8_dequant codegen kernels: one tight pass per
      // row for the whole representation build (the 64-arm HOF
      // quantize/dequantize chain they replaced ran interpreted)
      all.crossJoin(broadcast(scales))
        .withColumn("ws", expr("sign_words(v)"))
        .select($"vec_id", $"v",
          expr("sq8_dequant(v, los, his)").as("dq"),
          element_at($"ws", 1).as("w0"), element_at($"ws", 2).as("w1"))
    }

  def a14KnnBinary(spark: SparkSession, dir: String, k: Int = 5,
                   shortlist: Int = 32): DataFrame = {
    import spark.implicits._
    val all = vectorReps(spark, dir).select($"vec_id", $"v", $"w0", $"w1")
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val wH = Window.partitionBy($"q_id").orderBy($"hamming", $"vec_id")
    val wC = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    all.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"qv", $"v",
        (bit_count($"qw0".bitwiseXOR($"w0")) +
         bit_count($"qw1".bitwiseXOR($"w1"))).cast("long").as("hamming"))
      .withColumn("hrnk", row_number().over(wH))
      .filter($"hrnk" <= shortlist)
      .select($"q_id", $"vec_id", $"hamming",
        V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wC))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"hamming",
        round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a15: STAGED RESCORING CASCADE — the production serving funnel
    * (Lucene BQ rescore / FAISS refine chains): each stage reads a
    * strictly cheaper representation and only survivors reach the
    * next — binary sign words (16 B/vector, integer popcount) cut
    * the corpus to `s1` per query, SQ8 dequantized cosine (64 B)
    * cuts to `s2`, exact float cosine ranks the final `k`. The
    * funnel inverts the cost pyramid: at 100 TB the full-precision
    * vectors are touched for s2·|Q| rows while the scan-side cost is
    * the 16-byte signature column — a14/a5 are each ONE stage of
    * this; the cascade is what actually ships. All three stage
    * ranks (integer Hamming, exact-arithmetic dequantized cosine,
    * exact cosine) replay in the oracle, so even the funnel's
    * intermediate cuts are hash-checked. */
  def a15KnnCascade(spark: SparkSession, dir: String, s1: Int = 64,
                    s2: Int = 16, k: Int = 5): DataFrame = {
    import spark.implicits._
    // the serving representations come from the SHARED per-corpus
    // index build (sign words + SQ8 values) — built once, probed many
    val quant = vectorReps(spark, dir)
    val queries = quant.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qfull"), $"dq".as("dqq"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val wH = Window.partitionBy($"q_id").orderBy($"hamming", $"vec_id")
    val wQ = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"vec_id")
    val wC = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    quant.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"qfull", $"dqq", $"v", $"dq",
        (bit_count($"qw0".bitwiseXOR($"w0")) +
         bit_count($"qw1".bitwiseXOR($"w1"))).cast("long").as("hamming"))
      .withColumn("hrnk", row_number().over(wH))
      .filter($"hrnk" <= s1)
      .select($"q_id", $"vec_id", $"qfull", $"v",
        V.cosineD($"dqq", $"dq").as("qcos"))
      .withColumn("qrnk", row_number().over(wQ))
      .filter($"qrnk" <= s2)
      .select($"q_id", $"vec_id", V.cosineD($"qfull", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wC))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Candidate cascade geometries the tuner measures: s1 (binary
    * shortlist size) × s2 (SQ8 survivors reaching exact rerank). */
  val CascadeGrid: Seq[(Int, Int)] =
    for { s1 <- Seq(16, 32, 64); s2 <- Seq(4, 8, 16) } yield (s1, s2)

  /** Per-config top-k pairs for EVERY candidate geometry in ONE plan:
    * the hamming ranking is computed once to the largest shortlist,
    * configs ride a broadcast theta-join (9 tiny rows), and the
    * stage-2/3 windows partition by (s1, s2, q_id) — nine cascades
    * for roughly the price of one. Output (s1, s2, q_id, vec_id). */
  private[graft] def cascadeGridPairs(spark: SparkSession, dir: String,
                                      k: Int = 5): DataFrame =
    graft.Caches.shared(spark, s"cascade_grid:$dir:k=$k") {
      cascadeGridPairsBuild(spark, dir, k)
    }

  private def cascadeGridPairsBuild(spark: SparkSession, dir: String,
                                    k: Int): DataFrame = {
    import spark.implicits._
    val quant = vectorReps(spark, dir)
    val queries = quant.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qfull"), $"dq".as("dqq"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val s1Max = CascadeGrid.map(_._1).max
    val wH = Window.partitionBy($"q_id").orderBy($"hamming", $"vec_id")
    val hall = quant.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"qfull", $"dqq", $"v", $"dq",
        (bit_count($"qw0".bitwiseXOR($"w0")) +
         bit_count($"qw1".bitwiseXOR($"w1"))).cast("long").as("hamming"))
      .withColumn("hrnk", row_number().over(wH))
      .filter($"hrnk" <= s1Max)
      .select($"q_id", $"vec_id", $"qfull", $"v", $"hrnk",
        V.cosineD($"dqq", $"dq").as("qcos"))
    val cfg = CascadeGrid.toDF("s1", "s2")
    val wQ = Window.partitionBy($"s1", $"s2", $"q_id")
      .orderBy($"qcos".desc, $"vec_id")
    val wC = Window.partitionBy($"s1", $"s2", $"q_id")
      .orderBy($"cr".desc, $"vec_id")
    hall.join(broadcast(cfg), $"hrnk" <= $"s1")
      .withColumn("qrnk", row_number().over(wQ))
      .filter($"qrnk" <= $"s2")
      .select($"s1", $"s2", $"q_id", $"vec_id",
        V.cosineD($"qfull", $"v").as("cr"))
      .withColumn("rnk", row_number().over(wC))
      .filter($"rnk" <= k)
      .select($"s1", $"s2", $"q_id", $"vec_id")
  }

  /** The tuner's pick rule: cheapest config meeting `target`
    * (exact-rerank rows s2 dominate serving cost, then the shortlist
    * s1); if none meets, the highest-hits config (ties resolve
    * cheapest-first). Deterministic on integers end to end. */
  private def pickCascade(rows: Seq[(Int, Int, Long)], possible: Long,
                          target: Double): (Int, Int) =
    rows.map { case (s1, s2, h) =>
      val meets = h.toDouble / possible >= target
      ((if (meets) 0 else 1, if (meets) 0L else -h, s2, s1), (s1, s2))
    }.minBy(_._1)._2

  /** Tuned cascade geometry from the measured grid — the a12
    * discipline driving the knobs instead of reporting them: measure
    * every candidate's recall@5 against the exact pairs, then serve
    * with the cheapest geometry that clears the target. The grid
    * result is a 9-row bounded collect (a report action). */
  def tunedCascadeConfig(spark: SparkSession, dir: String,
                         exact: DataFrame, possible: Long,
                         target: Double = CascadeTarget): (Int, Int) = {
    import spark.implicits._
    val hits = cascadeGridPairs(spark, dir)
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("hits"))
    val rows = CascadeGrid.toDF("s1", "s2")
      .join(hits, Seq("s1", "s2"), "left")
      .select($"s1", $"s2", coalesce($"hits", lit(0L)).as("hits"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    pickCascade(rows, possible, target)
  }

  /** Default recall@5 target for the cascade tuner: what the full
    * (64, 16) geometry roughly achieves on this corpus family — the
    * tuner's job is to find the cheapest geometry that keeps it. */
  val CascadeTarget = 0.7

  /** a17: CASCADE AUTO-TUNING — the a12 "measure, don't guess"
    * panel turned into a decision: every candidate (s1, s2) geometry
    * of a15's funnel is scored for recall@5 against a1's exact
    * pairs IN ONE PLAN (shared hamming ranking, config-partitioned
    * windows), and the chosen row is the cheapest geometry meeting
    * the target (fallback: highest recall). a12 serves its
    * `cascade_tuned` row with this choice; the whole grid — hits,
    * recall, and the pick itself — replays in the oracle, so a
    * mis-tuned cutoff hash-mismatches. */
  def a17CascadeTuning(spark: SparkSession, dir: String,
                       target: Double = CascadeTarget): DataFrame = {
    import spark.implicits._
    val exact = graft.Caches.persist(
      a1BruteForce(spark, dir).select($"q_id", $"vec_id"))
    val possible = exact.count()
    val hits = cascadeGridPairs(spark, dir)
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("hits"))
    val full = graft.Caches.persist(
      CascadeGrid.toDF("s1", "s2")
        .join(hits, Seq("s1", "s2"), "left")
        .select($"s1", $"s2", coalesce($"hits", lit(0L)).as("hits")))
    val rows = full.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val (p1, p2) = pickCascade(rows.toSeq, possible, target)
    full.select($"s1".cast("long").as("s1"), $"s2".cast("long").as("s2"),
        $"hits", lit(possible).as("possible"),
        round($"hits".cast("double") / lit(possible.toDouble), 4)
          .as("recall_at_5"),
        ($"s1" === p1 && $"s2" === p2).as("chosen"))
      .orderBy($"s1", $"s2")
  }

  /** a18: IVF INDEX-BALANCE audit — the cell-population report every
    * IVF deployment reads before trusting its layout: a skewed
    * quantizer (one mega-cell, many empties) silently turns "probe
    * nprobe cells" into "scan half the corpus" for popular queries
    * and starves recall elsewhere, and at 100 TB a hot cell is also
    * a hot PARTITION (the writeIvfIndex layout maps cells to
    * directories 1:1). Per cell: vector count, corpus share, and
    * balance factor (count·k/n — 1.0 is perfectly even); one
    * assignment pass + one keyed aggregate over the trained k=8
    * quantizer, with the full Lloyd training replayed in the oracle
    * so a drifted centroid shows up as a hash mismatch. */
  def a18IndexBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = base(spark, dir)
    val cents = ivfCentroids(spark, dir, all)
    val counts = assign(all, cents)
      .groupBy($"cid".cast("long").as("cid"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(sum($"n_vectors").as("n"),
      count(lit(1)).cast("double").as("k"))
    counts.crossJoin(broadcast(tot))
      .select($"cid", $"n_vectors",
        round($"n_vectors".cast("double") / $"n", 6).as("share"),
        round($"n_vectors".cast("double") * $"k" / $"n", 4).as("balance"))
      .orderBy($"cid")
  }

  /** nprobe depths the a19 sweep measures (8 probes = every cell =
    * exact search, so the curve always ends at recall 1.0). */
  val NprobeGrid: Seq[Int] = Seq(1, 2, 3, 4, 6, 8)

  /** Recall target for the measured nprobe pick. */
  val NprobeRecallTarget = 0.95

  /** a19: IVF nprobe-RECALL sweep — the measure-first discipline
    * (a17's cascade grid, d17's band grid) applied to the oldest ANN
    * knob there is: how many cells to probe. The full centroid
    * ranking is computed ONCE per query (crank 1..k, the same
    * zip_with ordering a4's probe uses), every candidate carries the
    * probing depth at which it becomes visible, and the whole
    * [[NprobeGrid]] is a broadcast theta-join + one rank window —
    * never one serving run per depth. Per depth: rows scanned (the
    * cost an IVF probe actually pays), exact-top-5 hits, recall; the
    * pick is the smallest depth clearing the target (nprobe = k
    * degenerates to exact search, so the pick always exists).
    * Calibration runs on the 10-query sample — the a17 scope; at
    * 100× the same plan runs on a sampled query log. */
  def a19NprobeSweep(spark: SparkSession, dir: String,
                     target: Double = NprobeRecallTarget): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val cents = ivfCentroids(spark, dir, all)
    val cells = assign(all, cents)
    val queries = cells.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    // (−score, index) ascending = the first-max centroid ranking
    // assign() uses, so crank depths agree with where rows landed
    val probed = queries
      .withColumn("__scores", centroidScoresCol(spark, $"qv", cents))
      .withColumn("pr", array_sort(zip_with($"__scores",
        sequence(lit(0), lit(cents.length - 1)),
        (s, i) => probeKey(s, i))))
      .select($"q_id", $"qv", posexplode($"pr.i"))
      .select($"q_id", $"qv", ($"pos" + 1).as("crank"), $"col".as("cid"))
    val cand = graft.Caches.persist(
      cells.join(broadcast(probed), Seq("cid"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", $"crank",
          V.cosineD($"qv", $"v").as("cosine_raw")))
    val exact = graft.Caches.persist(
      a1BruteForce(spark, dir).select($"q_id", $"vec_id"))
    val grid = NprobeGrid.toDF("nprobe")
    val w = Window.partitionBy($"nprobe", $"q_id")
      .orderBy($"cosine_raw".desc, $"vec_id")
    val ranked = graft.Caches.persist(
      cand.join(broadcast(grid), $"crank" <= $"nprobe")
        .withColumn("rnk", row_number().over(w)))
    val scanned = ranked.groupBy($"nprobe")
      .agg(count(lit(1)).as("n_scanned"))
    val hits = ranked.filter($"rnk" <= 5)
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"nprobe").agg(count(lit(1)).as("hits"))
    val tot = exact.agg(count(lit(1)).as("possible"))
    val stats = grid
      .join(scanned, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(tot))
      .select($"nprobe",
        coalesce($"n_scanned", lit(0L)).as("n_scanned"),
        coalesce($"hits", lit(0L)).as("hits"),
        $"possible",
        round(coalesce($"hits", lit(0L)).cast("double")
          / greatest($"possible", lit(1L)), 4).as("recall"))
    // pickBandGeometry's "if none qualifies" rule: when no depth in
    // the grid clears the recall target (possible if the grid max
    // drifts below the cell count), fall back to the deepest probe
    // instead of throwing on an empty min
    val clearing = stats.select($"nprobe", $"recall").collect()
      .filter(_.getDouble(1) >= target).map(_.getInt(0))
    val pick = if (clearing.nonEmpty) clearing.min else NprobeGrid.max
    stats.withColumn("chosen", $"nprobe" === pick).orderBy($"nprobe")
  }

  /** a20: MUTUAL-kNN graph clustering — the shared-nearest-neighbor
    * grouping (Jarvis–Patrick family) that turns a9's directed kNN
    * join into semantic clusters: an edge survives only if BOTH
    * endpoints rank each other in their top-k (the mutuality filter
    * is what kills hub vertices — a generic vector that half the
    * corpus points at is not mutually close to any of them), then
    * connected components label the clusters. Vectors with no mutual
    * neighbor stay singletons (their own rep) — cluster membership is
    * TOTAL over the corpus, unlike p5's edge-members-only view. At
    * 100 TB: candidates are LSH-bounded (a9's bucket cap), the edge
    * list is ≤ V·k rows of 8-byte ids, the mutuality check is one
    * self-join on those ids, and labels come from the size-adaptive
    * alternating-star loop — payload vectors never shuffle past the
    * scoring stage. */
  def a20MutualKnnClusters(spark: SparkSession, dir: String,
                           tables: Int = 8, bits: Int = 6, k: Int = 3,
                           bucketCap: Int = 256): DataFrame = {
    import spark.implicits._
    // defaults serve from the shared per-corpus builds; a
    // non-default geometry builds its own (tuning experiments, specs)
    val default = tables == 8 && bits == 6 && k == 3 && bucketCap == 256
    val mutual =
      if (default) mutualEdges(spark, dir)
      else mutualEdgesOf(base(spark, dir), tables, bits, k, bucketCap)
    val deg = mutual.select($"a_id".as("vec_id"))
      .unionByName(mutual.select($"b_id".as("vec_id")))
      .groupBy($"vec_id").agg(count(lit(1)).as("mutual_degree"))
    val labeled =
      if (default) mutualKnnLabels(spark, dir)
      else mutualKnnLabelsOf(mutual, base(spark, dir))
    val sizes = labeled.groupBy($"cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_rep")
      .join(deg, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster_rep", $"cluster_size",
        ($"vec_id" === $"cluster_rep").as("is_rep"),
        coalesce($"mutual_degree", lit(0L)).as("mutual_degree"))
      .orderBy($"vec_id")
  }

  /** The surviving mutual edge list (a_id < b_id) over any (vec_id,
    * v array<double>) frame — a9's LSH-bounded directed kNN join
    * filtered to edges BOTH endpoints agree on. Per-query persisted
    * (degrees + labels both read it twice); corpus-table callers go
    * through the shared [[mutualEdges]] instead. */
  def mutualEdgesOf(vectors: DataFrame, tables: Int = 8, bits: Int = 6,
                    k: Int = 3, bucketCap: Int = 256): DataFrame =
    graft.Caches.persist(
      mutualEdgesPlanOf(vectors, tables, bits, k, bucketCap))

  /** The unpersisted mutual-edge plan (the directed kNN list IS
    * tracked-persisted — it only backs the one-time build of the
    * self-join, and releaseAll reclaims it after materialization). */
  private def mutualEdgesPlanOf(vectors: DataFrame, tables: Int,
                                bits: Int, k: Int,
                                bucketCap: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val nn = graft.Caches.persist(
      knnJoinOf(vectors, tables, bits, k, bucketCap)
        .select($"q_id", $"vec_id"))
    nn.as("x").join(nn.as("y"),
        $"x.q_id" === $"y.vec_id" && $"x.vec_id" === $"y.q_id" &&
          $"x.q_id" < $"x.vec_id")
      .select($"x.q_id".as("a_id"), $"x.vec_id".as("b_id"))
  }

  /** Persist-once SHARED mutual-edge build over the corpus
    * embeddings (the cc_labels accounting: the semantic cluster
    * graph is computed once per corpus; a20's degree+label report
    * and s14's collapsed serving both serve from it). Billed with
    * the label fixpoint as one Bench line (_shared_mutual_graph). */
  def mutualEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.shared(spark, s"mutual_edges:$dir") {
      mutualEdgesPlanOf(base(spark, dir), 8, 6, 3, 256)
    }

  /** TOTAL (vec_id, cluster_rep) assignment from a mutual edge list:
    * connected-component labels over the edges, singletons labeling
    * themselves — the cluster_rep column a20 reports and the label
    * side s14's semantic collapse joins. */
  def mutualKnnLabelsOf(mutual: DataFrame, vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val labels = Pipeline.connectedComponentsAdaptive(mutual)
    vectors.select($"vec_id")
      .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"lbl", $"vec_id").as("cluster_rep"))
  }

  /** a20's label side over the corpus embeddings table — the TOTAL
    * (vec_id, cluster_rep) assignment as a persist-once shared build
    * (the component loop's label fixpoint runs once per corpus; a20
    * and s14 both serve joins against the result). */
  def mutualKnnLabels(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.shared(spark, s"mutual_labels:$dir") {
      mutualKnnLabelsOf(mutualEdges(spark, dir), base(spark, dir))
    }

  /** a16: FILTERED vector search — the metadata-constrained top-k
    * every vector store ships (Weaviate `where` + nearVector; s5 is
    * the keyword twin): each query returns its nearest neighbors
    * AMONG vectors passing a predicate (here: same `label`, the
    * tenant/collection stand-in). Filter-BEFORE-search, not
    * post-filter: post-filtering a global top-k under-fills exactly
    * when the filter is selective (the classic filtered-ANN bug —
    * k results shrink to however many survivors the unfiltered list
    * happened to contain). At scale the predicate pushes into the
    * scan (label-partitioned layouts prune directories — the
    * writeIvfIndex pattern); candidate cost is the filtered
    * fraction, and the broadcast query side carries its own label. */
  def a16KnnFiltered(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val all = base(spark, dir)
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"label".as("q_label"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    all.join(broadcast(queries),
        $"label" === $"q_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"q_label", $"vec_id",
        V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"q_label", $"vec_id",
        round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a21: NN-DESCENT kNN-graph refinement — the scale path for
    * building the FULL kNN graph (a9's product) when no LSH geometry
    * alone recalls enough: start from a cheap seed graph and exploit
    * "a neighbor of my neighbor is probably my neighbor" (Dong,
    * Moses & Li, WWW'11 — the algorithm behind pynndescent/UMAP
    * graph construction). One refinement round here: candidates =
    * the seed's directed edges ∪ every neighbor-of-neighbor pair
    * through the UNDIRECTED seed view (both edge directions — the
    * "general neighbors" the paper shows the convergence depends
    * on), exact-rerank to top-k per node. Cost shape at 100 TB: the
    * expansion join carries 8-byte ids only and produces at most
    * n·(2k)² candidate rows (degree-bounded by construction — never
    * N², never a mega-bucket), the rerank fetches vectors by two
    * hash joins and rides the TopKPerKey heap window, and rounds
    * compose idempotently (a production build loops until the
    * edge-set delta dries up; each round is THIS operator). The
    * report is the a12 discipline applied to graph construction:
    * seed vs refined graph recall@k against the exact graph on a
    * probe sample, with the directed edge count each round pays —
    * refined recall is monotone ≥ seed by construction (candidate
    * superset + identical tie-break), which the spec pins. */
  def a21NnDescent(spark: SparkSession, dir: String,
                   tables: Int = 4, bits: Int = 6, k: Int = 3,
                   bucketCap: Int = 256, probeN: Int = 25,
                   rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val vecs = all.select($"vec_id", $"v")
    // at the corpus geometry the report reads the SHARED build a22
    // serves from (build once, measure + serve against it); ad-hoc
    // geometries build their own chain
    val graphs =
      if (tables == 4 && bits == 6 && k == 3 && bucketCap == 256)
        nnGraphRounds(spark, dir, rounds)
      else {
        val seed = graft.Caches.persist(
          knnJoinOf(all, tables, bits, k, bucketCap)
            .select($"q_id", $"vec_id"))
        (1 to rounds).scanLeft(seed) { (g, _) =>
          graft.Caches.persist(descentRound(g, vecs, k))
        }
      }
    // exact probe graph: brute-force top-k for a small probe sample
    val wK = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    val probes = all.filter($"vec_id" < probeN)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val exact = graft.Caches.persist(all
      .join(broadcast(probes), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wK))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id"))
    val possible = exact.count()
    graphs.zipWithIndex.map { case (g, i) =>
      val hits = g.join(exact, Seq("q_id", "vec_id"), "left_semi").count()
      (s"r$i" + (if (i == 0) "_seed" else ""), hits, possible, g.count())
    }.toDF("round", "hits", "possible", "n_edges")
      .withColumn("recall", round($"hits".cast("double") / $"possible", 4))
      .select($"round", $"hits", $"possible", $"recall", $"n_edges")
      .orderBy($"round")
  }

  /** ONE NN-Descent refinement round over a directed kNN graph
    * (q_id, vec_id): undirected view → neighbor-of-neighbor
    * candidates ∪ current edges → exact rerank to top-k per node.
    * Idempotent composition — a21 chains it; a production build
    * loops it until the edge delta dries up. */
  private[graft] def descentRound(g: DataFrame, vecs: DataFrame,
                                  k: Int): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    // undirected neighbor view: both directions of every edge
    val und = g.select($"q_id".as("node"), $"vec_id".as("nbr"))
      .unionByName(g.select($"vec_id".as("node"), $"q_id".as("nbr")))
      .dropDuplicates("node", "nbr")
    // neighbor-of-neighbor expansion (ids only in the join)
    val cand2 = und.as("x")
      .join(und.as("y"), $"x.nbr" === $"y.node" && $"y.nbr" =!= $"x.node")
      .select($"x.node".as("q_id"), $"y.nbr".as("vec_id"))
    val cand = g.unionByName(cand2).dropDuplicates("q_id", "vec_id")
    val wK = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cand
      .join(vecs.select($"vec_id".as("q_id"), $"v".as("qv")), "q_id")
      .join(vecs, "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wK))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id")
  }

  /** Exact rerank of a candidate edge set to top-k per node — the
    * shared tail of every graph-construction path here (seed join,
    * descent rounds, incremental append): two id-keyed hash joins
    * fetch the vectors, the heap window keeps k. */
  private def rerankTopK(cand: DataFrame, vecs: DataFrame,
                         k: Int): DataFrame = {
    import cand.sparkSession.implicits._
    val wK = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    cand
      .join(vecs.select($"vec_id".as("q_id"), $"v".as("qv")), "q_id")
      .join(vecs, "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wK))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id")
  }

  /** The NN-Descent build LOOP — the production shape whose
    * fixed-round report a21 measures: refine until the per-round
    * edge DELTA (directed edges present this round that the previous
    * round lacked — the WWW'11 paper's update counter c, the
    * termination signal it prescribes) dries to ≤ `minDelta`, capped
    * at `maxRounds`. Each round localCheckpoints: the edge tables
    * are two longs per row but their LINEAGE is the whole build, and
    * the delta count + next round would otherwise re-analyze the
    * full tree per action on the driver (the measured a21 lesson).
    * The delta count is ONE driver-side long per round — loop
    * control, the count-gated collect class. Returns the final
    * graph and the per-round deltas (KnnSpec pins delta ↓ 0 and
    * convergence to the exact graph on a planted corpus). */
  def nnDescentBuild(vecs: DataFrame, seed: DataFrame, k: Int,
                     maxRounds: Int = 8, minDelta: Long = 0L)
      : (DataFrame, Seq[Long]) = {
    var g = seed.localCheckpoint()
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dry = false
    var r = 0
    while (!dry && r < maxRounds) {
      val next = descentRound(g, vecs, k).localCheckpoint()
      val delta = next.join(g, Seq("q_id", "vec_id"), "left_anti").count()
      deltas += delta
      g = next
      r += 1
      dry = delta <= minDelta
    }
    (g, deltas.toSeq)
  }

  /** INCREMENTAL kNN-graph maintenance — the appendToIvfIndex
    * contract applied to a22's edge table: a new vector batch joins
    * an EXISTING graph without a rebuild. (1) SEED: only the batch
    * hashes through the same LSH geometry and bucket-joins against
    * the corpus's capped buckets — candidates are batch × colliding
    * vectors, never corpus × corpus. (2) REFINE: one
    * neighbor-of-neighbor expansion through the EXISTING graph's
    * undirected view (a new node's seed neighbors donate their
    * neighbors), exact-reranked to top-k — the descent step with the
    * rerank touching ONLY the batch. (3) BACK-PATCH: existing nodes
    * that a new node reached rerank their top-k over current edges ∪
    * the reversed new edges — the bidirectional-link step of every
    * HNSW/NN-Descent insert, set-at-a-time; nodes the batch never
    * touched pass through UNCHANGED (KnnSpec pins it). Cost tracks
    * batch size × degree, not corpus size; at scale the bucket table
    * is a stored artifact next to the edge table (the writeIvfIndex
    * layout discipline), so step (1) reads, not recomputes, the
    * corpus side. */
  def appendToNnGraph(oldGraph: DataFrame, vecs: DataFrame,
                      newIds: DataFrame, k: Int, tables: Int = 4,
                      bits: Int = 6, bucketCap: Int = 256): DataFrame = {
    import vecs.sparkSession.implicits._
    val delta = appendToNnGraphDelta(oldGraph, vecs, newIds, k,
      tables, bits, bucketCap)
    oldGraph
      .join(delta.select($"q_id").distinct(), Seq("q_id"), "left_anti")
      .unionByName(delta)
  }

  /** The CHANGED rows of [[appendToNnGraph]] only — the new nodes'
    * edges plus the back-patched existing nodes' refreshed edge sets
    * (every q_id present here is fully rewritten). This is what a
    * persisted edge store upserts ([[upsertNnGraphStore]]); nodes
    * absent from the delta keep their stored rows untouched. */
  def appendToNnGraphDelta(oldGraph: DataFrame, vecs: DataFrame,
                           newIds: DataFrame, k: Int, tables: Int = 4,
                           bits: Int = 6, bucketCap: Int = 256): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val vv = graft.Caches.persist(vecs.select($"vec_id", $"v"))
    // corpus bucket table (stored next to the graph in a deployment)
    val capped = {
      val buckets = vv
        .withColumn("sigs", expr(s"hyperplane_sig(v, $tables, $bits)"))
        .select($"vec_id", posexplode($"sigs"))
        .select($"vec_id", $"pos".as("tbl"), $"col".as("sig"))
      val wB = Window.partitionBy($"tbl", $"sig")
      buckets.withColumn("bcnt", count(lit(1)).over(wB))
        .filter($"bcnt" <= bucketCap)
        .select($"vec_id", $"tbl", $"sig")
    }
    val ids = newIds.select($"vec_id").distinct()
    // (1) seed: batch-side buckets only join the corpus buckets
    val newB = capped.join(broadcast(ids), "vec_id")
    val seedCand = newB.as("a")
      .join(capped.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.sig" === $"b.sig" &&
          $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("q_id"), $"b.vec_id".as("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val seedNew = rerankTopK(seedCand, vv, k).localCheckpoint()
    // (2) refine: seed neighbors donate their neighbors through the
    // existing graph's undirected view; rerank only the batch
    val undOld = oldGraph.select($"q_id".as("node"), $"vec_id".as("nbr"))
      .unionByName(oldGraph.select($"vec_id".as("node"), $"q_id".as("nbr")))
      .dropDuplicates("node", "nbr")
    val cand2 = seedNew.as("s")
      .join(undOld, $"s.vec_id" === $"node" && $"nbr" =!= $"s.q_id")
      .select($"s.q_id".as("q_id"), $"nbr".as("vec_id"))
    val newEdges = rerankTopK(
      seedNew.unionByName(cand2).dropDuplicates("q_id", "vec_id"),
      vv, k).localCheckpoint()
    // (3) back-patch the reached existing nodes; everyone else's
    // edges pass through untouched
    val rev = newEdges
      .join(ids.withColumnRenamed("vec_id", "q_id"), Seq("q_id"), "left_semi")
      .select($"vec_id".as("q_id"), $"q_id".as("vec_id"))
      .join(ids.select($"vec_id".as("q_id")), Seq("q_id"), "left_anti")
    val dirty = rev.select($"q_id").distinct()
    val patched = rerankTopK(
      oldGraph.join(dirty, Seq("q_id"), "left_semi")
        .unionByName(rev).dropDuplicates("q_id", "vec_id"),
      vv, k)
    patched.unionByName(newEdges)
  }

  /** DELETE nodes from a kNN graph with FreshDiskANN's
    * delete-consolidation (Singh et al. 2021, §4.2): dead nodes'
    * own rows drop; every surviving node that pointed AT a dead
    * node re-ranks over its remaining live neighbors ∪ the dead
    * neighbor's live out-neighbors (the "bridge through the hole"
    * step that keeps the graph navigable — plain edge removal
    * leaves the walk stranded around deletions); nodes that never
    * pointed at a dead node pass through BIT-UNCHANGED (the
    * appendToNnGraph discipline). Cost tracks |dirty| × degree²,
    * never corpus size — the consolidation FreshDiskANN batches for
    * exactly this reason. */
  def deleteFromNnGraph(graph: DataFrame, deadIds: DataFrame,
                        vecs: DataFrame, k: Int): DataFrame = {
    import graph.sparkSession.implicits._
    graft.plans.GraftFunctions.ensureRegistered(graph.sparkSession)
    val dead = deadIds.select($"vec_id").distinct().localCheckpoint(true)
    // rows whose SOURCE survives
    val srcLive = graph.join(dead.select($"vec_id".as("q_id")),
      Seq("q_id"), "left_anti")
    val kept = srcLive.join(dead, Seq("vec_id"), "left_anti")
    val dirty = srcLive.join(dead, Seq("vec_id"), "left_semi")
      .select($"q_id").distinct()
    // bridges: the dead neighbor's live out-neighbors, donated to
    // everyone who pointed at it (read from the ORIGINAL graph —
    // the dead node's rows still exist there)
    val bridges = srcLive.join(dead, Seq("vec_id"), "left_semi")
      .select($"q_id", $"vec_id".as("d"))
      .join(graph.select($"q_id".as("d"), $"vec_id".as("b")), "d")
      .filter($"b" =!= $"q_id")
      .join(dead.select($"vec_id".as("b")), Seq("b"), "left_anti")
      .select($"q_id", $"b".as("vec_id"))
    val cand = kept.join(dirty, Seq("q_id"), "left_semi")
      .unionByName(bridges)
      .dropDuplicates("q_id", "vec_id")
    val patched = rerankTopK(cand, vecs.select($"vec_id", $"v"), k)
    kept.select($"q_id", $"vec_id")
      .join(dirty, Seq("q_id"), "left_anti")
      .unionByName(patched)
  }

  /** PERSISTED kNN-graph store — the writeIvfIndex discipline for
    * a22's edge table: edges land in node-hash bucket directories,
    * so an incremental upsert rewrites ONLY the buckets its changed
    * nodes live in (dynamic partition overwrite — the reingest
    * pattern), never the whole graph. */
  val GraphBuckets = 32

  def writeNnGraphStore(graph: DataFrame, path: String): Unit = {
    import graph.sparkSession.implicits._
    graph.select($"q_id", $"vec_id")
      .withColumn("nbucket", bucketOf($"q_id"))
      .write.mode("overwrite").partitionBy("nbucket").parquet(path)
  }

  /** The graph store's companion VECTOR table — FreshDiskANN keeps
    * vectors and adjacency co-located, and every graph mutation
    * (insert's delta rerank, delete's consolidation rerank) reads
    * vectors by id: rows land in vbucket = pmod(vec_id) directories,
    * the same bucket discipline as the edges, so id-scoped
    * upserts/deletes rewrite only their buckets. `valCol` lets the
    * graph+PQ store reuse the exact layout for its CODES tier
    * (vec_id, code) — same bucket math, same touched-bucket-only
    * rewrites. */
  def writeNnVecStore(vecs: DataFrame, path: String,
                      valCol: String = "v"): Unit = {
    import vecs.sparkSession.implicits._
    vecs.select($"vec_id", col(valCol))
      .withColumn("vbucket", bucketOf($"vec_id"))
      .write.mode("overwrite").partitionBy("vbucket").parquet(path)
  }

  def readNnVecStore(spark: SparkSession, path: String,
                     valCol: String = "v"): DataFrame = {
    import spark.implicits._
    spark.read.parquet(path).select($"vec_id", col(valCol))
  }

  /** Id-scoped vector upsert: arriving ids replace their old copies;
    * only the touched vbuckets rewrite. A table not written yet takes
    * the batch as its first write. */
  def upsertNnVecStore(spark: SparkSession, path: String,
                       vecs: DataFrame, valCol: String = "v"): Unit = {
    import spark.implicits._
    val d = vecs.select($"vec_id", col(valCol))
      .withColumn("vbucket", bucketOf($"vec_id"))
    replaceRows(spark, path, "vbucket", "vec_id", partsOf(d, $"vbucket"),
      d, Some(d))
  }

  /** Id-scoped vector delete: the ids' buckets rewrite without them
    * (a bucket whose every row died is dropped). No-op on a table not
    * written yet. */
  def deleteFromNnVecStore(spark: SparkSession, path: String,
                           ids: DataFrame): Unit = {
    import spark.implicits._
    val dead = ids.select($"vec_id").distinct().localCheckpoint(true)
    replaceRows(spark, path, "vbucket", "vec_id",
      partsOf(dead, bucketOf($"vec_id")), dead)
  }

  /** Apply an [[appendToNnGraphDelta]] to the store: the rewritten
    * nodes' old rows leave and the delta lands, in the delta's
    * buckets only. */
  def upsertNnGraphStore(spark: SparkSession, path: String,
                         delta: DataFrame): Unit = {
    import spark.implicits._
    val d = delta.select($"q_id", $"vec_id")
      .withColumn("nbucket", bucketOf($"q_id"))
    replaceRows(spark, storeDataDir(spark, path), "nbucket", "q_id",
      partsOf(d, $"nbucket"), d, Some(d))
  }

  def readNnGraphStore(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(storeDataDir(spark, path))
      .select($"q_id", $"vec_id")
  }

  /** [[deleteFromNnGraph]] against the PERSISTED edge store: the
    * consolidation computes on the loaded graph, then ONLY the
    * buckets carrying dead sources or dirty (re-ranked) nodes
    * rewrite via dynamic partition overwrite — every other bucket is
    * untouched on disk, the upsertNnGraphStore discipline. The
    * finding of "who pointed at a dead node" is one vec_id column
    * scan of the store — FreshDiskANN's consolidation pass pays the
    * same read, which is why it batches deletes. */
  def deleteFromNnGraphStore(spark: SparkSession, path: String,
                             deadIds: DataFrame, vecs: DataFrame,
                             k: Int): Unit =
    applyGraphStoreDelete(spark, path, deadIds,
      (graph, dead) => deleteFromNnGraph(graph, dead, vecs, k))

  /** [[deleteFromNnGraphStore]]'s α-RNG twin for a persisted VAMANA
    * edge store: the consolidation is [[vamanaDeleteOf]] (dirty
    * nodes RobustPrune over survivors ∪ bridges) instead of the
    * top-k rerank — same targeted bucket rewrite. */
  def deleteFromVamanaStore(spark: SparkSession, path: String,
                            deadIds: DataFrame, vecs: DataFrame,
                            alpha: Double = 1.2, degreeCap: Int = 6,
                            poolCap: Int = 12): Unit =
    applyGraphStoreDelete(spark, path, deadIds,
      (graph, dead) =>
        vamanaDeleteOf(graph, dead, vecs, alpha, degreeCap, poolCap))

  /** Shared store-side delete applier: run `consolidate` on the
    * loaded graph, then rewrite ONLY the buckets carrying dead sources
    * or changed nodes (those that pointed at a dead node). */
  private def applyGraphStoreDelete(spark: SparkSession, path: String,
                                    deadIds: DataFrame,
                                    consolidate: (DataFrame, DataFrame)
                                      => DataFrame): Unit = {
    import spark.implicits._
    val dead = deadIds.select($"vec_id").distinct().localCheckpoint(true)
    val graph = readNnGraphStore(spark, path)
    val touched = partsOf(graph.join(dead, Seq("vec_id"), "left_semi")
      .select($"q_id").unionByName(dead.select($"vec_id".as("q_id"))),
      bucketOf($"q_id"))
    rewriteParts(spark, storeDataDir(spark, path), "nbucket", touched,
      consolidate(graph, dead).withColumn("nbucket", bucketOf($"q_id"))
        .filter($"nbucket".isin(touched: _*)))
  }

  /** COMPACT the kNN-graph edge store: every bucket rewrites to one
    * file as one generation commit (see the ANN-store contract) — the
    * graph store deletes physically, so the small-file curve its
    * bucket rewrites leave is the only compaction signal. The edge SET
    * is unchanged (the spec pins read-back equality). */
  def compactNnGraphStore(spark: SparkSession, path: String): Unit =
    optimizeStore(spark, path, "nbucket", Seq(""))

  /** COUNT-GATED auto-compaction for the graph store on its one
    * signal, files per bucket; fires [[compactNnGraphStore]]. Returns
    * whether a rewrite ran. */
  def maybeCompactNnGraph(spark: SparkSession, path: String,
                          maxFilesPerBucket: Double = 4.0): Boolean =
    optimizeIfDue(spark, path, "nbucket", Seq(""), maxFilesPerBucket, None)

  /** The NN-Descent build as SHARED per-round materializations —
    * built once per corpus, read by BOTH consumers: a21's per-round
    * recall report and a22's serving walk (the d17/a17 accounting —
    * the build is the one-time pass, every report/serving run reads
    * it). Each round is localCheckpoint'ed: the edge tables are tiny
    * (two longs per edge) but their LINEAGE is the whole build — LSH
    * signature HOFs, expansion rounds of window reranks — and
    * without truncation every plan referencing a round re-analyzes
    * that tree on the DRIVER (measured: ~5s of pure plan compile per
    * a22 action). The checkpoint cuts the plan at the data — the
    * boundary a production run gets by writing each round to a
    * parquet edge table. */
  private[graft] def nnGraphRounds(spark: SparkSession, dir: String,
                                   rounds: Int = 2): Seq[DataFrame] = {
    import spark.implicits._
    val r0 = graft.Caches.shared(spark, s"nn_graph_r0:$dir") {
      knnJoinOf(base(spark, dir), tables = 4, bits = 6, k = 3,
        bucketCap = 256).select($"q_id", $"vec_id").localCheckpoint()
    }
    (1 to rounds).scanLeft(r0) { (g, i) =>
      graft.Caches.shared(spark, s"nn_graph_r$i:$dir") {
        descentRound(g,
          base(spark, dir).select($"vec_id", $"v"), k = 3)
          .localCheckpoint()
      }
    }
  }

  /** The final refined graph — a22's edge table. */
  private[graft] def refinedGraph(spark: SparkSession,
                                  dir: String): DataFrame =
    nnGraphRounds(spark, dir).last

  /** VAMANA ROBUST PRUNE — DiskANN's α-RNG rule (Jayaram Subramanya
    * et al., NeurIPS'19, RobustPrune): re-select each node's
    * out-neighborhood for NAVIGABILITY instead of raw closeness. The
    * NN-descent graph keeps the k closest neighbors, which cluster
    * in one direction and leave the beam walk re-treading the same
    * dense pocket; the α rule visits candidates closest-first and
    * DROPS any candidate v already covered by a kept neighbor s
    * (α·d(s,v) ≤ d(p,v), d = 1 − cosine, α > 1 keeps some slack) —
    * so each kept edge opens a genuinely new direction, up to
    * `degreeCap` edges per node.
    *
    * Candidate pool per node: the undirected view of `g` plus ONE
    * neighbor-of-neighbor expansion, bounded to the `poolCap` best
    * by similarity (DiskANN's L-bounded candidate list) — so the
    * pool a node selects from is WIDER than its final degree, which
    * is where the diversity win comes from. Cost shape at 100 TB:
    * the expansion join carries ids only (≤ n·(2k)² rows), the
    * bounded pool is one heap window, pair scoring is two id-keyed
    * vector fetches over ≤ n·poolCap² rows, and the greedy runs as
    * a KEYED PER-NODE AGGREGATE over a bounded group (≤ poolCap
    * candidates + poolCap² pair rows per node) — one keyed shuffle,
    * never corpus². The greedy itself is the one genuinely
    * sequential piece (each keep decision depends on prior keeps),
    * so it runs in the typed flatMapGroups seam over that bounded
    * group — the same justified-imperative class as the chunker. */
  def robustPrune(g: DataFrame, vecs: DataFrame, alpha: Double = 1.2,
                  degreeCap: Int = 6, poolCap: Int = 12): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val ids = vecs.select($"vec_id".as("vid"), $"v".as("vv"))
    val und = g.select($"q_id".as("node"), $"vec_id".as("nbr"))
      .unionByName(g.select($"vec_id".as("node"), $"q_id".as("nbr")))
    val non = und.as("x")
      .join(und.as("y"), $"x.nbr" === $"y.node" && $"y.nbr" =!= $"x.node")
      .select($"x.node".as("node"), $"y.nbr".as("nbr"))
    val pool0 = und.unionByName(non).filter($"node" =!= $"nbr")
      .dropDuplicates("node", "nbr")
    pruneFromPool(scoredPool(pool0, ids, poolCap), ids, alpha, degreeCap)
  }

  /** Score and bound a raw (node, nbr) candidate pool: two id-keyed
    * vector fetches, cosine, the shared (sim desc, nbr) heap window
    * to `poolCap` — the pool every prune consumes, ONE definition
    * (build, insert's dirty patch, delete consolidation all call
    * this; the SQL twins replay the same shape). Checkpointed so
    * the pair self-join inside the prune reads data, not double
    * lineage. */
  private def scoredPool(pool0: DataFrame, ids: DataFrame,
                         poolCap: Int): DataFrame = {
    val spark = pool0.sparkSession
    import spark.implicits._
    val wP = Window.partitionBy($"node").orderBy($"sim_pn".desc, $"nbr")
    pool0.select($"node", $"nbr")
      .join(ids.withColumnRenamed("vid", "node"), "node")
      .withColumnRenamed("vv", "pv")
      .join(ids.withColumnRenamed("vid", "nbr"), "nbr")
      .select($"node", $"nbr", V.cosineD($"pv", $"vv").as("sim_pn"))
      .withColumn("prnk", row_number().over(wP))
      .filter($"prnk" <= poolCap)
      .select($"node", $"nbr", $"sim_pn")
      .localCheckpoint(true)
  }

  /** The α-RNG greedy over an ALREADY-BUILT candidate pool
    * (node, nbr, sim_pn — bounded per node) — [[robustPrune]]'s
    * selection half on its own, reused by the insert path
    * ([[insertIntoVamana]]) where the pool comes from a serving
    * WALK's visited set (DiskANN §4 Insert: RobustPrune(p, V)), and
    * by the reverse-edge patch (prune over neighbors ∪ backlinks).
    * `ids` must cover every node and nbr in the pool. */
  private[graft] def pruneFromPool(pool: DataFrame, ids: DataFrame,
                                   alpha: Double = 1.2,
                                   degreeCap: Int = 6): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    // pairwise candidate sims, both directions: ids through the
    // join, vectors fetched per side — ≤ n·poolCap² rows
    val pairs = pool.as("a")
      .join(pool.as("b"),
        $"a.node" === $"b.node" && $"a.nbr" =!= $"b.nbr")
      .select($"a.node".as("node"), $"a.nbr".as("s"), $"b.nbr".as("cv"),
        $"a.sim_pn".as("sim_ps"), $"b.sim_pn".as("sim_pv"))
      .join(ids.withColumnRenamed("vid", "s"), "s")
      .withColumnRenamed("vv", "sv")
      .join(ids.withColumnRenamed("vid", "cv"), "cv")
      .select($"node", $"s", $"cv", $"sim_ps", $"sim_pv",
        V.cosineD($"sv", $"vv").as("sim_sv"))
    // lone-candidate nodes (pool size 1) ride along as self-pairs
    val withLone = pairs.unionByName(pool
      .select($"node", $"nbr".as("s"), $"nbr".as("cv"),
        $"sim_pn".as("sim_ps"), $"sim_pn".as("sim_pv"),
        lit(1.0).as("sim_sv")))
    withLone.as[(Long, Long, Long, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (node, it) =>
        val rows = it.toArray
        val simP = scala.collection.mutable.Map.empty[Long, Double]
        val pairSim = scala.collection.mutable.Map.empty[(Long, Long), Double]
        rows.foreach { case (_, s, v, sPs, sPv, sSv) =>
          simP(s) = sPs; simP(v) = sPv
          if (s != v) pairSim((s, v)) = sSv
        }
        // closest-first with the shared (sim desc, id asc) tie-break
        val order = simP.toSeq.sortBy { case (id, sim) => (-sim, id) }
        val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
        order.foreach { case (cand, sPv) =>
          if (kept.size < degreeCap) {
            val dominated = kept.exists { s =>
              // a pair the `ids` table couldn't score (caller passed
              // an embeddings subset) must NOT silently dominate —
              // NaN compares false, so the candidate is KEPT, the
              // conservative reading of the α rule (the SQL replay's
              // NOT EXISTS over a missing psim row agrees)
              alpha * (1.0 - pairSim.getOrElse((s, cand), Double.NaN)) <=
                (1.0 - sPv)
            }
            if (!dominated) kept += cand
          }
        }
        kept.map(node -> _)
      }.toDF("q_id", "vec_id")
  }

  /** The session's VAMANA graph for `dir`: [[robustPrune]] over the
    * refined NN-descent edge table — the build-once artifact a29's
    * walk serves from, next to [[refinedGraph]] in the shared-build
    * accounting. */
  private[graft] def vamanaGraph(spark: SparkSession,
                                 dir: String): DataFrame =
    graft.Caches.shared(spark, s"vamana_graph:$dir") {
      import spark.implicits._
      robustPrune(refinedGraph(spark, dir),
        base(spark, dir).select($"vec_id", $"v")).localCheckpoint()
    }

  /** a29: graph-serving ANN over the VAMANA-PRUNED graph — a22's
    * exact walk (medoid entries, beam, hop-synchronous BSP) with the
    * α-RNG out-neighborhoods instead of the raw NN-descent top-k:
    * the published DiskANN operating point, where each hop's
    * frontier fans into DIVERSE directions, so the same beam and hop
    * budget visits more of the query's true neighborhood. a12 gains
    * a `vamana` panel row measuring exactly that against the `graph`
    * row at equal geometry. */
  def a29VamanaSearch(spark: SparkSession, dir: String, k: Int = 5,
                      beam: Int = 6, hops: Int = 2,
                      eCells: Int = 8): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    val g = vamanaGraph(spark, dir)
    graphSearchFrom(all.select($"vec_id", $"v"), g, queries,
      medoidEntries(queries, medoids, cents, eCells),
      k, beam, hops, undPre = Some(sharedUnd(spark, s"vamana:$dir", g)))
  }

  /** a31: VAMANA INSERT — DiskANN's §4 insert algorithm (Jayaram
    * Subramanya et al., NeurIPS'19; the FreshDiskANN StreamingMerge
    * insert step) over the session's vamana graph, set-at-a-time
    * for a BATCH of new vectors: (1) each new node's candidate pool
    * is the VISITED set of the serving walk from its medoid entries
    * (GreedySearch(s, p) returning V — [[graphVisited]], the exact
    * serving kernel); (2) its out-edges are RobustPrune(p, V) —
    * [[pruneFromPool]] over the walk pool; (3) every kept edge
    * back-patches: the pointed-at node re-prunes over its existing
    * out-neighbors ∪ the new backlinks (the paper prunes on degree
    * overflow; re-pruning every dirty node unconditionally is the
    * deterministic set-at-a-time form, and keeps the α-RNG
    * invariant rather than just the cap). Untouched nodes pass
    * through bit-identical.
    *
    * The inserts are a deterministic synthetic batch (the first 8
    * corpus vectors, ids offset +900M, each component x·0.9+0.01) so
    * the oracle can replay them; the batch shape is what the
    * maintenance stream delivers. Cost at 100 TB: |batch| walks
    * (frontier-bound, a30's measured 1.07 slope), one bounded prune
    * per new node (pool ≤ poolCap), and a re-prune of ≤
    * |batch|·degreeCap dirty nodes — every join id-keyed, nothing
    * corpus². */
  def insertIntoVamana(spark: SparkSession, dir: String,
                       alpha: Double = 1.2, degreeCap: Int = 6,
                       poolCap: Int = 12, beam: Int = 6, hops: Int = 2,
                       eCells: Int = 8): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val g = vamanaGraph(spark, dir)
    val ins = all.filter($"vec_id" < 8)
      .select(($"vec_id" + 900000000L).as("vec_id"),
        transform($"v", x => x * 0.9 + 0.01).as("v"))
      .localCheckpoint(true)
    val queries = ins.select($"vec_id".as("q_id"), $"v".as("qv"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    vamanaInsertOf(all.select($"vec_id", $"v"), g, ins,
      medoidEntries(queries, medoids, cents, eCells),
      alpha, degreeCap, poolCap, beam, hops,
      undPre = Some(sharedUnd(spark, s"vamana:$dir", g)))
  }

  /** The session's STREAM-MAINTAINED vamana store for `dir` —
    * st21's gate, st18's recipe on the α-RNG tier: the batch-built
    * vamana graph and the corpus vectors bootstrap the co-located
    * store, then ONE micro-batch of NULL delete notices for
    * [[GraphDeadIds]] arrives through
    * [[graft.streaming.IngestStream.vamanaStream]] — the α-RNG
    * delete-consolidation driven by a real stream. After the epoch
    * the stored edge set IS a32's consolidated graph (which is why
    * st21 reuses a32's oracle). */
  def streamedVamanaPath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"vamana_streamed:$dir") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_vamana_stream").toString
      writeNnGraphStore(vamanaGraph(spark, dir), s"$root/graph")
      writeNnVecStore(base(spark, dir).select($"vec_id", $"v"),
        s"$root/vectors")
      val payload = GraphDeadIds.toDF("vec_id")
        .select($"vec_id", lit(null).cast("array<double>").as("v"))
      val stage = s"$root/payload"
      payload.write.parquet(stage)
      val q = graft.streaming.IngestStream.vamanaStream(
        spark.readStream.schema(payload.schema).parquet(stage), root)
      try q.processAllAvailable() finally q.stop()
      root
    }

  /** st21: the STREAM-MAINTAINED vamana store's edge set — must
    * equal a32's batch α-RNG consolidation digit for digit (same
    * shared build, same prune kernel, driven through foreachBatch
    * epochs with the replay marker); oracle IS a32's replay. */
  def st21StreamedVamana(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readNnGraphStore(spark, s"${streamedVamanaPath(spark, dir)}/graph")
      .orderBy($"q_id", $"vec_id")
  }

  /** a32: VAMANA DELETE — FreshDiskANN's delete-consolidation with
    * the α-RNG rule (Singh et al. 2021 §4.2: on consolidation, the
    * dirty node runs RobustPrune over its surviving neighbors ∪ the
    * dead nodes' live out-edges — NOT a plain top-k rerank, which
    * is [[deleteFromNnGraph]]'s NN-descent-tier form): dead nodes'
    * own rows drop, every node that pointed at one re-prunes over
    * survivors ∪ bridges (the α rule keeps the patched
    * out-neighborhood NAVIGABLE, not merely close), untouched nodes
    * pass through bit-identical. Completes the vamana tier's
    * lifecycle: build (a29), insert (a31), delete (this), serve
    * (a29's walk). Shares [[GraphDeadIds]] with a25/st18 so the
    * same deletion exercises both consolidation disciplines. */
  def a32VamanaDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    vamanaDeleteOf(vamanaGraph(spark, dir),
      GraphDeadIds.toDF("vec_id"),
      base(spark, dir).select($"vec_id", $"v"))
      .orderBy($"q_id", $"vec_id")
  }

  /** The α-RNG delete-consolidation over ANY directed vamana edge
    * table — [[a32VamanaDelete]]'s core, facade-exposed. */
  private[graft] def vamanaDeleteOf(g: DataFrame, dead: DataFrame,
                                    vecs: DataFrame, alpha: Double = 1.2,
                                    degreeCap: Int = 6,
                                    poolCap: Int = 12): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val deadIds = dead.select($"vec_id").localCheckpoint(true)
    val srcLive = g.join(deadIds.withColumnRenamed("vec_id", "q_id"),
      Seq("q_id"), "left_anti")
    val kept = srcLive.join(deadIds, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val dirty = srcLive.join(deadIds, Seq("vec_id"), "left_semi")
      .select($"q_id").distinct().localCheckpoint(true)
    // bridges: the dead node's live out-edges, donated to everyone
    // who pointed at it
    val bridges = srcLive.as("s")
      .join(deadIds.withColumnRenamed("vec_id", "d"),
        $"s.vec_id" === $"d")
      .join(g.as("b"), $"b.q_id" === $"s.vec_id")
      .join(deadIds.withColumnRenamed("vec_id", "bd"),
        $"b.vec_id" === $"bd", "left_anti")
      .filter($"b.vec_id" =!= $"s.q_id")
      .select($"s.q_id".as("q_id"), $"b.vec_id".as("vec_id"))
    val pool0 = kept.join(dirty, Seq("q_id"), "left_semi")
      .select($"q_id", $"vec_id")
      .unionByName(bridges)
      .dropDuplicates("q_id", "vec_id")
      .select($"q_id".as("node"), $"vec_id".as("nbr"))
    val ids = vecs.select($"vec_id".as("vid"), $"v".as("vv"))
    val patched = pruneFromPool(scoredPool(pool0, ids, poolCap), ids,
      alpha, degreeCap)
    // NOTE: a dirty node whose EVERY candidate is dead or itself
    // (no survivors, no live bridges) leaves the edge list with no
    // out-edges — consolidation has nothing to offer it; re-wiring
    // such an orphan is the INSERT path's job ([[vamanaInsertOf]]
    // walks it back in from the medoid entries), the same division
    // FreshDiskANN makes between consolidation and StreamingMerge.
    kept.join(dirty, Seq("q_id"), "left_anti")
      .select($"q_id", $"vec_id")
      .unionByName(patched)
  }

  /** The insert pipeline over ANY (vec_id, v) corpus + directed
    * vamana edge table + (vec_id, v) insert batch + per-insert
    * (q_id, vec_id) entry frame — [[insertIntoVamana]]'s core,
    * exposed for the engine facade against a caller-built graph. */
  private[graft] def vamanaInsertOf(vecs: DataFrame, g: DataFrame,
                                    ins: DataFrame, e0raw: DataFrame,
                                    alpha: Double = 1.2,
                                    degreeCap: Int = 6, poolCap: Int = 12,
                                    beam: Int = 6, hops: Int = 2,
                                    undPre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val queries = ins.select($"vec_id".as("q_id"), $"v".as("qv"))
    // (1) GreedySearch's visited set, per new node
    val visited = graphVisited(vecs, g, queries, e0raw, beam, hops, undPre)
    val wP = Window.partitionBy($"node").orderBy($"sim_pn".desc, $"nbr")
    val ipool = visited
      .select($"q_id".as("node"), $"vec_id".as("nbr"),
        $"cosine_raw".as("sim_pn"))
      .withColumn("prnk", row_number().over(wP))
      .filter($"prnk" <= poolCap)
      .select($"node", $"nbr", $"sim_pn")
      .localCheckpoint(true)
    // NOT checkpointed: av is only ever probed by id-keyed joins for
    // ≤ |batch|·poolCap + |dirty|·poolCap rows — materializing the
    // whole corpus union per insert batch would be a full copy for
    // nothing (robustPrune passes the same ids diamond lazily too)
    val av = vecs.select($"vec_id".as("vid"), $"v".as("vv"))
      .unionByName(ins.select($"vec_id".as("vid"), $"v".as("vv")))
    // (2) RobustPrune(p, V) — the new nodes' out-neighborhoods
    val newEdges = pruneFromPool(ipool, av, alpha, degreeCap)
      .localCheckpoint(true)
    // (3) reverse patch: pointed-at nodes re-prune over their
    // existing out-edges ∪ the arriving backlinks
    val backlinks = newEdges
      .select($"vec_id".as("node"), $"q_id".as("nbr"))
    val dirty = backlinks.select($"node").distinct().localCheckpoint(true)
    val dpool0 = g
      .join(dirty.withColumnRenamed("node", "q_id"), Seq("q_id"),
        "left_semi")
      .select($"q_id".as("node"), $"vec_id".as("nbr"))
      .unionByName(backlinks)
    val patched = pruneFromPool(scoredPool(dpool0, av, poolCap), av,
      alpha, degreeCap)
    g.join(dirty.withColumnRenamed("node", "q_id"), Seq("q_id"),
        "left_anti")
      .select($"q_id", $"vec_id")
      .unionByName(newEdges)
      .unionByName(patched)
      .orderBy($"q_id", $"vec_id")
  }

  /** [[vamanaInsertOf]] applied to a PERSISTED vamana edge store +
    * companion vector table: the delta (new nodes' pruned edges +
    * re-pruned backlinked nodes) lands through
    * [[upsertNnGraphStore]]'s touched-bucket rewrite; every other
    * bucket is untouched on disk. Entry seeds are the store's
    * `eEntries` lowest ids — the deterministic medoid substitute a
    * self-contained store can compute without a quantizer (a
    * deployment wiring a quantizer passes its medoid entries
    * through [[vamanaInsertOf]] directly). Vectors land FIRST so a
    * crash replays as remove-then-add via the caller's present
    * check. */
  def insertIntoVamanaStore(spark: SparkSession, path: String,
                            vecPath: String, ups: DataFrame,
                            alpha: Double = 1.2, degreeCap: Int = 6,
                            poolCap: Int = 12, beam: Int = 6,
                            hops: Int = 2, eEntries: Int = 8): Unit = {
    import spark.implicits._
    val g = readNnGraphStore(spark, path).localCheckpoint(true)
    // OLD-corpus snapshot (materialized BEFORE the vector upsert;
    // the anti-join also keeps a replayed half-epoch's already-landed
    // copies out, so the old ∪ new union inside the insert never
    // carries an id twice)
    val vecsOld = readNnVecStore(spark, vecPath)
      .join(ups.select($"vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    upsertNnVecStore(spark, vecPath, ups)
    val entries = vecsOld
      .orderBy($"vec_id").limit(eEntries).select($"vec_id")
    val e0raw = ups.select($"vec_id".as("q_id"))
      .crossJoin(broadcast(entries))
    val full = vamanaInsertOf(vecsOld, g, ups.select($"vec_id", $"v"),
      e0raw, alpha, degreeCap, poolCap, beam, hops)
    // the delta = rows of nodes whose edge set changed: the new ids
    // plus the BACKLINKED dirty nodes (the new edges' targets —
    // mirrors vamanaInsertOf's dirty set; derived from membership,
    // not a row diff, so a re-prune that only REMOVED edges still
    // rewrites its node)
    val newIds = ups.select($"vec_id".as("q_id")).distinct()
    val changed = full.join(newIds, Seq("q_id"), "left_semi")
      .select($"vec_id".as("q_id")).distinct()
      .unionByName(newIds)
      .distinct().localCheckpoint(true)
    val delta = full.join(changed, Seq("q_id"), "left_semi")
      .localCheckpoint(true)
    upsertNnGraphStore(spark, path, delta)
  }

  /** a22: GRAPH-SERVING ANN — answer queries by WALKING the refined
    * kNN graph (the DiskANN/HNSW serving idea, reference
    * weaviate's HNSW serving path, run set-at-a-time): score a small
    * fixed entry sample exactly, keep a beam of the best `beam`
    * nodes per query, expand one undirected hop along a21's refined
    * edges, score only NEVER-VISITED candidates, and repeat for
    * `hops` rounds; final answer is the exact top-k of everything
    * visited. Set-at-a-time = hop-synchronous BSP: at 100 TB the
    * frontier join carries 8-byte ids only (n_queries × beam ×
    * degree rows, degree ≤ 2k by the graph's construction — never a
    * scan of the corpus), vectors are fetched by hash join ONLY for
    * newly visited candidates, and the per-hop anti-join keeps the
    * scored set monotone, so total exact scores per query are
    * bounded by entries + hops·beam·2k regardless of corpus size.
    * The graph itself is the shared build ([[refinedGraph]]) — the
    * score-once/serve-many accounting every index family here uses. */
  def a22GraphSearch(spark: SparkSession, dir: String, k: Int = 5,
                     beam: Int = 6, hops: Int = 2,
                     eCells: Int = 8): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    val g = refinedGraph(spark, dir)
    graphSearchFrom(all.select($"vec_id", $"v"), g, queries,
      medoidEntries(queries, medoids, cents, eCells),
      k, beam, hops, undPre = Some(sharedUnd(spark, s"refined:$dir", g)))
  }

  /** a26: FILTERED graph-tier ANN — the FilteredDiskANN serving
    * case (metadata predicate + beam walk) the brute/IVF tiers
    * already have via a16's filter-before-search rule: the walk
    * EXPANDS along the FULL graph (a filtered-out node still
    * routes — dropping it from the frontier would disconnect the
    * filtered subset), while the RESULT keeps only
    * predicate-passing candidates, and the beam is WIDENED (2× a22)
    * so top-k fills from the filtered pool instead of starving
    * behind non-passing hits. Entries are a22's medoid seeds. The
    * oracle replays the widened walk AND the label keep end to end;
    * the spec additionally pins k-fill on a selective filter, the
    * chain-soundness against a16's exact answer on a saturating
    * walk, and degeneration to a22 on a pass-all filter. */
  def a26GraphFiltered(spark: SparkSession, dir: String, k: Int = 5,
                       beam: Int = 12, hops: Int = 2,
                       eCells: Int = 8): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"label".as("q_label"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    val g = refinedGraph(spark, dir)
    graphSearchFilteredOf(all.select($"vec_id", $"v", $"label"),
      g, queries,
      medoidEntries(queries, medoids, cents, eCells),
      k, beam, hops, undPre = Some(sharedUnd(spark, s"refined:$dir", g)))
  }

  /** a27: RANGE search — FAISS `range_search` on the IVF layout
    * (IndexIVF::range_search: probe nprobe cells, return EVERY
    * vector above the radius, not a top-k): per query, ALL vectors
    * in the nprobe nearest cells with cosine >= `minCosine`. The op
    * near-dup mining actually needs at 100 TB — "every neighbor
    * within τ" has no k, so a top-k serve either truncates the
    * dense queries or over-fetches the sparse ones; the range form
    * returns exactly the threshold set. Same partition-pruned probe
    * discipline as a4/a8 (the persisted-store twin reads nprobe cid
    * directories); result size is query-local and threshold-bound,
    * never corpus-bound. The oracle replays quantizer, probe, and
    * threshold; the spec pins the probed-subset law (nprobe=k ≡
    * exact brute-force range) and the threshold boundary. */
  def a27RangeSearch(spark: SparkSession, dir: String,
                     minCosine: Double = 0.30,
                     nprobe: Int = 3): DataFrame = {
    import spark.implicits._
    val all = graft.Caches.persist(base(spark, dir))
    val cents = ivfCentroids(spark, dir, all)
    rangeSearchOf(assign(all, cents), cents, minCosine, nprobe)
  }

  /** The range-serving core over any assigned cell index — shared
    * probe mechanics with [[ivfServe]] ([[probedCells]]: (−score,
    * index) probe key, NaN-aligned with assign), threshold filter
    * instead of top-k. */
  private[graft] def rangeSearchOf(cells: DataFrame,
                                   cents: Seq[Seq[Double]],
                                   minCosine: Double,
                                   nprobe: Int): DataFrame = {
    import cells.sparkSession.implicits._
    val queries = cells.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    rangeServe(cells, probedCells(queries, cents, nprobe), minCosine)
  }

  /** Score the probed cells, keep everything at or above the radius,
    * no top-k — the tail shared verbatim by the in-memory and
    * persisted range serves. */
  private def rangeServe(cells: DataFrame, probes: DataFrame,
                         minCosine: Double): DataFrame = {
    import cells.sparkSession.implicits._
    cells.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .filter($"cosine_raw" >= minCosine)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"))
      .orderBy($"q_id", $"cosine".desc, $"vec_id")
  }

  /** The filtered walk core: [[graphVisited]] routing on every
    * scored candidate, ranking only the rows whose `label` matches
    * the query's `q_label`. Output shape matches a16's
    * (q_id, q_label, vec_id, cosine, rnk). */
  private[graft] def graphSearchFilteredOf(vecs: DataFrame,
                                           graph: DataFrame,
                                           queries: DataFrame,
                                           e0: DataFrame, k: Int,
                                           beam: Int, hops: Int,
                                           undPre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val wB = Window.partitionBy($"q_id")
      .orderBy($"cosine_raw".desc, $"vec_id")
    graphVisited(vecs.select($"vec_id", $"v"), graph, queries, e0,
        beam, hops, undPre)
      .join(vecs.select($"vec_id", $"label"), "vec_id")
      .join(broadcast(queries.select($"q_id", $"q_label")), "q_id")
      .filter($"label" === $"q_label")
      .withColumn("rnk", row_number().over(wB))
      .filter($"rnk" <= k)
      .select($"q_id", $"q_label", $"vec_id",
        round($"cosine_raw", 6).as("cosine"), $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-cell MEDOIDS of the trained coarse quantizer — DiskANN
    * enters its beam walk at a medoid and HNSW at a hierarchy, both
    * to cut hops to the query's neighborhood; the IVF serving
    * quantizer is already trained once per corpus
    * ([[ivfCentroids]], persisted by the serving stores beside
    * their cells), so the graph tier seeds from the corpus
    * vectors NEAREST each centroid (`mPerCell` per cell — the
    * medoid and its runners-up, same score and first-max tie-break
    * as [[assign]]; the default 3 measured strictly dominant:
    * recall 6->9 of 50 at sf0.01 and 1->8 at sf0.1 over the old
    * fixed id sample, at FEWER scored candidates with the beam at
    * 6). ≤ k·mPerCell rows — a broadcast. */
  private[graft] def graphMedoids(all: DataFrame,
                                  cents: Seq[Seq[Double]],
                                  mPerCell: Int = 3): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"cid").orderBy($"cscore".desc, $"vec_id")
    assign(all.select($"vec_id", $"v"), cents)
      .withColumn("cscore", element_at(
        centroidScoresCol(spark, $"v", cents), ($"cid" + 1).cast("int")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= mPerCell)
      .select($"cid", $"vec_id")
  }

  /** [[graphMedoids]] memoized per (session, corpus) — the medoid
    * set is an index-BUILD artifact (a deployment computes it once
    * next to the quantizer and serves every query from it), so the
    * assign-and-rank pass runs once instead of once per graph-tier
    * query (a22/a23/a26 each re-ran it). The collect is ≤ k·mPerCell
    * rows (24 at the serving geometry) — broadcast-sized by
    * construction, not corpus-sized. */
  private[graft] def graphMedoidsMemo(spark: SparkSession, dir: String,
                                      all: DataFrame,
                                      cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    graft.TrainedModels.memo(spark, s"graph_medoids:$dir:m=3") {
      graphMedoids(all, cents).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    }.toDF("cid", "vec_id")
  }

  /** Per-query medoid ENTRY set: rank the quantizer's cells against
    * the query through the shared probe key ((−score, index)
    * ascending — [[probeKey]], NaN-aligned with assign), take the
    * top `eCells` cells' medoids. The walk then starts from
    * well-spread seeds NEAR the query instead of an arbitrary fixed
    * id sample — fewer scored candidates AND higher recall (the
    * DiskANN medoid-entry rationale). */
  private[graft] def medoidEntries(queries: DataFrame, medoids: DataFrame,
                                   cents: Seq[Seq[Double]],
                                   eCells: Int): DataFrame = {
    import queries.sparkSession.implicits._
    probedCells(queries.select($"q_id", $"qv"), cents, eCells)
      .select($"q_id", $"cid")
      .join(broadcast(medoids), "cid")
      .select($"q_id", $"vec_id")
  }

  /** The serving walk over ANY (vec_id, v) corpus + directed
    * (q_id, vec_id) graph + (q_id, qv) query set + entry-id frame —
    * a22's core, reused by the engine facade against a caller-built
    * graph ([[descentRound]] chains or a persisted edge table). */
  /** The undirected adjacency view of a directed edge table — what
    * every walk hop joins. */
  private[graft] def undirectedOf(graph: DataFrame): DataFrame = {
    import graph.sparkSession.implicits._
    graph.select($"q_id".as("node"), $"vec_id".as("nbr"))
      .unionByName(graph.select($"vec_id".as("node"), $"q_id".as("nbr")))
      .dropDuplicates("node", "nbr")
  }

  /** The SHARED undirected view of a session-immutable graph (the
    * memoized refined/vamana builds): derived and persisted once per
    * (session, key) instead of union+dedup-shuffled on every serve —
    * at scale that per-query shuffle is corpus-sized. NEVER use for
    * a mutable disk store: a cached view would serve edges a later
    * delete epoch removed. */
  private[graft] def sharedUnd(spark: SparkSession, key: String,
                               graph: => DataFrame): DataFrame =
    graft.Caches.shared(spark, s"und_view:$key")(undirectedOf(graph))

  private[graft] def graphSearchOf(vecs: DataFrame, graph: DataFrame,
                                   queries: DataFrame, entryIds: DataFrame,
                                   k: Int, beam: Int,
                                   hops: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    graphSearchFrom(vecs, graph, queries,
      queries.select($"q_id")
        .crossJoin(broadcast(entryIds.select($"vec_id"))),
      k, beam, hops)
  }

  /** [[graphSearchOf]] with a PER-QUERY entry frame (q_id, vec_id) —
    * the medoid-entry form. */
  private[graft] def graphSearchFrom(vecs: DataFrame, graph: DataFrame,
                                     queries: DataFrame, e0raw: DataFrame,
                                     k: Int, beam: Int, hops: Int,
                                     undPre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val wB = Window.partitionBy($"q_id")
      .orderBy($"cosine_raw".desc, $"vec_id")
    graphVisited(vecs, graph, queries, e0raw, beam, hops, undPre)
      .withColumn("rnk", row_number().over(wB))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"),
        $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** The walk's full VISITED set (q_id, vec_id, cosine_raw) — the
    * shared core: entries score first, then each hop expands the
    * per-query beam through the undirected view and scores only the
    * fresh candidates. A filtered serve ranks a predicate-passing
    * subset of this; the plain serve ranks it whole. */
  private def graphVisited(vecs: DataFrame, graph: DataFrame,
                           queries: DataFrame, e0raw: DataFrame,
                           beam: Int, hops: Int,
                           undPre: Option[DataFrame] = None): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // every hop joins the undirected view — a caller serving a
    // session-immutable graph passes the SHARED materialization
    // (built once per corpus, billed on its own bench line); a
    // mutable-store walk derives it per serve (its edges may have
    // changed since the last serve), materialized once per batch
    val und = undPre.getOrElse(graft.Caches.persist(undirectedOf(graph)))
    // the pair set is bounded by queries × beam × degree at ANY
    // corpus size — broadcast it INTO the corpus-side vector join
    // explicitly (the aggregate-shaped hop's size estimate would
    // otherwise tip the planner into a corpus-wide sort-merge join)
    def scoreOf(pairs: DataFrame): DataFrame = broadcast(pairs
      .join(broadcast(queries.select($"q_id", $"qv")), "q_id"))
      .join(vecs, "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
    val wB = Window.partitionBy($"q_id")
      .orderBy($"cosine_raw".desc, $"vec_id")
    val e0 = e0raw.select($"q_id", $"vec_id")
      .filter($"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
    var visited = graft.Caches.persist(scoreOf(e0))
    (1 to hops).foreach { _ =>
      val frontier = visited
        .withColumn("rnk", row_number().over(wB))
        .filter($"rnk" <= beam).select($"q_id", $"vec_id")
      // expansion dedup + visited-exclusion FUSED into ONE keyed
      // aggregation: candidates union the (flagged) visited set and
      // a (q_id, vec_id) max-flag group keeps never-seen pairs —
      // replacing the dropDuplicates exchange PLUS the anti-join
      // (and its per-hop broadcast build) with a single exchange.
      // Set-identical to dedup-then-anti by construction.
      val cand = frontier.join(und, frontier("vec_id") === und("node"))
        .select($"q_id", $"nbr".as("vec_id"))
        .filter($"vec_id" =!= $"q_id")
      val fresh = cand.withColumn("seen", lit(0))
        .unionByName(visited.select($"q_id", $"vec_id")
          .withColumn("seen", lit(1)))
        .groupBy($"q_id", $"vec_id")
        .agg(max($"seen").as("seen"))
        .filter($"seen" === 0)
        .select($"q_id", $"vec_id")
      visited = graft.Caches.persist(visited.unionByName(scoreOf(fresh)))
    }
    visited
  }

  /** a23: PQ-SCORED graph serving — the DiskANN mechanics proper:
    * a22 walks the graph scoring every fresh candidate with the
    * EXACT vector, which at 100 TB means a full-precision fetch per
    * touched node; DiskANN instead walks on COMPRESSED codes held
    * in memory (PQ asymmetric distance — pq_adc, the a6 kernel) and
    * touches full vectors ONLY for the final rerank set. Here: the
    * beam walk orders by adist (ascending — it is a distance), the
    * per-hop anti-join keeps the scored set monotone exactly like
    * a22, and after the hops the top-`rerank` visited candidates
    * per query fetch exact vectors for the cosine top-k. Exact
    * fetches per query drop from entries + hops·beam·2k to
    * `rerank` — the bytes-touched profile that makes a graph index
    * serve from disk. Codebook: a6's deterministic first-16 seeds
    * (the trained swap-in is [[pqKmeansBooks]]); the oracle replays
    * codebook, codes, every adist hop, and the exact rerank. */
  def a23GraphSearchPq(spark: SparkSession, dir: String, k: Int = 5,
                       beam: Int = 8, hops: Int = 2,
                       eCells: Int = 8, rerank: Int = 16): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val all = graft.Caches.persist(base(spark, dir))
    val seeds: Seq[Seq[Double]] = all.orderBy($"vec_id").limit(16)
      .select($"v").as[Seq[Double]].collect().toSeq
    val books: Seq[Seq[Seq[Double]]] = (0 until 8).map { s =>
      seeds.map(_.slice(s * 8, (s + 1) * 8))
    }
    val bookMat = typedLit(books)
    val coded = graft.Caches.persist(all.select($"vec_id", $"v")
      .withColumn("code", call_function("pq_encode", $"v", bookMat)))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    // the same medoid entry seeds as a22 — DiskANN enters the PQ
    // walk at the medoid too
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    val g = refinedGraph(spark, dir)
    graphSearchPqOf(coded, g, queries,
      medoidEntries(queries, medoids, cents, eCells), bookMat,
      k, beam, hops, rerank,
      undPre = Some(sharedUnd(spark, s"refined:$dir", g)))
  }

  /** The PQ-scored walk over any (vec_id, v, code) coded corpus +
    * directed graph + (q_id, qv) queries + entry ids — a23's core;
    * `bookMat` is the codebook literal the codes were encoded
    * with. */
  private[graft] def graphSearchPqOf(coded: DataFrame, graph: DataFrame,
                                     queries: DataFrame,
                                     e0raw: DataFrame,
                                     bookMat: Column, k: Int, beam: Int,
                                     hops: Int, rerank: Int,
                                     undPre: Option[DataFrame] = None)
      : DataFrame = {
    import coded.sparkSession.implicits._
    graphSearchPqTiered(coded.select($"vec_id", $"code"),
      coded.select($"vec_id", $"v"), graph, queries, e0raw, bookMat,
      k, beam, hops, rerank, undPre)
  }

  /** Persisted GRAPH+PQ serving tier — the DiskANN disk layout
    * proper (edges + PQ codes resident on disk, raw vectors read
    * only for the final rerank): the refined edge table under
    * [[writeNnGraphStore]]'s bucketed layout at `path`/graph, a23's
    * exact codes at `path`/codes (vec_id, code — never v), the
    * codebooks at `path`/_codebooks. At 100 TB the walk's
    * corpus-wide reads are edge buckets + 8-byte codes; the
    * embeddings table is touched by the id-keyed rerank join for
    * ≤ rerank rows per query. */
  def writeGraphPqStore(spark: SparkSession, dir: String,
                        path: String): Unit =
    // the graph tier and the quantizer→codes chain touch disjoint
    // directories and inputs — two concurrent job chains
    graft.Par.run(Seq(
      () => writeNnGraphStore(refinedGraph(spark, dir), s"$path/graph"),
      () => {
        writeGraphPqQuantizer(spark, dir, path)
        writeGraphPqCodes(spark, path, base(spark, dir))
      }))

  /** Train the graph tier's PQ quantizer for `dir`'s corpus and
    * persist ONLY the `_codebooks` artifact — a23's codebooks
    * exactly: seed words from the first 16 raw vectors (flat PQ —
    * the graph tier scores raw-vector ADC). Split out of
    * [[writeGraphPqStore]] so a streaming-maintained store
    * ([[graft.streaming.IngestStream.graphPqStream]]) trains once
    * up front and fills entirely by epochs. */
  def writeGraphPqQuantizer(spark: SparkSession, dir: String,
                            path: String): Unit = {
    import spark.implicits._
    val seeds: Seq[Seq[Double]] = base(spark, dir).orderBy($"vec_id")
      .limit(16).select($"v").as[Seq[Double]].collect().toSeq
    val books: Seq[Seq[Seq[Double]]] = (0 until 8).map { s =>
      seeds.map(_.slice(s * 8, (s + 1) * 8))
    }
    books.zipWithIndex.flatMap { case (bk, s) =>
      bk.zipWithIndex.map { case (w, j) => (s, j, w) }
    }.toDF("s", "j", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** Encode `vecs` under the store's FROZEN codebooks — the add-side
    * of every codes-tier mutation (FAISS's frozen-quantizer add()
    * contract on the graph tier). */
  private def encodeGraphPqCodes(spark: SparkSession, path: String,
                                 vecs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val bookMat = typedLit(readCodebooks(spark, path))
    vecs.select($"vec_id",
      call_function("pq_encode", $"v", bookMat).as("code"))
  }

  /** (Re)write the codes tier from scratch: codes land in the vec
    * store's vbucket layout ([[writeNnVecStore]] with valCol=code),
    * so id-scoped upserts/deletes rewrite only their buckets —
    * the maintenance discipline the flat single-directory layout
    * couldn't give. */
  def writeGraphPqCodes(spark: SparkSession, path: String,
                        vecs: DataFrame): Unit =
    writeNnVecStore(encodeGraphPqCodes(spark, path, vecs),
      s"$path/codes", valCol = "code")

  /** Id-scoped codes upsert: arriving vectors re-encode under the
    * frozen codebooks and replace their old code rows (a re-embed's
    * code is stale the moment its vector changes — the codes-tier half
    * of remove-then-add). A store whose codes tier doesn't exist yet
    * builds it from the batch. */
  def upsertGraphPqCodes(spark: SparkSession, path: String,
                         vecs: DataFrame): Unit =
    upsertNnVecStore(spark, s"$path/codes",
      encodeGraphPqCodes(spark, path, vecs), valCol = "code")

  /** Id-scoped codes delete — physical, like the graph/vector tiers
    * (a surviving dead code is unreachable but still scan weight).
    * No-op before the tier exists (a delete-only first epoch). */
  def deleteGraphPqCodes(spark: SparkSession, path: String,
                         ids: DataFrame): Unit =
    deleteFromNnVecStore(spark, s"$path/codes", ids)

  /** The stored codebooks of a [[writeGraphPqStore]] layout. */
  private[graft] def readCodebooks(spark: SparkSession,
                                   path: String): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    spark.read.parquet(s"$path/_codebooks")
      .orderBy($"s", $"j").select($"s", $"vals").as[(Int, Seq[Double])]
      .collect().toSeq.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(_._2).toSeq }
  }

  /** The session's persisted graph+PQ store for `dir`. */
  def graphPqStorePath(spark: SparkSession, dir: String): String =
    graft.TrainedModels.memo(spark, s"graph_pq_store:$dir") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_graph_pq").toString + "/index"
      writeGraphPqStore(spark, dir, p)
      p
    }

  /** a30: a23's PQ-scored beam walk with EVERY index artifact read
    * from DISK — edges from the bucketed graph store, codes and
    * codebooks from the PQ tier; the raw corpus vectors enter only
    * through the final id-keyed rerank join. Oracle = a23's SQL:
    * the persisted round trip must reproduce the in-memory walk
    * bit-exactly. */
  def a30GraphPqStoreServe(spark: SparkSession, dir: String, k: Int = 5,
                           beam: Int = 8, hops: Int = 2,
                           eCells: Int = 8, rerank: Int = 16): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val path = graphPqStorePath(spark, dir)
    val bookMat = typedLit(readCodebooks(spark, path))
    val all = graft.Caches.persist(base(spark, dir))
    val queries = all.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val cents = ivfCentroids(spark, dir, all)
    val medoids = graphMedoidsMemo(spark, dir, all, cents)
    graphSearchPqTiered(
      spark.read.parquet(s"$path/codes"),
      all.select($"vec_id", $"v"),
      readNnGraphStore(spark, s"$path/graph"),
      queries, medoidEntries(queries, medoids, cents, eCells),
      bookMat, k, beam, hops, rerank)
  }

  /** [[graphSearchPqOf]] with the two tiers SPLIT — `codes` feeds
    * the hop scorer (the only corpus-wide reads), `vectors` is the
    * rerank tier touched for ≤ rerank rows/query. The persisted
    * serve (a30) passes disk codes + the corpus table here; the
    * in-memory a23 passes two projections of its coded frame. */
  private[graft] def graphSearchPqTiered(codes: DataFrame,
                                         vectors: DataFrame,
                                         graph: DataFrame,
                                         queries: DataFrame,
                                         e0raw: DataFrame,
                                         bookMat: Column, k: Int,
                                         beam: Int, hops: Int,
                                         rerank: Int,
                                         undPre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val und = undPre.getOrElse(graft.Caches.persist(undirectedOf(graph)))
    // ONE materialization of the code column for the whole walk —
    // the entry scoring and every hop join against it, and for a
    // disk-served store (a30/st20) that would otherwise be one
    // parquet scan per hop
    val codesK = graft.Caches.persist(codes.select($"vec_id", $"code"))
    // the hop scorer touches only the 8-byte code column — never v
    // bounded pair set broadcast into the codes-tier join — same
    // rationale as graphVisited's scoreOf
    def adcOf(pairs: DataFrame): DataFrame = broadcast(pairs
      .join(broadcast(queries), "q_id"))
      .join(codesK, "vec_id")
      .select($"q_id", $"vec_id",
        call_function("pq_adc", $"qv", $"code", bookMat).as("adist"))
    val wB = Window.partitionBy($"q_id").orderBy($"adist", $"vec_id")
    val e0 = e0raw.select($"q_id", $"vec_id")
      .filter($"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
    var visited = graft.Caches.persist(adcOf(e0))
    (1 to hops).foreach { _ =>
      val frontier = visited
        .withColumn("rnk", row_number().over(wB))
        .filter($"rnk" <= beam).select($"q_id", $"vec_id")
      // same fused hop as graphVisited: one keyed aggregation
      // replaces dropDuplicates + the anti-join (set-identical)
      val cand = frontier.join(und, frontier("vec_id") === und("node"))
        .select($"q_id", $"nbr".as("vec_id"))
        .filter($"vec_id" =!= $"q_id")
      val fresh = cand.withColumn("seen", lit(0))
        .unionByName(visited.select($"q_id", $"vec_id")
          .withColumn("seen", lit(1)))
        .groupBy($"q_id", $"vec_id")
        .agg(max($"seen").as("seen"))
        .filter($"seen" === 0)
        .select($"q_id", $"vec_id")
      visited = graft.Caches.persist(visited.unionByName(adcOf(fresh)))
    }
    // full-precision vectors enter ONLY here, for `rerank` rows/query
    val wK = Window.partitionBy($"q_id").orderBy($"cosine_raw".desc, $"vec_id")
    visited.withColumn("qrnk", row_number().over(wB))
      .filter($"qrnk" <= rerank)
      .select($"q_id", $"vec_id")
      .join(broadcast(queries), "q_id")
      .join(vectors.select($"vec_id", $"v"), "vec_id")
      .select($"q_id", $"vec_id", V.cosineD($"qv", $"v").as("cosine_raw"))
      .withColumn("rnk", row_number().over(wK))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", round($"cosine_raw", 6).as("cosine"),
        $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** a12: ANN RECALL evaluation — "measure, don't guess" for the
    * approximate family: every serving method's top-5 intersected
    * with a1's exact top-5, reported as recall@5. The calibration
    * pass a deployment runs on a sample BEFORE trusting an
    * approximate index fleet-wide (the same discipline as the
    * q25/q27/d9/d12 estimate-next-to-exact accounting). Each method
    * probes the same 10 queries; hit counting is a left-semi join on
    * (q_id, vec_id) — integers end to end, and the oracle replays
    * the full pipelines of all four methods as subqueries. */
  def a12AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = graft.Caches.persist(
      a1BruteForce(spark, dir).select($"q_id", $"vec_id"))
    val possible = exact.count()
    val methods = Seq(
      ("ivf", a3Ivf(spark, dir)),
      ("ivf64", a8KnnIvfShared(spark, dir)),
      ("lsh", a2Lsh(spark, dir)),
      // pq vs opq at EQUAL bytes (4/vector): the rotation must pay
      // for itself in this report or it ships nowhere
      ("pq", a7KnnPqKmeans(spark, dir)),
      ("opq", a13KnnOpq(spark, dir)),
      // binary at 16 B/vector: the cheapest index in the panel — the
      // report shows what recall those bytes buy
      ("binary", a14KnnBinary(spark, dir)),
      // the staged funnel: what the binary shortlist + SQ8 refine
      // recover together
      ("cascade", a15KnnCascade(spark, dir)))
    // the funnel at the TUNED geometry (a17's pick): the report shows
    // what the auto-chosen cutoffs actually recover
    val (ts1, ts2) = tunedCascadeConfig(spark, dir, exact, possible)
    val all = methods :+
      ("cascade_tuned", a15KnnCascade(spark, dir, ts1, ts2)) :+
      // the NN-Descent graph walk (a22): what the build-once edge
      // table + beam serving recover, in the same panel
      ("graph", a22GraphSearch(spark, dir)) :+
      // the Vamana-pruned walk (a29) at the SAME geometry: what the
      // α-RNG out-neighborhoods buy over raw top-k edges — the row
      // that justifies shipping the prune (VamanaSpec pins ≥ graph)
      ("vamana", a29VamanaSearch(spark, dir))
    // ONE job scores the whole panel: the nine method pipelines are
    // independent DAG branches of a single union, so their stages
    // overlap on the scheduler instead of running as nine sequential
    // count() jobs — same hits per method, roughly the slowest
    // branch's wall time instead of the sum
    val hitRows = all.map { case (name, df) =>
        df.select(lit(name).as("method"), $"q_id", $"vec_id")
      }.reduce(_ unionByName _)
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"method").agg(count(lit(1)).as("hits"))
    all.map(_._1).toDF("method")
      .join(hitRows, Seq("method"), "left")
      .select($"method", coalesce($"hits", lit(0L)).as("hits"),
        lit(possible).as("possible"))
      .withColumn("recall_at_5",
        round($"hits".cast("double") / $"possible", 4))
      .orderBy($"method")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a12_ann_recall" -> a12AnnRecall _,
    "a1_knn_bruteforce" -> a1BruteForce _,
    "a2_knn_lsh" -> a2Lsh _,
    "a3_knn_ivf" -> a3Ivf _,
    "a4_knn_ivf_kmeans" -> a4IvfKmeans _,
    "a8_knn_ivf64" -> a8KnnIvfShared _,
    "a5_knn_sq8" -> a5KnnSq8 _,
    "a6_knn_pq" -> a6KnnPq _,
    "a7_knn_pq_kmeans" -> a7KnnPqKmeans _,
    "a9_knn_join" -> ((s, d) => a9KnnJoin(s, d)),
    "a10_knn_multiprobe" -> ((s, d) => a10MultiprobeLsh(s, d)),
    "a11_ivf_pq" -> a11IvfPq _,
    "a13_knn_opq" -> a13KnnOpq _,
    "a14_knn_binary" -> ((s, d) => a14KnnBinary(s, d)),
    "a15_knn_cascade" -> ((s, d) => a15KnnCascade(s, d)),
    "a16_knn_filtered" -> ((s, d) => a16KnnFiltered(s, d)),
    "a17_cascade_tuning" -> ((s, d) => a17CascadeTuning(s, d)),
    "a18_index_balance" -> a18IndexBalance _,
    "a19_nprobe_sweep" -> ((s, d) => a19NprobeSweep(s, d)),
    "a20_mutual_knn" -> ((s, d) => a20MutualKnnClusters(s, d)),
    "a21_nn_descent" -> ((s, d) => a21NnDescent(s, d)),
    "a22_graph_search" -> ((s, d) => a22GraphSearch(s, d)),
    "a23_graph_search_pq" -> ((s, d) => a23GraphSearchPq(s, d)),
    "a24_upserted_ivf" -> a24UpsertedIvf _,
    "st17_streamed_ivf" -> st17StreamedIvf _,
    "st19_streamed_pq" -> st19StreamedPq _,
    "st18_streamed_graph" -> st18StreamedGraphDelete _,
    "st20_streamed_graph_pq" -> ((s, d) => st20StreamedGraphPq(s, d)),
    "a25_graph_delete" -> a25GraphDelete _,
    "a26_graph_filtered" -> ((s, d) => a26GraphFiltered(s, d)),
    "a27_range_search" -> ((s, d) => a27RangeSearch(s, d)),
    "a28_pq_store" -> a28PqStore _,
    "a29_vamana_search" -> ((s, d) => a29VamanaSearch(s, d)),
    "a31_vamana_insert" -> ((s, d) => insertIntoVamana(s, d)),
    "a32_vamana_delete" -> a32VamanaDelete _,
    "st21_streamed_vamana" -> st21StreamedVamana _,
    "a30_graph_pq_store" -> ((s, d) => a30GraphPqStoreServe(s, d)),
    "s2_vector_topk" -> s2VectorTopk _)

  private val cosineSql =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |       list_transform(generate_series(1, len(QV)), i -> QV[i]*BV[i])), (s,x) -> s+x)
      |     / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(QV, x -> x*x)), (s,x) -> s+x))
      |      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(BV, x -> x*x)), (s,x) -> s+x)))""".stripMargin

  private def cos(a: String, b: String): String =
    cosineSql.replace("QV", a).replace("BV", b)

  /** One unrolled Lloyd iteration as CTE stages: score vs c{i-1},
    * argmax-assign (ties -> lowest cid, matching array_position on
    * the first max), ordered-fold centroid update (matching the
    * Spark side's ordered-frame window mean bit for bit). */
  private def kmIterSql(i: Int): String =
    s"""s$i AS (
       |  SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} AS cs
       |  FROM e CROSS JOIN c${i - 1} c),
       |a$i AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM s$i) WHERE rn = 1),
       |c$i AS (
       |  SELECT cid, list(c ORDER BY pos) AS cv FROM (
       |    SELECT a.cid, d.pos,
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.val ORDER BY d.vec_id)),
       |        (s, x) -> s + x) / count(*) AS c
       |    FROM a$i a JOIN dims d ON d.vec_id = a.vec_id GROUP BY a.cid, d.pos)
       |  GROUP BY cid)""".stripMargin

  /** The full 3-iteration spherical-Lloyd clustering as shareable CTE
    * stages (e → dims → c0 → three [[kmIterSql]] rounds → final
    * assignment `cells(vec_id, cid)`) — the SQL replay of
    * [[kmeansFit]]+[[assign]] for the given k. a4's oracle serves
    * from k=8; d7's semantic dedup blocks by a finer k=64 quantizer
    * (SemDeDup wants small cells — the pairwise stage is quadratic
    * in cell size). */
  private[graft] def kmeansCellsSqlFor(k: Int): String =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT vec_id, g.i - 1 AS pos, v[g.i] AS val
       |  FROM e, LATERAL unnest(generate_series(1, 64)) AS g(i)),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),
       |${kmIterSql(1)},
       |${kmIterSql(2)},
       |${kmIterSql(3)},
       |sf AS (
       |  SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} AS cs
       |  FROM e CROSS JOIN c3 c),
       |cells AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM sf) WHERE rn = 1)""".stripMargin

  private[graft] lazy val kmeansCellsSql: String = kmeansCellsSqlFor(8)

  /** Squared L2 between subspace `sp` (0-based) slices of two 64-dim
    * SQL lists — the PQ subdistance; multiplication (not pow) and a
    * 0.0-seeded left fold match the Spark expression bit for bit. */
  private def pqSqDist(vec: String, sp: String, cvec: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, 8), d ->
       |        ($vec[$sp*8+d] - $cvec[$sp*8+d]) * ($vec[$sp*8+d] - $cvec[$sp*8+d]))),
       |      (a, x) -> a + x)""".stripMargin

  /** One unrolled per-subspace PQ Lloyd iteration as CTE stages:
    * seeded-fold L2 scoring of every (vector, subspace) slice against
    * cb{i-1}, argmin assignment (ties → lowest cid, matching
    * array_position on the first min), ordered-fold centroid means
    * per (sp, cid, dim), and empty codewords keeping their previous
    * centroid (LEFT JOIN + coalesce — the Spark side's getOrElse). */
  private def pqIterSql(i: Int): String =
    s"""${pqAssignSql(i)},
       |pu$i AS (
       |  SELECT sp, cid, list(c ORDER BY pos) AS cv FROM (
       |    SELECT a.sp, a.cid, g.d AS pos,
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list(b.sv[g.d] ORDER BY a.vec_id)), (acc, x) -> acc + x)
       |        / count(*) AS c
       |    FROM pa$i a JOIN sub0 b ON b.vec_id = a.vec_id AND b.sp = a.sp,
       |         LATERAL unnest(generate_series(1, 8)) AS g(d)
       |    GROUP BY a.sp, a.cid, g.d)
       |  GROUP BY sp, cid),
       |cb$i AS (
       |  SELECT p.sp, p.cid, coalesce(u.cv, p.cv) AS cv
       |  FROM cb${i - 1} p LEFT JOIN pu$i u ON u.sp = p.sp AND u.cid = p.cid)""".stripMargin

  /** Assignment-only stage (pd$i scoring + pa$i argmin vs cb${i-1}) —
    * the final encode reuses it against the last codebook. */
  private def pqAssignSql(i: Int): String =
    s"""pd$i AS (
       |  SELECT b.vec_id, b.sp, c.cid,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, 8), d ->
       |        (b.sv[d] - c.cv[d]) * (b.sv[d] - c.cv[d]))),
       |      (acc, x) -> acc + x) AS dist
       |  FROM sub0 b JOIN cb${i - 1} c ON c.sp = b.sp),
       |pa$i AS (
       |  SELECT vec_id, sp, cid FROM (
       |    SELECT vec_id, sp, cid,
       |      row_number() OVER (PARTITION BY vec_id, sp ORDER BY dist, cid) AS rn
       |    FROM pd$i) WHERE rn = 1)""".stripMargin

  private lazy val a7Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sub0 AS (
       |  SELECT vec_id, s.sp,
       |    list_transform(generate_series(1, 8), d -> v[s.sp*8+d]) AS sv
       |  FROM e, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |seeds AS (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT s.sp, seeds.cid,
       |    list_transform(generate_series(1, 8), d -> seeds.v[s.sp*8+d]) AS cv
       |  FROM seeds, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |${pqIterSql(1)},
       |${pqIterSql(2)},
       |${pqAssignSql(3)},
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |qsub AS (
       |  SELECT q_id, s.sp,
       |    list_transform(generate_series(1, 8), d -> qv[s.sp*8+d]) AS qsv
       |  FROM qs, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |adcp AS (
       |  SELECT q.q_id, b.vec_id, q.sp,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, 8), d ->
       |        (q.qsv[d] - c.cv[d]) * (q.qsv[d] - c.cv[d]))),
       |      (acc, x) -> acc + x) AS dist
       |  FROM qsub q
       |  JOIN pa3 b ON b.sp = q.sp AND b.vec_id <> q.q_id
       |  JOIN cb2 c ON c.sp = b.sp AND c.cid = b.cid),
       |adc AS (
       |  SELECT q_id, vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY sp)),
       |      (acc, x) -> acc + x) AS adist
       |  FROM adcp GROUP BY q_id, vec_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS qrnk
       |    FROM adc) WHERE qrnk <= 20),
       |scored AS (
       |  SELECT c.q_id, c.vec_id, ${cos("eq.v", "eb.v")} AS cosine_raw
       |  FROM cand c
       |  JOIN e eq ON eq.vec_id = c.q_id
       |  JOIN e eb ON eb.vec_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin

  /** a11's full replay: k=8 Lloyd loop → residuals vs the assigned
    * centroid → sampled residual codebooks → encode → probe-2 →
    * residual ADC within the probed cells → exact rerank. */
  private lazy val a11Sql: String = {
    val encDist = pqSqDist("r", "sp", "sv.sv[j+1]")
    s"""WITH ${kmeansCellsSqlFor(8)},
       |cmat AS (SELECT list(cv ORDER BY cid) AS cm FROM c3),
       |res AS (
       |  SELECT e.vec_id, e.v, cells.cid,
       |    list_transform(generate_series(1, 64), d -> e.v[d] - cm[cid + 1][d]) AS r
       |  FROM e JOIN cells ON cells.vec_id = e.vec_id, cmat),
       |sv AS (SELECT list(r ORDER BY vec_id) AS sv
       |       FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16)),
       |coded AS (
       |  SELECT vec_id, v, cid, r,
       |    list_transform(generate_series(0, 7), sp ->
       |      list_position(
       |        list_transform(generate_series(0, 15), j -> $encDist),
       |        list_min(list_transform(generate_series(0, 15), j -> $encDist)))
       |      - 1) AS code
       |  FROM res, sv),
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |pscore AS (
       |  SELECT qs.q_id, qs.qv, c.cid, ${cos("qs.qv", "c.cv")} AS cs
       |  FROM qs CROSS JOIN c3 c),
       |probe AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q_id, qv, cid,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, cid) AS p_rnk
       |    FROM pscore) WHERE p_rnk <= 2),
       |qres AS (
       |  SELECT q_id, qv, probe.cid,
       |    list_transform(generate_series(1, 64), d -> qv[d] - cm[cid + 1][d]) AS rq
       |  FROM probe, cmat),
       |adc AS (
       |  SELECT q.q_id, b.vec_id, q.qv, b.v,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(0, 7), sp ->
       |        ${pqSqDist("q.rq", "sp", "sv.sv[b.code[sp+1]+1]")})),
       |      (a, x) -> a + x) AS adist
       |  FROM qres q JOIN coded b ON b.cid = q.cid AND b.vec_id <> q.q_id, sv),
       |cand AS (
       |  SELECT q_id, vec_id, qv, v FROM (
       |    SELECT q_id, vec_id, qv, v,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS qrnk
       |    FROM adc) WHERE qrnk <= 20),
       |scored AS (
       |  SELECT q_id, vec_id, ${cos("qv", "v")} AS cosine_raw FROM cand),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  private lazy val a6Sql: String = {
    val encDist = pqSqDist("v", "sp", "sv.sv[j+1]")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sv AS (SELECT list(v ORDER BY vec_id) AS sv
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |coded AS (
       |  SELECT vec_id, v,
       |    list_transform(generate_series(0, 7), sp ->
       |      list_position(
       |        list_transform(generate_series(0, 15), j -> $encDist),
       |        list_min(list_transform(generate_series(0, 15), j -> $encDist)))
       |      - 1) AS code
       |  FROM e, sv),
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM coded WHERE vec_id < 10),
       |adc AS (
       |  SELECT qs.q_id, b.vec_id, qs.qv, b.v,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(0, 7), sp ->
       |        ${pqSqDist("qs.qv", "sp", "sv.sv[b.code[sp+1]+1]")})),
       |      (a, x) -> a + x) AS adist
       |  FROM qs JOIN coded b ON b.vec_id <> qs.q_id, sv),
       |cand AS (
       |  SELECT q_id, vec_id, qv, v FROM (
       |    SELECT q_id, vec_id, qv, v,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS qrnk
       |    FROM adc) WHERE qrnk <= 20),
       |scored AS (
       |  SELECT q_id, vec_id, ${cos("qv", "v")} AS cosine_raw FROM cand),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** One OPQ rotation layer as CTE stages: pair table → ordered-fold
    * covariance stats → closed-form Jacobi (c, s) (half-angle
    * identities, sqrt/division only — both engines round these
    * identically) → per-dim coefficient lists → rotated vectors
    * r$n(vec_id, v). Mirrors [[jacobiCoefs]]+[[rotCol]] op for op. */
  private def opqLayerSql(n: Int, pairs: Seq[(Int, Int)], src: String): String = {
    val vals = pairs.zipWithIndex
      .map { case ((i, j), p) => s"($p, ${i + 1}, ${j + 1})" }.mkString(", ")
    def fold(expr: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list($expr ORDER BY vec_id)), (a, x) -> a + x)""".stripMargin
    s"""pr$n(p, i, j) AS (VALUES $vals),
       |st$n AS (
       |  SELECT pr.p, pr.i, pr.j,
       |    ${fold(s"$src.v[pr.i]")} AS sxi,
       |    ${fold(s"$src.v[pr.j]")} AS sxj,
       |    ${fold(s"$src.v[pr.i] * $src.v[pr.j]")} AS sxij,
       |    ${fold(s"$src.v[pr.i] * $src.v[pr.i]")} AS sxi2,
       |    ${fold(s"$src.v[pr.j] * $src.v[pr.j]")} AS sxj2,
       |    CAST(count(*) AS DOUBLE) AS n
       |  FROM $src CROSS JOIN pr$n pr GROUP BY pr.p, pr.i, pr.j),
       |cv$n AS (
       |  SELECT p, i, j,
       |    sxij / n - (sxi / n) * (sxj / n) AS cov,
       |    (sxi2 / n - (sxi / n) * (sxi / n))
       |      - (sxj2 / n - (sxj / n) * (sxj / n)) AS d
       |  FROM st$n),
       |cs$n AS (
       |  SELECT p, i, j,
       |    CASE WHEN r = 0 THEN 1.0 ELSE sqrt((1 + d / r) / 2) END AS c,
       |    CASE WHEN r = 0 THEN 0.0
       |         ELSE (CASE WHEN cov >= 0 THEN 1.0 ELSE -1.0 END)
       |              * sqrt((1 - d / r) / 2) END AS s
       |  FROM (SELECT p, i, j, cov, d,
       |          sqrt(d * d + 4 * cov * cov) AS r FROM cv$n)),
       |mp$n AS (
       |  SELECT i AS dd, c AS a1, -s AS a2, j AS pt FROM cs$n
       |  UNION ALL
       |  SELECT j AS dd, c AS a1, s AS a2, i AS pt FROM cs$n),
       |co$n AS (
       |  SELECT list(a1 ORDER BY dd) AS a1, list(a2 ORDER BY dd) AS a2,
       |         list(pt ORDER BY dd) AS pt
       |  FROM mp$n),
       |r$n AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64), d ->
       |      co.a1[d] * v[d] + co.a2[d] * v[co.pt[d]]) AS v
       |  FROM $src, co$n co)""".stripMargin
  }

  /** a13's full replay: raw vectors → two trained rotation layers →
    * per-subspace Lloyd (2 iterations, a7's pqIterSql verbatim over
    * the ROTATED sub0) → encode → ADC in rotated space → top-20
    * refine → exact rerank against the ORIGINAL vectors. */
  private lazy val a13Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${opqLayerSql(1, OpqPairs(0), "e")},
       |${opqLayerSql(2, OpqPairs(1), "r1")},
       |er AS (SELECT vec_id, v FROM r2),
       |sub0 AS (
       |  SELECT vec_id, s.sp,
       |    list_transform(generate_series(1, 8), d -> v[s.sp*8+d]) AS sv
       |  FROM er, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |seeds AS (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id, v FROM er ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT s.sp, seeds.cid,
       |    list_transform(generate_series(1, 8), d -> seeds.v[s.sp*8+d]) AS cv
       |  FROM seeds, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |${pqIterSql(1)},
       |${pqIterSql(2)},
       |${pqAssignSql(3)},
       |qs AS (SELECT vec_id AS q_id, v AS qrv FROM er WHERE vec_id < 10),
       |qsub AS (
       |  SELECT q_id, s.sp,
       |    list_transform(generate_series(1, 8), d -> qrv[s.sp*8+d]) AS qsv
       |  FROM qs, LATERAL unnest(generate_series(0, 7)) AS s(sp)),
       |adcp AS (
       |  SELECT q.q_id, b.vec_id, q.sp,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, 8), d ->
       |        (q.qsv[d] - c.cv[d]) * (q.qsv[d] - c.cv[d]))),
       |      (acc, x) -> acc + x) AS dist
       |  FROM qsub q
       |  JOIN pa3 b ON b.sp = q.sp AND b.vec_id <> q.q_id
       |  JOIN cb2 c ON c.sp = b.sp AND c.cid = b.cid),
       |adc AS (
       |  SELECT q_id, vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY sp)),
       |      (acc, x) -> acc + x) AS adist
       |  FROM adcp GROUP BY q_id, vec_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS qrnk
       |    FROM adc) WHERE qrnk <= 20),
       |scored AS (
       |  SELECT c.q_id, c.vec_id, ${cos("eq.v", "eb.v")} AS cosine_raw
       |  FROM cand c
       |  JOIN e eq ON eq.vec_id = c.q_id
       |  JOIN e eb ON eb.vec_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin

  /** Shared quantized-representation CTEs (the vectorReps build) for
    * the cascade-family oracles: per-dim extrema, SQ8 dequantized
    * values, two 32-bit sign words per vector. */
  private lazy val repCtesSql: String = {
    def wordSql(off: Int) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, 32),
         |        d -> CASE WHEN v[d + $off] > 0 THEN CAST(1 AS BIGINT) << (d - 1)
         |             ELSE CAST(0 AS BIGINT) END)),
         |      (s, x) -> s + x)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT g.i AS pos, min(v[g.i]) AS lo, max(v[g.i]) AS hi
       |  FROM e, LATERAL unnest(generate_series(1, 64)) AS g(i)
       |  GROUP BY g.i),
       |sc AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
       |       FROM dims),
       |q8 AS (
       |  SELECT vec_id, v, list_transform(generate_series(1, 64), i ->
       |    CASE WHEN sc.his[i] = sc.los[i] THEN 0
       |      ELSE CAST(floor((v[i] - sc.los[i]) / (sc.his[i] - sc.los[i]) * 255.0 + 0.5) AS INTEGER)
       |    END) AS qv
       |  FROM e, sc),
       |rep AS (
       |  SELECT vec_id, v,
       |    list_transform(generate_series(1, 64), i ->
       |      sc.los[i] + CAST(qv[i] AS DOUBLE) / 255.0 * (sc.his[i] - sc.los[i])) AS dq,
       |    ${wordSql(0)} AS w0,
       |    ${wordSql(32)} AS w1
       |  FROM q8, sc)""".stripMargin
  }

  /** The full tuning-grid CTE chain (through `pick`), shared by the
    * a17 report oracle and a12's cascade_tuned pipeline replay:
    * nine cascade geometries cut from ONE hamming ranking, hit
    * counts vs the exact pairs, and the pick rule verbatim. */
  private lazy val cascadeGridCtesSql: String = {
    val cfgValues = CascadeGrid
      .map { case (s1, s2) => s"($s1, $s2)" }.mkString(", ")
    s"""$repCtesSql,
       |qs AS (
       |  SELECT vec_id AS q_id, v AS qfull, dq AS dqq, w0 AS qw0, w1 AS qw1
       |  FROM rep WHERE vec_id < 10),
       |hall AS (
       |  SELECT q_id, vec_id, qfull, v, hrnk, ${cos("dqq", "dq")} AS qcos
       |  FROM (
       |    SELECT qs.q_id, b.vec_id, qs.qfull, qs.dqq, b.v, b.dq,
       |      row_number() OVER (PARTITION BY qs.q_id ORDER BY
       |        bit_count(xor(qs.qw0, b.w0)) + bit_count(xor(qs.qw1, b.w1)),
       |        b.vec_id) AS hrnk
       |    FROM qs JOIN rep b ON b.vec_id <> qs.q_id)
       |  WHERE hrnk <= ${CascadeGrid.map(_._1).max}),
       |cfg(s1, s2) AS (VALUES $cfgValues),
       |gc2 AS (
       |  SELECT s1, s2, q_id, vec_id, qfull, v FROM (
       |    SELECT cfg.s1, cfg.s2, h.q_id, h.vec_id, h.qfull, h.v,
       |      row_number() OVER (PARTITION BY cfg.s1, cfg.s2, h.q_id
       |        ORDER BY h.qcos DESC, h.vec_id) AS qrnk
       |    FROM hall h JOIN cfg ON h.hrnk <= cfg.s1)
       |  WHERE qrnk <= s2),
       |gr AS (
       |  SELECT s1, s2, q_id, vec_id FROM (
       |    SELECT s1, s2, q_id, vec_id,
       |      row_number() OVER (PARTITION BY s1, s2, q_id
       |        ORDER BY cr DESC, vec_id) AS rnk
       |    FROM (SELECT s1, s2, q_id, vec_id, ${cos("qfull", "v")} AS cr
       |          FROM gc2))
       |  WHERE rnk <= 5),
       |exact AS (
       |  SELECT q_id, vec_id FROM (${baseOracles("a1_knn_bruteforce")})),
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM exact),
       |gh AS (
       |  SELECT s1, s2, CAST(count(*) AS BIGINT) AS hits
       |  FROM gr JOIN exact USING (q_id, vec_id) GROUP BY s1, s2),
       |gfull AS (
       |  SELECT cfg.s1, cfg.s2,
       |    COALESCE(gh.hits, CAST(0 AS BIGINT)) AS hits, nq.possible,
       |    CASE WHEN CAST(COALESCE(gh.hits, 0) AS DOUBLE) / nq.possible
       |           >= $CascadeTarget THEN 1 ELSE 0 END AS meets
       |  FROM cfg LEFT JOIN gh ON gh.s1 = cfg.s1 AND gh.s2 = cfg.s2, nq),
       |pick AS (
       |  SELECT s1 AS p1, s2 AS p2 FROM gfull
       |  ORDER BY meets DESC,
       |    CASE WHEN meets = 1 THEN CAST(0 AS BIGINT) ELSE -hits END,
       |    s2, s1 LIMIT 1)""".stripMargin
  }

  /** a17's oracle: the grid report with the pick flag. */
  private lazy val a17Sql: String =
    s"""WITH $cascadeGridCtesSql
       |SELECT CAST(f.s1 AS BIGINT) AS s1, CAST(f.s2 AS BIGINT) AS s2,
       |  f.hits, f.possible,
       |  round(CAST(f.hits AS DOUBLE) / f.possible, 4) AS recall_at_5,
       |  (f.s1 = p.p1 AND f.s2 = p.p2) AS chosen
       |FROM gfull f, pick p
       |ORDER BY f.s1, f.s2""".stripMargin

  /** The tuned cascade's (q_id, vec_id) pairs — a12's cascade_tuned
    * pipeline replay. */
  private lazy val cascadeTunedPairsSql: String =
    s"""WITH $cascadeGridCtesSql
       |SELECT r.q_id, r.vec_id FROM gr r
       |JOIN pick p ON r.s1 = p.p1 AND r.s2 = p.p2""".stripMargin

  /** Shared oracle CTE chain (starts after WITH RECURSIVE): a9's
    * kNN-join pipeline replayed, the mutuality filter, and min-label
    * reachability seeded from ALL vectors so singletons label
    * themselves — ends in comp(id, cluster_rep). The common core of
    * the a20 replay and s14's semantic-collapse label side. Concat
    * operators stay at end-of-line: this block is re-interpolated
    * into stripMargin oracles. */
  /** a9's seed pipeline parameterized over LSH geometry — the same
    * hyperplane-weight formula `hyperplane_sig` codegens, the same
    * mega-bucket cap, the same exact rerank; a21 replays it at its
    * own (weaker) seed geometry. Emits `SELECT q_id, vec_id ...`. */
  private def knnJoinSqlFor(tables: Int, bits: Int, k: Int,
                            cap: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, list_transform(generate_series(0, ${tables - 1}), t ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(0, ${bits - 1}), p ->
       |        CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |            list_transform(generate_series(1, len(v)), d ->
       |              CASE WHEN ((((t*$bits+p)*64 + d) * 2654435761) // 65536) % 2 = 0
       |                   THEN v[d] ELSE -v[d] END)),
       |            (s, x) -> s + x) > 0
       |        THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b)) AS sg
       |  FROM e),
       |buckets AS (
       |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS tbl, sg[g.i] AS sig
       |  FROM sigs, LATERAL unnest(generate_series(1, $tables)) AS g(i)),
       |bcnt AS (SELECT tbl, sig, count(*) AS c FROM buckets GROUP BY tbl, sig),
       |capped AS (
       |  SELECT b.vec_id, b.tbl, b.sig
       |  FROM buckets b JOIN bcnt USING (tbl, sig) WHERE bcnt.c <= $cap),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS vec_id
       |  FROM capped a JOIN capped b
       |    ON a.tbl = b.tbl AND a.sig = b.sig AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
       |  FROM cand c
       |  JOIN e eq ON eq.vec_id = c.q_id
       |  JOIN e eb ON eb.vec_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id FROM ranked WHERE rnk <= $k""".stripMargin

  /** The refined-graph CTE chain a21's report and a22's serving
    * replay both start from: `ev` (double-cast vectors), `g0` (the
    * seed kNN-join replay at a21's geometry), and `rounds`
    * NN-Descent refinement rounds ending in `g{rounds}`. */
  private def nnGraphCtesSql(rounds: Int): String = {
    // one refinement round as CTE stages, g{i-1} -> g{i}
    def roundCtes(i: Int): String =
      s"""und$i AS MATERIALIZED (
         |  SELECT q_id AS node, vec_id AS nbr FROM g${i - 1}
         |  UNION
         |  SELECT vec_id, q_id FROM g${i - 1}),
         |cand$i AS (
         |  SELECT q_id, vec_id FROM g${i - 1}
         |  UNION
         |  SELECT x.node, y.nbr FROM und$i x JOIN und$i y ON y.node = x.nbr
         |  WHERE y.nbr <> x.node),
         |cscored$i AS (
         |  SELECT c.q_id, c.vec_id,
         |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
         |  FROM cand$i c
         |  JOIN ev eq ON eq.vec_id = c.q_id
         |  JOIN ev eb ON eb.vec_id = c.vec_id),
         |g$i AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cosine_raw DESC, vec_id) AS rnk
         |    FROM cscored$i)
         |  WHERE rnk <= 3)""".stripMargin
    s"""ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |g0 AS MATERIALIZED (SELECT q_id, vec_id FROM (${knnJoinSqlFor(4, 6, 3, 256)})),
       |${(1 to rounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  /** a25's oracle: the refined-graph replay ([[nnGraphCtesSql]] —
    * a21's own CTEs) composed with the FreshDiskANN consolidation
    * formula: dead sources drop, dirty nodes re-rank over surviving
    * neighbors ∪ bridges through the dead nodes' live out-edges,
    * untouched nodes pass through. */
  /** The FreshDiskANN delete-consolidation replay as CTE stages —
    * [[deleteFromNnGraph]]'s exact formula over `g2` + `ev` (both
    * expected in scope): dead sources drop, dirty nodes re-rank over
    * surviving neighbors ∪ bridges through the dead nodes' live
    * out-edges, untouched nodes pass through. Emits
    * `dead (id)` and `consol (q_id, vec_id)`. Shared by a25's
    * oracle and st20's walk-over-consolidated-graph oracle. */
  private def consolCtesSql(kDeg: Int = 3): String = {
    val deadList = GraphDeadIds.mkString("[", ", ", "]")
    s"""dead AS (SELECT unnest($deadList) AS id),
       |src_live AS (
       |  SELECT q_id, vec_id FROM g2
       |  WHERE q_id NOT IN (SELECT id FROM dead)),
       |kept AS (
       |  SELECT q_id, vec_id FROM src_live
       |  WHERE vec_id NOT IN (SELECT id FROM dead)),
       |dirty AS (
       |  SELECT DISTINCT q_id FROM src_live
       |  WHERE vec_id IN (SELECT id FROM dead)),
       |bridges AS (
       |  SELECT s.q_id, b.vec_id FROM src_live s
       |  JOIN g2 b ON b.q_id = s.vec_id
       |  WHERE s.vec_id IN (SELECT id FROM dead)
       |    AND b.vec_id <> s.q_id
       |    AND b.vec_id NOT IN (SELECT id FROM dead)),
       |del_cand AS (
       |  SELECT DISTINCT q_id, vec_id FROM (
       |    SELECT kx.q_id, kx.vec_id FROM kept kx JOIN dirty USING (q_id)
       |    UNION ALL
       |    SELECT q_id, vec_id FROM bridges)),
       |pscored AS (
       |  SELECT del_cand.q_id, del_cand.vec_id,
       |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
       |  FROM del_cand
       |  JOIN ev eq ON eq.vec_id = del_cand.q_id
       |  JOIN ev eb ON eb.vec_id = del_cand.vec_id),
       |patched AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine_raw DESC, vec_id) AS rnk
       |    FROM pscored)
       |  WHERE rnk <= $kDeg),
       |consol AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM kept
       |  WHERE q_id NOT IN (SELECT q_id FROM dirty)
       |  UNION ALL
       |  SELECT q_id, vec_id FROM patched)""".stripMargin
  }

  private lazy val a25Sql: String =
    s"""WITH ${nnGraphCtesSql(2)},
       |${consolCtesSql(3)}
       |SELECT q_id, vec_id FROM consol
       |ORDER BY q_id, vec_id""".stripMargin

  /** a21's oracle: the seed replay at a21's geometry, the undirected
    * neighbor-of-neighbor expansion, the exact rerank, and the
    * probe-sample recall accounting — all as CTE stages. */
  private lazy val a21Sql: String = {
    val rounds = 2
    val roundRows = (0 to rounds).map { i =>
      val label = if (i == 0) s"'r${i}_seed'" else s"'r$i'"
      s"""  SELECT $label AS round,
         |    (SELECT CAST(count(*) AS BIGINT) FROM g$i JOIN exact USING (q_id, vec_id)) AS hits,
         |    (SELECT CAST(count(*) AS BIGINT) FROM g$i) AS n_edges""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${nnGraphCtesSql(rounds)},
       |escored AS (
       |  SELECT q.vec_id AS q_id, b.vec_id,
       |    ${cosineSql.replace("QV", "q.v").replace("BV", "b.v")} AS cosine_raw
       |  FROM ev q JOIN ev b ON b.vec_id <> q.vec_id
       |  WHERE q.vec_id < 25),
       |exact AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine_raw DESC, vec_id) AS rnk
       |    FROM escored)
       |  WHERE rnk <= 3),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM exact),
       |rounds AS (
       |$roundRows)
       |SELECT round, hits, possible,
       |  round(CAST(hits AS DOUBLE) / possible, 4) AS recall, n_edges
       |FROM rounds, np
       |ORDER BY round""".stripMargin
  }

  /** a22's oracle: the refined graph replayed ([[nnGraphCtesSql]]),
    * then the hop-synchronous serving walk as CTE stages — entry
    * scores v0, and per hop the beam top-`beam`, the one-hop
    * undirected expansion, the never-visited anti-join, and the
    * union into v{h}; final exact top-k over everything visited. */
  /** The shared SQL replay of the medoid-entry beam walk: refined
    * graph ([[nnGraphCtesSql]]) + the trained quantizer
    * ([[kmeansCellsSqlFor]]) -> per-cell medoids -> per-query
    * entries (top-eCells cells by centroid score, ties -> lowest
    * cid, matching probeKey) -> `hops` beam expansions. `filtered`
    * adds the label keep AFTER the walk (routing stays
    * unrestricted), ranking only predicate-passing rows — a26's
    * mechanics. */
  /** [[pruneFromPool]]'s SQL replay over any bounded (node, nbr,
    * sim_pn, prnk) pool CTE — psim pair sims from `vecsCte`, then
    * poolCap greedy stages (the Lloyd-iteration discipline: explicit
    * stages, no recursive CTE — a bare UNION under WITH RECURSIVE
    * silently loses its dedup), emitting `${prefix}pruned (q_id,
    * vec_id)`. Prefix "" reproduces the original vamana CTE names;
    * the insert oracle instantiates it twice more ("i" over the walk
    * pool, "d" over the dirty-node pool). */
  private def pruneStagesSql(prefix: String, poolCte: String,
                             vecsCte: String, alpha: Double = 1.2,
                             degreeCap: Int = 6,
                             poolCap: Int = 12): String = {
    def stage(i: Int): String =
      s"""${prefix}k$i AS (
         |  SELECT k.node,
         |    CASE WHEN c.nbr IS NULL OR len(k.kept) >= $degreeCap
         |           THEN k.kept
         |         WHEN EXISTS (SELECT 1 FROM ${prefix}psim p
         |             WHERE p.node = k.node
         |               AND list_contains(k.kept, p.s)
         |               AND p.cv = c.nbr
         |               AND $alpha * (1 - p.sim_sv) <= (1 - c.sim_pn))
         |           THEN k.kept
         |         ELSE list_append(k.kept, c.nbr) END AS kept
         |  FROM ${prefix}k${i - 1} k
         |  LEFT JOIN $poolCte c ON c.node = k.node AND c.prnk = $i)""".stripMargin
    s"""${prefix}psim AS MATERIALIZED (
       |  SELECT a.node, a.nbr AS s, b.nbr AS cv,
       |    ${cos("se.v", "ve.v")} AS sim_sv
       |  FROM $poolCte a JOIN $poolCte b ON b.node = a.node AND b.nbr <> a.nbr
       |  JOIN $vecsCte se ON se.vec_id = a.nbr
       |  JOIN $vecsCte ve ON ve.vec_id = b.nbr),
       |${prefix}k0 AS (SELECT DISTINCT node, CAST([] AS BIGINT[]) AS kept
       |       FROM $poolCte),
       |${(1 to poolCap).map(stage).mkString(",\n")},
       |${prefix}pruned AS MATERIALIZED (
       |  SELECT node AS q_id, unnest(kept) AS vec_id FROM ${prefix}k$poolCap)""".stripMargin
  }

  /** The VAMANA build-prune replay — [[robustPrune]]'s exact
    * mechanics: candidate pool = undirected g2 ∪ one
    * neighbor-of-neighbor hop, scored and bounded
    * ([[scoredPoolCteSql]]), then the unrolled greedy
    * ([[pruneStagesSql]] with the original unprefixed names).
    * Emits `pruned (q_id, vec_id)`. Expects g2 + ev in scope. */
  private def vamanaCtesSql(alpha: Double = 1.2, degreeCap: Int = 6,
                            poolCap: Int = 12): String =
    s"""vund AS MATERIALIZED (
       |  SELECT q_id AS node, vec_id AS nbr FROM g2
       |  UNION
       |  SELECT vec_id, q_id FROM g2),
       |vpool0 AS (
       |  SELECT DISTINCT node, nbr FROM (
       |    SELECT node, nbr FROM vund
       |    UNION ALL
       |    SELECT x.node, y.nbr FROM vund x JOIN vund y ON y.node = x.nbr
       |    WHERE y.nbr <> x.node)
       |  WHERE node <> nbr),
       |${scoredPoolCteSql("pool", "vpool0", "ev", poolCap)},
       |${pruneStagesSql("", "pool", "ev", alpha, degreeCap, poolCap)}""".stripMargin

  /** One cosine-scored walk hop as CTE stages (wf/wn/ws/wv — beam,
    * undirected expansion, never-visited anti-join, union) — ONE
    * definition shared by the a22/a26/a29 walk oracles and a31's
    * insert-pool walk; expects `und`, `qs`, `ev` and `wv{h-1}` in
    * scope. Two copies could silently drift and leave one hash gate
    * testing stale walk mechanics (the medoidCtesSql lesson). */
  private def cosineHopCteSql(h: Int, beam: Int): String =
    s"""wf$h AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine_raw DESC, vec_id) AS rnk
       |    FROM wv${h - 1})
       |  WHERE rnk <= $beam),
       |wn$h AS (
       |  SELECT DISTINCT f.q_id, u.nbr AS vec_id
       |  FROM wf$h f JOIN und u ON u.node = f.vec_id
       |  WHERE u.nbr <> f.q_id),
       |ws$h AS (
       |  SELECT n.q_id, n.vec_id,
       |    ${cosineSql.replace("QV", "q.qv").replace("BV", "b.v")} AS cosine_raw
       |  FROM wn$h n
       |  JOIN qs q ON q.q_id = n.q_id
       |  JOIN ev b ON b.vec_id = n.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM wv${h - 1} v
       |                    WHERE v.q_id = n.q_id AND v.vec_id = n.vec_id)),
       |wv$h AS (
       |  SELECT q_id, vec_id, cosine_raw FROM wv${h - 1}
       |  UNION ALL
       |  SELECT q_id, vec_id, cosine_raw FROM ws$h)""".stripMargin

  /** Score-and-bound a (node, nbr) pool CTE to poolCap by (sim desc,
    * nbr) — [[scoredPool]]'s SQL twin, one definition for the vamana
    * build pool, a31's dirty-patch pool and a32's consolidation
    * pool. */
  private def scoredPoolCteSql(name: String, srcCte: String,
                               vecsCte: String, poolCap: Int): String =
    s"""$name AS MATERIALIZED (
       |  SELECT node, nbr, sim_pn, prnk FROM (
       |    SELECT node, nbr, sim_pn,
       |      row_number() OVER (PARTITION BY node
       |        ORDER BY sim_pn DESC, nbr) AS prnk
       |    FROM (
       |      SELECT p.node, p.nbr, ${cos("pe.v", "ne.v")} AS sim_pn
       |      FROM $srcCte p
       |      JOIN $vecsCte pe ON pe.vec_id = p.node
       |      JOIN $vecsCte ne ON ne.vec_id = p.nbr))
       |  WHERE prnk <= $poolCap)""".stripMargin

  private def graphWalkSql(k: Int, beam: Int, hops: Int, eCells: Int,
                           filtered: Boolean,
                           graphEdges: String = "g2",
                           extraCtes: String = ""): String = {
    def hopCtes(h: Int): String = cosineHopCteSql(h, beam)
    val qsCte =
      if (filtered)
        s"""qs AS (
           |  SELECT e2.vec_id AS q_id, e2.v AS qv, l.label AS q_label
           |  FROM ev e2 JOIN lab l ON l.vec_id = e2.vec_id
           |  WHERE e2.vec_id < 10)""".stripMargin
      else "qs AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10)"
    val finalSel =
      if (filtered)
        s"""SELECT q_id, q_label, vec_id, round(cosine_raw, 6) AS cosine, rnk FROM (
           |  SELECT w.q_id, qs.q_label, w.vec_id, w.cosine_raw,
           |    row_number() OVER (PARTITION BY w.q_id
           |      ORDER BY w.cosine_raw DESC, w.vec_id) AS rnk
           |  FROM wv$hops w
           |  JOIN lab l ON l.vec_id = w.vec_id
           |  JOIN qs ON qs.q_id = w.q_id
           |  WHERE l.label = qs.q_label)
           |WHERE rnk <= $k
           |ORDER BY q_id, rnk""".stripMargin
      else
        s"""SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk FROM (
           |  SELECT q_id, vec_id, cosine_raw,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cosine_raw DESC, vec_id) AS rnk
           |  FROM wv$hops)
           |WHERE rnk <= $k
           |ORDER BY q_id, rnk""".stripMargin
    s"""WITH ${nnGraphCtesSql(2)},
       |$extraCtes${kmeansCellsSqlFor(8)},
       |${if (filtered) "lab AS (SELECT vec_id, label FROM embeddings)," else ""}
       |und AS MATERIALIZED (
       |  SELECT q_id AS node, vec_id AS nbr FROM $graphEdges
       |  UNION
       |  SELECT vec_id, q_id FROM $graphEdges),
       |$qsCte,
       |${medoidCtesSql(eCells)},
       |wv0 AS (
       |  SELECT qs.q_id, b.vec_id,
       |    ${cosineSql.replace("QV", "qs.qv").replace("BV", "b.v")} AS cosine_raw
       |  FROM qcell qc
       |  JOIN med m ON m.cid = qc.cid
       |  JOIN qs ON qs.q_id = qc.q_id
       |  JOIN ev b ON b.vec_id = m.vec_id
       |  WHERE b.vec_id <> qs.q_id),
       |${(1 to hops).map(hopCtes).mkString(",\n")}
       |$finalSel""".stripMargin
  }

  /** The med/qcell CTE pair of every medoid-entry walk oracle —
    * per-cell top-3 medoids by cosine to the OWN centroid (ties →
    * lowest vec_id, graphMedoids' window) and per-query top-eCells
    * probed cells (score desc, cid asc = probeKey). ONE definition
    * shared by the a22/a26 walk and a23's PQ walk, mirroring the
    * Scala side's centralized graphMedoids/medoidEntries — two
    * copies here could silently drift and leave one hash gate
    * testing stale mechanics. Expects `cells`, `c3`, `e`
    * (kmeansCellsSqlFor) and `qs` (q_id, qv) in scope. */
  private def medoidCtesSql(eCells: Int): String =
    s"""med AS (
       |  SELECT cid, vec_id FROM (
       |    SELECT cl.cid, cl.vec_id,
       |      row_number() OVER (PARTITION BY cl.cid
       |        ORDER BY ${cos("e.v", "c.cv")} DESC, cl.vec_id) AS rn
       |    FROM cells cl
       |    JOIN e ON e.vec_id = cl.vec_id
       |    JOIN c3 c ON c.cid = cl.cid)
       |  WHERE rn <= 3),
       |qcell AS (
       |  SELECT q_id, cid FROM (
       |    SELECT qs.q_id, c.cid,
       |      row_number() OVER (PARTITION BY qs.q_id
       |        ORDER BY ${cos("qs.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM qs CROSS JOIN c3 c)
       |  WHERE rn <= $eCells)""".stripMargin

  private lazy val a22Sql: String =
    graphWalkSql(k = 5, beam = 6, hops = 2, eCells = 8, filtered = false)

  private lazy val a26Sql: String =
    graphWalkSql(k = 5, beam = 12, hops = 2, eCells = 8, filtered = true)

  /** a29's replay: the NN-descent graph CTEs, the Vamana prune
    * unrolled, then a22's exact walk over the pruned edge table. */
  private lazy val a29Sql: String =
    graphWalkSql(k = 5, beam = 6, hops = 2, eCells = 8,
      filtered = false, graphEdges = "pruned",
      extraCtes = vamanaCtesSql() + ",\n")

  /** a32's replay — the α-RNG delete consolidation as CTE stages:
    * the vamana base graph, a25's kept/dirty/bridges shape over it,
    * then the unrolled greedy ([[pruneStagesSql]] "x") over the
    * survivors ∪ bridges pool instead of a top-k rerank. */
  private lazy val a32Sql: String = {
    val deadList = GraphDeadIds.mkString("[", ", ", "]")
    s"""WITH ${nnGraphCtesSql(2)},
       |${vamanaCtesSql()},
       |dead AS (SELECT unnest($deadList) AS id),
       |xsrc AS (
       |  SELECT q_id, vec_id FROM pruned
       |  WHERE q_id NOT IN (SELECT id FROM dead)),
       |xkept AS (
       |  SELECT q_id, vec_id FROM xsrc
       |  WHERE vec_id NOT IN (SELECT id FROM dead)),
       |xdirty AS (
       |  SELECT DISTINCT q_id FROM xsrc
       |  WHERE vec_id IN (SELECT id FROM dead)),
       |xbridges AS (
       |  SELECT s.q_id, b.vec_id FROM xsrc s
       |  JOIN pruned b ON b.q_id = s.vec_id
       |  WHERE s.vec_id IN (SELECT id FROM dead)
       |    AND b.vec_id <> s.q_id
       |    AND b.vec_id NOT IN (SELECT id FROM dead)),
       |xpool0 AS (
       |  SELECT DISTINCT q_id AS node, vec_id AS nbr FROM (
       |    SELECT kx.q_id, kx.vec_id FROM xkept kx JOIN xdirty USING (q_id)
       |    UNION ALL
       |    SELECT q_id, vec_id FROM xbridges)),
       |${scoredPoolCteSql("xpool", "xpool0", "ev", 12)},
       |${pruneStagesSql("x", "xpool", "ev")}
       |SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id FROM xkept
       |  WHERE q_id NOT IN (SELECT q_id FROM xdirty)
       |  UNION ALL
       |  SELECT q_id, vec_id FROM xpruned)
       |ORDER BY q_id, vec_id""".stripMargin
  }

  /** a31's replay — the whole insert pipeline as CTE stages: the
    * vamana base graph (a29's CTEs), the synthetic insert batch, the
    * serving walk from medoid entries over `pruned` collecting each
    * new node's VISITED set, RobustPrune over that pool
    * ([[pruneStagesSql]] "i"), the backlink patch with a second
    * prune over neighbors ∪ backlinks ("d", vectors from the
    * old ∪ new union), then untouched ∪ inserted ∪ re-pruned. */
  private lazy val a31Sql: String = {
    val (beam, hops, eCells, poolCap) = (6, 2, 8, 12)
    def hopCtes(h: Int): String = cosineHopCteSql(h, beam)
    s"""WITH ${nnGraphCtesSql(2)},
       |${vamanaCtesSql()},
       |${kmeansCellsSqlFor(8)},
       |ins AS (
       |  SELECT vec_id + 900000000 AS vec_id,
       |    list_transform(v, x -> x * 0.9 + 0.01) AS v
       |  FROM ev WHERE vec_id < 8),
       |av AS MATERIALIZED (
       |  SELECT vec_id, v FROM ev
       |  UNION ALL
       |  SELECT vec_id, v FROM ins),
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM ins),
       |${medoidCtesSql(eCells)},
       |und AS MATERIALIZED (
       |  SELECT q_id AS node, vec_id AS nbr FROM pruned
       |  UNION
       |  SELECT vec_id, q_id FROM pruned),
       |wv0 AS (
       |  SELECT qs.q_id, b.vec_id,
       |    ${cosineSql.replace("QV", "qs.qv").replace("BV", "b.v")} AS cosine_raw
       |  FROM qcell qc
       |  JOIN med m ON m.cid = qc.cid
       |  JOIN qs ON qs.q_id = qc.q_id
       |  JOIN ev b ON b.vec_id = m.vec_id
       |  WHERE b.vec_id <> qs.q_id),
       |${(1 to hops).map(hopCtes).mkString(",\n")},
       |ipool AS MATERIALIZED (
       |  SELECT node, nbr, sim_pn, prnk FROM (
       |    SELECT q_id AS node, vec_id AS nbr, cosine_raw AS sim_pn,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine_raw DESC, vec_id) AS prnk
       |    FROM wv$hops)
       |  WHERE prnk <= $poolCap),
       |${pruneStagesSql("i", "ipool", "ev", poolCap = poolCap)},
       |bl AS (SELECT vec_id AS node, q_id AS nbr FROM ipruned),
       |dirty AS (SELECT DISTINCT node FROM bl),
       |dpool0 AS (
       |  SELECT p.q_id AS node, p.vec_id AS nbr
       |  FROM pruned p JOIN dirty d ON d.node = p.q_id
       |  UNION ALL
       |  SELECT node, nbr FROM bl),
       |${scoredPoolCteSql("dpool", "dpool0", "av", poolCap)},
       |${pruneStagesSql("d", "dpool", "av", poolCap = poolCap)}
       |SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id FROM pruned
       |  WHERE q_id NOT IN (SELECT node FROM dirty)
       |  UNION ALL
       |  SELECT q_id, vec_id FROM ipruned
       |  UNION ALL
       |  SELECT q_id, vec_id FROM dpruned)
       |ORDER BY q_id, vec_id""".stripMargin
  }

  /** a27's replay: trained quantizer → probe-3 (score desc, cid asc
    * — probeKey's order) → EVERY probed-cell vector above the
    * cosine threshold, no top-k anywhere. */
  private lazy val a27Sql: String = {
    val (minCosine, nprobe) = (0.30, 3)
    s"""WITH ${kmeansCellsSqlFor(8)},
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |probe AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT qs.q_id, qs.qv, c.cid,
       |      row_number() OVER (PARTITION BY qs.q_id
       |        ORDER BY ${cos("qs.qv", "c.cv")} DESC, c.cid) AS p_rnk
       |    FROM qs CROSS JOIN c3 c)
       |  WHERE p_rnk <= $nprobe)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine FROM (
       |  SELECT p.q_id, e.vec_id, ${cos("p.qv", "e.v")} AS cosine_raw
       |  FROM probe p
       |  JOIN cells cl ON cl.cid = p.cid
       |  JOIN e ON e.vec_id = cl.vec_id
       |  WHERE e.vec_id <> p.q_id)
       |WHERE cosine_raw >= $minCosine
       |ORDER BY q_id, cosine DESC, vec_id""".stripMargin
  }

  /** a23's replay: a22's hop skeleton with adist (ascending) in
    * place of cosine at every walk stage, a6's codebook/code CTEs
    * over the graph's `ev` vector table, and the exact cosine
    * entering only in the final rerank CTE. */
  private lazy val a23Sql: String = graphPqWalkSql()

  /** st20's replay: the SAME PQ-scored walk, but routed over a25's
    * consolidated graph ([[consolCtesSql]]) with the coded corpus
    * and the rerank tier restricted to delete survivors — the SQL
    * twin of serving from the stream-maintained store's post-delete
    * tiers. The quantizer seeds (`sv`) and the medoid entries stay
    * on the FULL pre-delete `ev`, exactly like the serve (trained
    * up front, never retrained by a delete); dead medoid entries
    * drop where the walk scores them against the live coded tier,
    * on both sides. */
  private lazy val st20Sql: String = graphPqWalkSql(
    graphEdges = "consol",
    extraCtes = consolCtesSql(3) + ",\n",
    liveOnly = true)

  /** a23's walk replay, parameterized: a22's hop skeleton with adist
    * (ascending) in place of cosine at every walk stage, a6's
    * codebook/code CTEs over the graph's `ev` vector table, the
    * exact cosine entering only in the final rerank CTE.
    * `graphEdges` names the edge CTE the walk routes on; `liveOnly`
    * restricts the coded corpus + rerank tier to non-`dead` ids
    * (expects `extraCtes` to bind `dead`). */
  private def graphPqWalkSql(graphEdges: String = "g2",
                             extraCtes: String = "",
                             liveOnly: Boolean = false): String = {
    val (k, beam, hops, eCells, rerank) = (5, 8, 2, 8, 16)
    // the walk's candidates are always ⊆ coded, so restricting the
    // coded corpus restricts the rerank tier for free
    val codedFilter =
      if (liveOnly) "\n  WHERE ev.vec_id NOT IN (SELECT id FROM dead)"
      else ""
    val encDist = pqSqDist("v", "sp", "sv.sv[j+1]")
    def adcSql(qv: String, code: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 7), sp ->
         |        ${pqSqDist(qv, "sp", s"sv.sv[$code[sp+1]+1]")})),
         |      (a, x) -> a + x)""".stripMargin
    def hopCtes(h: Int): String =
      s"""wf$h AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY adist, vec_id) AS rnk
         |    FROM wv${h - 1})
         |  WHERE rnk <= $beam),
         |wn$h AS (
         |  SELECT DISTINCT f.q_id, u.nbr AS vec_id
         |  FROM wf$h f JOIN und u ON u.node = f.vec_id
         |  WHERE u.nbr <> f.q_id),
         |ws$h AS (
         |  SELECT n.q_id, n.vec_id,
         |    ${adcSql("q.qv", "b.code")} AS adist
         |  FROM wn$h n
         |  JOIN qs q ON q.q_id = n.q_id
         |  JOIN coded b ON b.vec_id = n.vec_id, sv
         |  WHERE NOT EXISTS (SELECT 1 FROM wv${h - 1} v
         |                    WHERE v.q_id = n.q_id AND v.vec_id = n.vec_id)),
         |wv$h AS (
         |  SELECT q_id, vec_id, adist FROM wv${h - 1}
         |  UNION ALL
         |  SELECT q_id, vec_id, adist FROM ws$h)""".stripMargin
    s"""WITH ${nnGraphCtesSql(2)},
       |${kmeansCellsSqlFor(8)},
       |${extraCtes}und AS (
       |  SELECT q_id AS node, vec_id AS nbr FROM $graphEdges
       |  UNION
       |  SELECT vec_id, q_id FROM $graphEdges),
       |sv AS (SELECT list(v ORDER BY vec_id) AS sv
       |       FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 16)),
       |coded AS (
       |  SELECT vec_id, v,
       |    list_transform(generate_series(0, 7), sp ->
       |      list_position(
       |        list_transform(generate_series(0, 15), j -> $encDist),
       |        list_min(list_transform(generate_series(0, 15), j -> $encDist)))
       |      - 1) AS code
       |  FROM ev, sv$codedFilter),
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10),
       |${medoidCtesSql(eCells)},
       |wv0 AS (
       |  SELECT qs.q_id, b.vec_id, ${adcSql("qs.qv", "b.code")} AS adist
       |  FROM qcell qc
       |  JOIN med m ON m.cid = qc.cid
       |  JOIN qs ON qs.q_id = qc.q_id
       |  JOIN coded b ON b.vec_id = m.vec_id, sv
       |  WHERE b.vec_id <> qs.q_id),
       |${(1 to hops).map(hopCtes).mkString(",\n")},
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adist, vec_id) AS qrnk
       |    FROM wv$hops)
       |  WHERE qrnk <= $rerank),
       |exact AS (
       |  SELECT c.q_id, c.vec_id,
       |    ${cosineSql.replace("QV", "q.qv").replace("BV", "b.v")} AS cosine_raw
       |  FROM cand c
       |  JOIN qs q ON q.q_id = c.q_id
       |  JOIN ev b ON b.vec_id = c.vec_id)
       |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk FROM (
       |  SELECT q_id, vec_id, cosine_raw,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine_raw DESC, vec_id) AS rnk
       |  FROM exact)
       |WHERE rnk <= $k
       |ORDER BY q_id, rnk""".stripMargin
  }

  lazy val mutualCompCtesSql: String =
    s"""knn AS (
       |  SELECT q_id, vec_id FROM (${baseOracles("a9_knn_join")})),
       |mutual AS (
       |  SELECT x.q_id AS a_id, x.vec_id AS b_id
       |  FROM knn x JOIN knn y
       |    ON y.q_id = x.vec_id AND y.vec_id = x.q_id
       |  WHERE x.q_id < x.vec_id),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mutual
       |  UNION ALL
       |  SELECT b_id, a_id FROM mutual),
       |verts AS (SELECT vec_id AS id FROM embeddings),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)""".stripMargin

  /** a12's oracle: the exact + the approximate pipelines replayed
    * VERBATIM as subqueries (same strings the driver verifies for
    * a1/a2/a3/a8/a7/a13), intersected and counted. */
  lazy val oracles: Map[String, String] = {
    def pipe(name: String) = s"(SELECT q_id, vec_id FROM (${baseOracles(name)}))"
    val methods = Seq("ivf" -> "a3_knn_ivf", "ivf64" -> "a8_knn_ivf64",
      "lsh" -> "a2_knn_lsh", "pq" -> "a7_knn_pq_kmeans",
      "opq" -> "a13_knn_opq", "binary" -> "a14_knn_binary",
      "cascade" -> "a15_knn_cascade")
    val hitCtes = (methods.map { case (m, q) =>
      s"""h_$m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS hits FROM ${pipe(q)} x
         |  JOIN exact USING (q_id, vec_id))""".stripMargin
    } :+
      s"""h_cascade_tuned AS (
         |  SELECT CAST(count(*) AS BIGINT) AS hits
         |  FROM ($cascadeTunedPairsSql) x
         |  JOIN exact USING (q_id, vec_id))""".stripMargin :+
      s"""h_graph AS (
         |  SELECT CAST(count(*) AS BIGINT) AS hits
         |  FROM (SELECT q_id, vec_id FROM ($a22Sql)) x
         |  JOIN exact USING (q_id, vec_id))""".stripMargin :+
      s"""h_vamana AS (
         |  SELECT CAST(count(*) AS BIGINT) AS hits
         |  FROM (SELECT q_id, vec_id FROM ($a29Sql)) x
         |  JOIN exact USING (q_id, vec_id))""".stripMargin).mkString(",\n")
    val unions = (methods.map(_._1) :+ "cascade_tuned" :+ "graph"
        :+ "vamana").map { m =>
      s"SELECT '$m' AS method, hits, possible FROM h_$m, nq"
    }.mkString("\nUNION ALL\n")
    baseOracles +
      // a9's pipeline replayed, mutuality filter, then min-label
      // reachability (p5's recursive shape) seeded from ALL vectors
      // so singletons label themselves
      ("a20_mutual_knn" ->
        s"""WITH RECURSIVE $mutualCompCtesSql,
           |deg AS (
           |  SELECT src AS id, CAST(count(*) AS BIGINT) AS mutual_degree
           |  FROM edges GROUP BY src),
           |sizes AS (
           |  SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM comp GROUP BY cluster_rep)
           |SELECT comp.id AS vec_id, comp.cluster_rep, sizes.cluster_size,
           |  (comp.id = comp.cluster_rep) AS is_rep,
           |  coalesce(deg.mutual_degree, 0) AS mutual_degree
           |FROM comp
           |JOIN sizes USING (cluster_rep)
           |LEFT JOIN deg ON deg.id = comp.id
           |ORDER BY vec_id""".stripMargin) +
      ("a21_nn_descent" -> a21Sql) +
      ("a22_graph_search" -> a22Sql) +
      ("a23_graph_search_pq" -> a23Sql) +
      // a24: after the upsert the store IS the true vector set, so
      // exhaustive-probe serving must hash-match exact kNN — a1's SQL
      ("a24_upserted_ivf" -> baseOracles("a1_knn_bruteforce")) +
      // st17: after the streamed re-embed epoch the store's live
      // vectors ARE the true corpus — a1's exact oracle again, so a
      // lost upsert, surviving stale cell copy, missed delete, or
      // replay duplicate hash-fails
      ("st17_streamed_ivf" -> baseOracles("a1_knn_bruteforce")) +
      // st19: after the streamed re-embed epoch the PQ store's live
      // codes encode exactly the true corpus — a11's chain replays
      ("st19_streamed_pq" -> a11Sql) +
      // st20: the walk replay over the consolidated graph with the
      // coded corpus restricted to delete survivors
      ("st20_streamed_graph_pq" -> st20Sql) +
      ("a25_graph_delete" -> a25Sql) +
      ("a26_graph_filtered" -> a26Sql) +
      ("a27_range_search" -> a27Sql) +
      ("a29_vamana_search" -> a29Sql) +
      // a31: the full insert pipeline replay — walk pool, robust
      // prune, backlink re-prune
      ("a31_vamana_insert" -> a31Sql) +
      // a32: the α-RNG delete consolidation over the vamana graph
      ("a32_vamana_delete" -> a32Sql) +
      // st21: the streamed α-RNG consolidation must equal a32's
      // batch replay digit for digit
      ("st21_streamed_vamana" -> a32Sql) +
      // the persisted graph+PQ round trip must reproduce the
      // in-memory PQ walk bit-exactly — same codes, same walk
      ("a30_graph_pq_store" -> a23Sql) +
      // st18: the stream-maintained store's edge set must equal
      // a25's batch consolidation — same shared build, same delete
      // formula, through a real foreachBatch epoch
      ("st18_streamed_graph" -> a25Sql) +
      ("a17_cascade_tuning" -> a17Sql) +
      ("a18_index_balance" ->
        s"""WITH ${kmeansCellsSqlFor(8)},
           |counts AS (
           |  SELECT CAST(cid AS BIGINT) AS cid,
           |    CAST(count(*) AS BIGINT) AS n_vectors
           |  FROM cells GROUP BY cid),
           |tot AS (
           |  SELECT CAST(sum(n_vectors) AS BIGINT) AS n,
           |    CAST(count(*) AS DOUBLE) AS k
           |  FROM counts)
           |SELECT cid, n_vectors,
           |  round(CAST(n_vectors AS DOUBLE) / tot.n, 6) AS share,
           |  round(CAST(n_vectors AS DOUBLE) * tot.k / tot.n, 4) AS balance
           |FROM counts, tot
           |ORDER BY cid""".stripMargin) +
      ("a12_ann_recall" ->
      s"""WITH exact AS (
         |  SELECT q_id, vec_id FROM (${baseOracles("a1_knn_bruteforce")})),
         |nq AS (
         |  SELECT CAST(count(*) AS BIGINT) AS possible FROM exact),
         |$hitCtes
         |SELECT method, hits, possible,
         |  round(CAST(hits AS DOUBLE) / possible, 4) AS recall_at_5
         |FROM ($unions)
         |ORDER BY method""".stripMargin)
  }

  private lazy val baseOracles: Map[String, String] = Map(
    "a6_knn_pq" -> a6Sql,
    "a11_ivf_pq" -> a11Sql,
    // the persisted-PQ serve must reproduce the in-memory IVF+PQ
    // chain bit-exactly — same quantizer pair, same ADC, same rerank
    "a28_pq_store" -> a11Sql,
    "a7_knn_pq_kmeans" -> a7Sql,
    "a13_knn_opq" -> a13Sql,
    "a5_knn_sq8" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |dims AS (
         |  SELECT g.i AS pos, min(v[g.i]) AS lo, max(v[g.i]) AS hi
         |  FROM e, LATERAL unnest(generate_series(1, 64)) AS g(i)
         |  GROUP BY g.i),
         |sc AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
         |       FROM dims),
         |q8 AS (
         |  SELECT vec_id, v, list_transform(generate_series(1, 64), i ->
         |    CASE WHEN sc.his[i] = sc.los[i] THEN 0
         |      ELSE CAST(floor((v[i] - sc.los[i]) / (sc.his[i] - sc.los[i]) * 255.0 + 0.5) AS INTEGER)
         |    END) AS qv
         |  FROM e, sc),
         |dq AS (
         |  SELECT vec_id, v, list_transform(generate_series(1, 64), i ->
         |    sc.los[i] + CAST(qv[i] AS DOUBLE) / 255.0 * (sc.his[i] - sc.los[i])) AS dq
         |  FROM q8, sc),
         |qs AS (SELECT vec_id AS q_id, dq AS dqq, v AS qfull FROM dq WHERE vec_id < 10),
         |cd AS (
         |  SELECT qs.q_id, b.vec_id, qs.qfull, b.v,
         |    ${cos("qs.dqq", "b.dq")} AS qcos
         |  FROM qs JOIN dq b ON b.vec_id <> qs.q_id),
         |cand AS (
         |  SELECT q_id, vec_id, qfull, v FROM (
         |    SELECT q_id, vec_id, qfull, v,
         |      row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, vec_id) AS qrnk
         |    FROM cd) WHERE qrnk <= 20),
         |scored AS (
         |  SELECT q_id, vec_id, ${cos("qfull", "v")} AS cosine_raw FROM cand),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "a3_knn_ivf" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |dims AS (
         |  SELECT vec_id, label, g.i - 1 AS pos, v[g.i] AS val
         |  FROM e, LATERAL unnest(generate_series(1, 64)) AS g(i)),
         |cent AS (
         |  SELECT label, list(c ORDER BY pos) AS cv FROM (
         |    SELECT label, pos,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(val ORDER BY vec_id)),
         |        (s, x) -> s + x) / count(*) AS c
         |    FROM dims GROUP BY label, pos)
         |  GROUP BY label),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |pscore AS (
         |  SELECT q.q_id, q.qv, c.label, ${cos("q.qv", "c.cv")} AS c_cos
         |  FROM q CROSS JOIN cent c),
         |probe AS (
         |  SELECT q_id, qv, label FROM (
         |    SELECT q_id, qv, label,
         |      row_number() OVER (PARTITION BY q_id ORDER BY c_cos DESC, label) AS p_rnk
         |    FROM pscore) WHERE p_rnk <= 3),
         |scored AS (
         |  SELECT p.q_id, b.vec_id, ${cos("p.qv", "b.v")} AS cosine_raw
         |  FROM probe p JOIN e b ON b.label = p.label AND b.vec_id <> p.q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    // the k=64 Lloyd build is d7's oracle prefix, verbatim — one
    // trained quantizer, two consumers, in SQL exactly as in Spark
    "a8_knn_ivf64" ->
      s"""WITH ${kmeansCellsSqlFor(64)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |pscore AS (
         |  SELECT q.q_id, q.qv, c.cid, ${cos("q.qv", "c.cv")} AS cs
         |  FROM q CROSS JOIN c3 c),
         |probe AS (
         |  SELECT q_id, qv, cid FROM (
         |    SELECT q_id, qv, cid,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, cid) AS p_rnk
         |    FROM pscore) WHERE p_rnk <= 4),
         |scored AS (
         |  SELECT p.q_id, ce.vec_id, ${cos("p.qv", "b.v")} AS cosine_raw
         |  FROM probe p
         |  JOIN cells ce ON ce.cid = p.cid AND ce.vec_id <> p.q_id
         |  JOIN e b ON b.vec_id = ce.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    // the full k=8 Lloyd replay, then ONE centroid ranking per query
    // (a4's cs DESC, cid ASC ties — assign()'s first-max), every
    // candidate tagged with the
    // depth it becomes visible at, the whole grid one theta join
    "a19_nprobe_sweep" ->
      s"""WITH $kmeansCellsSql,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |pscore AS (
         |  SELECT q.q_id, q.qv, c.cid, ${cos("q.qv", "c.cv")} AS cs
         |  FROM q CROSS JOIN c3 c),
         |prank AS (
         |  SELECT q_id, qv, cid,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, cid) AS crank
         |  FROM pscore),
         |cand AS (
         |  SELECT p.q_id, ce.vec_id, p.crank, ${cos("p.qv", "b.v")} AS cosine_raw
         |  FROM prank p
         |  JOIN cells ce ON ce.cid = p.cid AND ce.vec_id <> p.q_id
         |  JOIN e b ON b.vec_id = ce.vec_id),
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, b.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cos("q.qv", "b.v")} DESC, b.vec_id) AS rnk
         |    FROM q JOIN e b ON b.vec_id <> q.q_id) WHERE rnk <= 5),
         |grid(nprobe) AS (VALUES ${NprobeGrid.map(n => s"($n)").mkString(", ")}),
         |joined AS (
         |  SELECT g.nprobe, c.q_id, c.vec_id, c.cosine_raw
         |  FROM cand c JOIN grid g ON c.crank <= g.nprobe),
         |ranked AS (
         |  SELECT nprobe, q_id, vec_id,
         |    row_number() OVER (PARTITION BY nprobe, q_id
         |      ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM joined),
         |scanned AS (SELECT nprobe, count(*) AS n_scanned
         |            FROM joined GROUP BY nprobe),
         |hits AS (
         |  SELECT r.nprobe, count(*) AS hits
         |  FROM ranked r JOIN exact x ON r.q_id = x.q_id AND r.vec_id = x.vec_id
         |  WHERE r.rnk <= 5 GROUP BY r.nprobe),
         |tot AS (SELECT count(*) AS possible FROM exact),
         |stats AS (
         |  SELECT g.nprobe,
         |    coalesce(s.n_scanned, 0) AS n_scanned,
         |    coalesce(h.hits, 0) AS hits, tot.possible,
         |    round(coalesce(h.hits, 0) / greatest(tot.possible, 1), 4) AS recall
         |  FROM grid g LEFT JOIN scanned s ON s.nprobe = g.nprobe
         |  LEFT JOIN hits h ON h.nprobe = g.nprobe, tot),
         |-- mirrored fallback: deepest probe when nothing clears
         |pick AS (SELECT coalesce(
         |           (SELECT min(nprobe) FROM stats
         |            WHERE recall >= $NprobeRecallTarget),
         |           (SELECT max(nprobe) FROM stats)) AS n)
         |SELECT s.nprobe, s.n_scanned, s.hits, s.possible, s.recall,
         |  (s.nprobe = p.n) AS chosen
         |FROM stats s, pick p
         |ORDER BY s.nprobe""".stripMargin,
    "a4_knn_ivf_kmeans" ->
      s"""WITH $kmeansCellsSql,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |pscore AS (
         |  SELECT q.q_id, q.qv, c.cid, ${cos("q.qv", "c.cv")} AS cs
         |  FROM q CROSS JOIN c3 c),
         |probe AS (
         |  SELECT q_id, qv, cid FROM (
         |    SELECT q_id, qv, cid,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, cid) AS p_rnk
         |    FROM pscore) WHERE p_rnk <= 2),
         |scored AS (
         |  SELECT p.q_id, ce.vec_id, ${cos("p.qv", "b.v")} AS cosine_raw
         |  FROM probe p
         |  JOIN cells ce ON ce.cid = p.cid AND ce.vec_id <> p.q_id
         |  JOIN e b ON b.vec_id = ce.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    // a2's signature replay with tables=8/bits=6, every vector as a
    // query, and the bucket cap applied before the self-join exactly
    // as the Spark windowed count does
    "a9_knn_join" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, list_transform(generate_series(0, 7), t ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(0, 5), p ->
         |        CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list_transform(generate_series(1, len(v)), d ->
         |              CASE WHEN ((((t*6+p)*64 + d) * 2654435761) // 65536) % 2 = 0
         |                   THEN v[d] ELSE -v[d] END)),
         |            (s, x) -> s + x) > 0
         |        THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b)) AS sg
         |  FROM e),
         |buckets AS (
         |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS tbl, sg[g.i] AS sig
         |  FROM sigs, LATERAL unnest(generate_series(1, 8)) AS g(i)),
         |bcnt AS (SELECT tbl, sig, count(*) AS c FROM buckets GROUP BY tbl, sig),
         |capped AS (
         |  SELECT b.vec_id, b.tbl, b.sig
         |  FROM buckets b JOIN bcnt USING (tbl, sig) WHERE bcnt.c <= 256),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS vec_id
         |  FROM capped a JOIN capped b
         |    ON a.tbl = b.tbl AND a.sig = b.sig AND b.vec_id <> a.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id,
         |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.q_id
         |  JOIN e eb ON eb.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,
    "a2_knn_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, list_transform(generate_series(0, 23), t ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(0, 3), p ->
         |        CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list_transform(generate_series(1, len(v)), d ->
         |              CASE WHEN ((((t*4+p)*64 + d) * 2654435761) // 65536) % 2 = 0
         |                   THEN v[d] ELSE -v[d] END)),
         |            (s, x) -> s + x) > 0
         |        THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b)) AS sg
         |  FROM e),
         |buckets AS (
         |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS tbl, sg[g.i] AS sig
         |  FROM sigs, LATERAL unnest(generate_series(1, 24)) AS g(i)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, b.vec_id AS vec_id
         |  FROM buckets q JOIN buckets b ON q.tbl = b.tbl AND q.sig = b.sig
         |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id,
         |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.q_id
         |  JOIN e eb ON eb.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    // one 8-bit table, t = 0 in the shared plane family; probes =
    // exact signature + every 1-bit flip (xor), same rerank as a2
    "a10_knn_multiprobe" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, v,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(0, 7), p ->
         |        CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list_transform(generate_series(1, len(v)), d ->
         |              CASE WHEN ((((p*64 + d) * 2654435761) // 65536) % 2) = 0
         |                   THEN v[d] ELSE -v[d] END)),
         |            (s, x) -> s + x) > 0
         |        THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b) AS sig
         |  FROM e),
         |probes AS (
         |  SELECT vec_id AS q_id, xor(sig, CAST(f.b AS BIGINT)) AS psig
         |  FROM sigs, LATERAL unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f(b)
         |  WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT p.q_id, s.vec_id
         |  FROM probes p JOIN sigs s ON s.sig = p.psig
         |  WHERE s.vec_id <> p.q_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id,
         |    ${cosineSql.replace("QV", "eq.v").replace("BV", "eb.v")} AS cosine_raw
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.q_id
         |  JOIN e eb ON eb.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "a16_knn_filtered" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_label, b.vec_id AS vec_id,
         |   ${cosineSql.replace("QV", "q.v").replace("BV", "b.v")} AS cosine_raw
         |  FROM e q JOIN e b
         |    ON q.vec_id < 10 AND b.label = q.label AND b.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT q_id, q_label, vec_id, cosine_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, q_label, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "a15_knn_cascade" -> {
      def wordSql(off: Int) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(generate_series(1, 32),
           |        d -> CASE WHEN v[d + $off] > 0 THEN CAST(1 AS BIGINT) << (d - 1)
           |             ELSE CAST(0 AS BIGINT) END)),
           |      (s, x) -> s + x)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |dims AS (
         |  SELECT g.i AS pos, min(v[g.i]) AS lo, max(v[g.i]) AS hi
         |  FROM e, LATERAL unnest(generate_series(1, 64)) AS g(i)
         |  GROUP BY g.i),
         |sc AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
         |       FROM dims),
         |q8 AS (
         |  SELECT vec_id, v, list_transform(generate_series(1, 64), i ->
         |    CASE WHEN sc.his[i] = sc.los[i] THEN 0
         |      ELSE CAST(floor((v[i] - sc.los[i]) / (sc.his[i] - sc.los[i]) * 255.0 + 0.5) AS INTEGER)
         |    END) AS qv
         |  FROM e, sc),
         |rep AS (
         |  SELECT vec_id, v,
         |    list_transform(generate_series(1, 64), i ->
         |      sc.los[i] + CAST(qv[i] AS DOUBLE) / 255.0 * (sc.his[i] - sc.los[i])) AS dq,
         |    ${wordSql(0)} AS w0,
         |    ${wordSql(32)} AS w1
         |  FROM q8, sc),
         |qs AS (
         |  SELECT vec_id AS q_id, v AS qfull, dq AS dqq, w0 AS qw0, w1 AS qw1
         |  FROM rep WHERE vec_id < 10),
         |h AS (
         |  SELECT q_id, vec_id, qfull, dqq, v, dq FROM (
         |    SELECT qs.q_id, b.vec_id, qs.qfull, qs.dqq, b.v, b.dq,
         |      row_number() OVER (PARTITION BY qs.q_id ORDER BY
         |        bit_count(xor(qs.qw0, b.w0)) + bit_count(xor(qs.qw1, b.w1)),
         |        b.vec_id) AS hrnk
         |    FROM qs JOIN rep b ON b.vec_id <> qs.q_id)
         |  WHERE hrnk <= 64),
         |c2 AS (
         |  SELECT q_id, vec_id, qfull, v FROM (
         |    SELECT q_id, vec_id, qfull, v,
         |      row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, vec_id) AS qrnk
         |    FROM (
         |      SELECT q_id, vec_id, qfull, v, ${cos("dqq", "dq")} AS qcos
         |      FROM h))
         |  WHERE qrnk <= 16),
         |scored AS (
         |  SELECT q_id, vec_id, ${cos("qfull", "v")} AS cosine_raw FROM c2),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },
    "a14_knn_binary" -> {
      // same two 32-bit sign words as the Spark side, via checked
      // BIGINT shifts (packing 64 bits into one word would overflow)
      def wordSql(off: Int) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(generate_series(1, 32),
           |        d -> CASE WHEN v[d + $off] > 0 THEN CAST(1 AS BIGINT) << (d - 1)
           |             ELSE CAST(0 AS BIGINT) END)),
           |      (s, x) -> s + x)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |p AS (
         |  SELECT vec_id, v,
         |    ${wordSql(0)} AS w0,
         |    ${wordSql(32)} AS w1
         |  FROM e),
         |cand AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS vec_id, q.v AS qv, b.v AS bv,
         |    CAST(bit_count(xor(q.w0, b.w0)) + bit_count(xor(q.w1, b.w1)) AS BIGINT) AS hamming
         |  FROM p q JOIN p b ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |short AS (
         |  SELECT q_id, vec_id, qv, bv, hamming FROM (
         |    SELECT q_id, vec_id, qv, bv, hamming,
         |      row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hrnk
         |    FROM cand) WHERE hrnk <= 32),
         |scored AS (
         |  SELECT q_id, vec_id, hamming,
         |    ${cos("qv", "bv")} AS cosine_raw
         |  FROM short),
         |ranked AS (
         |  SELECT q_id, vec_id, hamming, cosine_raw,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, hamming, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },
    "a1_knn_bruteforce" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
         |   ${cosineSql.replace("QV", "q.v").replace("BV", "b.v")} AS cosine_raw
         |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, round(cosine_raw, 6) AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "s2_vector_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT v FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(cosine_raw, 6) AS cosine FROM (
         |  SELECT b.vec_id,
         |   ${cosineSql.replace("QV", "q.v").replace("BV", "b.v")} AS cosine_raw
         |  FROM e b, q WHERE b.vec_id <> 0
         |  ORDER BY cosine_raw DESC, b.vec_id
         |  LIMIT 10)
         |ORDER BY cosine DESC, vec_id""".stripMargin)
}
