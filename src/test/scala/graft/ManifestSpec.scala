package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.sources.TextIndex

/** The text index's per-commit manifest (`_manifest/v=seq`): opens
  * read the docs schema and the quantizer from it with no Spark job,
  * every commit stages it before the marker flips, and what it holds
  * reads back exactly as written. */
class ManifestSpec extends SparkSpec with JobCounting {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def pages(ids: Range): DataFrame = {
    val sparkSession = spark
    import sparkSession.implicits._
    ids.map(i => (i.toLong, s"page $i about spark w${i % 7} w${i % 5} join",
        if (i % 2 == 0) "web" else "docs"))
      .toDF("doc_id", "text", "source")
  }

  /** The manifest files (the local FS's `.crc` sidecars aside). */
  private def manifests(p: String): Seq[String] =
    Option(new java.io.File(s"$p/_manifest").list()).toSeq.flatten
      .filterNot(_.startsWith(".")).sorted

  test("a serve opens docs and the quantizer without a Spark job") {
    val p = tmp("graft-manifest-jobs")
    TextIndex.write(pages(0 until 30), p)
    TextIndex.upsert(pages(0 until 6), p)
    val e = new GraftEngine(spark, pages(0 until 30))
    val l = new JobIds
    spark.sparkContext.addSparkListener(l)
    try {
      e.runSearchFromIndex(p, "spark join") // warm: first serve compiles
      val sites = jobSitesOf(l) {
        TextIndex.countChunksServe(spark, p, "source").collect()
        TextIndex.filteredHybridServe(spark, p, Seq("spark", "w3"),
          Map("source" -> "web")).collect()
        e.runSearchFromIndex(p, "spark w3 join", alpha = 0.5)
      }
      assert(sites.nonEmpty)
      // an artifact open with a job shows as a reader's planning job;
      // a centroid read as a collect submitted from TextIndex (the
      // exact-nprobe serves here collect nothing else there)
      val opens = sites.filter(s => s.startsWith("parquet at") ||
        s.startsWith("collect at TextIndex.scala"))
      assert(opens.isEmpty, s"artifact opens ran Spark jobs: " +
        opens.mkString("; ") + s" (all: ${sites.mkString("; ")})")
    } finally spark.sparkContext.removeSparkListener(l)
    Caches.releaseAll()
  }

  test("every commit stages its manifest before the flip; vacuum keeps only the live one") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-manifest-commits")
    TextIndex.write(pages(0 until 10), p)
    assert(manifests(p) == Seq("v=1"))
    TextIndex.append(pages(10 until 14), p)
    TextIndex.upsertAuto(pages(0 until 3), p, epochId = 1L, maxBatches = 2L)
    TextIndex.compact(spark, p)
    assert(TextIndex.commitOf(spark, p).seq == 4L)
    assert(manifests(p) == Seq("v=1", "v=2", "v=3", "v=4"))
    // nothing due: maybeCompact commits nothing
    assert(!TextIndex.maybeCompact(spark, p))
    assert(TextIndex.commitOf(spark, p).seq == 4L)
    TextIndex.delete(Seq(5L).toDF("doc_id"), p)
    assert(TextIndex.maybeCompact(spark, p, maxTombstones = 0L))
    assert(manifests(p).last == "v=6")
    // a manifest write torn before its rename leaves a `.tmp` behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p, "_manifest", "v=7.tmp"), "{")
    val dropped = TextIndex.vacuum(spark, p)
    assert((1 to 5).forall(v => dropped.contains(s"_manifest/v=$v")),
      s"vacuum must drop superseded manifests: $dropped")
    assert(manifests(p) == Seq("v=6", "v=7.tmp"))
    assert(TextIndex.bm25Serve(spark, p, Seq("spark")).count() == 13L)
    // an index without a manifest for its commit fails loudly
    new java.io.File(s"$p/_manifest/v=6").delete()
    val e = intercept[IllegalStateException](
      TextIndex.docsTable(spark, p).schema)
    assert(e.getMessage.contains("rebuild the index"))
  }

  test("a crash before the flip leaves readers on the old docs schema; the replay widens it once") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-manifest-crash")
    TextIndex.write(Seq((1L, "alpha beta", "en")).toDF("doc_id", "text", "lang"), p)
    val before = TextIndex.docsTable(spark, p).schema
    val widened = Seq((2L, "alpha gamma", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    TextIndex.applyChange(p, None, Some(widened), 2, 4, 3, epochId = -1L,
      flip = false)
    assert(TextIndex.docsTable(spark, p).schema == before,
      "a staged change must not widen the committed docs schema")
    assert(TextIndex.chunksServe(spark, p, Map("lang" -> "en"))
      .select($"doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    TextIndex.append(widened, p)
    val after = TextIndex.docsTable(spark, p).schema
    assert(after.fieldNames.count(_ == "source") == 1, after.treeString)
    assert(after.fieldNames.toSeq.diff(before.fieldNames.toSeq) == Seq("source"))
    assert(TextIndex.chunksServe(spark, p, Map("source" -> "web"))
      .select($"doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("centroids read back bit-identical") {
    val p = tmp("graft-manifest-bits")
    TextIndex.write(pages(0 until 40), p)
    val c1 = TextIndex.commitOf(spark, p)
    val built = TextIndex.manifestOf(spark, p, c1)
    assert(built.cents.size == TextIndex.VectorCells)
    def bits(cents: Seq[Seq[Double]]): Seq[Seq[Long]] =
      cents.map(_.map(java.lang.Double.doubleToRawLongBits))
    // values whose shortest decimal form is long, signed zero,
    // subnormals and the extremes
    val edge = Seq(Seq(0.1, 1.0 / 3, -0.0, 0.0, Double.MinPositiveValue,
        4.9e-310, Double.MaxValue, -Double.MaxValue, math.Pi, 1e22, 1e-7),
      built.cents.head)
    val m = TextIndex.Manifest(built.docsSchema, edge)
    TextIndex.writeManifest(spark, p, 99L, m)
    assert(bits(TextIndex.manifestOf(spark, p, c1.copy(seq = 99L)).cents) ==
      bits(edge))
    // the frozen quantizer carries forward through a plain and a
    // consolidated commit unchanged to the bit
    TextIndex.upsert(pages(0 until 4), p)
    TextIndex.compact(spark, p)
    val c3 = TextIndex.commitOf(spark, p)
    assert(c3.seq == 3L)
    assert(bits(TextIndex.manifestOf(spark, p, c3).cents) == bits(built.cents))
    Caches.releaseAll()
  }

  test("docsTable's schema is unchanged after a build, an evolving append and a compaction") {
    val sparkSession = spark
    import sparkSession.implicits._
    val p = tmp("graft-manifest-docs-schema")
    // the schemas the index served before the manifest held them
    def expect(meta: String): StructType = StructType.fromDDL(
      s"doc_id BIGINT, dl DOUBLE, nlt BIGINT, nlb BIGINT, $meta, " +
        "batch BIGINT, dbucket BIGINT")
    def schema: StructType = TextIndex.docsTable(spark, p).schema
    TextIndex.write(Seq((1L, "alpha beta", "en")).toDF("doc_id", "text", "lang"), p)
    assert(schema == expect("lang STRING"), schema.treeString)
    TextIndex.append(Seq((2L, "alpha gamma", "en", Seq("a", "b")))
      .toDF("doc_id", "text", "lang", "tags"), p)
    assert(schema == expect("lang STRING, tags ARRAY<STRING>"), schema.treeString)
    TextIndex.compact(spark, p)
    assert(schema == expect("lang STRING, tags ARRAY<STRING>"), schema.treeString)
  }
}
