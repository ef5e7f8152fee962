package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Knn
import graft.streaming.IngestStream

/** The ANN-store maintenance streams' replay contract, exercised
  * through real restarts: a re-delivered COMMITTED epoch must change
  * nothing on disk or in what the store serves, for each of the five
  * stores; and a first PQ build torn between its two tier writes must
  * rebuild on replay instead of wedging the stream. */
class AnnStoreStreamSpec extends SparkSpec {

  private def vectors(ids: Seq[Long]): Map[Long, Seq[Double]] = {
    val sparkSession = spark
    import sparkSession.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .filter($"vec_id".isin(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
  }

  /** (vec_id, v) batch rows; a None vector is a delete notice. */
  private def batch(rows: Seq[(Long, Option[Seq[Double]])]): DataFrame = {
    val sparkSession = spark
    import sparkSession.implicits._
    rows.toDF("vec_id", "v")
  }

  /** A smooth 1-D angular chain: cosine is monotone in chain distance,
    * so every graph-kernel stage is deterministic. */
  private def chain(ids: Seq[Int]): Seq[(Long, Option[Seq[Double]])] =
    ids.map(i => i.toLong -> Some(Seq(math.cos(i * 0.1), math.sin(i * 0.1))))

  /** Every file under `path` but the stream's own checkpoint. */
  private def listing(path: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f))
      .filterNot(_._1.startsWith("_checkpoints"))
      .toSeq.sorted
  }

  /** Run `start` over a file source for two epochs (one payload file
    * each), stop, delete the last commit so Spark re-delivers epoch 1
    * under the same id, restart, and assert the store's file listing
    * and `served` rows did not move. */
  private def assertRedeliveryIsNoOp(root: String, path: String,
                                     epochs: Seq[DataFrame],
                                     start: DataFrame => StreamingQuery)
                                    (served: => Seq[String]): Unit = {
    val src = s"$root/payload"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def run(body: StreamingQuery => Unit): StreamingQuery = {
      val q = start(spark.readStream.schema(epochs.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      try body(q) finally q.stop()
      q
    }
    run { q =>
      epochs.foreach { e =>
        e.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    }
    assert(Knn.storeLastEpoch(spark, path) === 1L)
    val files = listing(path)
    val rows = served
    val commits = new java.io.File(s"$path/_checkpoints/commits")
    Seq("1", ".1.crc").foreach(n => new java.io.File(commits, n).delete())
    val replay = run(_.processAllAvailable())
    assert(replay.recentProgress.exists(_.batchId == 1L),
      "Spark must re-run the uncommitted batch 1")
    assert(new java.io.File(commits, "1").exists())
    assert(listing(path) === files, "a re-delivered epoch must write nothing")
    assert(served === rows, "a re-delivered epoch must change no served row")
    assert(Knn.storeLastEpoch(spark, path) === 1L)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("IVF stream: a re-delivered committed epoch changes nothing") {
    val sparkSession = spark
    import sparkSession.implicits._
    val vecs = vectors(0L to 30L)
    val cents = Seq(vecs(0L), vecs(1L), vecs(2L))
    val root = tmp("graft-ivf-redeliver")
    val p = s"$root/index"
    assertRedeliveryIsNoOp(root, p,
      Seq(batch((0L until 30L).map(i => i -> Some(vecs(i)))),
        batch(Seq(3L -> Some(vecs(3L).map(_ + 1.0)), 5L -> None,
          30L -> Some(vecs(30L))))),
      IngestStream.ivfIndexStream(_, p, cents)) {
      sortedRows(Knn.serveFromIvfIndex(spark, p, cents,
        (0L until 3L).map(i => i -> vecs(i)).toDF("q_id", "qv"),
        nprobe = cents.length, k = 5))
    }
  }

  test("PQ stream: a re-delivered committed epoch changes nothing") {
    val sparkSession = spark
    import sparkSession.implicits._
    val vecs = vectors(0L to 30L)
    val root = tmp("graft-pq-redeliver")
    val p = s"$root/index"
    Knn.writePqQuantizer(spark, sfDir, p)
    assertRedeliveryIsNoOp(root, p,
      Seq(batch((0L until 30L).map(i => i -> Some(vecs(i)))),
        batch(Seq(3L -> Some(vecs(3L).map(_ + 1.0)), 5L -> None,
          30L -> Some(vecs(30L))))),
      IngestStream.pqIndexStream(_, p)) {
      sortedRows(Knn.serveFromPqIndex(spark, p,
        (0L until 3L).map(i => i -> vecs(i)).toDF("q_id", "qv")))
    }
  }

  test("graph stream: a re-delivered committed epoch changes nothing") {
    val root = tmp("graft-graph-redeliver")
    assertRedeliveryIsNoOp(root, root,
      Seq(batch(chain(0 to 7)), batch(chain(Seq(8, 9)) :+ (5L -> None))),
      IngestStream.nnGraphStream(_, root, k = 2)) {
      sortedRows(Knn.readNnGraphStore(spark, s"$root/graph")) ++
        sortedRows(Knn.readNnVecStore(spark, s"$root/vectors"))
    }
  }

  test("vamana stream: a re-delivered committed epoch changes nothing") {
    val root = tmp("graft-vamana-redeliver")
    assertRedeliveryIsNoOp(root, root,
      Seq(batch(chain(0 to 7)), batch(chain(Seq(8, 9)) :+ (5L -> None))),
      IngestStream.vamanaStream(_, root, degreeCap = 3)) {
      sortedRows(Knn.readNnGraphStore(spark, s"$root/graph")) ++
        sortedRows(Knn.readNnVecStore(spark, s"$root/vectors"))
    }
  }

  test("graph+PQ stream: a re-delivered committed epoch changes nothing") {
    val vecs = vectors(0L to 30L)
    val base = tmp("graft-graph-pq-redeliver")
    val root = s"$base/store"
    Knn.writeGraphPqQuantizer(spark, sfDir, root)
    assertRedeliveryIsNoOp(base, root,
      Seq(batch((0L until 30L).map(i => i -> Some(vecs(i)))),
        batch(Seq(3L -> Some(vecs(3L).map(_ + 1.0)), 5L -> None,
          30L -> Some(vecs(30L))))),
      IngestStream.graphPqStream(_, root, k = 3)) {
      sortedRows(Knn.readNnGraphStore(spark, s"$root/graph")) ++
        sortedRows(Knn.readNnVecStore(spark, s"$root/vectors")) ++
        sortedRows(spark.read.parquet(s"$root/codes"))
    }
    Caches.releaseAll()
  }

  test("graph streams: no staged batch stays on disk once an epoch commits") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = vectors(0L to 30L)
    val base = tmp("graft-graph-stage")
    Knn.writeGraphPqQuantizer(spark, sfDir, s"$base/gpq")
    type Epochs = Seq[Seq[(Long, Option[Seq[Double]])]]
    val chainEpochs: Epochs =
      Seq(chain(0 to 7), chain(Seq(8, 9)) :+ (5L -> None))
    val vecEpochs: Epochs = Seq((0L until 30L).map(i => i -> Some(vecs(i))),
      Seq(3L -> Some(vecs(3L).map(_ + 1.0)), 5L -> None,
        30L -> Some(vecs(30L))))
    val streams = Seq[(String, Epochs, DataFrame => StreamingQuery)](
      ("graph", chainEpochs, IngestStream.nnGraphStream(_, s"$base/graph", k = 2)),
      ("vamana", chainEpochs,
        IngestStream.vamanaStream(_, s"$base/vamana", degreeCap = 3)),
      ("gpq", vecEpochs, IngestStream.graphPqStream(_, s"$base/gpq", k = 3)))
    for ((name, epochs, start) <- streams) {
      val stream = MemoryStream[(Long, Option[Seq[Double]])]
      val query = start(stream.toDF().toDF("vec_id", "v"))
      try epochs.foreach { e =>
        stream.addData(e: _*)
        query.processAllAvailable()
      } finally query.stop()
      assert(Knn.storeLastEpoch(spark, s"$base/$name") === 1L)
      assert(!new java.io.File(s"$base/$name/_stage").exists(),
        s"$name: the staged batch outlived its epoch: " +
          listing(s"$base/$name").map(_._1).filter(_.startsWith("_stage")))
    }
    Caches.releaseAll()
  }

  test("PQ stream: a first build torn after its vectors tier landed rebuilds instead of wedging") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evens = (0L until 40L by 2L)
    val vecs = vectors(evens)
    val p = tmp("graft-pq-torn") + "/index"
    Knn.writePqQuantizer(spark, sfDir, p)
    Knn.appendToPqIndex(spark, p, evens.map(i => i -> vecs(i)).toDF("vec_id", "v"))
    // the torn first build: the vectors write committed, the codes
    // write did not, and no epoch was recorded
    val codes = new org.apache.hadoop.fs.Path(s"$p/codes")
    codes.getFileSystem(spark.sessionState.newHadoopConf()).delete(codes, true)
    assert(Knn.storeLastEpoch(spark, p) === -1L)
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.pqIndexStream(stream.toDF().toDF("vec_id", "v"), p)
    try {
      stream.addData(evens.map(i => i -> vecs(i)): _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(Knn.storeLastEpoch(spark, p) === 0L)
    Seq("codes", "vectors").foreach { tier =>
      val ids = spark.read.parquet(s"$p/$tier").select($"vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === evens, s"$tier must hold each id exactly once")
    }
    val twin = tmp("graft-pq-torn-twin") + "/index"
    Knn.writePqIndex(spark, sfDir, twin,
      initial = Some(evens.map(i => i -> vecs(i)).toDF("vec_id", "v")))
    val queries = evens.take(3).map(i => i -> vecs(i)).toDF("q_id", "qv")
    assert(sortedRows(Knn.serveFromPqIndex(spark, p, queries)) ===
      sortedRows(Knn.serveFromPqIndex(spark, twin, queries)))
  }
}
