package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * graftbench.Main --workload cdc_sync|ingest_batch
  *                 --seed N --seconds S --trace 0|1 [--out DIR]
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per metric — the
  * end-to-end metrics, or with `--trace 1` the per-layer metrics — one
  * `ops` line, and last the JSON result line. A check that fails sets
  * `correct` to false and is described on stderr.
  */
object Main {
  val Workloads: Seq[String] = Seq("cdc_sync", "ingest_batch")

  val EndToEnd: Seq[String] =
    Seq("setup_s", "serve_p50_ms", "write_p50_ms", "index_mb", "retained_heap_mb")

  /** Per-layer metrics of a traced run and their units. A layer the
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.serve_ms" -> "ms", "textindex.rank_ms" -> "ms",
    "textindex.bm25_leg_ms" -> "ms", "textindex.vector_leg_ms" -> "ms",
    "textindex.render_ms" -> "ms", "textindex.rerank_ms" -> "ms",
    "textindex.batch_ms" -> "ms", "spark.jobs_per_serve" -> "count",
    "spark.jobs_per_rank" -> "count", "spark.jobs_per_batch" -> "count",
    "spark.tasks_per_serve" -> "count", "spark.exec_ms_per_serve" -> "ms",
    "spark.no_job_ms_per_serve" -> "ms", "spark.input_bytes_per_serve" -> "bytes",
    "caches.tracked_after_serve" -> "count",
    "ingeststream.epoch_ms" -> "ms", "textindex.change_read_ms" -> "ms",
    "webmeta.change_detect_ms" -> "ms", "textindex.sync_ms" -> "ms",
    "ingeststream.epoch_overhead_ms" -> "ms", "spark.jobs_per_epoch" -> "count",
    "spark.exec_ms_per_epoch" -> "ms", "spark.no_job_ms_per_epoch" -> "ms",
    "textindex.compactions" -> "count", "textindex.files_written_per_epoch" -> "count",
    "textindex.bytes_written_per_epoch" -> "bytes", "textindex.write_amp" -> "ratio",
    "textindex.live_batches" -> "count", "textindex.tombstones" -> "count",
    "textindex.files_total" -> "count", "textindex.build_ms" -> "ms",
    "spark.jobs_per_build" -> "count",
    "fileingest.extract_ms" -> "ms", "fileingest.chunk_ms" -> "ms",
    "chunker.chunks_per_doc" -> "count", "chunker.single_thread_docs_per_s" -> "1/s",
    "ingeststream.chunk_embed_ms" -> "ms", "chunkstore.write_ms" -> "ms",
    "engine.prepare_ms" -> "ms", "engine.prepare_kept_share" -> "ratio",
    "spark.exec_ms_ingest" -> "ms", "spark.shuffle_bytes_ingest" -> "bytes",
    "spark.busy_share_ingest" -> "ratio")

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, out: String = ".bench_build/perfbench")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv.toList)
    require(Workloads.contains(a.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    val broken = Oracle.selfTest()
    if (broken.nonEmpty) {
      broken.foreach(b => System.err.println(s"[perfbench] self-test: $b"))
      sys.exit(3)
    }
    val out = Paths.get(a.out).toAbsolutePath
    val work = out.resolve(s"work/${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    Run.deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    val run = new Run(spark, a.seed, a.seconds, a.trace, jvmStart, work)
    try {
      a.workload match {
        case "cdc_sync" => CdcSync(run)
        case "ingest_batch" => IngestBatch(run)
      }
      run.tracer.foreach(_.write(out.resolve(s"spans/${a.workload}-seed${a.seed}.json")))
    } finally {
      spark.stop()
      Run.deleteTree(work)
    }
    val ms =
      if (a.trace) PerLayer.map { case (n, u) => n -> run.metrics.getOrElse(n, (0.0, u)) }
      else EndToEnd.map { n =>
        n -> run.metrics.getOrElse(n, {
          System.err.println(s"[perfbench] no value for $n: the run failed")
          sys.exit(4)
        })
      }
    ms.foreach { case (n, (v, u)) => println(s"metric $n $v $u") }
    println(s"ops ${a.workload} attempted=${run.attempted} failed=${run.failed}")
    val metricsJson = ms.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${run.correct}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$metricsJson}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}
