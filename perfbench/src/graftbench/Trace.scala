package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Traced-run harness: a span recorder around the benchmark's calls
  * into graft's public functions, and a Spark listener the benchmark
  * registers itself (traced runs only) that counts jobs, tasks,
  * executor time and bytes. Nothing inside graft is instrumented.
  *
  * Jobs are attributed to a span by start time. The traced run makes
  * one call at a time, except for the four-caller phase, so every job
  * that starts inside a span's interval belongs to that span.
  */
final class JobListener extends SparkListener {

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.execMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Wait until every started job has ended and the event stream has
    * gone quiet, so the counts are complete. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline) {
      val (open, n) = synchronized((jobs.values.count(_.end < 0), jobs.size))
      if (open == 0 && n == last) return
      last = n
      Thread.sleep(200)
    }
  }

  /** Jobs that started inside [start, end] (ms). */
  def jobsIn(start: Long, end: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= start && j.start <= end).map(_.copy()).toSeq
  }

  /** Milliseconds of [start, end] during which no job was running. */
  def noJobMs(start: Long, end: Long): Long = synchronized {
    val iv = jobs.values.toSeq
      .map(j => (math.max(j.start, start), math.min(if (j.end < 0) end else j.end, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }
}

/** One Spark job and the totals of its tasks. */
final case class Job(id: Int, start: Long, var end: Long = -1L,
                     var tasks: Int = 0, var execMs: Long = 0L,
                     var inputBytes: Long = 0L, var shuffleBytes: Long = 0L)

/** One span: a timed call into a module, with the span that caused it
  * and the operation it belongs to. */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                      durNs: Long, parent: Int, op: Long)

final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def span[T](name: String, op: Long)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current.get()
    current.set(id)
    val s = System.currentTimeMillis(); val t = System.nanoTime()
    try body
    finally {
      val d = System.nanoTime() - t
      current.set(parent)
      synchronized(spans += Span(id, name, s, System.currentTimeMillis(), d, parent, op))
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq.sortBy(_.id))

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val body = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_ns":${s.durNs},"parent":${s.parent},"op":${s.op}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}
