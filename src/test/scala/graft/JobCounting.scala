package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block of driver code submits, and names
  * them by call site (`parquet at TextIndex.scala:…` for a reader's
  * planning job, `collect at …` for an action). */
trait JobCounting { this: SparkSpec =>

  /** Job id and call site of every job start, in delivery order. A job
    * of a SQL execution is named by that execution's description —
    * the call site of the action that started it — so the query-stage
    * and broadcast jobs AQE submits from its own thread pool (whose
    * own call site is Spark's `CompletableFuture`) name the action
    * too. Any other job is named by its final stage. */
  final class JobIds extends SparkListener {
    private val starts =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    private val executions =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the short call site names the final stage; a job with no
      // stages carries it as its description
      val site = prop("spark.sql.execution.id")
        .flatMap(id => Option(executions.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .orElse(prop("spark.job.description"))
        .getOrElse("")
      starts.add(e.jobId -> site)
    }
    def all: Seq[Int] = starts.toArray.toSeq.map(_.asInstanceOf[(Int, String)]._1)
    def sitesBetween(from: Int, to: Int): Seq[String] =
      starts.toArray.toSeq.map(_.asInstanceOf[(Int, String)])
        .collect { case (id, site) if id > from && id < to => site }
  }

  /** The call sites of the Spark jobs `body` submits: job ids are
    * assigned in submission order, so they are the ids strictly
    * between a marker job run just before and one run just after.
    * The listener bus delivers in order: once the closing marker is
    * seen, every job of the body has been too. */
  def jobSitesOf(l: JobIds)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    def marker(): Int = {
      val before = l.all.toSet
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var fresh = l.all.filterNot(before)
      while (fresh.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(20)
        fresh = l.all.filterNot(before)
      }
      assert(fresh.nonEmpty, "the marker job never reached the listener")
      fresh.max
    }
    val from = marker()
    body
    val to = marker()
    l.sitesBetween(from, to)
  }

  /** The number of Spark jobs `body` submits. */
  def jobsOf(l: JobIds)(body: => Any): Int = jobSitesOf(l)(body).size
}
