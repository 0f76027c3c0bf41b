package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Work done by the jobs of one span (or one scheduler pool). */
final class JobAgg {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  /** Job [start, end] wall intervals, epoch ms. */
  val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One span: a layer call made by the benchmark, with the id it shares
  * with the other spans of its batch, request or query. */
final case class Span(name: String, id: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The benchmark's own tracing. With `on = false` nothing is installed
  * and [[span]] only runs its body, so untraced runs measure the program
  * alone. With `on = true` it registers a SparkListener, a
  * StreamingQueryListener and a QueryExecutionListener, records a span
  * around every layer call, and tags the jobs a span starts through the
  * `perfbench.span` local property. Everything stays in memory until
  * [[write]]. */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Job aggregates keyed by span key (`name#id`) or `pool:<name>`. */
  val jobs = new ConcurrentHashMap[String, JobAgg]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  def add(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => a + b)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)
  /** A copy of every counter, to subtract from later readings. */
  def counterSnapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  private def agg(key: String): JobAgg = jobs.computeIfAbsent(key, _ => new JobAgg)

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val span = Option(p).flatMap(x => Option(x.getProperty("perfbench.span")))
        val pool = Option(p).flatMap(x => Option(x.getProperty("spark.scheduler.pool")))
        // HTTP handler threads inherit local properties from the thread
        // that created them, so their request pool wins over any span
        val key = pool.filter(_.startsWith("req-")).map("pool:" + _)
          .orElse(span).getOrElse("other")
        jobKey.put(e.jobId, key)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        val a = agg(key); a.synchronized { a.jobs += 1 }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val a = agg(jobKey.getOrDefault(e.jobId, "other"))
        val s = jobStart.getOrDefault(e.jobId, e.time)
        a.synchronized { a.intervals += ((s, e.time)) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val key = Option(stageJob.get(e.stageId))
            .map(j => jobKey.getOrDefault(j, "other")).getOrElse("other")
          val a = agg(key)
          a.synchronized {
            a.tasks += 1
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        Trace.walk(qe.executedPlan).foreach {
          case b: BroadcastExchangeExec =>
            b.metrics.get("broadcastTime").foreach(m => add("broadcast_ms", m.value.toDouble))
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
            val path = c.outputPath.toString
            val kind = if (path.contains("/served/")) "served"
              else if (path.contains("/topics/")) "topic" else "other"
            c.metrics.get("numOutputRows").foreach(m => add(s"$kind.rows", m.value.toDouble))
            c.metrics.get("numFiles").foreach(m => add(s"$kind.files", m.value.toDouble))
            c.metrics.get("numOutputBytes").foreach(m => add(s"$kind.bytes", m.value.toDouble))
          case _ => ()
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run `body` as span `name` with shared id `id`; its jobs carry the
    * span key. Untraced runs only run the body. */
  def span[T](name: String, id: Any)(body: => T): T =
    if (!on) body
    else {
      val prev = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", s"$name#$id")
      val t0 = System.nanoTime
      try body
      finally {
        spans.add(Span(name, id.toString, prev, t0, System.nanoTime))
        sc.setLocalProperty("perfbench.span", prev)
      }
    }

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Aggregate over every job key matching `p`. */
  def jobsWhere(p: String => Boolean): Seq[JobAgg] =
    jobs.asScala.collect { case (k, v) if p(k) => v }.toSeq

  /** Wait until every listener event so far has been delivered. */
  def drain(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(sc)

  /** Write the spans and job aggregates once, at the end. */
  def write(path: String, extra: Map[String, Any]): Unit = if (on) {
    val b = new StringBuilder("{\"spans\":[")
    b.append(spans.asScala.map(s =>
      s"""{"name":${Json.str(s.name)},"id":${Json.str(s.id)},"parent":${Json.str(Option(s.parent).getOrElse(""))},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString(","))
    b.append("],\"jobs\":{")
    b.append(jobs.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
      s"""${Json.str(k)}:{"jobs":${a.jobs},"tasks":${a.tasks},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},"shuffle_read":${a.shuffleRead},"shuffle_write":${a.shuffleWrite},"spill":${a.spill}}"""
    }.mkString(","))
    b.append("},\"extra\":").append(Json.value(extra)).append("}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), b.toString)
  }
}

object Trace {
  /** Every node of a physical plan, through AQE wrappers and stages. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case x => x +: (x.children ++ x.subqueries).flatMap(walk)
  }

  /** Wall time covered by the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
