package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.Publisher
import graft.serving.Http
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The `queries` workload: one closed-loop client runs a fixed slice of
  * the `SparkEntry` suite through the `noop` sink, and the dashboard's
  * GETs through `serving.Http`, in seeded order, pass after pass, until
  * the measured time is up. */
object Queries {
  /** Untimed passes before the timed ones. The first records each
    * query's row count; driver-side JIT keeps speeding passes up for
    * about three passes. Timed passes are numbered from here on. */
  private val WarmPasses = 3
  private def timed(spanId: String) = spanId.split("/").last.toInt >= WarmPasses

  /** Output rows of a plan, read from its own SQL metrics: the first
    * node that counts its output, below operators that keep the row
    * count unchanged. */
  private def outRows(p: SparkPlan): Option[Long] = p match {
    case w: V2TableWriteExec => outRows(w.query)
    case a: AdaptiveSparkPlanExec => outRows(a.executedPlan)
    case q: QueryStageExec => outRows(q.plan)
    case w: WholeStageCodegenExec => outRows(w.child)
    case i: InputAdapter => outRows(i.child)
    case x if x.metrics.contains("numOutputRows") => Some(x.metrics("numOutputRows").value)
    case x @ (_: ProjectExec | _: SortExec | _: ColumnarToRowExec) =>
      x.children.headOption.flatMap(outRows)
    case _ => None
  }

  private def get(port: Int, path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(60000); c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, body)
  }

  /** The programmatic twin of one dashboard request. */
  private def twin(spark: SparkSession, dir: String, path: String): String = {
    val uri = URI.create(path)
    val q = uri.getRawQuery.split("&").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    uri.getPath match {
      case "/dauRealtime" => Http.dauJson(Publisher.dauRealtime(spark, dir, q("td")))
      case "/statsByItem" => Http.statsJson(Publisher.statsByItem(spark, dir,
        q("itemName").split(" ").filter(_.nonEmpty).toSeq, q("t")))
    }
  }

  private def codegenMs(): Double = {
    val s = CodegenMetrics.METRIC_COMPILATION_TIME
    s.getCount * s.getSnapshot.getMean
  }

  def run(spark: SparkSession, gen: String, names: Seq[String], seed: Long,
      seconds: Double, tr: Trace, res: Result, setupT0: Long): Map[String, Long] = {
    val dir = s"$gen/fixture"
    graft.Graft.init(spark, dir)
    res.phase("views")
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val pool = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$gen/expect/requests.txt")).asScala.toSeq
    val srv = Http.start(spark, 0)
    val port = srv.getAddress.getPort
    val gets = pool.map("GET " + _)
    val order = new scala.util.Random(seed).shuffle(names ++ gets)
    // the twins are computed after the cold pass, which the GETs of that
    // pass are checked against once they exist
    var expected = Map.empty[String, String]
    val coldBodies = scala.collection.mutable.Map.empty[String, String]
    val served = scala.collection.mutable.ArrayBuffer.empty[Double]

    /** (wall ms, output rows) of one query through the noop sink, or of
      * one dashboard GET (rows: 1 when it returned 200 and its body
      * equals its twin, when that exists yet). */
    def one(name: String, pass: Int): (Double, Option[Long]) =
      if (name.startsWith("GET ")) {
        val path = name.stripPrefix("GET ")
        val t = System.nanoTime
        val (code, body) = tr.span("serving.request", s"$path/$pass")(get(port, path))
        val ms = (System.nanoTime - t) / 1e6
        if (pass >= WarmPasses) served += ms
        if (pass == 0) coldBodies(path) = body
        (ms, Some(if (code == 200 && expected.get(path).forall(_ == body)) 1L else 0L))
      } else {
        writes.clear()
        val t = System.nanoTime
        tr.span("query", s"$name/$pass") {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        val ms = (System.nanoTime - t) / 1e6
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        (ms, writes.asScala.lastOption.flatMap(qe => outRows(qe.executedPlan)))
      }

    // untimed warm-up passes: stored layouts, codegen, JIT; the first
    // records the row counts
    val rows = order.map { n =>
      val r = try one(n, 0)._2.getOrElse(SparkEntry.queries(n)(spark, dir).count())
      catch { case e: Exception => res.fail(s"$n warm-up: $e"); -1L }
      if (n.startsWith("GET ") && r != 1L) res.fail(s"$n: not 200")
      n -> r
    }.toMap
    res.phase("cold_pass")
    expected = pool.map(p => p -> twin(spark, dir, p)).toMap
    coldBodies.foreach { case (p, b) =>
      if (b != expected(p)) res.fail(s"GET $p: body differs from its twin") }
    res.phase("twins")
    for (pass <- 1 until WarmPasses; n <- order) try {
      if (one(n, pass)._2.exists(_ != rows(n))) res.fail(s"$n warm-up pass $pass: rows or body differ")
    } catch { case e: Exception => res.fail(s"$n warm-up: $e") }
    res.phase("warm_passes")
    res.setup((System.nanoTime - setupT0) / 1e9)

    val cg0 = codegenMs()
    tr.drain()
    val reqPools0 = tr.jobsWhere(_.startsWith("pool:req-")).map(a => (a.jobs, a.cpuNs))
    val t0Ms = System.currentTimeMillis
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val all = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime
    val st0 = Steal.sample()
    var passes = 0
    var getFailed = 0
    while (passes < 3 || (System.nanoTime - t0) / 1e9 < seconds) {
      passes += 1
      order.foreach { n =>
        res.attempted(1)
        try {
          val (ms, r) = one(n, WarmPasses + passes - 1)
          times(n) = times(n) :+ ms
          all += ms
          if (n.startsWith("GET ") && !r.contains(1L)) getFailed += 1
          if (r.exists(_ != rows(n))) res.fail(s"$n pass $passes: ${r.get} rows, warm-up had ${rows(n)}")
        } catch { case e: Exception => res.fail(s"$n pass $passes: $e") }
      }
    }
    srv.stop(0)
    res.phase("timed")
    res.info("steal_share", Steal.share(st0, Steal.sample()))
    res.info("pass_ms", all.grouped(order.size).map(_.sum).toSeq)
    // per operation, the median of its timed passes; the geometric mean
    // weights a 2x change on a light operation like one on a heavy one
    def geomean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    res.e2e("latency_ms", geomean(order.map(n => Stats.median(times(n)))), "ms")
    res.e2e("throughput_per_s", all.size / (all.sum / 1000), "1/s")
    res.info("latency_p50_ms", Stats.pct(all.toSeq, 50))
    res.info("latency_p75_ms", Stats.pct(all.toSeq, 75))
    val perQuery = names.map(n => Stats.median(times(n)))
    res.layer("queries.total_s", perQuery.sum / 1000, "s")
    res.layer("queries.geomean_ms", geomean(perQuery), "ms")
    res.layer("serving.request_ms", Stats.median(served.toSeq), "ms")
    res.layer("serving.failed", getFailed.toDouble, "count")
    res.info("passes", passes)
    res.info("per_query_ms", names.zip(perQuery).toMap)
    if (tr.on) {
      tr.drain()
      // the timed passes only: request pools minus their warm-up totals
      val pools = tr.jobsWhere(_.startsWith("pool:req-"))
      val n = math.max(1, passes * gets.size)
      val reqSpans = tr.spansNamed("serving.request").filter(s => timed(s.id))
      res.layer("serving.jobs_per_request",
        (pools.map(_.jobs).sum - reqPools0.map(_._1).sum).toDouble / n, "count")
      res.layer("serving.cpu_ms_per_request",
        (pools.map(_.cpuNs).sum - reqPools0.map(_._2).sum) / 1e6 / n, "ms")
      res.layer("serving.driver_ms_per_request", math.max(0.0, reqSpans.map(_.ms).sum -
        Trace.covered(pools.flatMap(_.intervals).filter(_._1 >= t0Ms))) / n, "ms")
      val timedJobs = tr.jobsWhere(k => k.startsWith("query#") && timed(k))
      val k = passes.toDouble
      res.layer("queries.jobs", timedJobs.map(_.jobs).sum / k, "count/pass")
      res.layer("queries.tasks", timedJobs.map(_.tasks).sum / k, "count/pass")
      res.layer("queries.executor_cpu_s", timedJobs.map(_.cpuNs).sum / 1e9 / k, "s/pass")
      res.layer("queries.shuffle_read_mb", timedJobs.map(_.shuffleRead).sum / 1e6 / k, "MB/pass")
      res.layer("queries.shuffle_write_mb", timedJobs.map(_.shuffleWrite).sum / 1e6 / k, "MB/pass")
      res.layer("queries.spill_mb", timedJobs.map(_.spill).sum / 1e6 / k, "MB/pass")
      res.layer("queries.gc_s", timedJobs.map(_.gcMs).sum / 1e3 / k, "s/pass")
      res.layer("queries.codegen_compile_ms", (codegenMs() - cg0) / passes, "ms/pass")
      val spans = tr.spansNamed("query").filter(s => timed(s.id))
      val covered = spans.map { s =>
        val a = tr.jobs.get(s"query#${s.id}")
        s.ms - (if (a == null) 0L else Trace.covered(a.intervals.toSeq))
      }
      res.layer("queries.driver_s", covered.sum / 1e3 / passes, "s/pass")
      res.info("per_query_layers", names.map { n =>
        val as = (0 until WarmPasses + passes).flatMap(i => Option(tr.jobs.get(s"query#$n/$i")))
        n -> Map("jobs" -> as.map(_.jobs).sum, "tasks" -> as.map(_.tasks).sum,
          "cpu_ms" -> as.map(_.cpuNs).sum / 1e6, "shuffle_bytes" ->
            as.map(a => a.shuffleRead + a.shuffleWrite).sum, "rows" -> rows(n))
      }.toMap)
    }
    rows
  }
}
