package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Percentiles with linear interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** The share of CPU time the hypervisor gave to other guests (steal),
  * from /proc/stat; on a shared box it moves every wall-time metric. */
object Steal {
  def sample(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 1L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
  }
  def share(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)
}

/** Counts the generator wrote to `expect/meta.json`, passed as flags. */
final case class Meta(malformed: Long, logEnvelopes: Long,
    cdcEnvelopes: Long, backlogFrom: Int)

/** Metrics, operation counts and failed checks of one run. */
final class Result {
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infoM = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L
  def e2e(n: String, v: Double, u: String): Unit = synchronized { e2eM(n) = (v, u) }
  def layer(n: String, v: Double, u: String): Unit = synchronized { layerM(n) = (v, u) }
  def info(n: String, v: Any): Unit = synchronized { infoM(n) = v }
  def setup(s: Double): Unit = e2e("setup_s", s, "s")
  private var lastPhase = System.nanoTime
  /** Log the wall time since the previous phase mark. */
  def phase(name: String): Unit = synchronized {
    val now = System.nanoTime
    infoM(s"phase_$name") = (now - lastPhase) / 1e9
    System.err.println(f"[perfbench] phase $name ${(now - lastPhase) / 1e9}%.2f s")
    lastPhase = now
  }
  def attempted(n: Long): Unit = synchronized { attemptedN += n }
  /** A failed check: counts as a failed operation and is reported. */
  def fail(why: String): Unit = synchronized {
    failedN += 1; failures += why
    System.err.println(s"[perfbench] FAIL $why")
  }
  def json: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    Json.value(Map("e2e" -> m(e2eM), "layers" -> m(layerM), "info" -> infoM.toMap,
      "failures" -> failures.toSeq, "attempted" -> attemptedN, "failed" -> failedN))
  }
}

/** `java graft.perfbench.Main --workload <catchup|queries> --gen <dir>
  *   --work <dir> --out <file> [--trace-out <file>] --seed <n>
  *   --seconds <s> --cores <n> ...`
  *
  * Runs one workload against inputs the generator wrote under `--gen`,
  * checks the outputs, and writes the metrics to `--out`. The command in
  * BENCHMARK.json (perfbench/run.py) generates the inputs, builds the
  * program, runs this and prints the result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val setupT0 = System.nanoTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a.get("trace-out")
    val cores = a.getOrElse("cores", "4").toInt
    val spark = graft.Graft.localSession(cores, fairScheduler = true)
    val tr = new Trace(spark, trace.isDefined)
    val res = new Result
    def meta = Meta(a("malformed").toLong, a("log-envelopes").toLong,
      a("cdc-envelopes").toLong, a("backlog-from").toInt)
    try {
      a("workload") match {
        case "catchup" => Streaming.catchup(spark, a("gen"), a("work"), meta, tr, res,
          setupT0, a("cap1").toInt, a("cap2").toInt)
        case "queries" =>
          val names = a("names").split(",").toSeq
          Files.writeString(Paths.get(a("gen"), "oracles.json"),
            Json.value(graft.SparkEntry.oracleSql.filter(o => names.contains(o._1))))
          val rows = Queries.run(spark, a("gen"), names,
            a("seed").toLong, a("seconds").toDouble, tr, res, setupT0)
          Files.writeString(Paths.get(a("work"), "rows.json"), Json.value(rows))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"workload aborted: $e")
    }
    Files.writeString(Paths.get(a("out")), res.json)
    trace.foreach(p => tr.write(p, Map("e2e" -> res.e2eM.toMap, "info" -> res.infoM.toMap)))
    // the HTTP server's handler pool is not daemon; end the JVM here (the
    // shutdown hook Spark registers stops the session)
    sys.exit(0)
  }
}
