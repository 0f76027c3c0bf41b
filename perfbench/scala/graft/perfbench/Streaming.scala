package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The `catchup` workload: closed and saturated, stage 1 and stage 2
  * restart from their checkpoints onto a backlog that piled up during an
  * outage, under a fixed per-trigger file cap. */
object Streaming {
  private val AsOf = "2024-02-01"

  private def ticks(gen: String, kind: String) =
    Files.list(Paths.get(s"$gen/env/$kind")).iterator.asScala.toSeq.sortBy(_.toString)

  /** Tick of each served row's latest contributing envelope. */
  private def dueTicks(gen: String): Map[(String, String), Int] = {
    def read(f: String, sink: String, keyCols: Int) =
      Files.readAllLines(Paths.get(s"$gen/expect/$f")).asScala.map { l =>
        val p = l.split("\t")
        (sink, p.take(keyCols).mkString("\t")) -> p(keyCols).toInt
      }
    (read("dau_due.tsv", "dau", 2) ++ read("ow_due.tsv", "ow", 1)).toMap
  }

  private def checks(p: Pipeline, gen: String, meta: Meta, res: Result): Unit = {
    val logFiles = ticks(gen, "log").map(_.toString)
    val cdcFiles = (s"$gen/env/boot_cdc.json" +: ticks(gen, "cdc").map(_.toString))
    p.checkTwins(logFiles, cdcFiles).foreach(res.fail)
    val errs = p.errorRows()
    res.layer("sources.error_rows", errs.toDouble, "count")
    if (errs != meta.malformed)
      res.fail(s"error topics hold $errs rows, generator injected ${meta.malformed}")
  }

  /** Per-layer numbers of the timed restart only: spans that started in it,
    * progress events of triggers that started in it, and counter deltas
    * over it. `rewritten` is the number of served rows the restart made
    * new or changed. */
  private def streamLayers(p: Pipeline, tr: Trace, res: Result, fromNs: Long,
      fromMs: Long, counters0: Map[String, Double], rewritten: Long): Unit = {
    tr.drain()
    val prog = tr.progress.asScala.toSeq
      .filter(x => Instant.parse(x.timestamp).toEpochMilli >= fromMs)
    for ((stage, names) <- Seq("stage1" -> Set("fanout", "route"),
        "stage2" -> Set("dau", "order_wide"))) {
      val ps = prog.filter(x => names(x.name) && x.numInputRows > 0)
      def dur(k: String) = ps.flatMap(x => Option(x.durationMs.get(k)).map(_.doubleValue))
      res.layer(s"streaming.${stage}_trigger_ms", Stats.median(dur("triggerExecution")), "ms")
      res.layer(s"streaming.${stage}_planning_ms", Stats.median(dur("queryPlanning")), "ms")
      res.layer(s"streaming.${stage}_wal_commit_ms", Stats.median(dur("walCommit")), "ms")
      res.layer(s"streaming.${stage}_latest_offset_ms", Stats.median(dur("latestOffset")), "ms")
      res.layer(s"streaming.${stage}_batches", ps.size.toDouble, "count")
      res.layer(s"streaming.${stage}_input_rows", ps.map(_.numInputRows.toDouble).sum, "count")
    }
    def spanMs(n: String) = tr.spansNamed(n).filter(_.startNs >= fromNs).map(_.ms)
    res.layer("streaming.fanout_batch_ms", Stats.median(spanMs("streaming.fanout_batch")), "ms")
    res.layer("streaming.route_batch_ms", Stats.median(spanMs("streaming.route_batch")), "ms")
    for ((q, n) <- Seq("dau" -> "dau", "order_wide" -> "join")) {
      val ops = prog.filter(_.name == q).flatMap(_.stateOperators)
      res.layer(s"streaming.${n}_state_rows", (0L +: ops.map(_.numRowsTotal)).max.toDouble, "count")
      res.layer(s"streaming.${n}_state_bytes", (0L +: ops.map(_.memoryUsedBytes)).max.toDouble, "bytes")
      res.layer(s"streaming.${n}_state_commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
    }
    res.layer("streaming.late_rows_dropped",
      prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
    def delta(k: String) = tr.counter(k) - counters0.getOrElse(k, 0.0)
    val stage2Batches = spanMs("stage2.dau").size + spanMs("stage2.order_wide").size
    res.layer("operators.dim_rows", delta("dim_rows") / math.max(1, stage2Batches), "rows/batch")
    res.layer("operators.broadcast_ms", delta("broadcast_ms") / math.max(1, stage2Batches), "ms/batch")
    res.layer("sinks.dau_upsert_ms", Stats.median(spanMs("sinks.dau_upsert")), "ms")
    res.layer("sinks.orderwide_upsert_ms", Stats.median(spanMs("sinks.orderwide_upsert")), "ms")
    res.layer("sinks.write_amplification", delta("served.rows") / math.max(1L, rewritten), "ratio")
    res.layer("sinks.files_written", delta("served.files"), "count")
    res.layer("sinks.bytes_written", delta("served.bytes"), "bytes")
    res.layer("sinks.topic_files", p.topicFiles().toDouble, "count")
  }

  def catchup(spark: SparkSession, gen: String, work: String, meta: Meta,
      tr: Trace, res: Result, setupT0: Long, cap1: Int, cap2: Int): Unit = {
    val logs = ticks(gen, "log"); val cdcs = ticks(gen, "cdc")
    val p = new Pipeline(spark, s"$work/catchup", AsOf, tr)
    try {
      // untimed first segment: the dim bootstrap and the first ticks
      // through both stages, uncapped; then the outage stops both with
      // open join and dedup state, and the backlog piles up in the
      // input dirs
      val base = System.currentTimeMillis - 3600000L
      p.emit(Paths.get(s"$gen/env/boot_cdc.json"), p.inCdc, base)
      def emitTicks(ts: Range): Unit = ts.foreach { t =>
        p.emit(logs(t), p.inLog, base + (t + 1) * 1000L)
        p.emit(cdcs(t), p.inCdc, base + (t + 1) * 1000L)
      }
      emitTicks(0 until meta.backlogFrom)
      p.startStage1(None)
      p.drainStage1()
      res.phase("first_stage1")
      p.startStage2(None)
      p.drainStage2()
      res.phase("first_stage2")
      p.stop()

      val ts = meta.backlogFrom until logs.size
      emitTicks(ts)
      res.setup((System.nanoTime - setupT0) / 1e9)

      // ---- timed: the restart from the checkpoints onto the backlog.
      // Stage 1 restarts first; stage 2 follows once ingest has caught
      // up, so each stage's batches are cut by the file caps alone and
      // not by how the two interleave.
      tr.drain()
      val counters0 = tr.counterSnapshot()
      val fromMs = System.currentTimeMillis
      val st0 = Steal.sample()
      val t0 = System.nanoTime
      p.startStage1(Some(cap1))
      p.drainStage1()
      val t2 = System.nanoTime
      p.startStage2(Some(cap2))
      p.drainStage2()
      val end = System.nanoTime
      p.stop()
      res.phase("timed_restart")
      res.info("steal_share", Steal.share(st0, Steal.sample()))

      val dueOf = dueTicks(gen)
      val after = p.served.asScala.toSeq.filter(x => x._2 > t2 && x._2 <= end)
      val rows = p.servedRows()
      // per backlog row: restart → the upsert that made it visible
      val lat = rows.flatMap { case (sink, key, ver) =>
        dueOf.get((sink, key)).filter(ts.contains).map(_ =>
          (p.served.get((sink, ver)) - t0) / 1e6)
      }
      val rewritten = rows.count { case (sink, _, ver) =>
        val at = p.served.get((sink, ver)); at > t2 && at <= end
      }
      val envelopes = ts.map(t =>
        Files.readAllLines(logs(t)).size + Files.readAllLines(cdcs(t)).size).sum
      val restartNs = Seq("dau", "ow").map(s =>
        after.filter(_._1._1 == s).map(_._2).minOption.getOrElse(end)).max
      res.attempted(meta.logEnvelopes + meta.cdcEnvelopes)
      // the mean, not a percentile: with a few batches per sink a
      // percentile jumps from one batch to the next with the seed's row
      // shares, while the mean weighs every batch by its rows
      res.e2e("latency_ms", lat.sum / lat.size, "ms")
      // up to the last backlog row served; the no-data batch that follows
      // only advances the watermark
      res.e2e("throughput_per_s", envelopes / (lat.max / 1e3), "1/s")
      res.layer("streaming.restart_ms", (restartNs - t2) / 1e6, "ms")
      res.info("backlog_envelopes", envelopes)
      res.info("backlog_rows_served", lat.size)
      res.info("stage2_batches_per_sink", Seq("dau", "ow").map(s => s -> after.count(_._1._1 == s)).toMap)
      if (tr.on) streamLayers(p, tr, res, t0, fromMs, counters0, rewritten)
      checks(p, gen, meta, res)
      res.phase("checks")
    } finally p.stop()
  }
}
