package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.model._
import graft.operators.{CdcRouter, Gmall, LogFanout}
import graft.sinks.KeyedParquetSink
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference topology, composed from the program's public layers the
  * way GmallEndToEndSpec's crash/restart test composes it:
  *
  *  - stage 1: raw log / CDC envelope files → `Streams.fanoutBatchWriter`
  *    and `Streams.cdcRouteBatchWriter` → parquet topics;
  *  - stage 2: file streams over the topics → `Streams.dauDedup` and
  *    `Streams.orderWideJoin` → per-batch dim enrichment →
  *    `KeyedParquetSink.upsert` serving tables.
  *
  * The `cap` of each start sets maxFilesPerTrigger on that stage's file
  * sources (the catch-up workload's per-trigger caps); `None` takes
  * every file available. The time each stage-2 upsert returned is kept
  * per (sink, batch), so the served rows' `ver` column (the batch id)
  * maps every row to the moment it became visible. */
final class Pipeline(spark: SparkSession, root: String, asOf: String,
    tr: Trace) {
  import spark.implicits._

  val inLog = s"$root/in/log"
  val inCdc = s"$root/in/cdc"
  val logOut = s"$root/topics/logout"
  val routed = s"$root/topics/routed"
  val dauPath = s"$root/served/dau"
  val owPath = s"$root/served/order_wide"
  private val conf = s"$root/conf.csv"
  private val facts = Seq("order_info", "order_detail")
  private val dims = Seq("user_info", "base_province")

  /** nanoTime at which each stage-2 upsert returned, per (sink, batch). */
  val served = new ConcurrentHashMap[(String, Long), Long]()
  private var stage1: Seq[StreamingQuery] = Nil
  private var stage2: Seq[StreamingQuery] = Nil

  Files.createDirectories(Paths.get(inLog))
  Files.createDirectories(Paths.get(inCdc))
  Files.writeString(Paths.get(conf),
    "order_info,fact\norder_detail,fact\nuser_info,dim\nbase_province,dim\n")

  /** Move a generated file into a stream's input directory (an atomic
    * rename, as a file source requires) with the given modification
    * time, which orders files for a capped source. */
  def emit(src: Path, dir: String, mtimeMs: Long): Unit = {
    val tmp = Paths.get(dir, s".${src.getFileName}.tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, Paths.get(dir, src.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def source(cap: Option[Int]) = {
    val r = spark.readStream
    cap.fold(r)(c => r.option("maxFilesPerTrigger", c.toLong))
  }

  def startStage1(cap: Option[Int]): Unit = {
    val fan: (DataFrame, Long) => Unit = (b, id) =>
      tr.span("streaming.fanout_batch", id)(Streams.fanoutBatchWriter(logOut)(b, id))
    val route: (DataFrame, Long) => Unit = (b, id) =>
      tr.span("streaming.route_batch", id)(
        Streams.cdcRouteBatchWriter(conf, routed)(b, id))
    stage1 = Seq(
      source(cap).text(inLog).writeStream.queryName("fanout")
        .option("checkpointLocation", s"$root/ckpt/fanout").foreachBatch(fan).start(),
      source(cap).text(inCdc).writeStream.queryName("route")
        .option("checkpointLocation", s"$root/ckpt/route").foreachBatch(route).start())
  }

  private val infoSchema = StructType.fromDDL(
    "id LONG, province_id LONG, order_status STRING, user_id LONG, total_amount DOUBLE, create_time STRING")
  private val detailSchema = StructType.fromDDL(
    "id LONG, order_id LONG, sku_id LONG, order_price DOUBLE, sku_num LONG, sku_name STRING, create_time STRING, split_total_amount DOUBLE")

  private def dimRows(): DataFrame = {
    val d = spark.read.parquet(s"$routed/dim")
    if (tr.on) tr.add("dim_rows", d.count().toDouble)
    d
  }

  private def owWriter(batch: DataFrame, batchId: Long): Unit = {
    val joined = batch
      .withColumn("order_id", col("info_order_id"))
      .drop("info_order_id", "detail_order_id", "info_ts", "detail_ts")
    val d = dimRows()
    val wide = Gmall.enrichOrderWide(joined,
      Gmall.parseUsers(d), Gmall.parseProvinces(d), asOf)
      .toDF().withColumn("ver", lit(batchId))
    tr.span("sinks.orderwide_upsert", batchId)(KeyedParquetSink.upsert(
      wide, owPath, Seq("detail_id"), "create_date", "ver"))
    served.put(("ow", batchId), System.nanoTime)
  }

  private def dauWriter(batch: DataFrame, batchId: Long): Unit = {
    val pages = batch.withColumn("ts", unix_millis(col("ts"))).drop("dt", "batch")
    val d = dimRows()
    val dau = Gmall.dauPipeline(pages.as[PageLog],
      Gmall.parseUsers(d), Gmall.parseProvinces(d), asOf)
      .toDF().withColumn("ver", lit(batchId))
    tr.span("sinks.dau_upsert", batchId)(KeyedParquetSink.upsert(
      dau, dauPath, Seq("mid", "dt"), "dt", "ver"))
    served.put(("dau", batchId), System.nanoTime)
  }

  /** Needs the topics to exist: stage 1 must have published once. */
  def startStage2(cap: Option[Int]): Unit = {
    val factSchema = spark.read.parquet(s"$routed/fact").schema
    val pageSchema = spark.read.parquet(s"$logOut/page").schema
    val factsIn = source(cap).schema(factSchema).parquet(s"$routed/fact")
    val info = factsIn.filter(col("topic") === "DWD_ORDER_INFO_I")
      .select(from_json(col("value"), infoSchema).as("d")).select(col("d.*"))
      .withColumnRenamed("id", "order_id")
      .withColumn("ts", to_timestamp(col("create_time")))
    val detail = factsIn.filter(col("topic") === "DWD_ORDER_DETAIL_I")
      .select(from_json(col("value"), detailSchema).as("d")).select(col("d.*"))
      .withColumnRenamed("id", "detail_id")
      .withColumnRenamed("create_time", "detail_create_time")
      .withColumn("ts", to_timestamp(col("detail_create_time")))
    val ow: (DataFrame, Long) => Unit = (b, id) => tr.span("stage2.order_wide", id)(owWriter(b, id))
    val dau: (DataFrame, Long) => Unit = (b, id) => tr.span("stage2.dau", id)(dauWriter(b, id))
    val entries = source(cap).schema(pageSchema).parquet(s"$logOut/page")
      .filter(col("last_page_id").isNull)
      .withColumn("ts", timestamp_millis(col("ts")))
    stage2 = Seq(
      Streams.orderWideJoin(info, detail, "24 hours").writeStream.queryName("order_wide")
        .option("checkpointLocation", s"$root/ckpt/order_wide").foreachBatch(ow).start(),
      Streams.dauDedup(entries).writeStream.queryName("dau")
        .option("checkpointLocation", s"$root/ckpt/dau").foreachBatch(dau).start())
  }

  def drainStage1(): Unit = stage1.foreach(_.processAllAvailable())
  def drainStage2(): Unit = stage2.foreach(_.processAllAvailable())
  def stop(): Unit = { (stage2 ++ stage1).foreach(_.stop()); stage1 = Nil; stage2 = Nil }

  /** (sink, key, ver) of every served row; key is "mid\tdt" or detail_id. */
  def servedRows(): Seq[(String, String, Long)] = {
    val d = spark.read.parquet(dauPath)
      .select(concat_ws("\t", col("mid"), col("dt").cast("string")), col("ver"))
      .as[(String, Long)].collect().map { case (k, v) => ("dau", k, v) }
    val o = spark.read.parquet(owPath)
      .select(col("detail_id").cast("string"), col("ver"))
      .as[(String, Long)].collect().map { case (k, v) => ("ow", k, v) }
    (d ++ o).toSeq
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row hashes over columns in name order. */
  private def fingerprint(df: DataFrame, like: StructType): (Long, BigDecimal) = {
    val cols = like.fieldNames.sorted
    val r = df.select(cols.map(c => col(c).cast(like(c).dataType).as(c)).toIndexedSeq: _*)
      .select(xxhash64(cols.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The served tables against the batch twins run over every generated
    * envelope; returns the failed checks. */
  def checkTwins(logFiles: Seq[String], cdcFiles: Seq[String]): Seq[String] = {
    val all = CdcRouter.route(spark.read.text(cdcFiles: _*), facts, dims)
    val info = all("fact").filter(col("topic") === "DWD_ORDER_INFO_I")
      .select(from_json(col("value"), infoSchema).as("d")).select(col("d.*")).as[OrderInfo]
    val detail = all("fact").filter(col("topic") === "DWD_ORDER_DETAIL_I")
      .select(from_json(col("value"), detailSchema).as("d")).select(col("d.*")).as[OrderDetail]
    val users = Gmall.parseUsers(all("dim"))
    val provinces = Gmall.parseProvinces(all("dim"))
    val twinW = Gmall.orderWidePipeline(info, detail, users, provinces, asOf).toDF()
    val twinD = Gmall.dauPipeline(
      LogFanout.fanout(spark.read.text(logFiles: _*))("page").as[PageLog],
      users, provinces, asOf).toDF()
    Seq(("order_wide", owPath, twinW), ("dau", dauPath, twinD)).flatMap {
      case (name, path, twin) =>
        val want = fingerprint(twin, twin.schema)
        val got = fingerprint(spark.read.parquet(path).drop("ver"), twin.schema)
        if (want == got) None
        else Some(s"served $name $got != batch twin $want")
    }
  }

  /** Rows in the log and CDC error topics. */
  def errorRows(): Long =
    Seq(s"$logOut/error", s"$routed/error").map { p =>
      if (Files.exists(Paths.get(p))) spark.read.parquet(p).count() else 0L
    }.sum

  /** Parquet files under the stage-1 topics. */
  def topicFiles(): Long = {
    val s = Files.walk(Paths.get(s"$root/topics"))
    try s.iterator.asScala.count(p => p.toString.endsWith(".parquet")).toLong
    finally s.close()
  }
}
