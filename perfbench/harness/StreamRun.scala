package graft.perfbench

import graft.sources.FileBus
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The open-loop streaming workload: a generator thread writes ODS files into
  * FileBus topic directories on a fixed schedule while every warehouse layer
  * runs as its own streaming query, chained through topic directories.
  *
  * Phase 1 drains a backlog written before the layers start; phase 2 runs
  * the generator at the fixed live rate for the run's seconds.
  */
object StreamRun {
  /** Layers in topological order; draining in this order settles the chain. */
  val Layers: Seq[String] = Seq("dwd_db", "dwd_log", "dwm_order_wide",
    "dwm_unique_visit", "dwm_user_jump", "dws_visitor_stats", "dws_province_stats")

  private val oiCols = Seq("id", "user_id", "province_id", "total_amount", "create_ts")
  private val odCols = Seq("id", "order_id", "sku_id", "order_price", "create_ts")
  private def strings(cols: Seq[String]) = StructType(cols.map(StructField(_, StringType)))

  /** One ODS record source: plan lines rendered to JSON at send time. */
  final class Plan(path: String) {
    private val lines = Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
    private var pos = 0
    def take(n: Int): Seq[Array[String]] = {
      val out = (pos until pos + n).map(i => lines(i % lines.size).split('\t'))
      pos += n
      out
    }
  }

  /** Behavior-log JSON for one plan line:
    * user, page, last_page, during_ms, vc, ch, ar, is_new, jitter_ms.
    */
  def logJson(p: Array[String], dueMs: Long): String = {
    val ts = dueMs - p(8).toLong
    s"""{"common":{"mid":"mid_${p(0)}","uid":"${p(0)}","vc":"${p(4)}","ch":"${p(5)}",""" +
      s""""ar":"${p(6)}","is_new":"${p(7)}"},"page":{"page_id":"${p(1)}",""" +
      s""""last_page_id":"${p(2)}","during_time":${p(3)}},"ts":$ts}"""
  }

  private def envelope(table: String, after: Seq[(String, String)], ts: Long): String = {
    val a = after.map { case (k, v) => s"""\\"$k\\":\\"$v\\"""" }.mkString("{", ",", "}")
    s"""{"database":"gmall","tableName":"$table","before":null,"after":"$a","type":"insert","ts":"$ts"}"""
  }

  /** CDC envelopes for one order plan line: order, user, province, total,
    * then `sku:price` per detail line. Every envelope carries the due time.
    */
  def orderJson(p: Array[String], dueMs: Long): Seq[String] = {
    val t = dueMs.toString
    envelope("order_info", Seq("id" -> p(0), "user_id" -> p(1), "province_id" -> p(2),
      "total_amount" -> p(3), "create_ts" -> t), dueMs) +:
      p(4).split(';').toSeq.zipWithIndex.map { case (d, i) =>
        val Array(sku, price) = d.split(':')
        envelope("order_detail", Seq("id" -> (p(0).toLong * 100 + i + 1).toString,
          "order_id" -> p(0), "sku_id" -> sku, "order_price" -> price, "create_ts" -> t), dueMs)
      }
  }

  final class Generator(c: Conf, spans: Spans) {
    private val wl = c.wl
    val topics = s"${c.work}/topics"
    private val logPlan = new Plan(s"${c.work}/plan_log.tsv")
    private val ordPlan = new Plan(s"${c.work}/plan_orders.tsv")
    private var seq = 0
    @volatile var events = 0L
    @volatile var lateMaxMs = 0.0

    /** Atomic publish: hidden temp name, then rename into the topic. */
    private def publish(topic: String, lines: Seq[String], dueMs: Double): Unit = {
      if (lines.isEmpty) return
      val t0 = Clock.nowMs
      seq += 1
      val dir = Paths.get(s"$topics/$topic")
      val tmp = dir.resolve(f".part-$seq%06d.tmp")
      Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(f"part-$seq%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      events += lines.size
      if (c.trace) spans.add("gen_write", t0, Clock.nowMs, attrs = Map(
        "topic" -> topic, "records" -> lines.size, "due_ms" -> dueMs))
    }

    def tick(logN: Int, ordN: Int, dueMs: Long): Unit = {
      publish("ods_base_log", logPlan.take(logN).map(logJson(_, dueMs)), dueMs.toDouble)
      publish("ods_base_db", ordPlan.take(ordN).flatMap(orderJson(_, dueMs)), dueMs.toDouble)
    }

    /** `files` ticks written back to back, stamped at creation. */
    def burst(files: Int): Unit = {
      for (_ <- 0 until files)
        tick(wl.get("backlog_log_per_file").asInt, wl.get("backlog_orders_per_file").asInt,
          System.currentTimeMillis())
    }

    /** Open loop: tick k is due at start + k * interval whatever happened to
      * tick k-1; lateness is how far behind its due time a tick started.
      */
    def live(startMs: Long, seconds: Double): Unit = {
      val interval = wl.get("interval_ms").asLong
      val logRate = wl.get("live_log_eps").asDouble
      val ordRate = wl.get("live_orders_per_s").asDouble
      val ticks = (seconds * 1000 / interval).toInt
      var logSent = 0L; var ordSent = 0L
      for (k <- 0 until ticks) {
        val due = startMs + k * interval
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMaxMs = math.max(lateMaxMs, Clock.nowMs - due)
        // cumulative targets keep fractional rates exact over the phase
        val logTarget = math.round(logRate * (k + 1) * interval / 1000.0)
        val ordTarget = math.round(ordRate * (k + 1) * interval / 1000.0)
        tick((logTarget - logSent).toInt, (ordTarget - ordSent).toInt, due)
        logSent = logTarget; ordSent = ordTarget
      }
    }
  }

  final case class Progress(layer: String, batch: Long, startMs: Double, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, watermarkMs: Long, eventMaxMs: Long)

  private def nationDim(spark: SparkSession, c: Conf): DataFrame =
    spark.read.parquet(s"${c.data}/nation.parquet")
      .select(col("n_nationkey").as("id"), col("n_name").as("name"))


  /** Batch twin of `UserJump.detect`: an entry page is a bounce unless the
    * next event of its mid, in (ts, page_id) order, follows within
    * `JumpWindowMs` and is not an entry. Covers entries whose horizon closed
    * before `wmMs`. Returns the bounces as (mid, ts, page_id, n), and the
    * (mid, ts, page_id) of entries whose next event is unclear: tied events
    * of both kinds, which the stream may meet in either order.
    */
  def bounces(pages: DataFrame, wmMs: Long): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("mid").orderBy("ts", "page_id")
    val entry = col("last_page_id").isNull || col("last_page_id") === ""
    val groups = pages.groupBy("mid", "ts", "page_id")
      .agg(sum(entry.cast("long")).as("entries"), count(lit(1)).as("events"))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .withColumn("next_entries", lead("entries", 1).over(w))
      .withColumn("next_events", lead("events", 1).over(w))
      .filter(col("entries") > 0 && col("ts") + UserJump.JumpWindowMs < wmMs)
    val timeout = col("next_ts").isNull || col("next_ts") - col("ts") > UserJump.JumpWindowMs
    val unclear = !timeout && col("next_entries") > 0 && col("next_entries") < col("next_events")
    val bounce = timeout || col("next_entries") === col("next_events")
    (groups.filter(!unclear && bounce).select(col("mid"), col("ts"), col("page_id"), col("entries").as("n")),
      groups.filter(unclear).select("mid", "ts", "page_id"))
  }

  def run(c: Conf): Map[String, Any] = {
    val wl = c.wl
    val work = c.work
    val topics = s"$work/topics"
    val sinks = s"$work/sinks"
    Seq("ods_base_log", "ods_base_db", "dwd_page_log", "dwm_order_wide").foreach(t =>
      Files.createDirectories(Paths.get(s"$topics/$t")))
    Seq("dwd_order_info", "dwd_order_detail").foreach(t =>
      Files.createDirectories(Paths.get(s"$sinks/kafka/$t")))

    val spark = Session.create(c)
    val nation = nationDim(spark, c)
    val spans = new Spans(s"${c.workload}-${c.seed}")
    val progress = mutable.ArrayBuffer.empty[Progress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def eventTime(k: String) = Option(p.eventTime.get(k))
          .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(-1L)
        val rec = Progress(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
          eventTime("watermark"), eventTime("max"))
        progress.synchronized(progress += rec)
      }
    })

    val bus = FileBus(topics)
    // fact rules only: the generator sends no dimension changes, and a dim
    // rule with no input would still rewrite its snapshot every batch
    val router = new DbRouter(Seq(
      RouteRule("order_info", "insert", "kafka", "dwd_order_info", oiCols, "id"),
      RouteRule("order_detail", "insert", "kafka", "dwd_order_detail", odCols, "id")), sinks)
    def ckpt(n: String) = s"$work/ckpt/$n"
    def parquetSink(df: DataFrame, layer: String, path: String): StreamingQuery =
      df.writeStream.queryName(layer).format("parquet").option("path", path)
        .option("checkpointLocation", ckpt(layer)).outputMode("append").start()

    val (clean, _) = LogPipeline.parse(bus.tail(spark, "ods_base_log"))
    val (_, page, _) = LogPipeline.split(clean)
    def typedOrders(oi: DataFrame, od: DataFrame): (DataFrame, DataFrame) = (
      oi.select(col("id").cast("long").as("id"), col("user_id").cast("long").as("user_id"),
        col("province_id").cast("int").as("province_id"),
        col("total_amount").cast("double").as("total_amount"),
        col("create_ts").cast("long").as("create_ts")),
      od.select(col("id").cast("long").as("id"), col("order_id").cast("long").as("order_id"),
        col("sku_id").cast("long").as("sku_id"), col("order_price").cast("double").as("order_price"),
        col("create_ts").cast("long").as("create_ts")))
    def orderWide(oi: DataFrame, od: DataFrame): DataFrame = {
      val (toi, tod) = typedOrders(oi, od)
      WideJoins.enrich(WideJoins.orderWide(toi, tod), Seq(("province_id", nation, "prov_")))
        .drop("oi_time", "od_time")
    }
    def provinceInput(ow: DataFrame): DataFrame =
      ow.select(col("province_id"), col("prov_name").as("province_name"), col("order_id"),
        col("order_price").as("split_total_amount"), col("create_ts"))
    def pagesFlat(p: DataFrame): DataFrame =
      p.select(col("common.mid").as("mid"), col("page.page_id").as("page_id"),
        col("page.last_page_id").as("last_page_id"), col("ts"))

    val setup = Session.ready()
    val ready = Clock.nowMs

    // ---- phase 1: a backlog written before the queries start, drained by
    // them as a restarted pipeline catches up; each DWD layer's first batch
    // takes all of it, so batching does not depend on timing there ----
    val gen = new Generator(c, spans)
    gen.burst(wl.get("backlog_files").asInt)
    val backlogEvents = gen.events
    // CPU of the tasks, and apart that of the threads that plan and drive
    // each query
    val taskCpu = new TaskCpu(spark.sparkContext)
    def driversCpuMs = Jvm.threadsCpuMs("stream execution thread")
    val cpu0 = Jvm.cpuMs; val task0 = taskCpu.ms; val drivers0 = driversCpuMs
    val t0 = Clock.nowMs
    val qs = mutable.LinkedHashMap.empty[String, StreamingQuery]
    qs("dwd_db") = DbRouter.decodeEnvelope(bus.tail(spark, "ods_base_db"))
      .writeStream.queryName("dwd_db").foreachBatch(router.processBatch _)
      .option("checkpointLocation", ckpt("dwd_db")).start()
    qs("dwd_log") = parquetSink(page, "dwd_log", s"$topics/dwd_page_log")
    val pages = spark.readStream.schema(page.schema).parquet(s"$topics/dwd_page_log")
    def factStream(t: String, cols: Seq[String]) = spark.readStream.schema(strings(cols))
      .option("recursiveFileLookup", "true").parquet(s"$sinks/kafka/$t")
    val owStream = orderWide(factStream("dwd_order_info", oiCols), factStream("dwd_order_detail", odCols))
    qs("dwm_order_wide") = parquetSink(owStream, "dwm_order_wide", s"$topics/dwm_order_wide")
    qs("dwm_unique_visit") = parquetSink(LogPipeline.uniqueVisit(pagesFlat(pages)),
      "dwm_unique_visit", s"$sinks/dwm_unique_visit")
    qs("dwm_user_jump") = parquetSink(UserJump.detect(spark, pagesFlat(pages)).toDF(),
      "dwm_user_jump", s"$sinks/dwm_user_jump")
    qs("dws_visitor_stats") = parquetSink(StatsStreams.visitorStats(pages),
      "dws_visitor_stats", s"$sinks/dws_visitor_stats")
    val owIn = spark.readStream.schema(owStream.schema).parquet(s"$topics/dwm_order_wide")
    qs("dws_province_stats") = parquetSink(StatsStreams.provinceStats(provinceInput(owIn)),
      "dws_province_stats", s"$sinks/dws_province_stats")
    Layers.foreach(l => qs(l).processAllAvailable())
    val t1 = Clock.nowMs
    val backfillCpu = Map("task_cpu_s" -> (taskCpu.ms - task0) / 1000.0,
      "driver_cpu_s" -> (driversCpuMs - drivers0) / 1000.0,
      "process_cpu_s" -> (Jvm.cpuMs - cpu0) / 1000.0)

    // ---- phase 2: open-loop live generation at the fixed rate ----
    val liveStart = (math.ceil(t1 / 1000.0) * 1000).toLong
    gen.live(liveStart, c.seconds)
    val t2 = Clock.nowMs
    // the order path settles every live order, through DWM and the DWS
    // province stats; the other layers are stopped first, mid-flight: only
    // committed output is read back below, and each check covers exactly the
    // input its layer had committed by then
    val settle = Seq("dwd_db", "dwm_order_wide", "dws_province_stats")
    qs.filter { case (l, _) => !settle.contains(l) }.values.foreach(_.stop())
    settle.foreach(l => qs(l).processAllAvailable())
    qs.values.foreach(_.stop())
    val t3 = Clock.nowMs
    org.apache.spark.GraftSparkInternals.waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
    val prog = progress.synchronized(progress.toList)
    val stopped = Clock.nowMs

    // ---- outputs vs their batch twins over the same generated events ----
    def lastWatermark(layer: String): Long =
      prog.filter(_.layer == layer).map(_.watermarkMs).maxOption.getOrElse(-1L)
    def closed(df: DataFrame, wmMs: Long): DataFrame =
      df.filter(to_timestamp(col("edt")) <= lit(new java.sql.Timestamp(wmMs)))
    /** Windows closed by the layer's last reported watermark, on both sides
      * (a batch cut off by the stop may have committed rows it never reported).
      */
    def closedMismatches(layer: String, twin: DataFrame): (Long, Long) = {
      val wm = lastWatermark(layer)
      mismatches(closed(spark.read.parquet(s"$sinks/$layer"), wm), closed(twin, wm))
    }
    def canonRows(df: DataFrame): Seq[String] = {
      val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
      df.collect().toSeq.map(r => order.map(i => Fingerprint.canon(r.get(i))).mkString("|"))
    }
    /** (rows that differ, rows streamed) */
    def mismatches(streamed: DataFrame, twin: DataFrame): (Long, Long) = {
      val s = canonRows(streamed)
      val a = s.groupBy(identity).view.mapValues(_.size).toMap
      val b = canonRows(twin).groupBy(identity).view.mapValues(_.size).toMap
      ((a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0)).toLong).sum,
        s.size.toLong)
    }
    /** Batch ids named by the numbered files of a streaming log directory. */
    def batchIds(dir: String): Seq[Long] =
      Option(new java.io.File(dir).listFiles).toSeq.flatten.map(_.getName)
        .filter(_.matches("\\d+(\\.compact)?")).map(_.takeWhile(_.isDigit).toLong)
    /** Input files a query consumed in batches up to `last`: its file
      * source's log up to the offset the query's offset log holds for `last`
      * (no-data batches of a stateful query advance batch ids, not offsets).
      */
    def consumed(layer: String, last: Long): Seq[String] = {
      val offsets = Paths.get(s"$work/ckpt/$layer/offsets/$last")
      val upTo = if (last < 0 || !Files.exists(offsets)) -1L
        else Json.mapper.readTree(Files.readAllLines(offsets).asScala.last).get("logOffset").asLong
      Option(new java.io.File(s"$work/ckpt/$layer/sources/0").listFiles).toSeq.flatten
        .filter(_.getName.matches("\\d+(\\.compact)?")) // not the .crc sidecars
        .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")))
        .map(l => Json.mapper.readTree(l))
        .filter(_.get("batchId").asLong <= upTo).map(_.get("path").asText).distinct
    }
    def ods(files: Seq[String]): DataFrame =
      if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), graft.sources.TopicIO.valueSchema)
      else spark.read.schema(graft.sources.TopicIO.valueSchema).text(files: _*)
    // the page log's own sink log names the batches whose rows are readable
    val logFiles = consumed("dwd_log",
      batchIds(s"$topics/dwd_page_log/_spark_metadata").maxOption.getOrElse(-1L))
    val dbFiles = consumed("dwd_db", batchIds(s"$work/ckpt/dwd_db/commits").maxOption.getOrElse(-1L))
    val twinPages = LogPipeline.split(LogPipeline.parse(ods(logFiles))._1)._2
    val pageLog = spark.read.parquet(s"$topics/dwd_page_log")
    val owWm = lastWatermark("dwm_order_wide")
    val owTwin = orderWide(DbRouter.readTopic(spark, sinks, "dwd_order_info"),
      DbRouter.readTopic(spark, sinks, "dwd_order_detail"))
    val owRead = spark.read.parquet(s"$topics/dwm_order_wide")
    def owKeys(df: DataFrame) = df.filter(col("create_ts") < owWm)
      .select("order_id", "detail_id", "order_price", "prov_name")
    /** Page-log rows a DWM query consumed up to its sink's last committed batch. */
    def pagesRead(layer: String): DataFrame = {
      val files = consumed(layer, batchIds(s"$sinks/$layer/_spark_metadata").maxOption.getOrElse(-1L))
      pagesFlat(if (files.isEmpty) pageLog.limit(0) else spark.read.schema(pageLog.schema).parquet(files: _*))
    }
    val uvKeys = Seq("mid", "visit_date")
    // user jump: bounces keyed (mid, ts, page_id) with their count, for the
    // entries whose 10 s horizon the layer's last watermark had passed
    val jumpWm = lastWatermark("dwm_user_jump")
    val (jumpTwin, jumpUnclear) = bounces(pagesRead("dwm_user_jump"), jumpWm)
    val jumpStreamed = spark.read.parquet(s"$sinks/dwm_user_jump")
      .filter(col("ts") + UserJump.JumpWindowMs < jumpWm)
      .groupBy("mid", "ts", "page_id").agg(count(lit(1)).as("n"))
      .join(jumpUnclear, Seq("mid", "ts", "page_id"), "left_anti")
    val parity = Map(
      "dwd_log" -> mismatches(pageLog.select("common", "page", "ts"),
        twinPages.select("common", "page", "ts")),
      "dwm_order_wide" -> mismatches(owKeys(owRead), owKeys(owTwin)),
      "dwm_unique_visit" -> mismatches(spark.read.parquet(s"$sinks/dwm_unique_visit").select(uvKeys.map(col): _*),
        LogPipeline.uniqueVisit(pagesRead("dwm_unique_visit")).select(uvKeys.map(col): _*)),
      "dwm_user_jump" -> mismatches(jumpStreamed, jumpTwin),
      "dws_visitor_stats" -> closedMismatches("dws_visitor_stats", StatsStreams.visitorStats(pageLog)),
      "dws_province_stats" -> closedMismatches("dws_province_stats",
        StatsStreams.provinceStats(provinceInput(owTwin))))
    val consumedEvents = ods(logFiles).count() + ods(dbFiles).count()

    val checked = Clock.nowMs
    if (c.trace) {
      prog.foreach { p =>
        val total = p.durations.getOrElse("triggerExecution", 0L).toDouble
        val id = spans.add("trigger", p.startMs, p.startMs + total,
          attrs = Map("layer" -> p.layer, "batch" -> p.batch))
        var at = p.startMs
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { k => p.durations.get(k).foreach { d =>
            spans.add(k, at, at + d, id); at += d } }
      }
      spans.write(s"$work/spans.jsonl")
    }
    val stamp = Jvm.stamp(spark, c)
    val heap = Jvm.heapLiveMb()
    Session.stop(spark)
    val invalidLimit = wl.get("max_gen_late_ms").asDouble
    Map("kind" -> "stream", "stamp" -> stamp, "setup" -> setup, "heap_live_mb" -> heap,
      "backlog_events" -> backlogEvents, "backfill_cpu" -> backfillCpu,
      "phase_ms" -> Map("start" -> t0, "drained" -> t1, "live_start" -> liveStart.toDouble,
        "live_end" -> t2, "end" -> t3, "ready" -> ready, "stopped" -> stopped,
        "checked" -> checked),
      "gen_late_ms_max" -> gen.lateMaxMs,
      "invalid" -> (if (gen.lateMaxMs > invalidLimit)
        f"generator fell ${gen.lateMaxMs}%.0f ms behind its schedule (limit $invalidLimit%.0f)" else ""),
      "parity_mismatches" -> parity.map { case (k, v) => k -> v._1 },
      "parity_rows" -> parity.map { case (k, v) => k -> v._2 },
      "consumed_events" -> consumedEvents,
      "progress" -> prog.map(p => Map("layer" -> p.layer, "batch" -> p.batch, "start_ms" -> p.startMs,
        "durations" -> p.durations, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes, "watermark_ms" -> p.watermarkMs,
        "event_max_ms" -> p.eventMaxMs)))
  }
}
