package graft.perfbench

import graft.SparkEntry
import graft.ads.Publisher
import graft.operators.{ClusterMemo, StatsOps, TrainMemo}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The closed-loop batch workload: one client runs the workload's queries
  * back to back, in an order the seed shuffles per pass, and times each
  * query's build plus `collect()` of its full result.
  */
object BatchRun {
  /** Timed passes a run makes at least. */
  val MinPasses = 2

  final case class Op(name: String, build: SparkSession => DataFrame)

  /** Task-level totals per op, keyed by job group (traced runs only). */
  final class TaskTotals {
    @volatile var tasks = 0L
    @volatile var shuffleBytes = 0L
  }

  private def ops(c: Conf): Seq[Op] = {
    val queries = c.wl.get("queries").fieldNames().asScala.toSeq.map { n =>
      Op(n, s => SparkEntry.queries(n)(s, c.data))
    }
    val d = c.wl.get("dashboards")
    val dashboards = Json.strings(d.get("gmv_days")).map(day =>
      Op(s"ads_gmv_$day", s => Publisher.gmvByDay(s.table("province_stats"), day))) ++
      d.get("top_n").elements().asScala.map(_.asInt).map(n =>
        Op(s"ads_top_$n", s =>
          Publisher.topSeries(s.table("province_stats"), "province_name", "order_amount", n)))
    queries ++ dashboards
  }

  /** Ops of one pass: every query plus one dashboard call, which the seed
    * picks for this pass.
    */
  private def passOps(c: Conf, all: Seq[Op], pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(c.seed * 7919L + pass)
    val (dash, queries) = all.partition(_.name.startsWith("ads_"))
    rnd.shuffle(queries :+ dash(rnd.nextInt(dash.size)))
  }

  private def prepare(c: Conf)(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect() // first job: executor and codegen start
    Publisher.registerStats(spark, Map(
      "province_stats" -> StatsOps.provinceStats(spark, c.data)))
  }

  /** One untimed execution of every batch op, for `derive_expected.py`:
    * Spark's own fingerprints plus the oracle SQL of each query that has one.
    */
  def derive(c: Conf): Map[String, Any] = {
    val wc = c.copy(workload = "batch_queries")
    val spark = Session.create(wc)
    prepare(wc)(spark)
    val prints = ops(wc).map { op =>
      val df = op.build(spark)
      val (n, h) = Fingerprint.of(df.schema, df.collect())
      op.name -> Map("rows" -> n, "hash" -> h)
    }.toMap
    // n1's brute-force result is the truth the recall checks compare against
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      prints.contains(k) || k == "n1_ann_cosine_topk" }
    Session.stop(spark)
    Map("spark" -> prints, "oracle" -> oracle)
  }

  def run(c: Conf): Map[String, Any] = {
    val spark = Session.create(c)
    prepare(c)(spark)
    val sc = spark.sparkContext
    val taskCpu = new TaskCpu(sc)
    val all = ops(c)
    val expected = c.expected
    val memoConsumers = Json.strings(c.wl.get("memo_consumers")).toSet
    val modules = c.wl.get("queries")
    def moduleOf(name: String): String =
      if (name.startsWith("ads_")) "ads" else modules.get(name).asText
    val spans = new Spans(s"${c.workload}-${c.seed}")

    // traced runs only: stage -> op attribution over the listener bus
    val totals = new ConcurrentHashMap[String, TaskTotals]()
    if (c.trace) {
      val stageOp = new ConcurrentHashMap[Int, String]()
      sc.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(g => js.stageInfos.foreach(si => stageOp.put(si.stageId, g)))
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val g = stageOp.get(te.stageId)
          val tm = te.taskMetrics
          if (g != null && tm != null) {
            val t = totals.computeIfAbsent(g, _ => new TaskTotals)
            t.synchronized {
              t.tasks += 1
              t.shuffleBytes += tm.shuffleReadMetrics.totalBytesRead +
                tm.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      })
    }

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    var persistedMax = 0L
    var attempted = 0L
    val truth: Set[(Long, Long)] = expected.get("n1_truth").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    val recallMin = c.wl.get("recall_min").fieldNames().asScala.toSeq
      .map(n => n -> c.wl.get("recall_min").get(n).asDouble).toMap

    def check(op: Op, df: DataFrame, rows: Array[Row]): Option[String] = {
      val (n, hash) = Fingerprint.of(df.schema, rows)
      val exp = expected.get("fingerprints").get(op.name)
      val fp =
        if (exp == null) Some(s"${op.name}: no expected fingerprint")
        else if (exp.get("rows").asLong != n) Some(s"${op.name}: rows $n != ${exp.get("rows").asLong}")
        else if (exp.has("hash") && exp.get("hash").asText != hash)
          Some(s"${op.name}: hash $hash != ${exp.get("hash").asText}")
        else None
      fp.orElse(recallMin.get(op.name).flatMap { min =>
        val q = df.schema.fieldIndex("query_id"); val nb = df.schema.fieldIndex("neighbor_id")
        val got = rows.map(r => (r.getAs[Number](q).longValue, r.getAs[Number](nb).longValue)).toSet
        val recall = truth.count(got.contains).toDouble / math.max(1, truth.size)
        if (recall >= min) None else Some(f"${op.name}: recall $recall%.3f < $min")
      })
    }

    def runPass(pass: Int): Double = {
      val cluster0 = ClusterMemo.computeCount; val train0 = TrainMemo.computeCount
      val jit0 = Jvm.jitMs; val cg0 = Jvm.codegenCompiles
      val cpu0 = Jvm.cpuMs; val task0 = taskCpu.ms; val driver0 = Jvm.threadCpuMs
      val p0 = Clock.nowMs
      val passSpan = spans.reserve()
      passOps(c, all, pass).foreach { op =>
        val group = s"${op.name}#$pass"
        attempted += 1
        if (c.trace) sc.setJobGroup(group, op.name, interruptOnCancel = false)
        val gc0 = Jvm.gcMs
        val t0 = Clock.nowMs
        var df: DataFrame = null
        var tb = t0
        val outcome = try {
          df = op.build(spark)
          tb = Clock.nowMs
          Right(df.collect())
        } catch { case e: Throwable => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
        val te = Clock.nowMs
        if (c.trace) sc.clearJobGroup()
        val problem = outcome.fold(Some(_), rows => check(op, df, rows))
        problem.foreach(failures += _)
        var rec = Map[String, Any]("name" -> op.name, "module" -> moduleOf(op.name),
          "pass" -> pass, "op_ms" -> (te - t0))
        if (c.trace) {
          val phases = if (df == null) Map.empty[String, (Long, Long)]
            else df.queryExecution.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
          val planMs = phases.values.map { case (s, e) => (e - s).toDouble }.sum
          val qs = spans.add("query", t0, te, passSpan, Map("op" -> op.name, "module" -> moduleOf(op.name)))
          spans.add("build", t0, tb, qs)
          val planned = Seq("optimization", "planning").flatMap(phases.get)
          planned.foreach { case (s, e) => spans.add("plan", s.toDouble, e.toDouble, qs) }
          val execStart = if (planned.isEmpty) tb else math.max(tb, planned.map(_._2).max.toDouble)
          spans.add("exec", execStart, te, qs)
          persistedMax = math.max(persistedMax, Jvm.persistedBytes(spark))
          rec ++= Map("build_ms" -> (tb - t0), "plan_ms" -> planMs,
            "exec_ms" -> (te - execStart), "gc_ms" -> (Jvm.gcMs - gc0).toDouble,
            "group" -> group)
        }
        records += rec
      }
      val p1 = Clock.nowMs
      records += Map("name" -> "_pass", "pass" -> pass, "pass_s" -> (p1 - p0) / 1000.0,
        "task_cpu_s" -> (taskCpu.ms - task0) / 1000.0,
        "driver_cpu_s" -> (Jvm.threadCpuMs - driver0) / 1000.0,
        "process_cpu_s" -> (Jvm.cpuMs - cpu0) / 1000.0,
        "cluster_computes" -> (ClusterMemo.computeCount - cluster0),
        "train_computes" -> (TrainMemo.computeCount - train0),
        "memo_consumers" -> passOps(c, all, pass).count(o => memoConsumers(o.name)),
        "jit_ms" -> (Jvm.jitMs - jit0), "codegen_compiles" -> (Jvm.codegenCompiles - cg0))
      if (c.trace) spans.add("pass", p0, p1, id = passSpan)
      (p1 - p0) / 1000.0
    }

    // set-up ends with an untimed first pass, which pays JIT, codegen, the
    // cluster closure and the index training; the timed passes reuse the
    // warm session and its memos, as an interactive client does
    runPass(0)
    val setup = Session.ready()
    val start = System.nanoTime()
    var pass = 1
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    // full passes only; stop once the next pass would overrun the budget
    while (pass <= MinPasses || elapsed + last <= c.seconds) {
      last = runPass(pass)
      pass += 1
    }
    val measured = elapsed
    if (c.trace) org.apache.spark.GraftSparkInternals.waitUntilListenerBusEmpty(sc, 30000L)
    val withTasks = records.map { r =>
      r.get("group").map(g => Option(totals.get(g.toString))).flatten match {
        case Some(t) => r ++ Map("tasks" -> t.tasks, "shuffle_bytes" -> t.shuffleBytes)
        case None if c.trace && r.contains("group") => r ++ Map("tasks" -> 0L, "shuffle_bytes" -> 0L)
        case None => r
      }
    }
    if (c.trace) spans.write(s"${c.work}/spans.jsonl")
    val stamp = Jvm.stamp(spark, c)
    val heap = Jvm.heapLiveMb()
    Session.stop(spark)
    Map("kind" -> "batch", "stamp" -> stamp, "setup" -> setup,
      "measured_s" -> measured, "heap_live_mb" -> heap, "records" -> withTasks.toSeq,
      "failures" -> failures.toSeq, "attempted" -> attempted, "persisted_mb_max" -> persistedMax / 1048576.0)
  }
}
