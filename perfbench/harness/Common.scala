package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Arguments of one harness run (see `run.py`, which builds them). */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, data: String, work: String, config: JsonNode,
    expected: JsonNode, out: String) {
  def wl: JsonNode = config.get(workload)
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(v))
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

object Session {
  /** One local-mode session at the host's full width: one JVM runs every
    * task, so JVM-wide GC/JIT deltas belong to the work being timed. Spill,
    * shuffle and warehouse directories stay inside the run's work directory.
    */
  def create(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"graft-perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up cost from JVM start until now, when the workload is ready to
    * time: wall seconds and the process's CPU seconds.
    */
  def ready(): Map[String, Double] = Map(
    "setup_s" -> (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0,
    "setup_cpu_s" -> Jvm.cpuMs / 1000.0)
}

object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = jit.fold(0L)(_.getTotalCompilationTime)
  def codegenCompiles: Long = org.apache.spark.GraftSparkInternals.codegenCompilations
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, every thread. Unlike wall time it leaves
    * out time the host gives to other tenants.
    */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  /** CPU time of the calling thread. */
  def threadCpuMs: Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e6
  /** CPU time of the live threads whose names start with `prefix`. */
  def threadsCpuMs(prefix: String): Double = {
    val mx = ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.getName.startsWith(prefix))
      .map(t => mx.getThreadCpuTime(t.getId)).filter(_ > 0).sum / 1e6
  }

  /** Heap in use after full collections (live set, not garbage). Collects
    * until the figure settles: Spark's ContextCleaner frees the blocks of
    * unreachable RDDs asynchronously after a collection finds them.
    */
  def heapLiveMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used
    var rounds = 0
    var now = { Thread.sleep(200); used }
    while (rounds < 10 && math.abs(now - last) > (1L << 20)) {
      last = now; rounds += 1
      Thread.sleep(200)
      now = used
    }
    now / 1048576.0
  }

  def persistedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Host and configuration stamp; records with different stamps are not
    * comparable.
    */
  def stamp(spark: SparkSession, c: Conf): Map[String, Any] = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map(
      "nproc" -> c.cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> args.filter(_.startsWith("-Xmx")).lastOption.getOrElse(
        s"${Runtime.getRuntime.maxMemory / 1048576}m"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }
}

/** CPU time of every finished Spark task (run plus deserialization). */
final class TaskCpu(sc: SparkContext) extends SparkListener {
  private val ns = new java.util.concurrent.atomic.AtomicLong
  sc.addSparkListener(this)
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(te.taskMetrics).foreach(m =>
      ns.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
  /** Milliseconds so far, once the listener bus has delivered every event. */
  def ms: Double = {
    org.apache.spark.GraftSparkInternals.waitUntilListenerBusEmpty(sc, 30000L)
    ns.get / 1e6
  }
}

/** Order-independent result fingerprint: row count plus the sum (mod 2^64) of
  * one 64-bit hash per row. A row hashes its values in column-NAME order, each
  * rendered by [[Fingerprint.canon]]; `fingerprint.py` renders DuckDB results
  * the same way, so a Spark result and its oracle hash equal iff they hold the
  * same multiset of rows.
  */
object Fingerprint {
  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def num(d: Double): String = {
    val v = if (d == 0.0) 0.0 else d // -0.0 and 0.0 are one value
    "n:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(v))
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => num(x.toDouble)
    case x: Short => num(x.toDouble)
    case x: Int => num(x.toDouble)
    case x: Long => num(x.toDouble)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      "t:" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case b: Array[Byte] => "x:" + hex(b)
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case other => "?:" + other.toString
  }

  def rowHash(values: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(values.mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  /** (rows, hash as 16 hex digits) of a collected result. */
  def of(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach(r => sum += rowHash(order.map(i => canon(r.get(i))).toSeq))
    (rows.length.toLong, f"$sum%016x")
  }

  /** Checks the canonical forms against the shared vectors the Python side
    * is tested on; a JVM that renders any differently cannot be trusted to
    * match stored fingerprints.
    */
  def selfCheck(vectorsPath: String): Seq[String] = {
    Json.read(vectorsPath).elements().asScala.toSeq.flatMap { v =>
      val value = v.get("value")
      val jvm: Any = v.get("kind").asText match {
        case "null" => null
        case "bool" => value.asBoolean
        case "long" => value.asLong
        case "int" => value.asInt
        case "double" => value.asDouble
        case "float" => value.asDouble.toFloat
        case "decimal" => new java.math.BigDecimal(value.asText)
        case "string" => value.asText
        case "ts_micros" => java.time.Instant.EPOCH.plusNanos(value.asLong * 1000L)
        case "date_days" => java.time.LocalDate.ofEpochDay(value.asLong)
        case "long_array" => value.elements().asScala.map(_.asLong).toSeq
      }
      val got = canon(jvm)
      if (got == v.get("canon").asText) None
      else Some(s"${v.get("kind").asText}:${value} -> $got")
    }
  }
}

/** Spans recorded around calls into the program; kept in memory and written
  * as JSON lines when the run ends.
  */
final class Spans(runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var next = 0L
  /** An id for a span recorded later, once its children are. */
  def reserve(): Long = synchronized { next += 1; next }
  def add(name: String, startMs: Double, endMs: Double, parent: Long = -1L,
      attrs: Map[String, Any] = Map.empty, id: Long = -1L): Long = synchronized {
    val sid = if (id > 0) id else reserve()
    buf += Map("run" -> runId, "id" -> sid, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
    sid
  }
  def write(path: String): Unit = synchronized {
    val lines = buf.map(s => Json.mapper.writeValueAsString(s)).mkString("\n")
    Files.write(Paths.get(path), (lines + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Clock {
  /** Wall-clock milliseconds with sub-millisecond resolution. */
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = base + System.nanoTime() / 1e6
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("cores").toInt, o("data"), o("work"),
      Json.read(o("config")), Json.read(o("expected")), o("out"))
    val bad = Fingerprint.selfCheck(o("vectors"))
    val result: Map[String, Any] = c.workload match {
      case "_derive" => BatchRun.derive(c)
      case "stream_warehouse" => StreamRun.run(c)
      case "batch_queries" => BatchRun.run(c)
    }
    Json.write(c.out, result ++ Map("canon_selfcheck_failures" -> bad))
    System.exit(if (result.getOrElse("invalid", "") != "") 3 else 0)
  }
}
