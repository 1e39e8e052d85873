package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Order statistics over latency or size samples. Percentiles use
  * linear interpolation between closest ranks (numpy's default). */
object Stats {
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = (p / 100.0) * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 50)
  def p99(xs: Iterable[Double]): Double = percentile(xs, 99)
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** One span: a call into a layer, timed from the benchmark's side.
  * `req` groups the spans of one request or query; `parent` is the id
  * of the span that caused it (0 = none). Times are epoch nanos on
  * one monotonic base so spans from listeners line up with spans the
  * benchmark timed itself. */
final case class Span(id: Long, name: String, layer: String,
                      start: Long, end: Long, parent: Long, req: Long)

/** Span recorder. Spans stay in memory and are written once at exit.
  * When `enabled` is false every call is a pass-through that records
  * nothing, so an untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // nanoTime has an arbitrary origin; anchor it to the wall clock once
  // so listener timestamps (epoch millis) can be placed on the same axis
  private val originWall = System.currentTimeMillis() * 1000000L
  private val originNano = System.nanoTime()

  def now(): Long = originWall + (System.nanoTime() - originNano)
  def wallToTrace(epochMs: Long): Long = epochMs * 1000000L
  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, layer: String, start: Long, end: Long,
             parent: Long = 0L, req: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = nextId()
      spans.add(Span(id, name, layer, start, end, parent, req))
      id
    }

  /** Time `f` as one span of `layer`; returns f's value. */
  def span[T](name: String, layer: String, parent: Long = 0L,
              req: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = nextId()
      val t0 = now()
      try f(id)
      finally spans.add(Span(id, name, layer, t0, now(), parent, req))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer, in seconds: a span's duration minus the part
    * of its interval that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        covered.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) total += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) total += curB - curA
        (s.end - s.start - total).toDouble / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""")
        .append(s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"req":${s.req}}""")
        .append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}

/** What one run measured: metrics by name (value, unit), the
  * operation tally behind `failed`/`attempted`, and free-form context. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String] // name -> JSON
  private val attemptedN = new AtomicLong(0)
  private val failedN = new AtomicLong(0)
  val failures = new ConcurrentLinkedQueue[String]()

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def note(name: String, json: String): Unit = info(name) = json
  def attempt(n: Long = 1L): Unit = attemptedN.addAndGet(n)
  def fail(why: String): Unit = {
    failedN.incrementAndGet()
    // keep the first few messages; the count carries the rest
    if (failures.size < 20) failures.add(why)
  }
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val fs = failures.asScala.map(Json.str).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"info":$inf,"failures":$fs}"""
  }
}

/** Session construction for every workload: `local[cores]` through
  * GraftSession's own configuration, with every file Spark writes kept under
  * the run's work directory. */
object Sessions {
  def build(cores: Int, workDir: String): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** JVM-wide measurements read from the platform MXBeans. */
object Jvm {
  /** Heap still in use after a full collection, in MB: what the
    * measured phase left live (state, tables, caches), which unlike the
    * peak does not depend on when the collector happened to run. */
  def heapLiveMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def resetPeaks(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }
}
