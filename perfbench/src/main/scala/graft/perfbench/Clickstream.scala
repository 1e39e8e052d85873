package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Reference-shaped mouse events: each simulated browser buffers its
  * movements for one second and sends the buffer as one PutRecords
  * call of 60–125 records, partition key = its session id. */
object Clickstream {
  final case class Event(user: String, x: Int, y: Int, timeMs: Long) {
    def json: String =
      s"""{"user_id":"$user","x":$x,"y":$y,"time":$timeMs}"""
  }

  /** Seeded session id in UUID form (the reference mints one per
    * browser session). */
  def userId(rng: java.util.Random): String = {
    def hex(n: Int) = (0 until n).map(_ => "0123456789abcdef".charAt(rng.nextInt(16))).mkString
    s"${hex(8)}-${hex(4)}-4${hex(3)}-a${hex(3)}-${hex(12)}"
  }

  /** A cursor that walks like a pointer across a page. */
  final class Pointer(rng: java.util.Random) {
    private var x = rng.nextInt(1200)
    private var y = rng.nextInt(800)
    def step(): (Int, Int) = {
      x = math.max(0, math.min(1919, x + rng.nextInt(41) - 20))
      y = math.max(0, math.min(1079, y + rng.nextInt(41) - 20))
      (x, y)
    }
  }

  /** One second's buffer: 60–125 events created in [fromMs, fromMs+1000). */
  def buffer(user: String, ptr: Pointer, rng: java.util.Random,
             fromMs: Long): Vector[Event] = {
    val n = 60 + rng.nextInt(66)
    val offs = Array.fill(n)(rng.nextInt(1000)).sorted
    offs.iterator.map { o =>
      val (x, y) = ptr.step()
      Event(user, x, y, fromMs + o)
    }.toVector
  }

  /** Request body bytes of one PutRecords call, as the client encodes
    * it (`{"partitionKey":…,"data":<base64>}` per line). */
  def putBytes(records: Seq[(String, String)]): Long =
    records.iterator.map { case (data, pk) =>
      val n = data.getBytes("UTF-8").length
      32L + pk.length + 4L * ((n + 2) / 3)
    }.sum
}

/** Collects every micro-batch's progress report, stamped with the
  * wall-clock time the listener received it. */
final class ProgressLog extends StreamingQueryListener {
  val reports = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    reports.add((System.currentTimeMillis(), e.progress))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[(Long, StreamingQueryProgress)] = reports.asScala.toSeq
}

/** Reads the per-micro-batch numbers the streaming layer reports. */
object Progress {
  private val Num = "\"[0-9]+\":([0-9]+)".r

  /** Sum of a shard-offset JSON map (`{"0":5,"1":3}`); 0 if absent. */
  def offsetSum(json: String): Long =
    if (json == null) 0L
    else Num.findAllMatchIn(json).map(_.group(1).toLong).sum

  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)

  /** Streaming-layer metrics over a set of micro-batches, under the
    * names the benchmark reports. `batches` are the non-empty ones. */
  def layerMetrics(all: Seq[StreamingQueryProgress], r: Result): Unit = {
    val batches = all.filter(_.numInputRows > 0)
    def med(k: String) = Stats.median(batches.map(duration(_, k)))
    r.put("streaming.batch_ms_p50", med("triggerExecution"), "ms")
    r.put("streaming.batch_ms_p99", Stats.p99(batches.map(duration(_, "triggerExecution"))), "ms")
    r.put("streaming.add_batch_ms_p50", med("addBatch"), "ms")
    r.put("streaming.planning_ms_p50", med("queryPlanning"), "ms")
    r.put("streaming.commit_ms_p50",
      Stats.median(batches.map(p => duration(p, "walCommit") + duration(p, "commitOffsets"))), "ms")
    r.put("sources.latest_offset_ms_p50", med("latestOffset"), "ms")
    r.put("streaming.rows_per_batch", Stats.median(batches.map(_.numInputRows.toDouble)), "rows")
    val states = all.flatMap(_.stateOperators.headOption)
    r.put("streaming.state_rows", states.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max), "rows")
    r.put("streaming.state_bytes", states.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max), "bytes")
    r.put("streaming.late_rows", states.map(_.numRowsDroppedByWatermark.toDouble).sum, "rows")
    r.put("streaming.idle_ratio",
      if (all.isEmpty) 0.0 else all.count(_.numInputRows == 0).toDouble / all.size, "ratio")
    r.put("sources.backlog_records_max", all.flatMap(_.sources.headOption).map { s =>
      (offsetSum(s.latestOffset) - offsetSum(s.endOffset)).toDouble
    }.foldLeft(0.0)(math.max), "records")
  }

  /** Micro-batch spans from the listener's reports, each with its
    * offset-listing call as a child span of the source layer. */
  def spans(tr: Tracer, progress: Seq[StreamingQueryProgress], parent: Long): Unit =
    progress.filter(_.numInputRows > 0).foreach { p =>
      val s = tr.wallToTrace(startMs(p))
      val id = tr.record(s"microbatch-${p.batchId}", "streaming", s,
        s + (duration(p, "triggerExecution") * 1e6).toLong, parent)
      tr.record("latestOffset", "sources", s,
        s + (duration(p, "latestOffset") * 1e6).toLong, id)
    }
}
