package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.serve.QueryEdge
import graft.sources.{KinesisRecords, ShardService}
import graft.streaming.MouseStream

/** One simulated browser: its 1 s buffers, what it has sent, and its
  * poll continuation token. */
final class Browser(val user: String, seed: Long, val startMs: Long) {
  private val rng = new java.util.Random(seed)
  private val ptr = new Clickstream.Pointer(rng)
  /** (second -> events sent), only counting acknowledged puts. */
  val tally = new ConcurrentHashMap[Long, Long]()
  /** second -> creation time of the window's last event */
  val lastCreated = new ConcurrentHashMap[Long, Long]()
  /** seconds whose every event has been acknowledged */
  @volatile var completeBefore: Long = startMs / 1000
  /** windows this browser has read back with their full count */
  val seenFull = ConcurrentHashMap.newKeySet[Long]()
  @volatile var token: Long = startMs / 1000 - 1

  /** The buffer of the second before `dueMs`. */
  def buffer(dueMs: Long): Vector[Clickstream.Event] =
    synchronized { Clickstream.buffer(user, ptr, rng, dueMs - 1000) }

  def acked(events: Seq[Clickstream.Event], dueMs: Long): Unit = {
    events.groupBy(_.timeMs / 1000).foreach { case (sec, es) =>
      tally.merge(sec, es.size.toLong, (a, b) => a + b)
      lastCreated.merge(sec, es.map(_.timeMs).max, (a, b) => math.max(a, b))
    }
    // every window that ends at or before the buffer's end is complete
    completeBefore = math.max(completeBefore, dueMs / 1000)
  }

  /** Advance the token past every window read back in full. */
  def advance(): Unit = {
    var t = token
    while (seenFull.contains(t + 1)) t += 1
    token = t
  }
}

/** One dashboard read as the client saw it. */
final case class Read(kind: String, browser: Browser, dueMs: Long,
                      endMs: Long, ok: Boolean,
                      rows: Seq[(Long, Long, Int)], step: Int)

object Dashboard {
  private val Row = """\{"timestamp":(-?[0-9]+),"count":([0-9]+)(?:,"movs":\[([^\]]*)\])?\}""".r

  def get(url: String): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(20000)
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    if (code != 200) throw new java.io.IOException(s"HTTP $code: $body")
    body
  }

  /** (second, count, raw events returned) per row of a response. */
  def rows(body: String): Seq[(Long, Long, Int)] =
    Row.findAllMatchIn(body).map { m =>
      val movs = Option(m.group(3)).map(_.count(_ == '{')).getOrElse(-1)
      (m.group(1).toLong, m.group(2).toLong, movs)
    }.toSeq
}

/** `dashboard_live`: browsers write and read at once against the live
  * wiring `kinesis-sim` endpoint → `MouseStream.startToMemory` →
  * `QueryEdge`. Open loop: every operation has a due time, and a late
  * operation is timed from when it was due. */
object DashboardWorkload {
  /** Browsers at each ladder step. */
  val Ladder = Seq(3, 6)
  val PollEveryMs = 2000L
  val HeatmapEveryMs = 10000L
  /** A step is sustained if its read p90 stays under this and the
    * generator and stream keep up. */
  val LatencyLimitMs = 1500.0
  val Table = "movements"

  final class Live(a: Main.Args, spark: SparkSession, tag: String) {
    val svc = ShardService.start(Main.dir(a, s"$tag-store"), Ingest.Shards)
    val shardEp = s"http://localhost:${svc.getAddress.getPort}"
    val log = new ProgressLog
    spark.streams.addListener(log)
    val table = s"${Table}_$tag"
    val query = MouseStream.startToMemory(spark,
      MouseStream.parse(KinesisRecords.toWire(spark.readStream.format("kinesis-sim")
        .option("endpoint", shardEp).option("shards", Ingest.Shards.toString).load())),
      table)
    val edge = QueryEdge.start(spark, table)
    val edgeEp = s"http://localhost:${edge.getAddress.getPort}"
    /** Wait (at most `timeoutMs`) until the stream has committed every
      * record the shard service holds. */
    def settle(timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def latest = (0 until Ingest.Shards).map(ShardService.Client.latest(shardEp, _)).sum
      def committed = Option(query.lastProgress)
        .flatMap(_.sources.headOption).map(s => Progress.offsetSum(s.endOffset)).getOrElse(-1L)
      while (committed < latest && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    def watermarkMs: Long =
      log.all.lastOption.map(p => Progress.watermarkMs(p._2)).getOrElse(0L)
    def stop(): Unit = {
      try query.stop() finally {
        spark.streams.removeListener(log)
        edge.stop(0)
        svc.stop(0)
      }
    }
  }

  /** Drives browsers against one live wiring. Puts go through one
    * producer thread (one connection); reads through `readers`
    * threads. */
  final class Traffic(live: Live, r: Result, tr: Tracer, readers: Int) {
    private val putPool = Executors.newSingleThreadExecutor()
    private val readPool = Executors.newFixedThreadPool(readers)
    val reads = new ConcurrentLinkedQueue[Read]()
    val putLat = new ConcurrentLinkedQueue[Double]()
    val lateMs = new ConcurrentLinkedQueue[(Int, Double)]()
    val step = new AtomicInteger(0)
    val reqIds = new AtomicLong(0)

    def put(b: Browser, dueMs: Long): Unit = putPool.execute { () =>
      val s = step.get
      val start = System.currentTimeMillis()
      lateMs.add((s, (start - dueMs).toDouble))
      val events = b.buffer(dueMs)
      r.attempt()
      try {
        tr.span("putRecords", "sources", req = reqIds.incrementAndGet()) { _ =>
          ShardService.Client.putRecords(live.shardEp, events.map(e => (e.json, e.user)))
        }
        b.acked(events, dueMs)
      } catch { case e: Exception => r.fail(s"putRecords: ${e.getMessage}") }
      putLat.add((System.currentTimeMillis() - dueMs).toDouble)
    }

    def read(kind: String, b: Browser, dueMs: Long): Unit = readPool.execute { () =>
      val s = step.get
      val start = System.currentTimeMillis()
      lateMs.add((s, (start - dueMs).toDouble))
      val q = kind match {
        case "poll"    => s"${b.token}"
        case "initial" => s"${start / 1000}?reverse=true"
        case _         => s"${start / 1000}?reverse=true&count=false&limit=10"
      }
      val wm = live.watermarkMs
      r.attempt()
      val (ok, rows) =
        try {
          val body = tr.span(s"GET $kind", "serve", req = reqIds.incrementAndGet()) { _ =>
            Dashboard.get(s"${live.edgeEp}/users/${b.user}/movements/$q")
          }
          (true, Dashboard.rows(body))
        } catch {
          case e: Exception => r.fail(s"$kind read: ${e.getMessage}"); (false, Nil)
        }
      val end = System.currentTimeMillis()
      rows.foreach { case (sec, cnt, movs) =>
        val want = b.tally.getOrDefault(sec, 0L)
        val settled = (sec + 1) * 1000 <= wm && sec < b.completeBefore
        if (cnt > want || (settled && cnt != want) || (settled && movs >= 0 && movs != want))
          r.fail(s"$kind ${b.user} sec $sec: read count $cnt (movs $movs), sent $want")
        if (cnt == want && sec < b.completeBefore) b.seenFull.add(sec)
      }
      b.advance()
      reads.add(Read(kind, b, dueMs, end, ok, rows, s))
    }

    /** Schedule browser `b`'s operations from its start until `until`:
      * the initial load at its start, a put every second, a poll every
      * `pollMs` and a heatmap read every `heatmapMs`. */
    def schedule(b: Browser, until: Long, withReads: Boolean,
                 pollMs: Long = PollEveryMs,
                 heatmapMs: Long = HeatmapEveryMs): Seq[(Long, () => Unit)] = {
      val ops = Seq.newBuilder[(Long, () => Unit)]
      if (withReads) ops += ((b.startMs, () => read("initial", b, b.startMs)))
      var t = b.startMs + 1000
      while (t < until) { val d = t; ops += ((d, () => put(b, d))); t += 1000 }
      if (withReads) {
        t = b.startMs + pollMs
        while (t < until) { val d = t; ops += ((d, () => read("poll", b, d))); t += pollMs }
        t = b.startMs + heatmapMs
        while (t < until) { val d = t; ops += ((d, () => read("heatmap", b, d))); t += heatmapMs }
      }
      ops.result()
    }

    /** Dispatch operations at their due times (the loop itself never
      * waits on a reply). */
    def dispatch(ops: Seq[(Long, () => Unit)]): Unit =
      ops.sortBy(_._1).foreach { case (due, op) =>
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        op()
      }

    def shutdown(): Unit = {
      putPool.shutdown(); readPool.shutdown()
      putPool.awaitTermination(30, TimeUnit.SECONDS)
      readPool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  /** Freshness per window: from the creation of its last event to the
    * end of the first read that returned it with its full count. */
  def freshness(reads: Seq[Read]): Seq[Double] =
    reads.filter(_.kind == "poll").groupBy(_.browser).toSeq.flatMap { case (b, rs) =>
      val first = scala.collection.mutable.HashMap.empty[Long, Long]
      rs.sortBy(_.endMs).foreach { rd =>
        rd.rows.foreach { case (sec, cnt, _) =>
          if (sec < b.completeBefore && cnt == b.tally.getOrDefault(sec, -1L) &&
              !first.contains(sec)) first(sec) = rd.endMs
        }
      }
      first.toSeq.map { case (sec, t) => (t - b.lastCreated.get(sec)).toDouble }
    }

  def run(a: Main.Args, r: Result, tr: Tracer): Unit = {
    val readers = math.max(1, a.cores - 1)
    val rng = new java.util.Random(a.seed)
    def browsers(n: Int, at: Long) = Vector.fill(n) {
      new Browser(Clickstream.userId(rng), rng.nextLong(), at + rng.nextInt(1000))
    }
    val spark = Main.setup(a, r, tr) { (s, i) =>
      // one browser for a few seconds: every call shape, warm
      val live = new Live(a, s, s"warm$i")
      val d = new Traffic(live, r, new Tracer(false), readers)
      try {
        val now = System.currentTimeMillis()
        val b = browsers(1, now).head
        d.dispatch(d.schedule(b, b.startMs + 1500, withReads = true,
          pollMs = 1100, heatmapMs = 1200))
        d.shutdown()
      } finally live.stop()
    }

    Jvm.resetPeaks()
    val live = new Live(a, spark, "live")
    val d = new Traffic(live, r, tr, readers)
    // each step runs two run-lengths, so that a four-second run gathers
    // some fifty freshness samples
    val stepMs = 2 * a.seconds * 1000L
    val t0 = System.currentTimeMillis() + 200
    val all = scala.collection.mutable.ArrayBuffer.empty[Browser]
    val stepBounds = Ladder.indices.map(i => (t0 + i * stepMs, t0 + (i + 1) * stepMs))
    val endOpen = t0 + Ladder.size * stepMs
    // the closed-loop phase follows the ladder, once the browsers have
    // stopped writing: it measures what the edge serves from the table
    // the ladder built, without micro-batches competing for the cores
    val satMs = a.seconds * 1000L
    val ops = Ladder.indices.flatMap { i =>
      val (from, until) = stepBounds(i)
      val add = browsers(Ladder(i) - all.size, from)
      all ++= add
      // browsers stay through the later steps
      add.flatMap(b => d.schedule(b, endOpen, withReads = true)) ++
        Seq((from, () => d.step.set(i)))
    }
    d.dispatch(ops)
    d.shutdown()
    live.settle(10000)
    // closed loop: one reader polls back to back, so each read's time
    // is the edge's service time
    def closedLoop(t: Tracer): Seq[Double] = {
      val lat = Vector.newBuilder[Double]
      val end = System.currentTimeMillis() + satMs
      var k = 0
      while (System.currentTimeMillis() < end) {
        val b = all(k % all.size); k += 1
        val t0 = System.nanoTime()
        r.attempt()
        try {
          t.span("GET poll (closed)", "serve", req = d.reqIds.incrementAndGet()) { _ =>
            Dashboard.get(s"${live.edgeEp}/users/${b.user}/movements/${b.token}")
          }
          lat += (System.nanoTime() - t0) / 1e6
        } catch { case e: Exception => r.fail(s"closed-loop read: ${e.getMessage}") }
      }
      lat.result()
    }
    val sat = closedLoop(new Tracer(false))
    if (tr.enabled) {
      // the same phase with spans on: the difference is what tracing costs
      val traced = closedLoop(tr)
      r.put("trace.overhead_pct",
        100.0 * (Stats.median(traced) - Stats.median(sat)) / Stats.median(sat), "%")
    }

    // a direct range read per browser: the serve layer without HTTP
    val rangeMs = all.map { b =>
      tr.span("range", "serve") { _ =>
        val t = System.nanoTime()
        MouseStream.range(spark, live.table, b.user, b.token).collect()
        (System.nanoTime() - t) / 1e6
      }
    }
    val tableRows = spark.table(live.table).count()
    val progress = live.log.all
    Progress.spans(tr, progress.map(_._2), 0L)
    live.stop()

    // per step: read latency from due time, generator lateness, and
    // whether the stream kept up
    val reads = d.reads.asScala.toSeq
    val lates = d.lateMs.asScala.toSeq
    val steps = Ladder.indices.map { i =>
      val (from, until) = stepBounds(i)
      val rs = reads.filter(_.step == i)
      val lat = rs.map(x => (x.endMs - x.dueMs).toDouble)
      val late = lates.filter(_._1 == i).map(_._2)
      val backlog = progress.filter { case (t, _) => t >= from && t < until }
        .flatMap(_._2.sources.headOption)
        .map(s => Progress.offsetSum(s.latestOffset) - Progress.offsetSum(s.endOffset))
      // the stream keeps up if, by the step's end, no more than two
      // seconds of the browsers' input waits unread
      val growing = backlog.lastOption.exists(_ > 2 * 125L * Ladder(i))
      val p90 = Stats.percentile(lat, 90)
      val ok = rs.nonEmpty && rs.forall(_.ok) && p90 <= LatencyLimitMs &&
        Stats.percentile(late, 90) < 1000 && !growing
      (Ladder(i), rs, lat, late, ok)
    }
    val sustained = steps.takeWhile(_._5).map(_._1)
    val ladderLat = steps.flatMap(_._3)
    val okReads = reads.filter(_.ok)
    def kindLat(k: String) = okReads.filter(_.kind == k).map(x => (x.endMs - x.dueMs).toDouble)
    val fresh = freshness(reads)
    // a dashboard user waits on freshness: how long after an event the
    // chart shows it
    r.put("latency_ms", Stats.median(fresh), "ms")
    r.put("serve.read_ms_p50", Stats.median(ladderLat), "ms")
    r.put("serve.read_ms_p90", Stats.percentile(ladderLat, 90), "ms")
    // the edge serves one read at a time, so its capacity is one read
    // per service time; the median makes that robust to a stray pause
    r.put("throughput_per_s", 1000.0 / Stats.median(sat), "1/s")
    r.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    r.put("jvm.heap_live_mb", Jvm.heapLiveMb, "MB")
    r.put("serve.poll_ms_p50", Stats.median(kindLat("poll")), "ms")
    r.put("serve.poll_ms_p99", Stats.p99(kindLat("poll")), "ms")
    r.put("serve.initial_ms_p50", Stats.median(kindLat("initial")), "ms")
    r.put("serve.heatmap_ms_p50", Stats.median(kindLat("heatmap")), "ms")
    r.put("serve.heatmap_ms_p99", Stats.p99(kindLat("heatmap")), "ms")
    r.put("serve.closed_ms_p50", Stats.median(sat), "ms")
    r.put("serve.range_ms_p50", Stats.median(rangeMs), "ms")
    r.put("serve.rows_per_response", Stats.median(okReads.map(_.rows.size.toDouble)), "rows")
    r.put("serve.table_rows", tableRows.toDouble, "rows")
    r.put("serve.errors", reads.count(!_.ok).toDouble, "count")
    r.put("serve.freshness_ms_p50", Stats.median(fresh), "ms")
    r.put("serve.freshness_ms_p99", Stats.p99(fresh), "ms")
    r.put("serve.max_clients", sustained.lastOption.getOrElse(0).toDouble, "count")
    r.put("serve.generator_late_ms_p99", Stats.p99(lates.map(_._2)), "ms")
    val puts = d.putLat.asScala
    r.put("sources.put_ms_p50", Stats.median(puts), "ms")
    r.put("sources.put_ms_p99", Stats.p99(puts), "ms")
    r.put("sources.put_calls", puts.size.toDouble, "count")
    Progress.layerMetrics(progress.map(_._2), r)
    r.note("loop", "\"open: browsers on a fixed schedule, then a closed-loop read phase\"")
    r.note("ladder", steps.map { case (c, rs, lat, late, ok) =>
      s"""{"clients":$c,"reads":${rs.size},"read_ms_p50":${Json.num(Stats.median(lat))},""" +
        s""""read_ms_p90":${Json.num(Stats.percentile(lat, 90))},"late_ms_p90":${Json.num(Stats.percentile(late, 90))},"sustained":$ok}"""
    }.mkString("[", ",", "]"))
    r.note("step_s", (stepMs / 1000).toString)
    r.note("rates", s"""{"put_per_s":1,"poll_every_s":${PollEveryMs / 1000.0},"heatmap_every_s":${HeatmapEveryMs / 1000.0},"open_loop_readers":$readers,"closed_loop_readers":1}""")
    r.note("samples", s"""{"ladder_reads":${ladderLat.size},"freshness":${fresh.size},"closed_loop":${sat.size}}""")
  }
}
