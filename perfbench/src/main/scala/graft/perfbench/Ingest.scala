package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ShardService
import graft.streaming.MouseStream

/** `ingest_backlog`: one producer connection pushes a seeded backlog
  * through `ShardService.Client.putRecords`, then the `kinesis-sim`
  * endpoint source → `MouseStream.parse` → `aggregate(retainRaw=true)`
  * drains it to completion (closed loop, write-only). */
object Ingest {
  val Shards = 4
  /** Event-time origin of every backlog (a fixed instant, so the
    * same seed always yields the same records). */
  val T0Ms = 1755000000000L

  final case class Backlog(calls: Vector[Seq[(String, String)]],
                           tally: Map[(String, Long), Long]) {
    def events: Long = tally.values.sum
  }

  /** `users` browsers × `spanSec` seconds of 1 s buffers, in the order
    * the browsers would have sent them. */
  def backlog(seed: Long, users: Int, spanSec: Int): Backlog = {
    val rng = new java.util.Random(seed)
    val ids = Vector.fill(users)(Clickstream.userId(rng))
    val ptrs = ids.map(_ => new Clickstream.Pointer(rng))
    val tally = mutable.HashMap.empty[(String, Long), Long]
    val calls = for (s <- 0 until spanSec; u <- ids.indices) yield {
      val buf = Clickstream.buffer(ids(u), ptrs(u), rng, T0Ms + s * 1000L)
      tally((ids(u), T0Ms / 1000 + s)) = buf.size.toLong
      buf.map(e => (e.json, e.user))
    }
    Backlog(calls.toVector, tally.toMap)
  }

  final case class Produced(latMs: Vector[Double], wallS: Double,
                            ackedEvents: Long, bytes: Long)

  /** Push every call in order over one connection; each call waits for
    * the previous one's acknowledgement, then a seeded think time of up
    * to 5 ms, so that back-to-back calls do not lock onto one phase of
    * the kernel's timer tick (which would make a run's latency land on
    * one of two levels a tick apart). */
  def produce(endpoint: String, b: Backlog, tr: Tracer, r: Result,
              parent: Long, seed: Long): Produced = {
    val think = new java.util.Random(seed)
    val lat = Vector.newBuilder[Double]
    var acked = 0L
    var bytes = 0L
    val t0 = System.nanoTime()
    b.calls.foreach { recs =>
      r.attempt()
      val c0 = System.nanoTime()
      try {
        tr.span("putRecords", "sources", parent) { _ =>
          ShardService.Client.putRecords(endpoint, recs)
        }
        acked += recs.size
        bytes += Clickstream.putBytes(recs)
      } catch {
        case e: Exception => r.fail(s"putRecords: ${e.getMessage}")
      }
      lat += (System.nanoTime() - c0) / 1e6
      java.util.concurrent.locks.LockSupport.parkNanos(think.nextInt(5000000).toLong)
    }
    Produced(lat.result(), (System.nanoTime() - t0) / 1e9, acked, bytes)
  }

  final case class Drained(wallS: Double, events: Long,
                           sink: Map[(String, Long), (Long, Long)],
                           progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  /** Start the streaming query over the shard service and run it until
    * `expected` records are committed (or `timeoutS` passes). The sink
    * keeps, per (user, second), the largest count seen and the number
    * of raw events retained with it. */
  def drain(spark: SparkSession, endpoint: String, expected: Long,
            lateness: String, maxPerTrigger: Long, checkpoint: String,
            timeoutS: Double): Drained = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val sink = new ConcurrentHashMap[(String, Long), (Long, Long)]()
    val raw = spark.readStream.format("kinesis-sim")
      .option("endpoint", endpoint)
      .option("shards", Shards.toString)
      .option("maxRecordsPerTrigger", maxPerTrigger.toString)
      .load()
    val agg = MouseStream.aggregate(
      MouseStream.parse(graft.sources.KinesisRecords.toWire(raw)), lateness, retainRaw = true)
    val t0 = System.currentTimeMillis()
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("user_id"), col("sec"), col("cnt"), size(col("movs")))
          .collect().foreach { row =>
            val k = (row.getString(0), row.getLong(1))
            val v = (row.getLong(2), row.getInt(3).toLong)
            sink.merge(k, v, (a, b) => if (b._1 >= a._1) b else a)
          }
      }
      .start()
    def committed = log.all.map(_._2.numInputRows).sum
    val deadline = t0 + (timeoutS * 1000).toLong
    while (committed < expected && q.exception.isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
    val endMs = log.all.lastOption.map(_._1).getOrElse(System.currentTimeMillis())
    q.stop()
    spark.streams.removeListener(log)
    q.exception.foreach(e => throw e)
    Drained((endMs - t0) / 1000.0, committed, sink.asScala.toMap, log.all.map(_._2))
  }

  /** Every (user, second) at the sink equals the generator's tally,
    * with as many raw events retained as counted, and the total equals
    * the events acknowledged. */
  def check(b: Backlog, p: Produced, d: Drained, r: Result): Unit = {
    b.tally.foreach { case (k, n) =>
      r.attempt()
      d.sink.get(k) match {
        case Some((cnt, movs)) if cnt == n && movs == n => ()
        case other => r.fail(s"window $k: expected $n, sink has $other")
      }
    }
    val extra = d.sink.keySet -- b.tally.keySet
    r.attempt()
    if (extra.nonEmpty) r.fail(s"${extra.size} windows at the sink were never produced")
    r.attempt()
    val total = d.sink.values.map(_._1).sum
    if (total != p.ackedEvents || d.events != p.ackedEvents)
      r.fail(s"sink total $total, committed ${d.events}, acked ${p.ackedEvents}")
  }
}

object IngestWorkload {
  /** Browsers in the backlog. Its event-time span is one second per
    * second of run time: over one connection a PutRecords call takes
    * tens of milliseconds, so producing the backlog fills about the
    * run's `--seconds`. */
  val Users = 20
  /** Drains of the same backlog, each from a fresh checkpoint. The
    * ingest rate is the fastest drain's: later drains run on warmer
    * code, and a co-tenant stealing cores only ever slows one down. */
  val Drains = 3
  val MaxPerTrigger = 5000L

  def run(a: Main.Args, r: Result, tr: Tracer): Unit = {
    val spanSec = a.seconds
    // the backlog replays in bounded batches whose shard frontiers
    // drift apart in event time; a watermark delay longer than the
    // whole span keeps every record countable
    val lateness = s"${spanSec + 60} seconds"
    def serve[T](name: String)(f: String => T): T = {
      val svc = ShardService.start(Main.dir(a, name), Ingest.Shards)
      try f(s"http://localhost:${svc.getAddress.getPort}") finally svc.stop(0)
    }
    def drainChecked(s: SparkSession, ep: String, b: Ingest.Backlog,
                     p: Ingest.Produced, ckpt: String): Ingest.Drained = {
      val d = Ingest.drain(s, ep, p.ackedEvents, lateness, MaxPerTrigger,
        Main.dir(a, ckpt), 60)
      Ingest.check(b, p, d, r)
      d
    }

    val spark = Main.setup(a, r, tr) { (s, i) =>
      val b = Ingest.backlog(a.seed * 31 + i, 4, 3)
      serve(s"warm-store-$i") { ep =>
        drainChecked(s, ep, b, Ingest.produce(ep, b, new Tracer(false), r, 0L, a.seed), s"warm-ckpt-$i")
      }
    }
    val b = Ingest.backlog(a.seed, Users, spanSec)
    r.note("loop", "\"closed: one producer connection, then the drains\"")
    r.note("backlog", s"""{"users":$Users,"span_s":$spanSec,"events":${b.events},"calls":${b.calls.size},"shards":${Ingest.Shards},"max_records_per_trigger":$MaxPerTrigger,"drains":$Drains}""")

    Jvm.resetPeaks()
    serve("store") { ep =>
      val p = Ingest.produce(ep, b, new Tracer(false), r, 0L, a.seed)
      val ds = (1 to Drains).map(i => drainChecked(spark, ep, b, p, s"ckpt-$i"))
      val drainEps = p.ackedEvents / ds.map(_.wallS).min
      r.put("latency_ms", Stats.median(p.latMs), "ms")
      r.put("throughput_per_s", drainEps, "1/s")
      r.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    r.put("jvm.heap_live_mb", Jvm.heapLiveMb, "MB")
      r.put("sources.put_ms_p50", Stats.median(p.latMs), "ms")
      r.put("sources.put_ms_p99", Stats.p99(p.latMs), "ms")
      r.put("sources.put_calls", p.latMs.size.toDouble, "count")
      r.put("sources.put_bytes", p.bytes.toDouble, "bytes")
      r.put("sources.produce_eps", p.ackedEvents / p.wallS, "1/s")
      r.put("streaming.ingest_eps", drainEps, "1/s")
      Progress.layerMetrics(ds.flatMap(_.progress), r)
      r.note("put_samples", p.latMs.size.toString)
      r.note("drain_s", ds.map(d => Json.num(d.wallS)).mkString("[", ",", "]"))
      r.note("micro_batches_per_drain", ds.head.progress.count(_.numInputRows > 0).toString)

      if (tr.enabled) {
        // the same backlog again with spans on: the difference is what
        // tracing costs
        serve("store-traced") { ep2 =>
          val p2 = tr.span("produce", "bench") { root => Ingest.produce(ep2, b, tr, r, root, a.seed) }
          r.put("trace.overhead_pct", 100.0 * (p2.wallS - p.wallS) / p.wallS, "%")
          tr.span("drain", "bench") { root =>
            Progress.spans(tr, drainChecked(spark, ep2, b, p2, "ckpt-traced").progress, root)
          }
          // the one-core baseline: the same drain on a local[1] session
          Sessions.stop(spark)
          val one = Sessions.build(1, a.workDir)
          val d1 = tr.span("drain-1core", "bench") { root =>
            val d1 = drainChecked(one, ep2, b, p2, "ckpt-1core")
            Progress.spans(tr, d1.progress, root)
            d1
          }
          r.put("streaming.ingest_eps_1core", d1.events / d1.wallS, "1/s")
        }
      }
    }
  }
}
