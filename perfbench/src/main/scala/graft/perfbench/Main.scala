package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1
  *        --workdir DIR --out FILE [workload options]
  *
  * Writes one JSON object to `--out` (metrics, operation tally, run
  * context) and, with tracing on, the spans next to it. `run.py` builds
  * this, launches it and prints the result; see that file for the
  * workloads and metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, workDir: String, out: String,
                        opts: Map[String, String]) {
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("workdir"), need("out"),
      kv -- Seq("workload", "seed", "seconds", "trace", "workdir", "out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = new Result
    val tr = new Tracer(a.trace)
    // a hung run must still end, and end as a failure
    val limitS = a.opts.get("timeout").map(_.toInt).getOrElse(170)
    val watchdog = new Thread(() => {
      Thread.sleep(limitS * 1000L)
      System.err.println(s"[perfbench] run exceeded ${limitS}s; aborting")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()

    r.note("seed", a.seed.toString)
    r.note("nproc", a.cores.toString)
    r.note("loadavg_start", Json.num(Jvm.loadavg()))
    val code =
      try {
        a.workload match {
          case "ingest_backlog"  => IngestWorkload.run(a, r, tr)
          case "dashboard_live"  => DashboardWorkload.run(a, r, tr)
          case "analytics_batch" => AnalyticsWorkload.run(a, r, tr)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          r.attempt(); r.fail(s"run aborted: $e")
          1
      }
    r.note("loadavg_end", Json.num(Jvm.loadavg()))
    if (a.trace) {
      tr.write(Paths.get(a.out + ".spans.jsonl"))
      tr.selfSeconds.foreach { case (layer, s) => r.put(s"$layer.self_s", s, "s") }
      r.put("trace.spans", tr.all.size.toDouble, "count")
    }
    Files.write(Paths.get(a.out), r.toJson.getBytes("UTF-8"))
    log("result written")
    // exit explicitly and at once: non-daemon server pools and Spark's
    // maintenance threads would otherwise keep the JVM alive after main
    // returns, and the shutdown hooks only clean up the work directory,
    // which the caller removes
    Runtime.getRuntime.halt(code)
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.2fs] $msg")

  /** Set up three times — build a session, then run the workload's
    * warm-up — and keep the last session. `setup_s` is the median of
    * the builds-plus-warm-ups, so the JVM's cold first one never is. */
  def setup(a: Args, r: Result, tr: Tracer)
           (warm: (SparkSession, Int) => Unit): SparkSession = {
    var spark: SparkSession = null
    val builds = Vector.newBuilder[Double]
    val warms = Vector.newBuilder[Double]
    (1 to 3).foreach { i =>
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = tr.span("session.build", "session") { _ =>
        Sessions.build(a.cores, a.workDir)
      }
      val t1 = System.nanoTime()
      tr.span("session.warmup", "session") { _ => warm(spark, i) }
      val t2 = System.nanoTime()
      builds += (t1 - t0) / 1e9
      warms += (t2 - t1) / 1e9
      log(s"set-up $i done")
    }
    val b = builds.result()
    val w = warms.result()
    r.put("setup_s", Stats.median(b.indices.map(i => b(i) + w(i))), "s")
    r.put("session.build_s", Stats.median(b), "s")
    r.put("session.warmup_s", Stats.median(w), "s")
    r.note("setup_runs_s", b.indices.map(i => Json.num(b(i) + w(i))).mkString("[", ",", "]"))
    spark
  }

  def dir(a: Args, name: String): String = {
    val p = Paths.get(a.workDir, name)
    Files.createDirectories(p)
    p.toString
  }
}
