package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints its metrics; see
  * perfbench/README.md. Started by perfbench/run.py, which passes the
  * workload, seed, seconds and trace flag through, plus the launch time (so
  * JVM start counts as set-up), a scratch directory and the artifact path.
  * The last stdout line is `PERFBENCH_RESULT {...}` with every metric by
  * name; run.py turns it into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    // run.py holds our stdin open; end of input means it is gone, so stop
    val watchdog = new Thread(() => { while (System.in.read() >= 0) {}; Runtime.getRuntime.halt(3) })
    watchdog.setDaemon(true)
    watchdog.start()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { run(opts, mainMs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private case class Iter(startMs: Long, endMs: Long, wall: Double, res: IterResult,
      fallbacks: Long)

  private def run(opts: Map[String, String], mainMs: Long): Unit = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val workDir = opts("work-dir")
    def secsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

    val jvmS = (mainMs - opts("launch-ms").toLong) / 1e3
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = secsSince(t0)
    val w = Workloads(name, spark, seed, opts("expected"))
    val inputS = Stats.median((1 to 3).map { i =>
      val t = System.nanoTime(); w.prepare(s"$workDir/input$i"); secsSince(t)
    })
    val tc = System.nanoTime()
    w.check()
    val checkS = secsSince(tc)

    var attempted, failed = 0
    def count(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    val untraced = new Spans(false)
    /** One checked iteration; None if it threw or its output was wrong. */
    def attempt(spans: Spans, fallbacks: => Long): Option[Iter] = {
      val f0 = fallbacks
      val s = System.currentTimeMillis()
      val r =
        try Some(spans("iteration") { w.iterate(spans) })
        catch { case e: Throwable => System.err.println(s"[perfbench] iteration failed: $e"); None }
      val e = System.currentTimeMillis()
      r.filter(_._2.ok).map { case (wall, res) => Iter(s, e, wall, res, fallbacks - f0) }
    }
    val tw = System.nanoTime()
    val warm = w.warmup(() => attempt(untraced, 0L).nonEmpty)
    warm.foreach(count)
    val setupS = jvmS + sessionS + inputS + secsSince(tw)

    def loop(spans: Spans, budget: Double, fallbacks: => Long): Seq[Iter] = {
      val start = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Iter]
      while (out.isEmpty || secsSince(start) < budget) {
        val it = attempt(spans, fallbacks)
        count(it.nonEmpty)
        out ++= it
        if (it.isEmpty && secsSince(start) >= budget) return out.toSeq
      }
      out.toSeq
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      val its = loop(untraced, seconds, 0L)
      require(its.nonEmpty, "every timed iteration failed")
      metrics("wall_s") = Stats.median(its.map(_.wall))
      metrics("setup_s") = setupS
      its.head.res.parts.keys.foreach(k => metrics(k) = Stats.median(its.map(_.res.parts(k))))
      println(f"iterations: ${its.size}%d timed, ${warm.size}%d warm-up; walls " +
        its.map(i => f"${i.wall}%.3f").mkString(" "))
      println(f"setup parts: jvm $jvmS%.3f s, session $sessionS%.3f s, input $inputS%.3f s (median of 3); " +
        f"reference check $checkS%.3f s (not set-up)")
    } else {
      val plain = loop(untraced, seconds / 2, 0L)
      val trace = new SparkTrace(spark)
      val spans = new Spans(true)
      trace.start()
      val its = loop(spans, seconds / 2, trace.codegenFallbacks.get)
      trace.stop()
      require(plain.nonEmpty && its.nonEmpty, "every timed iteration failed")
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      val after = w.afterLoop()
      val perIter = its.map { it =>
        val st = ExecStats.of(trace, it.startMs, it.endMs)
        val m = mutable.LinkedHashMap[String, Double](
          "exec.jobs" -> st.jobs, "exec.stages" -> st.stages, "exec.tasks" -> st.tasks,
          "exec.job_ms" -> st.jobMs.toDouble, "exec.task_ms" -> st.taskMs.toDouble,
          "exec.cpu_ms" -> st.cpuMs.toDouble, "exec.gc_ms" -> st.gcMs.toDouble,
          "exec.driver_gap_ms" -> st.driverGapMs.toDouble,
          "io.shuffle_bytes" -> st.shuffleBytes.toDouble, "io.spill_bytes" -> st.spillBytes.toDouble,
          "catalyst.analysis_ms" -> st.analysisMs.toDouble,
          "catalyst.optimization_ms" -> st.optimizationMs.toDouble,
          "catalyst.planning_ms" -> st.planningMs.toDouble,
          "codegen.fallbacks" -> it.fallbacks.toDouble)
        it.res.windows.foreach { win =>
          val ws = ExecStats.of(trace, win.startMs, win.endMs)
          if (win.name == "plug") {
            m("plug.stage_jobs") = ws.jobs
            m("plug.stage_ms") = ws.jobMs.toDouble
            m("plug.build_ms") = it.res.counts("plug.plug_ms") - ws.jobMs
          } else m(s"q.${win.name}.driver_gap_ms") = ws.driverGapMs.toDouble
        }
        it.res.counts.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
        m
      }
      perIter.flatMap(_.keys).distinct.foreach(k => metrics(k) = Stats.median(perIter.map(_.getOrElse(k, 0.0))))
      its.head.res.parts.keys.foreach(k => metrics(k) = Stats.median(its.map(_.res.parts(k))))
      metrics ++= after
      metrics("jvm.heap_peak_mb") = heapPeakMb
      metrics("trace.wall_s") = Stats.median(its.map(_.wall))
      metrics("trace.untraced_wall_s") = Stats.median(plain.map(_.wall))
      metrics("trace.overhead_ratio") = metrics("trace.wall_s") / metrics("trace.untraced_wall_s")
      println(f"iterations: ${plain.size}%d untraced, ${its.size}%d traced, ${warm.size}%d warm-up")
      opts.get("artifact").foreach { path =>
        Artifact.write(path, name, seed, seconds, metrics.toSeq, perIter.map(_.toSeq), spans.all)
        println(s"trace artifact: $path")
      }
    }
    metrics("fail_ratio") = failed.toDouble / attempted
    metrics.foreach { case (k, v) => println(f"metric $k%-40s $v%.6f") }
    println("PERFBENCH_RESULT " + Artifact.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Artifact.obj(metrics.toSeq.map {
        case (k, v) => k -> Artifact.num(v) }))))
    spark.stop()
  }
}

/** The traced run's JSON artifact: per-layer metrics, per-iteration
  * numbers and every span. */
object Artifact {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def write(path: String, workload: String, seed: Long, seconds: Double,
      metrics: Seq[(String, Double)], iterations: Seq[Seq[(String, Double)]], spans: Seq[Span]): Unit = {
    val json = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "seconds" -> num(seconds),
      "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }),
      "iterations" -> arr(iterations.map(m => obj(m.map { case (k, v) => k -> num(v) }))),
      "spans" -> arr(spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))))))
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json + "\n")
  }
}
