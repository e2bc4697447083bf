package perfbench

import scala.collection.mutable

import graft.plug._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** A named interval inside an iteration (the plug() call, one query), in
  * wall-clock ms, for attributing Spark jobs to it. */
case class Window(name: String, startMs: Long, endMs: Long)

/** One timed iteration's outcome. `parts` splits the wall time into named
  * shares (ops_mix: scan and commit); `counts` holds per-iteration layer
  * numbers the workload measures itself. */
case class IterResult(ok: Boolean, parts: Map[String, Double], counts: Map[String, Double],
    windows: Seq[Window])

/** A closed-loop workload with one client thread. `prepare` registers the
  * inputs (run several times, to time it); `iterate` runs one timed unit and
  * checks its output outside the timed region. */
trait Workload {
  def prepare(dir: String): Unit
  def check(): Unit = ()
  /** One timed iteration; `spans` records its layer boundaries when tracing. */
  def iterate(spans: Spans): (Double, IterResult)
  /** Per-layer numbers measured once after the timed loop (traced runs). */
  def afterLoop(): Map[String, Double] = Map.empty
  /** Runs the untimed warm-up and returns one ok flag per warm-up
    * iteration; `iterateOnce` runs and checks one iteration. */
  def warmup(iterateOnce: () => Boolean): Seq[Boolean] = Seq.fill(8)(iterateOnce())
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, expectedFile: String): Workload = name match {
    case "plug_plain" => new PlugWorkload(spark, seed, rows = 100000, nRules = 100,
      audit = false, checkpoint = false)
    case "plug_audit" => new PlugWorkload(spark, seed, rows = 40000, nRules = 25,
      audit = true, checkpoint = false)
    case "plug_long_chain" => new PlugWorkload(spark, seed, rows = 40000, nRules = 150,
      audit = false, checkpoint = true)
    case "ops_mix" => new OpsMix(spark, seed, expectedFile)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** A seeded rule chain plugged over a seeded lineitem table. `audit` turns
  * on plug details, accumulators and keep-old copies; `checkpoint` stages
  * the chain with `enableLocalCheckpointing(50, 4)`. Validation is on. The
  * materializing action is [[Fingerprint.ofPlug]], one job that hashes every
  * output column. */
class PlugWorkload(spark: SparkSession, seed: Long, rows: Int, nRules: Int, audit: Boolean,
    checkpoint: Boolean) extends Workload {
  private val rules = RuleGen.generate(seed, nRules)
  private var input: DataFrame = _
  private var expected: RefInterp.Result = _ // rows dropped once hashed
  private var expectedFp: Fingerprint = _
  private var lastOut: DataFrame = _

  private def plugger: SparkPlug = {
    var b = SparkPlug.builder(spark).enableRulesValidation
    if (audit) b = b.enablePlugDetails().enableAccumulators.keepOldField
    if (checkpoint) b = b.enableLocalCheckpointing(50, 4)
    b.create()
  }

  def prepare(dir: String): Unit = {
    Data.lineitem(spark, seed, rows, nulls = true).write.mode("overwrite").parquet(s"$dir/plug_lineitem")
    input = spark.read.parquet(s"$dir/plug_lineitem")
  }

  /** The reference interpreter's answer, hashed by the same Spark
    * expression on the driver. */
  override def check(): Unit = {
    val ref = RefInterp.run(input.collect(), input.schema, rules, audit, keepOld = audit)
    expectedFp = Fingerprint.ofRows(ref.rows, ref.schema)
    expected = ref.copy(rows = Array.empty)
  }

  /** Names and types in output order, which is part of what users see.
    * Columns are grouped into runs: one rule's `<col>_<rule>_old` copies
    * form one run, every other column is a run of its own. Runs must come
    * in the interpreter's order. Inside a run the copies compare as a set,
    * because the engine emits a rule's copies in hash-map order
    * (`RuleCompiler.Compiled.allUpdates` is a `Map`), not in action order. */
  private def columns(s: StructType): Seq[Set[(String, String)]] = {
    val oldCopy = """.+_(r\d+)_old""".r
    val runs = mutable.ArrayBuffer.empty[(String, Set[(String, String)])]
    s.fields.foreach { f =>
      val c = f.name -> f.dataType.simpleString
      f.name match {
        case oldCopy(r) if runs.lastOption.exists(_._1 == r) => runs(runs.size - 1) = r -> (runs.last._2 + c)
        case oldCopy(r) => runs += r -> Set(c)
        case _ => runs += ("" -> Set(c))
      }
    }
    runs.map(_._2).toSeq
  }

  def iterate(spans: Spans): (Double, IterResult) = {
    val sp = plugger
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val out = spans("plug") { sp.plug(input, rules.map(_.rule)) }
      .fold(e => throw new IllegalStateException(s"validation rejected generated rules: $e"), identity)
    val w1 = System.currentTimeMillis()
    val plugS = (System.nanoTime() - t0) / 1e9
    val fp = spans("materialize") { Fingerprint.ofPlug(out) }
    val wall = (System.nanoTime() - t0) / 1e9
    lastOut = out
    val changed = sp.changedRowCount
    val ok = fp == expectedFp && columns(out.schema) == columns(expected.schema) &&
      (!audit || changed.contains(expected.changedRows))
    if (!ok) System.err.println(s"[perfbench] plug output mismatch: got $fp, expected $expectedFp, " +
      s"changed $changed vs ${expected.changedRows}, columns ${columns(out.schema)} vs ${columns(expected.schema)}")
    (wall, IterResult(ok, Map.empty, Map("plug.plug_ms" -> plugS * 1000,
      "plug.changed_rows" -> changed.getOrElse(expected.changedRows).toDouble),
      Seq(Window("plug", w0, w1))))
  }

  /** Validation and compilation timed by direct calls, the plan size of the
    * last output, and the interpreter's exact audit count. */
  override def afterLoop(): Map[String, Double] = {
    val sp = plugger
    def median3(f: => Unit): Double = Stats.median(Seq.fill(3) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
    val validateMs = median3(sp.validate(input.schema, rules.map(_.rule)): Unit)
    val pd = if (audit) Some(SparkPlug.defaultPlugDetailsColumn) else None
    val start = if (audit) input.withColumn(pd.get, AuditAppender.default.emptyDetails).schema
      else input.schema
    val compileMs = median3 {
      rules.foldLeft(start) { (schema, g) =>
        val c = RuleCompiler.compile(g.rule, schema, pd, pd.map(_ => AuditAppender.default), audit)
        StructType(schema.fields ++ c.oldCopies.map { case (n, _) =>
          schema(n.stripSuffix(s"_${g.rule.name}_old")).copy(name = n) })
      }: Unit
    }
    val plan = lastOut.queryExecution.optimizedPlan
    var exprNodes = 0L
    plan.foreach(n => n.expressions.foreach(e => exprNodes += e.collect { case x => x }.size))
    Map("plug.validate_ms" -> validateMs, "plug.compile_ms" -> compileMs,
      "plan.expr_nodes" -> exprNodes.toDouble,
      "plan.project_nodes" -> plan.collect { case p: Project => p }.size.toDouble,
      "plug.audit_records" -> expected.auditRecords.toDouble)
  }
}

/** One pass over nine `SparkEntry.queries` on seeded tables at testdata
  * scale 0.01, clearing the cache before each query. The seed fixes the
  * query order of the run. Seven are scan-shaped operator queries; two
  * commit through ManifestTable or a streaming sink. */
class OpsMix(spark: SparkSession, seed: Long, expectedFile: String) extends Workload {
  private val dataSeed = 42L // fixed: the recorded fingerprints belong to these tables
  private val queries = graft.SparkEntry.queries
  private var dir: String = _

  /** Row count and digest of each query's output on the fixed tables,
    * recorded from a commit whose queries pass the DuckDB oracle. */
  private val expected: Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(expectedFile)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, d) = l.split('\t')
      q -> Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(d, 16))
    }.toMap
    finally src.close()
  }

  private def matches(q: String, got: Option[Fingerprint]): Boolean = {
    val ok = got.nonEmpty && got == expected.get(q)
    if (!ok) System.err.println(s"[perfbench] $q output mismatch: got $got, expected ${expected.get(q)}")
    ok
  }

  /** Runs one query; returns its digest (None if it threw) and the Catalyst
    * phase times of its final plan, which no QueryExecutionListener sees
    * because the plan is consumed through `toRdd`. */
  private def run(s: SparkSession, q: String): (Option[Fingerprint], Map[String, Long]) =
    try {
      val df = queries(q)(s, dir)
      val fp = Fingerprint.ofQuery(df)
      (Some(fp), df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs })
    } catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: $e"); (None, Map.empty) }

  /** A cold pass with all queries at once, each on its own session (the
    * streaming query changes its session's shuffle width), which builds
    * the per-JVM fixtures the queries share; then two ordinary passes. */
  override def warmup(iterateOnce: () => Boolean): Seq[Boolean] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size)
    val cold =
      try {
        val pending = order.map(q => q -> pool.submit(() => run(spark.newSession(), q)._1))
        pending.map { case (q, f) => matches(q, f.get) }.forall(identity)
      } finally pool.shutdown()
    Seq(cold, iterateOnce(), iterateOnce())
  }

  private val order = {
    val r = new scala.util.Random(seed)
    r.shuffle(OpsMix.scan ++ OpsMix.commit)
  }

  def prepare(d: String): Unit = {
    Data.writeQueryTables(spark, d, dataSeed, 0.01)
    dir = d
  }

  def iterate(spans: Spans): (Double, IterResult) = {
    val pass0 = System.nanoTime()
    var ok = true
    val secs = mutable.Map.empty[String, Double]
    val counts = mutable.Map.empty[String, Double]
    val windows = mutable.ArrayBuffer.empty[Window]
    order.foreach { q =>
      spark.catalog.clearCache()
      val fs0 = CountingLocalFileSystem.snapshot()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (got, phases) = spans(q) { run(spark, q) }
      val s = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      println(f"query $q%-28s $s%8.3f s")
      secs(q) = s
      ok &= matches(q, got)
      val fs1 = CountingLocalFileSystem.snapshot()
      windows += Window(q, w0, w1)
      counts(s"q.$q.s") = s
      Seq("analysis", "optimization", "planning").foreach { p =>
        counts(s"catalyst.${p}_ms") = counts.getOrElse(s"catalyst.${p}_ms", 0.0) + phases.getOrElse(p, 0L)
      }
      counts(s"q.$q.cache_blocks") = spark.sparkContext.getRDDStorageInfo
        .map(_.numCachedPartitions.toLong).sum.toDouble
      counts("cache.blocks_left") = counts.getOrElse("cache.blocks_left", 0.0) + counts(s"q.$q.cache_blocks")
      Seq("io.fs_read_ops", "io.fs_write_ops", "io.fs_list_ops", "io.fs_bytes_written")
        .zipWithIndex.foreach { case (k, i) => counts(k) = counts.getOrElse(k, 0.0) + fs1(i) - fs0(i) }
    }
    val wall = (System.nanoTime() - pass0) / 1e9
    (wall, IterResult(ok, Map("ops.scan_s" -> OpsMix.scan.map(secs).sum,
      "ops.commit_s" -> OpsMix.commit.map(secs).sum), counts.toMap, windows.toSeq))
  }

  override def afterLoop(): Map[String, Double] = ExtKernels.measure(spark, dir)
}

object OpsMix {
  val scan = Seq("dedup_edit_distance", "dedup_minhash_lsh", "sim_pq_topk", "text_invidx_topk",
    "events_props_extract", "star_pricing_summary", "multimodal_phash_dedup")
  val commit = Seq("ingest_manifest_txn", "stream_contam_gate")

}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
