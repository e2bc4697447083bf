package graft

import graft.plug.TestSpark
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** Guards on the driver contract itself — the harness the correctness gate
  * runs through, so a wiring mistake here silently weakens every check. */
class SparkEntrySpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  behavior of "SparkEntry"

  it should "provide an oracle for every query (and no orphan oracles)" in {
    // The driver records a weaker rows-only check for queries without an
    // oracle; keeping the sets equal means every operator stays on the
    // strong hash-match gate. An oracle without a query is dead SQL.
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
  }

  it should "smoke the flagship entry on sf0.001" in {
    SparkEntry.entry(spark).count() should be > 0L
  }

  // Bench stdout-line pins: each drives the real assembler with the
  // whole live query set, pessimistic always-on ladder fields and a data
  // path of typical length.
  private lazy val names = SparkEntry.queries.keys.toSeq.sorted
  private def benchLine(results: Seq[(String, (Double, Boolean))],
      skipped: Seq[String] = Nil): String =
    Bench.stdoutLine(results, names, skipped,
      """"levels":"0x88,1x888,2x888,3x888,4x888,5x888","warmup_sec":8888,"spent_sec":8888,"contended":888""",
      "/data/testdata/sf0.1")
  // the line is json-parsed where it is read, so the specs parse it too
  private def json(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
  private def keys(node: com.fasterxml.jackson.databind.JsonNode): Set[String] =
    node.fieldNames.asScala.toSet
  private def key(n: String): String = Bench.ordinalAbbrev(names)(n)

  it should "keep the stage-9 bench line parseable for the full live set" in {
    // The line is parsed from a ~2000-char tail window. Passing
    // queries under half a second leave the map, so the length is bounded
    // by the SLOW-query count (which the 2x bench gate bounds), not the
    // set size. Pessimistic: 80 slow queries at 3-char times plus a
    // 10-name failed list must fit at stage 9 however large the set grows.
    val slow = names.take(80).toSet
    val failed = names.takeRight(10).toSet
    val line = benchLine(names.map(n =>
      n -> (if (slow(n) || failed(n)) 888.0 else 0.1, !failed(n))))
    withClue(s"stage-9 line length ${line.length} with 80 slow of ${names.size} queries: ") {
      line.length should be < 1800
    }
    val j = json(line)
    keys(j.get("queries")) shouldBe (slow ++ failed).map(key) // every slow or failed entry kept
    j.get("failed").size shouldBe 10
  }

  it should "key the bench line by ordinals that decode by re-sorting" in {
    // An ordinal collision would silently merge two queries' times in the
    // emitted JSON object; decoding must need only the sorted query list.
    val m = Bench.ordinalAbbrev(names)
    m.values.toSeq.distinct.size shouldBe names.size
    names.zipWithIndex.foreach { case (n, i) =>
      java.lang.Long.parseLong(m(n), 36) shouldBe i.toLong
    }
    val secs = names.zipWithIndex.map { case (n, i) => n -> (i % 40).toDouble }.toMap
    val qs = json(benchLine(names.map(n => n -> (secs(n), true)))).get("queries")
    keys(qs) should not be empty
    keys(qs).foreach { k =>
      qs.get(k).asLong shouldBe secs(names(java.lang.Long.parseLong(k, 36).toInt)).toLong
    }
  }

  it should "omit only fast passing queries from the stage-9 bench line" in {
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 10 == 0) 1.6 else 0.49, true)
    }
    val line = benchLine(results)
    line should include (""","failed":[],""") // an empty failed list still prints
    // the headline total keeps 2 decimals
    line should include (s""""value":${"%.2f".format(results.map(_._2._1).sum)},""")
    keys(json(line).get("queries")) shouldBe
      names.indices.filter(_ % 10 == 0).map(i => key(names(i))).toSet
  }

  it should "fall back to the stage-10 bench line when stage 9 overflows" in {
    // Every query at ~1 s: stage 9 keeps all of them (>= 2,449 chars at
    // 355 queries: 36 one-char and 319 two-char keys at >= 6-7 chars per
    // entry), so stage 10 drops the passing 1-2 s entries too and keeps
    // only the slow tail.
    val tail = names.takeRight(10).toSet
    val line = benchLine(names.map(n => n -> (if (tail(n)) 5.0 else 1.0, true)))
    line.length should be < 1800
    keys(json(line).get("queries")) shouldBe tail.map(key)
  }

  it should "always carry non-empty failed and skipped lists" in {
    // stage 9 with a fast failure and a short skipped suffix
    val skipped = names.takeRight(5)
    val bad = names.head
    val run = names.dropRight(5)
    val j9 = json(benchLine(run.map(n => n -> (0.1, n != bad)), skipped))
    j9.get("failed").get(0).asText shouldBe bad
    keys(j9.get("queries")) shouldBe Set(key(bad)) // failures keep their entry
    j9.get("skipped").elements.asScala.map(_.asText).toSeq shouldBe skipped.map(key)
    // stage 10 with a 1 s failure and a long skipped suffix (count + first key)
    val longSkip = names.takeRight(20)
    val j10 = json(benchLine(names.dropRight(20).map(n => n -> (1.0, n != bad)), longSkip))
    j10.get("failed").get(0).asText shouldBe bad
    keys(j10.get("queries")) shouldBe Set(key(bad))
    j10.get("skipped_n").asInt shouldBe 20
    j10.get("skipped_from").asText shouldBe key(longSkip.head)
  }

  it should "build sessions with the object-store file system only when asked" in {
    def fsImpl(objectStoreFs: Boolean) =
      Sessions.settings(4, objectStoreFs).toMap.get("spark.hadoop.fs.file.impl")
    fsImpl(objectStoreFs = true) shouldBe Some("org.apache.hadoop.fs.RawLocalFileSystem")
    fsImpl(objectStoreFs = false) shouldBe None
    // the test session comes from the factory with objectStoreFs = false
    spark.sparkContext.hadoopConfiguration.get("fs.file.impl") shouldBe null
  }

  it should "build the test session with every factory setting" in {
    // the settings the oracle compare depends on must not drift between
    // the test suite and the Verify/Bench sessions
    spark.sparkContext.master shouldBe "local[4]"
    Sessions.settings(4, objectStoreFs = false).foreach { case (k, v) =>
      withClue(k) { spark.conf.get(k) shouldBe v }
    }
  }

  it should "plan the round-5 operators with their claimed shuffle shapes" in {
    // Each claim here is one the scaladocs make about 100 TB posture; a
    // regression that adds an exchange or a cartesian product should fail
    // a test, not a bench read.
    def plan(n: String) =
      SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    // rollup: Expand feeding ONE hash-agg shuffle
    val rollup = plan("events_rollup")
    withClue(rollup) {
      rollup should include ("Expand")
      exchanges(rollup) shouldBe 1
    }
    // sliding rate: one user shuffle, no join
    val rate = plan("events_rate_window")
    withClue(rate) {
      exchanges(rate) shouldBe 1
      rate should not include "Join"
    }
    // merge upsert: single key shuffle with the map-side group limit
    val merge = plan("docs_merge_upsert")
    withClue(merge) {
      merge should include ("WindowGroupLimit")
      exchanges(merge) shouldBe 1
    }
    // kNN graph: LSH equi-join candidates — never a cartesian product —
    // with the bounded per-node top-k
    val knn = plan("sim_knn_graph")
    withClue(knn) {
      knn should include ("WindowGroupLimit")
      knn should not include "CartesianProduct"
    }
    // prefix screen: candidates join on the blocking key, no cartesian
    val prefix = plan("dedup_prefix")
    withClue(prefix) { prefix should not include "CartesianProduct" }
    // interpolated LM: the corpus-sized bigram table must never be the
    // build side of a broadcast join
    val lm = plan("text_interp_lm")
    withClue(lm) { lm should include ("ShuffledHashJoin [bg") }
    // pivot: ONE conditional-aggregation pass — a single day shuffle, no
    // Expand, no join (the .pivot two-stage shape would add an aggregate)
    val pivot = plan("events_pivot")
    withClue(pivot) {
      exchanges(pivot) shouldBe 1
      pivot should not include "Expand"
      pivot should not include "Join"
    }
    // attribution: one user shuffle + in-partition sort, no join
    val attr = plan("events_attribution")
    withClue(attr) {
      exchanges(attr) shouldBe 1
      attr should not include "Join"
    }
    // sequence mining: the global cut is TakeOrderedAndProject (per-
    // partition heads), never a full sort of the count table
    val seqs = plan("events_top_sequences")
    withClue(seqs) { seqs should include ("TakeOrderedAndProject") }
    // decontamination: the benchmark gram set is the BROADCAST side of the
    // semi-join; the training side never shuffles for the probe
    val decon = plan("text_contam_ngram")
    withClue(decon) { decon should include ("BroadcastHashJoin") }
    // star rollup: the fixed-size nation dim broadcasts, the shipdate
    // window reaches the lineitem scan as pushed filters, and no join
    // degenerates to a cartesian product
    val star = plan("star_revenue_by_nation")
    withClue(star) {
      star should include ("BroadcastHashJoin")
      star should not include "CartesianProduct"
      "PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\]".r.findFirstIn(star)
        .getOrElse("") should include ("GreaterThanOrEqual")
    }
    // top-orders: the k-cut is TakeOrderedAndProject over the per-order
    // aggregate, never a global sort of the fact join
    val topo = plan("star_top_orders")
    withClue(topo) { topo should include ("TakeOrderedAndProject") }
  }

  it should "prune unused columns all the way into the parquet scan" in {
    // text_token_stats touches only (doc_id, text); documents also carries
    // lang/source/n_chars. If the projection doesn't reach the scan, every
    // query pays full-width reads at 100 TB.
    val plan = SparkEntry.queries("text_token_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    withClue(readSchema) {
      readSchema should include ("doc_id")
      readSchema should include ("text")
      readSchema should not include "n_chars"
      readSchema should not include "source"
    }
  }

  it should "plan per-group top-k with a partial window group limit" in {
    // rank <= 5 must become a map-side WindowGroupLimit (partial top-k per
    // partition BEFORE the exchange) — at 100 TB the alternative is a full
    // sort of every group.
    val plan = SparkEntry.queries("docs_topk_by_lang")(spark, sf)
      .queryExecution.executedPlan.toString
    withClue(plan) { plan should include ("WindowGroupLimit") }
  }

  it should "push partition-key filters into the scan for plug queries" in {
    // The rule engine is a projection chain: a caller's filter below it
    // must still reach PushedFilters in the parquet scan.
    val df = SparkEntry.queries("plug_flat_override")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    withClue(plan) { pushed should include ("l_orderkey") }
  }
}
