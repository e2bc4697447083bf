package graft.plug

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regression bound for rule-chain plan growth: each rule is ONE
  * `withColumns` Project, so a 100-rule chain must stay analyzable in
  * seconds (~1.8 s analyze / 2.4 s execute at 100 rules over 600k rows on
  * local[8]; perfbench/'s plug workloads measure this split). A regression
  * that nests projections per action, or re-analyzes the full chain per
  * rule, blows past this bound superlinearly and fails here instead of
  * landing silently. */
class ChainScalingSpec extends AnyFlatSpec with Matchers {

  "a 100-rule chain" should "analyze and optimize within the regression bound" in {
    implicit val spark = TestSpark.session
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rules = (0 until 100).toList.map(i =>
      PlugRule(s"r$i", "v1", s"l_quantity > ${i % 50}",
        Seq(PlugAction("l_returnflag", s"F$i"), PlugAction("l_linenumber", s"$i"))))
    val t0 = System.nanoTime()
    val out = SparkPlug.builder.create().plug(li, rules).toOption.get
    out.queryExecution.executedPlan // force analysis + optimization
    val sec = (System.nanoTime() - t0) / 1e9
    sec should be < 15.0
  }
}
