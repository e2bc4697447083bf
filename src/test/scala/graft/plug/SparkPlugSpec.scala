package graft.plug

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

// Fixture schemas ported from the reference test suite
// (reference: src/test/scala/sparkplug/SparkPlugSpec.scala:24-54).
case class TestRow(title: String, brand: String, price: Int)
case class TestRowWithPlugDetails(title: String, brand: String, price: Int,
    plugDetails: Seq[PlugDetail] = Seq())
case class TestPriceDetails(minPrice: Double, maxPrice: Double, availability: String = "available")
case class TestRowWithStruct(title: String, brand: String, price: Option[TestPriceDetails])
case class OverrideDetail(ruleId: Option[String], fieldNames: Seq[String], ruleVersion: Option[String])
case class TestDims(w: Int, h: Int)
case class TestItem(sku: String, price: Double, dims: TestDims)
case class TestRowWithItems(title: String, brand: String, items: Option[Seq[TestItem]])

class SparkPlugSpec extends AnyFlatSpec with Matchers {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  def df: DataFrame = Seq(TestRow("iPhone", "Apple", 300), TestRow("Galaxy", "Samsung", 200)).toDF()

  def structDf: DataFrame = Seq(
    TestRowWithStruct("iPhone", "Apple", Some(TestPriceDetails(100.0, 150.0))),
    TestRowWithStruct("Galaxy", "Samsung", Some(TestPriceDetails(10.0, 15.0, "not available"))),
    TestRowWithStruct("Lumia", "Nokia", None)
  ).toDF()

  "SparkPlug" should "return input df as is on empty rules" in {
    val out = SparkPlug.builder(spark).create().plug(df, List.empty)
    out.isRight shouldBe true
    out.toOption.get.collect() should contain theSameElementsAs df.collect()
  }

  it should "add the plugDetails column when enabled" in {
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(df, List.empty)
    val frame = out.toOption.get
    frame.schema.fieldNames should contain("plugDetails")
    frame.as[TestRowWithPlugDetails].collect().foreach(_.plugDetails shouldBe Seq.empty)
  }

  it should "report a validation error for a field missing from the schema" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("nonexistent", "x"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      """Field "nonexistent" not found in the schema.""")))
  }

  it should "report a validation error for a non-coercible literal" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price", "too expensive"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      """Value "too expensive" cannot be assigned to field price.""")))
  }

  it should "report a validation error for empty actions" in {
    val rules = List(PlugRule("rule1", "v1", "true", Seq.empty))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      "At the least one action must be specified per rule.")))
  }

  it should "report duplicate rule versions" in {
    val rules = List(
      PlugRule("rule1", "v1", "true", Seq(PlugAction("title", "a"))),
      PlugRule("rule1", "v2", "true", Seq(PlugAction("title", "b"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      "Only one version per rule should be applied.")))
  }

  it should "report SQL analysis errors from the dry-run" in {
    val rules = List(PlugRule("rule1", "v1", "conc(title, '-') like '%iPhone%'",
      Seq(PlugAction("title", "Apple iPhone"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out.isLeft shouldBe true
    val err = out.swap.toOption.get.head
    err.name shouldBe "rule1"
    err.error should startWith("[SQL Error]")
  }

  it should "report malformed backtick SQL via the dry-run, not a thrown ParseException" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "`concat(brand,`"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out.isLeft shouldBe true
    val err = out.swap.toOption.get.head
    err.name shouldBe "rule1"
    err.error should startWith("[SQL Error]")
  }

  it should "apply rules sequentially, each seeing the previous output" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'",
        Seq(PlugAction("title", "Apple iPhone"), PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title = 'Apple iPhone'", Seq(PlugAction("brand", "Apple Inc"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows(0) shouldBe TestRow("Apple iPhone", "Apple Inc", 1000)
    rows(1) shouldBe TestRow("Galaxy", "Samsung", 200)
  }

  it should "apply only the first matching rule under plugFirstMatch" in {
    // both rules match the 300-price row; sequentially rule2 would win,
    // first-match keeps rule1's write and shields the row from rule2
    val rules = List(
      PlugRule("narrow", "v1", "price >= 300", Seq(PlugAction("brand", "Premium"))),
      PlugRule("broad", "v1", "price >= 100", Seq(PlugAction("brand", "Any"))))
    val out = SparkPlug.builder(spark).create().plugFirstMatch(df, rules).toOption.get
    out.schema.fieldNames should not contain "__graft_matched"
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows(0).brand shouldBe "Any"      // Galaxy (200): only rule2 matches
    rows(1).brand shouldBe "Premium"  // iPhone (300): rule1 claims it first
    // sequential semantics differ on the same input — both end up "Any"
    val seq = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    seq.as[TestRow].collect().map(_.brand).toSet shouldBe Set("Any")
  }

  it should "still validate rules and keep audit details under plugFirstMatch" in {
    val bad = List(PlugRule("r", "v1", "price > 0", Seq(PlugAction("missing", "x"))))
    SparkPlug.builder(spark).enableRulesValidation.create()
      .plugFirstMatch(df, bad).isLeft shouldBe true
    val rules = List(
      PlugRule("first", "v1", "price >= 300", Seq(PlugAction("brand", "Premium"))),
      PlugRule("second", "v1", "price >= 100", Seq(PlugAction("brand", "Any"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plugFirstMatch(df, rules).toOption.get
    val details = out.select("title", "plugDetails.name").as[(String, Seq[String])]
      .collect().toMap
    details("iPhone") shouldBe Seq("first")  // not also "second"
    details("Galaxy") shouldBe Seq("second")
  }

  it should "preserve the input column order" in {
    val rules = List(PlugRule("rule1", "v1", "price > 250", Seq(PlugAction("price", "100"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.schema.fieldNames.toSeq shouldBe Seq("title", "brand", "price")
  }

  it should "keep old values in <col>_<rule>_old columns when keepOldField" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "Apple iPhone"), PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).keepOldField.create().plug(df, rules).toOption.get
    out.schema.fieldNames should contain allOf ("title_rule1_old", "price_rule1_old")
    val r = out.filter($"brand" === "Apple")
      .select("title", "title_rule1_old", "price", "price_rule1_old").as[(String, String, Int, Int)]
      .collect().head
    r shouldBe (("Apple iPhone", "iPhone", 1000, 300))
  }

  it should "evaluate backtick values as SQL expressions" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "`concat(brand, ' ', title)`"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.filter($"brand" === "Apple").select("title").as[String].collect().head shouldBe "Apple iPhone"
  }

  it should "override struct fields and preserve null parents" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%' or title like '%Lumia%'",
      Seq(PlugAction("price.minPrice", "1000.0"), PlugAction("price.availability", "sold out"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    // NB: "iPhone" (lowercase i) sorts AFTER "Lumia" — order is Galaxy, Lumia, iPhone.
    val rows = out.as[TestRowWithStruct].collect().sortBy(_.title)
    rows(0).price shouldBe Some(TestPriceDetails(10.0, 15.0, "not available")) // Galaxy untouched
    rows(1).price shouldBe None                                                 // Lumia null preserved
    rows(2).price shouldBe Some(TestPriceDetails(1000.0, 150.0, "sold out"))   // iPhone plugged
  }

  it should "assign backtick null to a struct field" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price.minPrice", "`null`"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    val iphone = out.filter($"title" === "iPhone").select("price.minPrice").collect().head
    iphone.isNullAt(0) shouldBe true
  }

  it should "append plug details only for changed rows" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "brand = 'Apple'", Seq(PlugAction("brand", "Apple")))) // no-op change
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(df, rules).toOption.get
    val rows = out.as[TestRowWithPlugDetails].collect().sortBy(_.title)
    rows(0).plugDetails shouldBe Seq.empty // Galaxy: no rule matched
    rows(1).plugDetails shouldBe Seq(PlugDetail("rule1", "v1", Seq("price"))) // rule2 changed nothing
  }

  it should "support a custom plug details column name" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enablePlugDetails("overrideDetails").create()
      .plug(df, rules).toOption.get
    out.schema.fieldNames should contain("overrideDetails")
    out.filter($"title" === "iPhone").select(functions.size($"overrideDetails")).as[Int].collect().head shouldBe 1
  }

  it should "support custom audit record types" in {
    val appender = AuditAppender.forProduct[OverrideDetail] { (name, version, fields) =>
      struct(lit(name).as("ruleId"), typedlit(fields).as("fieldNames"), lit(version).as("ruleVersion"))
    }
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enablePlugDetails("overrideDetails", appender).create()
      .plug(df, rules).toOption.get
    val details = out.filter($"title" === "iPhone")
      .select(explode($"overrideDetails")).select("col.*")
      .as[OverrideDetail].collect()
    details shouldBe Array(OverrideDetail(Some("rule1"), Seq("price"), Some("v1")))
  }

  it should "overwrite a plugDetails column already present in the input" in {
    val in = Seq(TestRowWithPlugDetails("iPhone", "Apple", 300,
      Seq(PlugDetail("stale", "v0", Seq("price"))))).toDF()
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(in, List.empty).toOption.get
    out.as[TestRowWithPlugDetails].collect().head.plugDetails shouldBe Seq.empty
  }

  it should "count changed rows via observe when accumulators are enabled" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enableAccumulators.create().plug(df, rules).toOption.get
    import org.apache.spark.sql.Observation
    // Re-attach via the public Observation API for a deterministic read-back.
    val obs = Observation("spec")
    val observed = out.observe(obs,
      sum(when(functions.size(col("plugDetails")) > 0, 1L).otherwise(0L)).as("n"))
    observed.collect()
    obs.get("n") shouldBe 1L
  }

  it should "checkpoint and repartition on the configured cadence" in {
    val dir = java.nio.file.Files.createTempDirectory("plug-ckpt").toString
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title like '%Galaxy%'", Seq(PlugAction("price", "500"))))
    val out = SparkPlug.builder(spark).enableCheckpointing(dir, 1, 2).create()
      .plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows.map(_.price).toSeq shouldBe Seq(500, 1000)
    out.rdd.getNumPartitions shouldBe 2
  }

  it should "be idempotent when reapplied to its own output" in {
    val rules = List(PlugRule("rule1", "v1", "price > 250", Seq(PlugAction("price", "100"))))
    val plug = SparkPlug.builder(spark).create()
    val once = plug.plug(df, rules).toOption.get
    val twice = plug.plug(once, rules).toOption.get
    twice.collect() should contain theSameElementsAs once.collect()
  }

  it should "leave non-matching rows bit-identical" in {
    val rules = List(PlugRule("rule1", "v1", "false", Seq(PlugAction("price", "100"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.collect() should contain theSameElementsAs df.collect()
  }

  it should "truncate lineage with localCheckpoint when no dir is configured" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title like '%Galaxy%'", Seq(PlugAction("price", "500"))))
    val out = SparkPlug.builder(spark).enableLocalCheckpointing(1, 2).create()
      .plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows.map(_.price).toSeq shouldBe Seq(500, 1000)
    out.rdd.getNumPartitions shouldBe 2
  }

  it should "fail fast on a missing action field when validation is off" in {
    // The reference also fails (unresolved column at analysis); we raise the
    // validation message instead of silently adding a new column.
    val rules = List(PlugRule("rule1", "v1", "true", Seq(PlugAction("nonexistent", "x"))))
    val e = the[IllegalArgumentException] thrownBy
      SparkPlug.builder(spark).create().plug(df, rules)
    e.getMessage should include("""Field "nonexistent" not found in the schema.""")
  }

  it should "fail with a clear message on empty actions when validation is off" in {
    // The reference dies with an opaque SQL parse error; we name the rule.
    val rules = List(PlugRule("rule1", "v1", "true", Seq.empty))
    val e = the[IllegalArgumentException] thrownBy
      SparkPlug.builder(spark).create().plug(df, rules)
    e.getMessage should include("At the least one action must be specified per rule.")
  }

  it should "expose the changed-row count after an action when accumulators are enabled" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val plug = SparkPlug.builder(spark).enableAccumulators.create()
    val out = plug.plug(df, rules).toOption.get
    out.count()
    plug.changedRowCount shouldBe Some(1L)
  }

  it should "report per-rule hits and changes under the chained frame state" in {
    // r1 reprices iPhone to 1000; r2 flags price = 1000 — which matches
    // the iPhone only BECAUSE r1 ran first (chained semantics), and its
    // brand action is a no-op on a row already branded "Flagged".
    val data = Seq(
      TestRow("iPhone", "Apple", 300),
      TestRow("Galaxy", "Samsung", 1000),
      TestRow("Lumia", "Flagged", 1000)).toDF()
    val rules = List(
      PlugRule("r1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("r2", "v1", "price = 1000", Seq(PlugAction("brand", "Flagged"))))
    val out = SparkPlug.builder(spark).create().ruleHitStats(data, rules)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // r1: 1 match, 1 change; r2: all three rows match post-r1, but the
    // pre-branded Lumia is not a change
    out shouldBe Array(("r1", 1L, 1L), ("r2", 3L, 2L))
  }

  it should "silently assign null for a non-coercible literal when validation is off" in {
    // Reference quirk parity: convertActions .getOrElse(null) (PlugRule.scala:129).
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price", "not a number"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    val r = out.filter($"title" === "iPhone").select("price").collect().head
    r.isNullAt(0) shouldBe true
  }

  it should "fold two actions on the same struct parent into one rebuild" in {
    // Reference quirk #4 fix: duplicate `parent_new` columns would collide.
    val rules = List(PlugRule("rule1", "v1", "true",
      Seq(PlugAction("price.minPrice", "1.0"), PlugAction("price.maxPrice", "2.0"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    out.schema.fieldNames.count(_ == "price") shouldBe 1
    val iphone = out.filter($"title" === "iPhone").select("price.minPrice", "price.maxPrice")
      .as[(Double, Double)].collect().head
    iphone shouldBe ((1.0, 2.0))
  }

  it should "override a depth-2 struct leaf, preserving siblings and null parents" in {
    // Extension past the reference: its SQL generator rebuilds only one
    // struct level (PlugRule.scala:102-121); withField handles any depth.
    val deep = structDf.withColumn("wrap", struct($"price".as("price"), lit(1L).as("v")))
    val rules = List(PlugRule("rule1", "v1", "wrap.price.minPrice < 50",
      Seq(PlugAction("wrap.price.minPrice", "42.5"))))
    val out = SparkPlug.builder(spark).create().plug(deep, rules).toOption.get
    val got = out.select($"title", $"wrap.price.minPrice", $"wrap.price.maxPrice", $"wrap.v")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    got should contain theSameElementsAs Seq(
      ("iPhone", Some(100.0), Some(150.0), 1L),  // condition false -> untouched
      ("Galaxy", Some(42.5), Some(15.0), 1L),    // leaf overridden, sibling kept
      ("Lumia", None, None, 1L))                 // null struct parent stays null
  }

  it should "report per-column disagreement counts between two rule sets" in {
    import spark.implicits._
    val df = Seq(
      (1L, 10.0, "A"), (2L, 30.0, "A"), (3L, 60.0, "B")
    ).toDF("id", "amount", "tag")
    val v1 = List(PlugRule("r", "v1", "amount > 20", Seq(PlugAction("tag", "X"))))
    val v2 = List(PlugRule("r", "v2", "amount > 50", Seq(PlugAction("tag", "X"))))
    val diff = SparkPlug.builder(spark).create()
      .diffRuleSets(df, Seq("id"), v1, v2).toOption.get
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // only row 2 (20 < amount <= 50) flips between the sets
    diff shouldBe Map("amount" -> 0L, "tag" -> 1L)
    // identical sets → an all-zero report (behavior-preserving refactor)
    val same = SparkPlug.builder(spark).create()
      .diffRuleSets(df, Seq("id"), v1, v1).toOption.get
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    same.values.toSet shouldBe Set(0L)
    // with validation on, a failure in EITHER set surfaces as Left
    val bad = List(PlugRule("r", "v1", "nope > 1", Seq(PlugAction("tag", "X"))))
    SparkPlug.builder(spark).enableRulesValidation.create()
      .diffRuleSets(df, Seq("id"), v1, bad).isLeft shouldBe true
  }

  // ---- array-of-struct actions (extension beyond the reference, which
  // supported only scalar-struct children — reference README.md:161) ----

  def itemsDf: DataFrame = Seq(
    TestRowWithItems("iPhone", "Apple",
      Some(Seq(TestItem("a1", 100.0, TestDims(1, 2)), TestItem("a2", 200.0, TestDims(3, 4))))),
    TestRowWithItems("Galaxy", "Samsung",
      Some(Seq(TestItem("s1", 50.0, TestDims(5, 6))))),
    TestRowWithItems("Lumia", "Nokia", None),
    TestRowWithItems("Pixel", "Google", Some(Seq.empty))
  ).toDF()

  it should "override a field inside every element of an array of structs" in {
    val rules = List(PlugRule("ra", "v1", "brand = 'Apple'",
      Seq(PlugAction("items.price", "9.5"))))
    val out = SparkPlug.builder(spark).create().plug(itemsDf, rules).toOption.get
    val rows = out.as[TestRowWithItems].collect().sortBy(_.title)
    rows.map(_.title) shouldBe Array("Galaxy", "Lumia", "Pixel", "iPhone")
    rows(0).items.get.map(_.price) shouldBe Seq(50.0)          // no match: untouched
    rows(1).items shouldBe None                                 // null array preserved
    rows(2).items shouldBe Some(Seq.empty)                      // empty array preserved
    rows(3).items.get.map(_.price) shouldBe Seq(9.5, 9.5)       // every element plugged
    rows(3).items.get.map(_.sku) shouldBe Seq("a1", "a2")       // siblings kept
  }

  it should "override a struct leaf nested inside array elements" in {
    val rules = List(PlugRule("rad", "v1", "brand = 'Apple'",
      Seq(PlugAction("items.dims.w", "0"))))
    val out = SparkPlug.builder(spark).create().plug(itemsDf, rules).toOption.get
    val apple = out.filter($"title" === "iPhone").as[TestRowWithItems].collect().head
    apple.items.get.map(_.dims.w) shouldBe Seq(0, 0)
    apple.items.get.map(_.dims.h) shouldBe Seq(2, 4) // sibling leaf kept
  }

  it should "audit array actions per element: only rows where some element changes" in {
    val rules = List(
      // every Galaxy item already costs 50.0 -> matched but NO change
      PlugRule("rg", "v1", "brand = 'Samsung'", Seq(PlugAction("items.price", "50.0"))),
      // Apple items cost 100/200 -> a real change
      PlugRule("ra", "v1", "brand = 'Apple'", Seq(PlugAction("items.price", "100.0"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plug(itemsDf, rules).toOption.get
    val details = out.select($"title", functions.size($"plugDetails").as("n"))
      .as[(String, Int)].collect().toMap
    details("Galaxy") shouldBe 0 // no-op assignment: not audited
    details("iPhone") shouldBe 1 // one element differed (200 -> 100)
    details("Lumia") shouldBe 0  // null array: unchanged
    details("Pixel") shouldBe 0  // empty array: unchanged
  }

  it should "override one map entry, add absent keys, and preserve null maps" in {
    val df = Seq(
      ("iPhone", Map("region" -> "eu", "tier" -> "a")),
      ("Galaxy", Map("region" -> "us")),
      ("Lumia", null.asInstanceOf[Map[String, String]])
    ).toDF("title", "meta")
    val rules = List(PlugRule("rm", "v1", "title like '%iPhone%' or title like '%Galaxy%'",
      Seq(PlugAction("meta.region", "apac"), PlugAction("meta.src", "plug"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
      .as[(String, Map[String, String])].collect().sortBy(_._1).toMap
    out("iPhone") shouldBe Map("region" -> "apac", "tier" -> "a", "src" -> "plug")
    out("Galaxy") shouldBe Map("region" -> "apac", "src" -> "plug")
    out("Lumia") shouldBe null // null map preserved
  }

  it should "audit map-entry actions only when the entry value actually changes" in {
    val df = Seq(
      ("iPhone", Map("region" -> "eu")),
      ("Galaxy", Map("region" -> "us"))
    ).toDF("title", "meta")
    val rules = List(
      // Galaxy already has region=us -> matched but NO change
      PlugRule("r1", "v1", "title = 'Galaxy'", Seq(PlugAction("meta.region", "us"))),
      PlugRule("r2", "v1", "title = 'iPhone'", Seq(PlugAction("meta.region", "us"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plug(df, rules).toOption.get
    val details = out.select($"title", functions.size($"plugDetails").as("n"))
      .as[(String, Int)].collect().toMap
    details("Galaxy") shouldBe 0
    details("iPhone") shouldBe 1
  }

  it should "validate map-entry actions against the map value type" in {
    val df = Seq(("a", Map("x" -> 1.5))).toDF("title", "scores")
    val ok = PlugRule("r1", "v1", "title = 'a'", Seq(PlugAction("scores.anykey", "2.5")))
    ok.validate(df.schema) shouldBe Nil
    val bad = PlugRule("r2", "v1", "title = 'a'", Seq(PlugAction("scores.x", "cheap")))
    bad.validate(df.schema) shouldBe List(
      PlugRuleValidationError("r2", """Value "cheap" cannot be assigned to field scores.x."""))
    // a missing top-level parent still fails
    val miss = PlugRule("r3", "v1", "title = 'a'", Seq(PlugAction("nope.x", "1")))
    miss.validate(df.schema) shouldBe List(
      PlugRuleValidationError("r3", """Field "nope.x" not found in the schema."""))
  }

  it should "validate element-field actions against the element schema" in {
    val ok = PlugRule("r1", "v1", "price > 0", Seq(PlugAction("items.price", "5.0")))
    ok.validate(itemsDf.schema.asInstanceOf[org.apache.spark.sql.types.StructType]) shouldBe Nil
    val missing = PlugRule("r2", "v1", "price > 0", Seq(PlugAction("items.nope", "5.0")))
    missing.validate(itemsDf.schema) shouldBe List(
      PlugRuleValidationError("r2", """Field "items.nope" not found in the schema."""))
    val badType = PlugRule("r3", "v1", "price > 0", Seq(PlugAction("items.price", "cheap")))
    badType.validate(itemsDf.schema) shouldBe List(
      PlugRuleValidationError("r3", """Value "cheap" cannot be assigned to field items.price."""))
  }

  it should "append keep-old copies in action order past four updates" in {
    // 3 old copies + 3 updates + the audit update: above four entries a
    // plain Map iterates in hash order, which reordered the copies
    val rules = List(PlugRule("r9", "v1", "price > 0", Seq(
      PlugAction("title", "t"), PlugAction("brand", "b"), PlugAction("price", "1"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().keepOldField.create()
      .plug(df, rules).toOption.get
    out.schema.fieldNames.toSeq shouldBe Seq("title", "brand", "price", "plugDetails",
      "title_r9_old", "brand_r9_old", "price_r9_old")
  }

  it should "count changes in ruleHitStats exactly as the audit trail records them" in {
    val mapDf = Seq(
      ("iPhone", Map("region" -> "eu")),
      ("Galaxy", Map("region" -> "us")),
      ("Lumia", null.asInstanceOf[Map[String, String]])
    ).toDF("title", "meta")
    val cases = Seq(
      itemsDf -> List(
        PlugRule("rg", "v1", "brand = 'Samsung'", Seq(PlugAction("items.price", "50.0"))),
        PlugRule("ra", "v1", "brand = 'Apple' or brand = 'Nokia'", Seq(PlugAction("items.price", "100.0")))),
      mapDf -> List(
        PlugRule("r1", "v1", "title = 'Galaxy'", Seq(PlugAction("meta.region", "us"))),
        PlugRule("r2", "v1", "title <> 'Galaxy'", Seq(PlugAction("meta.region", "us")))))
    cases.foreach { case (in, rules) =>
      val plug = SparkPlug.builder(spark).enablePlugDetails().create()
      val stats = plug.ruleHitStats(in, rules)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val audited = plug.plug(in, rules).toOption.get
        .select(explode($"plugDetails.name").as("rule")).groupBy("rule").count()
        .as[(String, Long)].collect().toMap
      rules.foreach(r => withClue(r.name)(stats(r.name) shouldBe audited.getOrElse(r.name, 0L)))
    }
  }
}
