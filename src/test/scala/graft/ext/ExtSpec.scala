package graft.ext

import graft.ops.{Dedup, Similarity, TextFunctions}
import graft.plug.TestSpark
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every graft.ext kernel, through both its graft.ops Column form and its
  * GraftExtensions SQL name, against the portable [[HofOracle]] (or the
  * built-in `md5` / `get_json_object`). */
class ExtSpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Selects (SQL form, Column form, oracle) for each case, in that order. */
  private def triples(df: DataFrame, cases: (String, Column, Column)*): Array[Row] =
    df.select(cases.flatMap { case (sql, ops, ref) => Seq(expr(sql), ops, ref) }: _*).collect()

  /** Asserts the three columns of case `i` are equal (doubles bit for bit). */
  private def sameTriple(r: Row, i: Int): Unit = {
    val Seq(a, b, c) = (3 * i until 3 * i + 3).map(r.get)
    def norm(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case s: scala.collection.Seq[_] => s.toList
      case other => other
    }
    withClue(s"case $i of $r: ") {
      norm(b) shouldBe norm(a)
      norm(c) shouldBe norm(a)
    }
  }

  private def allSame(df: DataFrame, cases: (String, Column, Column)*): Array[Row] = {
    val rows = triples(df, cases: _*)
    rows.foreach(r => cases.indices.foreach(sameTriple(r, _)))
    rows
  }

  behavior of "GraftExtensions"

  it should "register the vector kernels in the session" in {
    spark.catalog.functionExists("graft_dot_double") shouldBe true
    spark.catalog.functionExists("graft_cosine") shouldBe true
  }

  it should "produce bit-identical results to the HOF formulation" in {
    val df = Seq(
      (Seq(0.1f, -0.2f, 0.37f, 1.5f), Seq(0.9f, 0.04f, -2.2f, 0.001f)),
      (Seq(1f, 2f, 3f, 4f), Seq(4f, 3f, 2f, 1f)),
      (Seq(-1f, 1f, -1f, 1f), Seq(1f, -1f, 1f, -1f))
    ).toDF("a", "b")
    allSame(df,
      ("graft_dot_double(a, b)", Similarity.dotDouble(col("a"), col("b")),
        HofOracle.dotDouble(col("a"), col("b"))),
      ("graft_cosine(a, b)", Similarity.cosine(col("a"), col("b")),
        HofOracle.cosine(col("a"), col("b")))
    ) should have length 3
  }

  it should "compile two kernels spliced into one codegen scope" in {
    // Regression: the dot/cosine loops once used literal `i`/`n` locals, so
    // a projection evaluating the kernel twice in one generated function
    // failed janino compilation ("Redefinition of local variable i") and
    // silently fell back to interpreted eval. freshName'd locals must keep
    // the plan compiling with fallback DISABLED.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (Seq(1f, 2f, 3f), Seq(3f, 2f, 1f), Seq(0.5f, -1f, 2f))
      ).toDF("a", "b", "c")
      val r = df.select(
        Similarity.dotDouble(col("a"), col("b")).as("d1"),
        Similarity.dotDouble(col("a"), col("c")).as("d2"),
        Similarity.cosine(col("a"), col("b")).as("c1"),
        Similarity.cosine(col("b"), col("c")).as("c2"),
        expr("graft_dot_double(a, c)").as("d3")
      ).collect().head
      r.getDouble(0) shouldBe 10.0
      r.getDouble(1) shouldBe 4.5
      r.getDouble(2) should be > 0.0
      r.getDouble(3) should be < 1.0
      r.getDouble(4) shouldBe 4.5
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  it should "match the HOF minhash and simhash formulations exactly" in {
    val df = Seq("the quick brown fox jumps over the lazy dog", "a b c d e f g h")
      .toDF("text")
      .select(
        HofOracle.shingles(TextFunctions.tokens(col("text")), 3).as("sh"),
        TextFunctions.tokens(col("text")).as("toks"))
    allSame(df,
      ("graft_minhash_sig(sh, 16)", Dedup.minhashSignature(col("sh"), 16),
        HofOracle.minhashSignature(col("sh"), 16)),
      ("coalesce(graft_simhash60(graft_hash60_arr(toks)), 0L)", Dedup.simhash(col("toks")),
        HofOracle.simhash(col("toks"))),
      ("graft_shingles(toks, 3)", TextFunctions.shingles(col("toks"), 3),
        HofOracle.shingles(col("toks"), 3)),
      ("graft_shingles(toks, 20)", TextFunctions.shingles(col("toks"), 20),
        HofOracle.shingles(col("toks"), 20))
    ) should have length 2
    // the simhash kernel over the SQL transform-hash60 input, as before
    df.select(
      expr("graft_simhash60(transform(toks, t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)))"),
      HofOracle.simhash(col("toks"))
    ).collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  it should "match the HOF gramsAll formulation exactly" in {
    val df = Seq("a b c d", "x y", "solo", "r r r r r").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("toks"))
    val out = allSame(df,
      ("graft_grams(toks, 3)", TextFunctions.gramsAll(col("toks"), 3),
        HofOracle.gramsAll(col("toks"), 3)),
      ("graft_grams(toks, 1)", TextFunctions.gramsAll(col("toks"), 1),
        HofOracle.gramsAll(col("toks"), 1))
    )
    // duplicates kept, short input -> empty (NOT the shingles collapse)
    out(3).getSeq[String](0) shouldBe Seq("r r r", "r r r", "r r r")
    out(1).getSeq[String](0) shouldBe Seq.empty
    // null input propagates on every form
    val nr = triples(Seq(Option.empty[Seq[String]]).toDF("toks"),
      ("graft_grams(toks, 2)", TextFunctions.gramsAll(col("toks"), 2),
        HofOracle.gramsAll(col("toks"), 2))).head
    (0 until 3).foreach(i => nr.isNullAt(i) shouldBe true)
  }

  it should "propagate nulls exactly like the HOF formulations" in {
    val df = Seq((Option.empty[Seq[String]], Option.empty[Seq[Float]], Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))))
      .toDF("toks", "nv", "v2", "v3")
    val r = triples(df,
      ("graft_minhash_sig(toks, 16)", Dedup.minhashSignature(col("toks"), 16),
        HofOracle.minhashSignature(col("toks"), 16)),
      ("graft_shingles(toks, 3)", TextFunctions.shingles(col("toks"), 3),
        HofOracle.shingles(col("toks"), 3)),
      ("graft_hash60_arr(toks)", TextFunctions.hash60Arr(col("toks")),
        HofOracle.hash60Arr(col("toks"))),
      ("graft_dot_double(nv, v2)", Similarity.dotDouble(col("nv"), col("v2")),
        HofOracle.dotDouble(col("nv"), col("v2"))),
      ("graft_cosine(nv, v2)", Similarity.cosine(col("nv"), col("v2")),
        HofOracle.cosine(col("nv"), col("v2"))),
      // mismatched lengths: HOF null-pads -> NULL; kernels must match
      ("graft_dot_double(v2, v3)", Similarity.dotDouble(col("v2"), col("v3")),
        HofOracle.dotDouble(col("v2"), col("v3"))),
      ("graft_cosine(v2, v3)", Similarity.cosine(col("v2"), col("v3")),
        HofOracle.cosine(col("v2"), col("v3")))
    ).head
    (0 until 21).foreach(i => withClue(s"column $i: ")(r.isNullAt(i) shouldBe true))
    // simhash maps a NULL token array to 0 on every form
    allSame(df,
      ("coalesce(graft_simhash60(graft_hash60_arr(toks)), 0L)", Dedup.simhash(col("toks")),
        HofOracle.simhash(col("toks")))
    ).head.getLong(0) shouldBe 0L
  }

  it should "match built-in md5 and the transform-hash60 formulation" in {
    val df = Seq("the quick brown fox", "", "ünïcode tëxt", "  Two\tSpaced  WORDS ").toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"),
        TextFunctions.normalized(col("text")).as("norm"))
    allSame(df,
      ("graft_md5hex(text)", TextFunctions.md5hex(col("text")), md5(col("text"))),
      ("graft_md5hex(norm)", TextFunctions.fingerprint(col("text")), md5(col("norm"))),
      ("graft_hash60_arr(toks)", TextFunctions.hash60Arr(col("toks")),
        HofOracle.hash60Arr(col("toks")))
    )
    val nr = triples(Seq(Option.empty[String]).toDF("text"),
      ("graft_md5hex(text)", TextFunctions.md5hex(col("text")), md5(col("text")))).head
    (0 until 3).foreach(i => nr.isNullAt(i) shouldBe true)
  }

  it should "extract flat JSON scalars exactly like get_json_object" in {
    val df = Seq(
      """{"k": 69, "s": "hi"}""",
      """{"k":-12,"s":"a b","f":150.5,"t":true,"z":null}""",
      """{"other": 1}""",
      """{"s": "esc\"aped\nvalue", "k": 7}""",
      """not json at all""",
      """{"arr": [1,2,{"k": 99}], "k": 5}"""
    ).toDF("j")
    Seq("k", "s", "f", "t", "z", "missing").foreach { key =>
      allSame(df, (s"graft_json_get(j, '$key')", TextFunctions.jsonGet(col("j"), key),
        get_json_object(col("j"), s"$$.$key")))
    }
    // null input propagates
    val nr = triples(Seq(Option.empty[String]).toDF("j"),
      ("graft_json_get(j, 'k')", TextFunctions.jsonGet(col("j"), "k"),
        get_json_object(col("j"), "$.k"))).head
    (0 until 3).foreach(i => nr.isNullAt(i) shouldBe true)
  }

  it should "match the HOF sign-LSH bucket bit for bit" in {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    allSame(df,
      ("graft_lsh_bucket(embedding, 8, 64, 0)", Similarity.lshBucket(col("embedding"), 8, 64),
        HofOracle.lshBucket(col("embedding"), 8, 64)),
      ("graft_lsh_bucket(embedding, 8, 64, 8)", Similarity.lshBucket(col("embedding"), 8, 64, firstPlane = 8),
        HofOracle.lshBucket(col("embedding"), 8, 64, firstPlane = 8))
    ) should not be empty
    // NULL and wrong-length vectors land in bucket -1 on every route
    val edge = Seq((Option.empty[Seq[Float]], Some(Seq(1f, 2f))))
      .toDF("nv", "shortv")
    val e = allSame(edge,
      ("graft_lsh_bucket(nv, 8, 64, 0)", Similarity.lshBucket(col("nv"), 8, 64),
        HofOracle.lshBucket(col("nv"), 8, 64)),
      ("graft_lsh_bucket(shortv, 8, 64, 0)", Similarity.lshBucket(col("shortv"), 8, 64),
        HofOracle.lshBucket(col("shortv"), 8, 64))
    ).head
    (0 until 6).foreach(i => e.getInt(i) shouldBe -1)
  }

  it should "match the HOF fold bit-for-bit on mixed float/double arrays" in {
    // the k-means centroid path compares float corpus vectors against
    // double centroid literals — the kernel must equal the portable HOF
    // cosine exactly in every type combination
    val df = Seq((Seq(1.5f, -2.25f, 3f), Seq(0.5d, 1.125d, -2.75d)))
      .toDF("fv", "dv")
    allSame(df,
      ("graft_cosine(fv, dv)", Similarity.cosine(col("fv"), col("dv")),
        HofOracle.cosine(col("fv"), col("dv"))),
      ("graft_cosine(dv, dv)", Similarity.cosine(col("dv"), col("dv")),
        HofOracle.cosine(col("dv"), col("dv"))),
      ("graft_dot_double(fv, dv)", Similarity.dotDouble(col("fv"), col("dv")),
        HofOracle.dotDouble(col("fv"), col("dv")))
    )
  }

  it should "stay inside whole-stage codegen" in {
    // literals would constant-fold into a LocalTableScan; use a real scan
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    // a "*(n)" prefix marks a WholeStageCodegen stage; the kernel must not
    // demote its Project to interpreted evaluation
    val plan = df.queryExecution.executedPlan.toString
    plan should include ("*(1) Project [graft_cosine")
    // self-cosine of a non-zero vector is exactly 1 up to rounding
    df.limit(5).collect().foreach(_.getDouble(0) shouldBe 1.0 +- 1e-12)
    // the LSH bucket kernel must also stay codegen'd
    val bplan = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.lshBucket(col("embedding"), 8, 64).as("b"))
      .queryExecution.executedPlan.toString
    bplan should include ("*(1) Project [graft_lsh_bucket")
  }

  it should "build the Column forms without the session's function registry" in {
    val bare = spark.newSession()
    val names = Seq("graft_json_get", "graft_md5hex", "graft_hash60_arr", "graft_dot_double",
      "graft_cosine", "graft_simhash60", "graft_shingles", "graft_grams", "graft_minhash_sig",
      "graft_lsh_bucket")
    names.foreach(n => bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    names.foreach(n => bare.catalog.functionExists(n) shouldBe false)
    import bare.implicits._
    val text = Seq("the quick brown fox jumps over the lazy dog", "x y")
      .toDF("text").select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
    val kernels = Seq(
      TextFunctions.md5hex(col("text")) -> md5(col("text")),
      TextFunctions.hash60Arr(col("toks")) -> HofOracle.hash60Arr(col("toks")),
      TextFunctions.shingles(col("toks"), 3) -> HofOracle.shingles(col("toks"), 3),
      TextFunctions.gramsAll(col("toks"), 2) -> HofOracle.gramsAll(col("toks"), 2),
      Dedup.minhashSignature(col("toks"), 8) -> HofOracle.minhashSignature(col("toks"), 8),
      Dedup.simhash(col("toks")) -> HofOracle.simhash(col("toks")),
      TextFunctions.jsonGet(lit("""{"k": 3}"""), "k") -> get_json_object(lit("""{"k": 3}"""), "$.k"))
    text.select(kernels.flatMap { case (k, o) => Seq(k, o) }: _*).collect().foreach { r =>
      kernels.indices.foreach(i => withClue(s"kernel $i: ")(r.get(2 * i + 1) shouldBe r.get(2 * i)))
    }
    val vecs = bare.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("v"), reverse(col("embedding")).as("w"))
    vecs.select(
      Similarity.dotDouble(col("v"), col("w")), HofOracle.dotDouble(col("v"), col("w")),
      Similarity.cosine(col("v"), col("w")), HofOracle.cosine(col("v"), col("w")),
      Similarity.lshBucket(col("v"), 8, 64), HofOracle.lshBucket(col("v"), 8, 64)
    ).collect().foreach { r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)) shouldBe
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))
      r.getInt(4) shouldBe r.getInt(5)
    }
  }
}
