package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic inputs with the shapes of the TPC-H-ish testdata the
  * queries were written against (lineitem, orders, documents, embeddings,
  * events). Row-wise tables derive every value from `xxhash64(id, seed,
  * column)`, so they do not depend on partitioning; the two small text and
  * vector tables come from a `SplittableRandom` on the driver. */
object Data {

  private def u(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def pick(seed: Long, k: Int, m: Long): Column = pmod(u(seed, k), lit(m))
  private def oneOf(seed: Long, k: Int, vs: String*): Column =
    element_at(array(vs.map(lit): _*), (pick(seed, k, vs.size) + 1).cast(IntegerType))
  private def cents(seed: Long, k: Int, lo: Double, hi: Double): Column =
    lit(lo) + pick(seed, k, ((hi - lo) * 100).toLong).cast(DoubleType) / lit(100.0)

  /** `n` lineitem rows in eight partitions (two tasks per core, so one
    * slow task delays a scan less). With `nulls`, about 2 % of
    * `l_discount` and of `l_linestatus` are NULL, so rule conditions meet
    * three-valued logic. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, nulls: Boolean): DataFrame = {
    val qty = (pick(seed, 5, 50) + 1).cast(DoubleType)
    def maybeNull(k: Int, c: Column) =
      if (nulls) when(pick(seed, k, 50) =!= 0, c) else c
    spark.range(0, n, 1, 8).select(
      pick(seed, 1, math.max(1, n / 4)).as("l_orderkey"),
      pick(seed, 2, math.max(1, n / 30)).as("l_partkey"),
      pick(seed, 3, math.max(1, n / 600)).as("l_suppkey"),
      (pick(seed, 4, 7) + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * cents(seed, 6, 900, 2100), 2).as("l_extendedprice"),
      maybeNull(7, pick(seed, 8, 11).cast(DoubleType) / lit(100.0)).as("l_discount"),
      (pick(seed, 9, 9).cast(DoubleType) / lit(100.0)).as("l_tax"),
      oneOf(seed, 10, "A", "N", "R").as("l_returnflag"),
      maybeNull(11, oneOf(seed, 12, "O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + pick(seed, 13, 2555) * 86400).as("l_shipdate"))
  }

  private val vocab = ("a the key agg row scan slow fast table value part hash " +
    "merge batch spark line sort window data column join small customer query " +
    "order stream filter group big vector").split(' ')
  private val langs = Vector("en", "en", "en", "zh", "es", "de", "fr")

  /** Writes the query tables at testdata scale factor `sf` (0.01 gives
    * 60 000 lineitem rows) as `<dir>/<table>.parquet`, one file each like
    * the testdata. One in ten documents is an edited copy of an earlier
    * one, so the near-duplicate operators find pairs. */
  def writeQueryTables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val nLine = (6000000 * sf).toLong
    val nDocs = (50000 * sf).toInt
    write("lineitem", lineitem(spark, seed, nLine, nulls = false))

    write("orders", spark.range(0, nLine / 4, 1, 1).select(
      col("id").as("o_orderkey"), pick(seed, 21, math.max(1, nLine / 40)).as("o_custkey"),
      oneOf(seed, 22, "F", "O", "P").as("o_orderstatus"),
      cents(seed, 23, 1000, 500000).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + pick(seed, 24, 2404) * 86400).as("o_orderdate"),
      oneOf(seed, 25, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority")))

    // events: about four minutes apart from 2024-01-01, values roughly
    // exponential with mean 50, props a one-key JSON object
    write("events", spark.range(0, (1000000 * sf).toLong, 1, 1).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 240000000L +
        pick(seed, 31, 240000000L)).as("ts"),
      pick(seed, 32, 150).as("user_id"),
      oneOf(seed, 33, "view", "click", "purchase", "signup", "error").as("event_type"),
      (round(-log(lit(1.0) - pick(seed, 34, 1000000).cast(DoubleType) / lit(1000000.0)) * 50, 2) +
        lit(0.01)).as("value"),
      concat(lit("{\"k\": "), pick(seed, 35, 100).cast(StringType), lit("}")).as("props")))

    val rd = new SplittableRandom(seed * 31 + 3)
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i >= 10 && rd.nextInt(10) == 0)
          texts(rd.nextInt(i)).split(' ')
            .map(w => if (rd.nextInt(12) == 0) vocab(rd.nextInt(vocab.length)) else w).mkString(" ")
        else Seq.fill(10 + rd.nextInt(80))(vocab(rd.nextInt(vocab.length))).mkString(" ")
    }
    write("documents", local(texts.indices.map { i =>
      Row(i.toLong, texts(i), langs(rd.nextInt(langs.length)), s"src${i % 20}", texts(i).length.toLong)
    }, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))))

    // embeddings: ten clusters of unit vectors in 64 dimensions
    val re = new SplittableRandom(seed * 31 + 4)
    val centers = Array.fill(10, 64)(re.nextDouble() * 2 - 1)
    write("embeddings", local(Seq.tabulate(nDocs) { i =>
      val label = re.nextInt(10)
      val v = Array.tabulate(64)(d => centers(label)(d) + (re.nextDouble() * 2 - 1) * 1.5)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))))
  }
}
