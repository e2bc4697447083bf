package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second of each `graft.ext` kernel registered by
  * `GraftExtensions`, plus the two built-ins the kernels replace (`md5`,
  * `get_json_object`). Inputs are cached columns of the ops_mix tables,
  * repeated to 50 000 rows (documents, embeddings) and 100 000 rows (event
  * props); each kernel runs three times into the `noop` sink and the median
  * is reported. */
object ExtKernels {
  private val textKernels = Seq(
    "md5hex" -> "graft_md5hex(text)", "md5hex.builtin" -> "md5(text)",
    "hash60_arr" -> "graft_hash60_arr(toks)", "shingles" -> "graft_shingles(toks, 3)",
    "grams" -> "graft_grams(toks, 3)", "minhash_sig" -> "graft_minhash_sig(sh, 16)",
    "simhash60" -> "graft_simhash60(hs)")
  private val vectorKernels = Seq(
    "dot_double" -> "graft_dot_double(embedding, embedding)",
    "cosine" -> "graft_cosine(embedding, embedding)",
    "lsh_bucket" -> "graft_lsh_bucket(embedding, 8, 64, 0)")
  private val jsonKernels = Seq(
    "json_get" -> "graft_json_get(props, 'k')", "json_get.builtin" -> "get_json_object(props, '$.k')")

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    def repeated(table: String, times: Int, cols: String*): DataFrame =
      spark.read.parquet(s"$dir/$table.parquet").crossJoin(spark.range(times).toDF("rep"))
        .selectExpr(cols: _*).repartition(4).cache()
    val text = repeated("documents", 100, "text", "split(text, ' ') AS toks")
      .selectExpr("text", "toks", "graft_hash60_arr(toks) AS hs", "graft_shingles(toks, 3) AS sh").cache()
    val vec = repeated("embeddings", 100, "embedding")
    val json = repeated("events", 10, "props")
    try {
      Seq(text -> textKernels, vec -> vectorKernels, json -> jsonKernels).flatMap { case (in, ks) =>
        val n = in.count().toDouble
        ks.map { case (name, e) =>
          val secs = Seq.fill(3) {
            val t0 = System.nanoTime()
            in.select(expr(e).as("o")).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val metric = if (name.endsWith(".builtin")) s"ext.${name.stripSuffix(".builtin")}.builtin_rows_per_s"
            else s"ext.$name.rows_per_s"
          metric -> n / Stats.median(secs)
        }
      }.toMap
    } finally spark.catalog.clearCache()
  }
}
