package graft.ext

import graft.ops.Similarity.hyperplaneSigns
import graft.ops.TextFunctions.hash60
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable higher-order-function formulations of the graft.ext kernels:
  * the bit-identity oracle ExtSpec compares every kernel against. Each is
  * built only from Spark built-ins and mirrors the DuckDB oracle's
  * arithmetic (strict left folds in element order, md5-derived hashes).
  * The md5 and JSON kernels compare against the built-ins `md5` and
  * `get_json_object` directly. */
object HofOracle {

  /** graft_hash60_arr: one hash60 per element. */
  def hash60Arr(toks: Column): Column = transform(toks, hash60(_))

  /** graft_shingles: distinct word n-grams; texts shorter than n tokens
    * collapse to one whole-text shingle. Sliding n-grams are a chain of
    * shifted `zip_with`s, so no lambda body references anything but its
    * own variables. */
  def shingles(toks: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    val full = slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(full))
  }

  /** graft_grams: every n-gram position in order, duplicates kept; texts
    * shorter than n tokens yield an empty array. */
  def gramsAll(toks: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** 28-bit hash from md5 hex chars [off+1, off+7]. */
  private def hash28(c: Column, off: Int): Column =
    conv(substr(md5(c), lit(off + 1), lit(7)), 16, 10).cast("long")

  /** graft_minhash_sig: per-shingle [h1,h2] pairs, then an element-wise
    * running minimum of h1 + i*h2 — a single left fold. */
  def minhashSignature(shingleSet: Column, k: Int): Column = {
    val seeds = typedlit((0 until k).map(_.toLong))
    val pairs = transform(shingleSet, s => array(hash28(s, 0), hash28(s, 7)))
    aggregate(
      pairs,
      array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc, seeds,
        (a, i) => least(a, element_at(p, 1) + i * element_at(p, 2))))
  }

  /** graft_simhash60 over graft_hash60_arr, with Dedup.simhash's
    * `coalesce(_, 0)`: token hashes → per-bit counts → bit field. */
  def simhash(toks: Column): Column = {
    val powers = typedlit((0 until 60).map(1L << _))
    val counts = aggregate(hash60Arr(toks), array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, powers,
        (c, p) => c + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(0L)))
    coalesce(
      aggregate(
        zip_with(counts, powers, (c, p) => when(c * 2 >= size(toks), p).otherwise(lit(0L))),
        lit(0L), _ + _),
      lit(0L))
  }

  /** graft_dot_double: strict left fold in element order; `zip_with`'s
    * null-padding makes mismatched lengths NULL. */
  def dotDouble(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  /** graft_cosine. */
  def cosine(a: Column, b: Column): Column =
    dotDouble(a, b) / (sqrt(dotDouble(a, a)) * sqrt(dotDouble(b, b)))

  /** graft_lsh_bucket: bit j set iff dot(v, plane_{firstPlane+j}) >= 0;
    * NULL and wrong-length vectors map to bucket -1. */
  def lshBucket(vec: Column, planes: Int, dim: Int, firstPlane: Int = 0): Column = {
    val signs = hyperplaneSigns(firstPlane + planes, dim)
    val bits = (0 until planes).map { j =>
      when(dotDouble(vec, typedlit(signs(firstPlane + j))) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    coalesce(when(vec.isNotNull && size(vec) === dim, bits), lit(-1))
  }
}
