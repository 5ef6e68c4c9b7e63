package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The builtin compositions the codegen kernels replace, kept as their
  * reference semantics: `SimilaritySpec` and `CorpusKernelsSpec` compare
  * each kernel with its form here, bit for bit, in both eval paths.
  */
object ReferenceForms {

  /** [[graft.functions.FloatDotProduct]]. */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def longSqL2Builtin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Adds the `size >= k` guard its call sites carried: unguarded, the
    * window sequence counts DOWN past 1 when `n < k` and `slice` rejects
    * index 0.
    */
  def kgramMd5Builtin(tokens: Column, k: Int): Column =
    when(size(tokens) < k, typedLit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(1), size(tokens) - (k - 1)),
        i => md5(concat_ws(" ", slice(tokens, i, lit(k))))))

  def token60Builtin(s: Column): Column =
    conv(md5(s).substr(1, 15), 16, 10).cast("long")

  def simhash60Builtin(tokens: Column): Column = {
    val hs = transform(tokens, token60Builtin(_))
    when(size(hs) >= 1, (0 until 60).map(i =>
        when(lit(2) * size(filter(hs,
            h => shiftright(h, i).bitwiseAND(1) === 1)) - size(hs) > 0,
          shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_)))
  }

  def tokensBuiltin(text: Column): Column =
    array_remove(split(lower(text), "[^a-z]+"), "")

  /** Adds the `size >= 2` guard its call sites carried, for the same
    * reason as [[kgramMd5Builtin]]'s. */
  def bigramsBuiltin(tokens: Column): Column =
    when(size(tokens) < 2, typedLit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(1), size(tokens) - 1),
        i => concat(element_at(tokens, i), lit(" "), element_at(tokens, i + 1))))

  def minhashSigBuiltin(shingles: Column, n: Int): Column = {
    val hs = transform(shingles, s => md5(s))
    when(shingles.isNotNull, array((0 until n).map(k =>
      array_min(transform(hs, h => substring(h, k * 4 + 1, 4)))): _*))
  }
}
