package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.operators.{Ann, Dedup}

/** Independent reference formulations the fused kernels are property-tested
  * against: composable higher-order-function forms of the codegen'd
  * expressions (interpreted by Catalyst, so never on a hot path) and the
  * DuckDB oracle's sequential BPE encode. */
object References {

  /** [[Ann.cosine]] as three array traversals; bit-identical, both are
    * sequential double folds. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** [[Ann.hyperplaneSketch]] as one traversal per plane, over the same
    * seeded planes. */
  def hyperplaneSketchHof(vec: Column, dim: Int, numPlanes: Int, seed: Long): Column = {
    require(numPlanes <= 63, "sketch packs into one long")
    val bits = Ann.hyperplanes(dim, numPlanes, seed).zipWithIndex.map { case (p, i) =>
      val d = aggregate(
        zip_with(vec, lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** [[Dedup.minhashSignatureFromHashes]] as one traversal per hash
    * function: the same seeded family and (a·x+b) mod p arithmetic. */
  def minhashSignatureHof(hashes: Column, numHashes: Int = 64,
      seed: Long = 42L): Column = {
    val sig = Dedup.hashFamily(numHashes, seed).map { case (a, b) =>
      array_min(transform(hashes, x => pmod(x * a + b, lit(Dedup.HashDomain))))
    }
    array(sig: _*)
  }

  /** The oracle's BPE encode: merges in rank order, each applied to
    * fixpoint. */
  def encodeSequential(model: Bpe.BpeModel, word: String): Vector[String] = {
    var symbols = word.map(_.toString).toVector
    model.merges.foreach { pair =>
      var prev = Vector.empty[String]
      while (prev != symbols) {
        prev = symbols
        symbols = Bpe.mergeAll(symbols, pair)
      }
    }
    symbols
  }
}
