package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.graft.{CosineSimilarity, Md5SimHash60, MinHashSignature, NearestCellSim, NearestCells, PqAdc, PqEncode, PqLut, ShingleSet, SimHash64, TokenEntropy, VecNorm}

/** Column-API facade over the native Catalyst expressions
  * (o.a.s.sql.graft — see each expression's scaladoc for the why). */
object VectorFunctions {
  /** Cosine similarity of two `array<float>` embedding columns —
    * whole-stage-codegen'd fused loop (see [[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Top-`probes` nearest coarse-quantizer cell ids (see [[NearestCells]]
    * — the centroid matrix rides as a reference object, not as inlined
    * literals, so stages containing it keep whole-stage codegen). */
  def nearestCells(vec: Column, cellIds: Seq[Int], centroids: Seq[Float],
      probes: Int): Column =
    GraftBridge.column(NearestCells(GraftBridge.expression(vec),
      cellIds, centroids, probes))

  /** Cosine similarity to the single nearest centroid ([[NearestCellSim]]). */
  def nearestCellSim(vec: Column, centroids: Seq[Float], nCells: Int): Column =
    GraftBridge.column(NearestCellSim(GraftBridge.expression(vec),
      centroids, nCells))

  /** 64-perm MinHash signature of an `array<string>` shingle set. */
  def minhashSignature(shingles: Column): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles)))

  /** 64-bit SimHash of an `array<string>` token list. */
  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  /** 60-bit md5-based SimHash (engine-portable: oracle-checkable vs the
    * equivalent DuckDB SQL — see [[Md5SimHash60]]). */
  def md5Simhash60(tokens: Column): Column =
    GraftBridge.column(Md5SimHash60(GraftBridge.expression(tokens)))

  /** Distinct space-joined `width`-token shingles of an `array<string>`
    * token list, one fused pass (see [[ShingleSet]]). */
  def shingleSet(tokens: Column, width: Int = 3): Column =
    GraftBridge.column(ShingleSet(GraftBridge.expression(tokens), width))

  /** Shannon entropy in bits of an `array<string>` symbol list, one fused
    * pass (see [[TokenEntropy]]). */
  def tokenEntropy(symbols: Column): Column =
    GraftBridge.column(TokenEntropy(GraftBridge.expression(symbols)))

  /** Product-quantization primitives (see [[PqEncode]]/[[PqLut]]/[[PqAdc]]). */
  def pqEncode(vec: Column, codebooks: Array[Float], m: Int, k: Int): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(codebooks), m, k))
  def pqLut(vec: Column, codebooks: Array[Float], m: Int, k: Int): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(codebooks), m, k))
  def pqAdc(codes: Column, lut: Column, m: Int, k: Int): Column =
    GraftBridge.column(PqAdc(
      GraftBridge.expression(codes), GraftBridge.expression(lut), m, k))

  /** `bands` packed SRP-LSH buckets of an `array<float>` embedding, one
    * fused pass (see [[org.apache.spark.sql.graft.SrpSignature]]). The
    * seed pins the plane sequence: callers that must reproduce a legacy
    * literal-plane bucketing bit-for-bit pass its seed here. */
  def srpSignature(vec: Column, bands: Int = 16, bits: Int = 8,
      dim: Int = 64, seed: Int = 4242): Column =
    GraftBridge.column(org.apache.spark.sql.graft.SrpSignature(
      GraftBridge.expression(vec), bands, bits, dim, seed))

  /** L2 norm of an `array<float>` vector (see [[VecNorm]]). */
  def vecNorm(vec: Column): Column =
    GraftBridge.column(VecNorm(GraftBridge.expression(vec)))
}
