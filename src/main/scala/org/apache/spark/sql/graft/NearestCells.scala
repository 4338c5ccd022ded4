package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-`probes` nearest coarse-quantizer cells for an embedding, by
  * cosine similarity, as `array<int>` of cell ids (SURVEY §2.11 [EXT]).
  *
  * Replaces the `greatest(...)`/`sort_array(array(...))` formulation
  * over `cells` inlined literal structs: past ~16 cells those 64-float
  * `typedLit`s ballooned the generated stage past the codegen method
  * limits, and Spark fell back to INTERPRETED eval for the whole stage
  * — including the downstream pair-scoring cosine, which is where the
  * corpus-sized work lives (measured: knnJoinIvf at cells=64 ran ~20×
  * slower than cells=16 on the same data). Here the centroid matrix
  * rides as an expression FIELD (a reference object serialized with
  * the plan, the PqEncode codebook shape), the per-row loop is fused
  * JVM via CodegenFallback (called once per ROW, not per pair), and
  * the rest of the stage keeps whole-stage codegen.
  *
  * Ranking matches the struct formulation bit-for-bit on FINITE
  * similarities: scores use CosineSimilarity's exact accumulation
  * (sequential float→double dot and norms, denom == 0 → 0.0), ordered
  * by (sim desc, cell id desc) — the `struct(sim, cell)` comparator's
  * tie-break. NON-FINITE similarities (a NaN/Inf component in the
  * input vector) are normalized to -infinity and rank LAST — a
  * deliberate DIVERGENCE from the legacy struct sort, whose
  * `sort_array(desc)` used Spark's double ordering (NaN greatest) and
  * ranked NaN-sim cells FIRST: routing a corrupt vector to every
  * "nearest" cell was never meaningful, and ranking it last keeps the
  * selection deterministic without throwing mid-scan (the dim check
  * still throws, because a truncated vector is a caller bug, not a
  * data artifact).
  *
  * WHY CodegenFallback and not doGenCode (r13 decision, measured-first
  * per the r12 verdict): the expression is evaluated once per ROW,
  * never per pair, and its work is `cells` fused cosine loops — at the
  * registered operating point (cells=16, coverage 0.75, n=2000) that
  * is 16 cosines per row against ~1500 per row in the downstream
  * pair-scoring stage, ~1% of the stage's floating-point work. A
  * generated-code version of this call cannot move the stage by the
  * verdict's 10% bar when the call is ~1-3% of it; the boxing overhead
  * it would remove is one ArrayData allocation per row. The surrounding stage
  * keeps whole-stage codegen either way (this is the property that
  * mattered — the r12 fix was about the LITERAL formulation breaking
  * the WHOLE stage's codegen, not about this call's own dispatch). */
case class NearestCells(child: Expression, cellIds: Seq[Int],
    centroids: Seq[Float], probes: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(cellIds.nonEmpty, "nearest_cells: needs at least one centroid")
  require(probes >= 1 && probes <= cellIds.length,
    s"nearest_cells: probes must be in [1, ${cellIds.length}], got $probes")
  require(centroids.nonEmpty && centroids.length % cellIds.length == 0,
    s"nearest_cells: centroid matrix length ${centroids.length} is not a " +
      s"multiple of the cell count ${cellIds.length}")

  // Seq fields for content-based equality/canonicalization; hot loops
  // index private arrays (the PqEncode discipline)
  @transient private lazy val ids: Array[Int] = cellIds.toArray
  @transient private lazy val mat: Array[Float] = centroids.toArray
  @transient private lazy val dim: Int = centroids.length / cellIds.length

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"nearest_cells: vector length ${v.numElements()} != centroid " +
        s"dim $dim — a truncated compare would route to plausible but " +
        "wrong cells")
    val nCells = ids.length
    // top-probes selection by (sim desc, id desc): parallel arrays with
    // insertion — probes is small (<= cells), rows are many
    val topSim = new Array[Double](probes)
    val topId = new Array[Int](probes)
    var filled = 0
    var c = 0
    while (c < nCells) {
      val base = c * dim
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < dim) {
        val xi = v.getFloat(i).toDouble
        val yi = mat(base + i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      val s0 = if (denom == 0.0) 0.0 else dot / denom
      // non-finite (NaN/Inf input component) ranks LAST, not first —
      // see the scaladoc's NaN-divergence note
      val s = if (java.lang.Double.isNaN(s0)) Double.NegativeInfinity else s0
      val id = ids(c)
      // find insertion point among the current top entries
      var pos = filled
      while (pos > 0 && (s > topSim(pos - 1) ||
          (s == topSim(pos - 1) && id > topId(pos - 1)))) pos -= 1
      if (pos < probes) {
        val last = math.min(filled, probes - 1)
        var j = last
        while (j > pos) { topSim(j) = topSim(j - 1); topId(j) = topId(j - 1); j -= 1 }
        topSim(pos) = s; topId(pos) = id
        if (filled < probes) filled += 1
      }
      c += 1
    }
    val out = new Array[Int](filled)
    System.arraycopy(topId, 0, out, 0, filled)
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** The cosine similarity to the single nearest centroid (the `sim` the
  * struct formulation exposed) — used by the train-time isotropy probe,
  * which needs the score, not the cell id. Same accumulation,
  * tie-handling, and NaN normalization (non-finite → -infinity, ranks
  * last) as [[NearestCells]]. */
case class NearestCellSim(child: Expression, centroids: Seq[Float],
    nCells: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(nCells >= 1 && centroids.nonEmpty && centroids.length % nCells == 0,
    s"nearest_cell_sim: centroid matrix length ${centroids.length} is not " +
      s"a multiple of the cell count $nCells")
  @transient private lazy val mat: Array[Float] = centroids.toArray
  @transient private lazy val dim: Int = centroids.length / nCells

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "nearest_cell_sim"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"nearest_cell_sim: vector length ${v.numElements()} != centroid dim $dim")
    var best = Double.NegativeInfinity
    var c = 0
    while (c < nCells) {
      val base = c * dim
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < dim) {
        val xi = v.getFloat(i).toDouble
        val yi = mat(base + i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      val s0 = if (denom == 0.0) 0.0 else dot / denom
      val s = if (java.lang.Double.isNaN(s0)) Double.NegativeInfinity else s0
      if (s > best) best = s
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellSim =
    copy(child = newChild)
}
