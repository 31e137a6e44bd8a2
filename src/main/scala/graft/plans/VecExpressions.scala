package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native cosine similarity over `array<float>` / `array<double>` columns.
  *
  * The composable form (zip_with + aggregate) is CodegenFallback —
  * interpreted per row with array allocation — which dominates wall-clock on
  * all-pairs similarity. These expressions run one compiled loop per pair.
  *
  * Semantics are bit-identical to the higher-order form and the DuckDB
  * oracle: floats are promoted to double before multiplying, and the
  * accumulators (dot, |a|², |b|²) fold left in index order, then
  * dot / (sqrt(na) * sqrt(nb)). Inputs of unequal length compare over the
  * common prefix (embeddings are fixed-dim by contract).
  *
  * Null/NaN contract (matches the HOF form's null propagation): a NULL
  * array yields NULL; an array containing a NULL element yields NULL; a
  * zero-norm vector yields NULL cosine (the HOF form's 0/0 = NaN has no
  * cross-engine hash representation, so NULL is the declared result).
  * Element types are checked at analysis time — both sides must be
  * array<float> or both array<double>; anything else fails analysis
  * instead of silently reinterpreting bytes.
  */
object VecOps {
  // Boxed returns: null encodes "no result" (a NULL array element, or a
  // zero-norm cosine). A genuine NaN PAYLOAD still propagates as NaN —
  // exactly like the zip_with/aggregate HOF form — so the two cases are
  // not conflated (a NaN sentinel could not tell them apart).

  /** Left-fold dot product in double precision, index order (float). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Left-fold dot product, double-element arrays. */
  def dotD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Random-hyperplane LSH bucketing compiled to one pass over the vector.
  *
  * Bit j of the result is set when proj_j = Σ_i sign(i,j)·v_i > 0, with
  * sign(i,j) = +1 iff ((i+1)·2654435761 + (j+1)·40503) mod 65536 < 32768 —
  * identical arithmetic (and per-accumulator left-fold order, so
  * bit-identical doubles) to the HOF form in `Vec.rpLshBucketHof` and the
  * DuckDB oracle. The HOF form builds nBits CodegenFallback
  * zip_with/aggregate passes per row; this runs one compiled i-major loop
  * updating all nBits accumulators per element.
  */
object RpLsh {
  /** Null means: input array contained a NULL element. */
  def bucket(v: ArrayData, nBits: Int): java.lang.Long = {
    val projs = new Array[Double](nBits)
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      project(projs, i, v.getFloat(i).toDouble)
      i += 1
    }
    bits(projs)
  }

  def bucketD(v: ArrayData, nBits: Int): java.lang.Long = {
    val projs = new Array[Double](nBits)
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      project(projs, i, v.getDouble(i))
      i += 1
    }
    bits(projs)
  }

  /** Element i's signed vote into every projection accumulator. */
  private def project(projs: Array[Double], i: Int, x: Double): Unit = {
    var j = 0
    while (j < projs.length) {
      val s = if (((i + 1) * 2654435761L + (j + 1) * 40503L) % 65536L < 32768L) x else -x
      projs(j) += s
      j += 1
    }
  }

  private def bits(projs: Array[Double]): Long = {
    var b = 0L
    var j = 0
    while (j < projs.length) { if (projs(j) > 0) b |= 1L << j; j += 1 }
    b
  }
}

/** The centroid side of the nearest_cell kernel, precomputed once per plan:
  * cell ids ascending (the tie-break order), centroid vectors, and each
  * centroid's self-dot-product (left fold in index order — the same
  * accumulation [[VecOps.dot]] would produce). Rides into generated code
  * as one reference object; its memory contract is exactly the
  * `broadcast(centroids)` it replaces (k centroid vectors on the driver
  * and every executor).
  */
final class CentroidTable(cellIds: Array[Int],
    centroids: Array[Array[Float]]) extends Serializable {
  require(cellIds.length == centroids.length,
    s"${cellIds.length} cell ids vs ${centroids.length} centroids")
  val (cells, vecs) = {
    val order = cellIds.indices.sortBy(cellIds)
    (order.map(cellIds).toArray, order.map(centroids).toArray)
  }
  val ccs: Array[Double] = vecs.map { c =>
    var a = 0.0; var i = 0
    while (i < c.length) { a += c(i).toDouble * c(i).toDouble; i += 1 }
    a
  }
}

object NearestCell {
  /** Argmin over the centroid table of
    * round(greatest(0, x·x − 2·x·c + c·c), 6), ties to the smallest cell
    * id — bit-identical to the declarative form it compiles away
    * (per-candidate dist², Spark's HALF_UP double round, Spark's double
    * ordering: −0.0 < 0.0 < NaN), because IVF assignment boundaries and
    * every k-means oracle depend on that exact arithmetic.
    *
    * Null contract mirrors the candidate-stream form: a NULL element in
    * the point or a centroid makes that candidate's dist² NULL, and
    * NULLs order FIRST in the struct-min it replaces — so the result is
    * (first such cell in ascending order, null dist²).
    */
  def assignF(v: ArrayData, t: CentroidTable): InternalRow = {
    val k = t.cells.length
    if (k == 0) return null
    val xx = selfDot(v)
    if (xx == null) return new GenericInternalRow(Array[Any](t.cells(0), null))
    var bestCell = -1
    var bestD2 = 0.0
    var c = 0
    while (c < k) {
      val d2 = dist2(v, xx, t.vecs(c), t.ccs(c))
      if (bestCell == -1 || java.lang.Double.compare(d2, bestD2) < 0) {
        bestCell = t.cells(c); bestD2 = d2
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCell, bestD2))
  }

  /** x·x, left fold in index order; null when x has a NULL element. */
  private[plans] def selfDot(v: ArrayData): java.lang.Double = {
    var xx = 0.0
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      val x = v.getFloat(i).toDouble
      xx += x * x
      i += 1
    }
    xx
  }

  /** round(greatest(0, x·x − 2·x·c + c·c), 6) under Spark's double
    * ordering (NaN greatest, −0.0 < 0.0) and Round semantics (NaN/Inf
    * pass through, else BigDecimal HALF_UP at scale 6); x·c folds over
    * the common prefix. */
  private[plans] def dist2(v: ArrayData, xx: Double, cv: Array[Float],
      cc: Double): Double = {
    val m = math.min(v.numElements(), cv.length)
    var dp = 0.0
    var j = 0
    while (j < m) { dp += v.getFloat(j).toDouble * cv(j).toDouble; j += 1 }
    val raw = (xx - 2.0 * dp) + cc
    val clamped = if (java.lang.Double.compare(raw, 0.0) >= 0) raw else 0.0
    if (clamped.isNaN || clamped.isInfinite) clamped
    else java.math.BigDecimal.valueOf(clamped)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** Two-level (hierarchical IVF) centroid table: the flat cells grouped
  * under a coarse quantizer of the CENTROIDS themselves. Per-row
  * assignment probes the `nProbe` nearest super-cells and scans only
  * their member centroids — ~(kSuper + nProbe·k/kSuper) dot products
  * instead of k, the sublinear-in-k assignment path for the extreme
  * kCells regime deriveKCells documents. Members are kept in ascending
  * cell order within each super-cell and the argmin uses the exact
  * (dist2, cell) lexicographic rule, so probing EVERY super-cell
  * reproduces the flat [[NearestCell.assignF]] bit for bit.
  */
final class HierCentroidTable(cellIds: Array[Int],
    centroids: Array[Array[Float]], superOfCell: Array[Int],
    superIds: Array[Int], superCentroids: Array[Array[Float]],
    val nProbe: Int) extends Serializable {
  require(cellIds.length == centroids.length &&
    cellIds.length == superOfCell.length, "ragged centroid arrays")
  require(superIds.length == superCentroids.length, "ragged super arrays")
  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  /** Flat table reused for the super level (sorted ids + cached c·c) —
    * EMPTY super-cells are dropped up front: the final
    * update-then-assign k-means step can leave a super-centroid no
    * member maps to, and probing it would scan nothing (with nProbe=1
    * the assignment would come back null instead of a real cell).
    * Every member belongs to some kept super, so nothing is lost.
    */
  val superTable = {
    val bySuper = cellIds.indices.groupBy(superOfCell)
    val kept = superIds.indices.filter(i => bySuper.contains(superIds(i)))
    new CentroidTable(kept.map(superIds).toArray,
      kept.map(superCentroids).toArray)
  }

  /** Member cells / vectors / c·c per SORTED (non-empty) super position. */
  val (memberCells, memberVecs, memberCcs) = {
    val bySuper = cellIds.indices.groupBy(superOfCell)
    val flat = new CentroidTable(cellIds, centroids)
    // map original index -> sorted-flat position to reuse flat.ccs
    val posOf = cellIds.indices.sortBy(cellIds).zipWithIndex
      .map { case (orig, pos) => orig -> pos }.toMap
    val perSuper = superTable.cells.map { sid =>
      bySuper.getOrElse(sid, Seq.empty).sortBy(cellIds)
    }
    (perSuper.map(_.map(cellIds).toArray),
      perSuper.map(_.map(centroids).toArray),
      perSuper.map(_.map(i => flat.ccs(posOf(i))).toArray))
  }

  /** First cell id in ascending order — the null-contract cell. */
  val firstCell: Int =
    if (cellIds.isEmpty) -1 else new CentroidTable(cellIds, centroids).cells(0)
}

object NearestCellHier {
  /** Two-hop assignment: rank super-cells by the SAME rounded dist²
    * (super-id tie-break), scan the members of the nProbe best, argmin
    * by (dist2, cell). Null contract mirrors [[NearestCell.assignF]]:
    * a NULL element yields (first cell ascending, null dist²).
    */
  def assignH(v: ArrayData, t: HierCentroidTable): InternalRow = {
    val kSuper = t.superTable.cells.length
    if (kSuper == 0 || t.firstCell == -1) return null
    val xx = NearestCell.selfDot(v)
    if (xx == null) return new GenericInternalRow(Array[Any](t.firstCell, null))
    // super distances, then select nProbe best by (d2, position) —
    // positions ascend in super-id order, so the tie-break is the id
    val sd = Array.tabulate(kSuper)(s =>
      NearestCell.dist2(v, xx, t.superTable.vecs(s), t.superTable.ccs(s)))
    val probes = math.min(t.nProbe, kSuper)
    val taken = new Array[Boolean](kSuper)
    var bestCell = -1
    var bestD2 = 0.0
    var p = 0
    while (p < probes) {
      var pick = -1
      var ps = 0
      while (ps < kSuper) {
        if (!taken(ps) &&
            (pick == -1 || java.lang.Double.compare(sd(ps), sd(pick)) < 0))
          pick = ps
        ps += 1
      }
      taken(pick) = true
      val cells = t.memberCells(pick)
      var c = 0
      while (c < cells.length) {
        val d2 = NearestCell.dist2(v, xx, t.memberVecs(pick)(c),
          t.memberCcs(pick)(c))
        val cmp = java.lang.Double.compare(d2, bestD2)
        if (bestCell == -1 || cmp < 0 || (cmp == 0 && cells(c) < bestCell)) {
          bestCell = cells(c); bestD2 = d2
        }
        c += 1
      }
      p += 1
    }
    if (bestCell == -1) null
    else new GenericInternalRow(Array[Any](bestCell, bestD2))
  }
}

object VecExpressions {
  /** Compiled cosine similarity between two array<float|double> columns. */
  def cosineSim(a: Column, b: Column): Column = Kernels.cosineSim(Seq(a, b))

  /** Compiled double-precision dot product of two array<float|double> columns. */
  def dotProduct(a: Column, b: Column): Column = Kernels.dotProduct(Seq(a, b))

  /** Compiled random-hyperplane LSH bucket id of an embedding column. */
  def rpLshBucket(v: Column, nBits: Int): Column =
    Kernels.rpLshBucket(Seq(v), nBits)

  /** Compiled nearest-centroid assignment of an array<float> column
    * against a fixed centroid set: struct(cell, dist2), smallest-cell
    * tie-break, the exact rounded-dist² arithmetic of the candidate
    * stream it replaces.
    */
  def nearestCell(vec: Column, cellIds: Array[Int],
      centroids: Array[Array[Float]]): Column =
    Kernels.nearestCell(Seq(vec), new CentroidTable(cellIds, centroids))

  /** Compiled TWO-LEVEL nearest-centroid assignment: probe the nProbe
    * best super-cells, scan only their member centroids — sublinear in
    * the total cell count (see [[HierCentroidTable]]).
    */
  def nearestCellHier(vec: Column, table: HierCentroidTable): Column =
    Kernels.nearestCellHier(Seq(vec), table)
}
