package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst dot product over two array<double> columns.
  *
  * The lambda-HOF formulation `aggregate(zip_with(x, y, _*_), 0, _+_)`
  * is interpreted (HigherOrderFunction has no codegen), allocates a
  * zipped intermediate array per row, and boxes every element. This
  * expression participates in whole-stage codegen as a tight primitive
  * loop — no allocation, no boxing — which is the difference between a
  * flop-bound and an interpreter-bound scan when ANN scoring reads
  * billions of vectors. Element nulls are not expected (embedding
  * vectors are dense); a null element contributes getDouble's raw slot.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL on length mismatch (below) — nullable even for non-null children.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // Length mismatch → NULL, matching the lambda-HOF fallback
  // (zip_with null-pads, so the aggregate sum goes NULL): both dot()
  // paths agree instead of the min-length truncation r1 shipped.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** vec_dot_i8(qa, qb) → BIGINT: integer dot product over two
  * array<tinyint> int8-quantized vectors — the prefilter arithmetic of
  * the cosine-bound pruned pair stage ([[graft.operators.Similarity
  * .cosineDedupPairsPrefiltered]]). Exact: |Σ qaᵢ·qbᵢ| ≤ 64·127² ≪
  * 2⁶³, so the sum is a perfect integer with no ulp caveat, and the
  * derived cosine UPPER BOUND (scale_a·scale_b·dot + quantization
  * error) is engine-stable. Same length-mismatch→NULL contract as
  * [[VecDot]]; one tight primitive byte loop inside whole-stage
  * codegen (int multiplies, 1/8th the memory traffic of the double
  * kernel — the whole point of the prefilter at 100 TB).
  */
case class VecDotI8(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_i8 requires two array<tinyint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0L
      var i = 0
      while (i < n) { s += x.getByte(i).toLong * y.getByte(i); i += 1 }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (long) $a.getByte($i) * $b.getByte($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot_i8"
}

/** pq_encode(vec, booksSpec) → array<long> [code_0..code_{m-1},
  * d_0..d_{m-1}]: the nearest-codebook-entry argmin per contiguous
  * subspace on the 1e-6 integer grid — the WHOLE product-quantization
  * encode as one tight primitive loop. The r7 first cut composed it
  * from m least()-over-k-structs Catalyst expressions; evaluating that
  * tree cost ~200 µs/row (encode alone 4.6 s at sf1, 20k vectors).
  * This kernel computes the identical exact-integer argmin (ties →
  * lower code) in a fraction of a µs/row and stays inside whole-stage
  * codegen: the codebooks parse ONCE per expression instance from the
  * literal spec ("m;k;sub;flat-comma-list") and ship into generated
  * code as a reference object, never per row. The full-vector |vq|²
  * 2⁵⁰ exactness budget is re-checked per row (the guardedSelfDot
  * contract) so a rogue vector raises instead of silently voiding the
  * bit-exact guarantee.
  */
case class PqEncodeCodes(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires (array<double>, string), got ${l.simpleString} and ${r.simpleString}")
  }

  // the spec is a literal: parse once per expression instance
  @transient private lazy val parsed: (Int, Int, Int, Array[Long]) = {
    val parts = right.eval(null).asInstanceOf[UTF8String].toString.split(";")
    (parts(0).toInt, parts(1).toInt, parts(2).toInt,
      parts(3).split(",").map(java.lang.Long.parseLong))
  }

  override def nullSafeEval(v: Any, spec: Any): Any = {
    val (m, k, sub, flat) = parsed
    VectorKernels.pqEncode(v.asInstanceOf[ArrayData], m, k, sub, flat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (m, k, sub, flat) = parsed
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.VectorKernels.pqEncode($v, $m, $k, $sub, $flatRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "pq_encode"
}

/** bin_sig(vec) → BIGINT sign-bit signature: bit i set iff v[i] > 0.
  * One tight primitive pass over the raw float/double array — no
  * array cast, no 64-term CASE chain. The composed-expression form
  * (64 when/element_at terms over a per-term array cast) measured
  * 13 µs/pair at sf10 because Catalyst collapsed the projection ABOVE
  * the broadcast join and re-evaluated it per (query, row) pair; the
  * kernel is ~100 ns/row wherever the optimizer puts it — the same
  * composed-tree-vs-kernel lesson as [[PqEncodeCodes]].
  */
case class BinarySignature(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bin_sig requires array<float|double>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    VectorKernels.binSig(v, isFloat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorKernels.binSig($v, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bin_sig"
}

object VectorKernels {
  /** See [[BinarySignature]]. Capped at 64 dims (one machine word);
    * longer vectors raise rather than silently truncating.
    */
  def binSig(v: ArrayData, isFloat: Boolean): Long = {
    val n = v.numElements()
    if (n > 64) throw new IllegalArgumentException(
      s"bin_sig packs into one 64-bit word, got $n dims")
    var s = 0L
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      if (x > 0) s |= (1L << i)
      i += 1
    }
    s
  }

  /** See [[PqEncodeCodes]]. Exact integer arithmetic throughout: q and
    * codebook components are ≤1e6-grid ints, per-subspace distances ≤
    * sub·(2e6)² fit a Long with room to spare.
    */
  def pqEncode(v: ArrayData, m: Int, k: Int, sub: Int, flat: Array[Long]): ArrayData = {
    if (v.numElements() != m * sub) throw new IllegalArgumentException(
      s"pq_encode: vector has ${v.numElements()} dims, codebooks cover ${m * sub}")
    val out = new Array[Any](2 * m)
    val q = new Array[Long](sub)
    var sdTotal = 0.0
    var j = 0
    while (j < m) {
      var x = 0
      var sd = 0L
      while (x < sub) {
        val c = math.floor(v.getDouble(j * sub + x) * 1e6).toLong
        q(x) = c
        sd += c * c
        x += 1
      }
      sdTotal += sd.toDouble
      var best = 0
      var bd = Long.MaxValue
      var cc = 0
      while (cc < k) {
        var d = 0L
        var y = 0
        val base = (j * k + cc) * sub
        while (y < sub) { val t = q(y) - flat(base + y); d += t * t; y += 1 }
        if (d < bd) { bd = d; best = cc }
        cc += 1
      }
      out(j) = best.toLong
      out(m + j) = bd
      j += 1
    }
    if (sdTotal > 1125899906842624.0) throw new IllegalArgumentException(
      "pq_encode: a vector's quantized |v|^2 exceeds the 2^50 exact-integer " +
        "budget — rescale/normalize the embedding column")
    new GenericArrayData(out)
  }

  /** See [[NearestCell]]: exact-integer nearest-centroid argmin over a
    * k×dims table in one tight loop (ties → lower cell), identical to
    * the broadcast-table min(struct) formulation it replaces. The
    * partial-distance early exit never changes the argmin (d only
    * grows) — it just skips doomed tails.
    */
  def nearestCell(v: ArrayData, k: Int, dims: Int, flat: Array[Long]): Long = {
    if (v.numElements() != dims) throw new IllegalArgumentException(
      s"nearest_cell: vector has ${v.numElements()} dims, centroids have $dims")
    val q = new Array[Long](dims)
    var sd = 0L
    var i = 0
    while (i < dims) {
      val c = math.floor(v.getDouble(i) * 1e6).toLong
      q(i) = c
      sd += c * c
      i += 1
    }
    if (sd.toDouble > 1125899906842624.0) throw new IllegalArgumentException(
      "nearest_cell: a vector's quantized |v|^2 exceeds the 2^50 exact-integer " +
        "budget — rescale/normalize the embedding column")
    var best = 0
    var bd = Long.MaxValue
    var cc = 0
    while (cc < k) {
      var d = 0L
      var y = 0
      val base = cc * dims
      while (y < dims && d < bd) { val t = q(y) - flat(base + y); d += t * t; y += 1 }
      if (d < bd) { bd = d; best = cc }
      cc += 1
    }
    best.toLong
  }

  /** See [[NearestCellPruned]]: EXACT flat-argmin nearest centroid,
    * accelerated by triangle-inequality group pruning. Centroids are
    * grouped under kc anchor centroids (the first kc of the table);
    * per group we precompute maxRadSq = max squared distance from the
    * anchor to a member. For a vector v with best-so-far squared
    * distance bd: every member c of group g satisfies
    * √d(v,c) ≥ √d(v,aₘ) − √d(aₘ,c) ≥ √d(v,aₘ) − √maxRadSq_g, so when
    * that bound (squared, with a conservative slack of 4 against
    * float rounding — the distances are integers, so a slack ≥ 1 ulp
    * margin can never flip an argmin) exceeds bd the whole group is
    * skipped WITHOUT touching its members. Groups are visited in
    * ascending anchor-distance order so bd tightens early; within a
    * visited group the per-dimension early exit does the rest. The
    * result is BIT-IDENTICAL to the flat argmin at any k (spec-pinned
    * against the plain-Scala reference) — this is a pruning schedule,
    * not an approximation — with per-row work ~ kc + members-of-near-
    * groups ≈ 2√k on clustered data instead of k.
    */
  def nearestCellPruned(v: ArrayData, kc: Int, dims: Int, anchors: Array[Long],
                        offsets: Array[Int], cells: Array[Long],
                        members: Array[Long], maxRadSq: Array[Long]): Long = {
    if (v.numElements() != dims) throw new IllegalArgumentException(
      s"nearest_cell_pruned: vector has ${v.numElements()} dims, centroids have $dims")
    val q = new Array[Long](dims)
    var sd = 0L
    var i = 0
    while (i < dims) {
      val c = math.floor(v.getDouble(i) * 1e6).toLong
      q(i) = c
      sd += c * c
      i += 1
    }
    if (sd.toDouble > 1125899906842624.0) throw new IllegalArgumentException(
      "nearest_cell_pruned: a vector's quantized |v|^2 exceeds the 2^50 " +
        "exact-integer budget — rescale/normalize the embedding column")
    // anchor distances (full, exact)
    val dva = new Array[Long](kc)
    var j = 0
    while (j < kc) {
      var d = 0L
      var y = 0
      val base = j * dims
      while (y < dims) { val t = q(y) - anchors(base + y); d += t * t; y += 1 }
      dva(j) = d
      j += 1
    }
    // visit order: ascending anchor distance (insertion sort — kc is √k)
    val order = Array.tabulate(kc)(identity)
    var a = 1
    while (a < kc) {
      val key = order(a)
      var b = a - 1
      while (b >= 0 && dva(order(b)) > dva(key)) { order(b + 1) = order(b); b -= 1 }
      order(b + 1) = key
      a += 1
    }
    var best = -1
    var bd = Long.MaxValue
    var oi = 0
    while (oi < kc) {
      val g = order(oi)
      val lb = math.sqrt(dva(g).toDouble) - math.sqrt(maxRadSq(g).toDouble)
      // conservative: integers ≥ 1 apart, so a slack of 4 absorbs any
      // sqrt rounding without ever skipping the true argmin
      if (!(lb > 0 && lb * lb > bd.toDouble + 4.0)) {
        var m = offsets(g)
        val hi = offsets(g + 1)
        while (m < hi) {
          var d = 0L
          var y = 0
          val base = m * dims
          // continue through equality so a completed loop (y == dims)
          // is the only state where d is the member's FULL distance —
          // an early exit means d already strictly exceeds bd
          while (y < dims && d <= bd) { val t = q(y) - members(base + y); d += t * t; y += 1 }
          if (y == dims) {
            // exact flat tie-break: lower GLOBAL cell id wins ties, and
            // groups don't order by cell id — so on d == bd compare ids
            if (d < bd || (d == bd && (best < 0 || cells(m) < cells(best)))) {
              bd = d; best = m
            }
          }
          m += 1
        }
      }
      oi += 1
    }
    cells(best)
  }

  /** See [[NearestCellCoarse]]: two-level exact-integer assignment —
    * argmin over the kc anchor vectors picks a coarse group, then
    * argmin over that group's member centroids (ties → lower GLOBAL
    * cell id; members arrive sorted by cell id so first-strictly-less
    * preserves the tie-break) returns the member's global cell.
    */
  def nearestCell2l(v: ArrayData, kc: Int, dims: Int, anchors: Array[Long],
                    offsets: Array[Int], cells: Array[Long],
                    members: Array[Long]): Long = {
    if (v.numElements() != dims) throw new IllegalArgumentException(
      s"nearest_cell_2l: vector has ${v.numElements()} dims, centroids have $dims")
    val q = new Array[Long](dims)
    var sd = 0L
    var i = 0
    while (i < dims) {
      val c = math.floor(v.getDouble(i) * 1e6).toLong
      q(i) = c
      sd += c * c
      i += 1
    }
    if (sd.toDouble > 1125899906842624.0) throw new IllegalArgumentException(
      "nearest_cell_2l: a vector's quantized |v|^2 exceeds the 2^50 exact-integer " +
        "budget — rescale/normalize the embedding column")
    var grp = 0
    var bd = Long.MaxValue
    var j = 0
    while (j < kc) {
      var d = 0L
      var y = 0
      val base = j * dims
      while (y < dims && d < bd) { val t = q(y) - anchors(base + y); d += t * t; y += 1 }
      if (d < bd) { bd = d; grp = j }
      j += 1
    }
    val lo = offsets(grp)
    val hi = offsets(grp + 1)
    if (lo >= hi) throw new IllegalStateException(
      s"nearest_cell_2l: coarse group $grp is empty — duplicate anchors made it " +
        "unreachable by construction, so this indicates a corrupted spec")
    var best = lo
    bd = Long.MaxValue
    var m = lo
    while (m < hi) {
      var d = 0L
      var y = 0
      val base = m * dims
      while (y < dims && d < bd) { val t = q(y) - members(base + y); d += t * t; y += 1 }
      if (d < bd) { bd = d; best = m }
      m += 1
    }
    cells(best)
  }
}

/** nearest_cell(vec, centroidsSpec) → BIGINT cell id: the exact
  * integer-grid nearest-centroid argmin (ties → lower cell) as ONE
  * codegen'd primitive loop with the k×dims centroid table as a
  * reference object. Replaces the broadcast-centroid-table
  * crossJoin + min(struct) argmin for large k, which materialized
  * n·k joined rows each ~1 KB wide (two 64-dim arrays) — measured
  * 116 s for n=200k, k=667 at sf10 where this kernel is ~2 s for the
  * bit-identical assignment. Same composed-tree-vs-kernel lesson as
  * [[PqEncodeCodes]] / [[BinarySignature]]; spec parses once per
  * expression instance ("k;dims;flat-comma-list").
  */
case class NearestCell(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), StringType) =>
      if (!right.foldable || right.eval(null) == null) TypeCheckResult.TypeCheckFailure(
        "nearest_cell: centroid spec must be a non-null string literal")
      else TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires (array<double>, string), got ${l.simpleString} and ${r.simpleString}")
  }

  // the spec is a literal: parse once per expression instance
  @transient private lazy val parsed: (Int, Int, Array[Long]) = {
    val parts = right.eval(null).asInstanceOf[UTF8String].toString.split(";")
    val (k, dims) = (parts(0).toInt, parts(1).toInt)
    val flat = parts(2).split(",").map(java.lang.Long.parseLong)
    require(flat.length == k * dims,
      s"nearest_cell: flat table has ${flat.length} entries, expected k*dims=${k * dims}")
    (k, dims, flat)
  }

  override def nullSafeEval(v: Any, spec: Any): Any = {
    val (k, dims, flat) = parsed
    VectorKernels.nearestCell(v.asInstanceOf[ArrayData], k, dims, flat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (k, dims, flat) = parsed
    val flatRef = ctx.addReferenceObj("cellFlat", flat, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCell($v, $k, $dims, $flatRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_cell"
}

/** nearest_cell_pruned(vec, spec) → BIGINT cell id: the EXACT flat
  * nearest-centroid argmin (bit-identical to [[NearestCell]] at any
  * k, ties → lower global cell) with triangle-inequality group
  * pruning — see [[VectorKernels.nearestCellPruned]]. Spec
  * ("kc;dims;anchors;offsets;cells;members;maxRadSq") parses once per
  * expression instance; tables ship as codegen reference objects.
  */
case class NearestCellPruned(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), StringType) =>
      if (!right.foldable || right.eval(null) == null) TypeCheckResult.TypeCheckFailure(
        "nearest_cell_pruned: spec must be a non-null string literal")
      else TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_pruned requires (array<double>, string), got ${l.simpleString} and ${r.simpleString}")
  }

  @transient private lazy val parsed: (Int, Int, Array[Long], Array[Int], Array[Long], Array[Long], Array[Long]) = {
    val p = right.eval(null).asInstanceOf[UTF8String].toString.split(";")
    val (kc, dims) = (p(0).toInt, p(1).toInt)
    val anchors = p(2).split(",").map(java.lang.Long.parseLong)
    val offsets = p(3).split(",").map(java.lang.Integer.parseInt)
    val cells = p(4).split(",").map(java.lang.Long.parseLong)
    val members = p(5).split(",").map(java.lang.Long.parseLong)
    val maxRadSq = p(6).split(",").map(java.lang.Long.parseLong)
    require(anchors.length == kc * dims && offsets.length == kc + 1 &&
      members.length == cells.length * dims && offsets.last == cells.length &&
      maxRadSq.length == kc,
      "nearest_cell_pruned: inconsistent spec table sizes")
    (kc, dims, anchors, offsets, cells, members, maxRadSq)
  }

  override def nullSafeEval(v: Any, spec: Any): Any = {
    val (kc, dims, anchors, offsets, cells, members, maxRadSq) = parsed
    VectorKernels.nearestCellPruned(v.asInstanceOf[ArrayData], kc, dims,
      anchors, offsets, cells, members, maxRadSq)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (kc, dims, anchors, offsets, cells, members, maxRadSq) = parsed
    val aRef = ctx.addReferenceObj("prAnchors", anchors, "long[]")
    val oRef = ctx.addReferenceObj("prOffsets", offsets, "int[]")
    val cRef = ctx.addReferenceObj("prCells", cells, "long[]")
    val mRef = ctx.addReferenceObj("prMembers", members, "long[]")
    val rRef = ctx.addReferenceObj("prMaxRad", maxRadSq, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCellPruned($v, $kc, $dims, " +
        s"$aRef, $oRef, $cRef, $mRef, $rRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_cell_pruned"
}

/** nearest_cell_2l(vec, spec) → BIGINT global cell id via TWO-LEVEL
  * exact-integer assignment: argmin over kc coarse anchors (the first
  * kc trained centroids), then argmin over the member centroids of the
  * chosen coarse group — n·(kc + k/kc) ≈ n·2√k distance work instead
  * of the flat rule's n·k, which is quadratic in corpus size when the
  * cell-count rule is k ∝ n (the sf100 decade measured emb_knn_graph
  * at 13×/decade flat vs ~linear two-level). Deterministic and
  * SQL-replayable: the coarse grouping derives from the trained
  * centroid table alone (anchor j = centroid j), all ties break to the
  * lower index, all math on the same 1e-6 integer grid. Spec
  * ("kc;dims;anchors;offsets;cells;members", comma lists) parses once
  * per expression instance; tables ship as codegen reference objects.
  */
case class NearestCellCoarse(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), StringType) =>
      if (!right.foldable || right.eval(null) == null) TypeCheckResult.TypeCheckFailure(
        "nearest_cell_2l: spec must be a non-null string literal")
      else TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_2l requires (array<double>, string), got ${l.simpleString} and ${r.simpleString}")
  }

  @transient private lazy val parsed: (Int, Int, Array[Long], Array[Int], Array[Long], Array[Long]) = {
    val p = right.eval(null).asInstanceOf[UTF8String].toString.split(";")
    val (kc, dims) = (p(0).toInt, p(1).toInt)
    val anchors = p(2).split(",").map(java.lang.Long.parseLong)
    val offsets = p(3).split(",").map(java.lang.Integer.parseInt)
    val cells = p(4).split(",").map(java.lang.Long.parseLong)
    val members = p(5).split(",").map(java.lang.Long.parseLong)
    require(anchors.length == kc * dims && offsets.length == kc + 1 &&
      members.length == cells.length * dims && offsets.last == cells.length,
      "nearest_cell_2l: inconsistent spec table sizes")
    (kc, dims, anchors, offsets, cells, members)
  }

  override def nullSafeEval(v: Any, spec: Any): Any = {
    val (kc, dims, anchors, offsets, cells, members) = parsed
    VectorKernels.nearestCell2l(v.asInstanceOf[ArrayData], kc, dims,
      anchors, offsets, cells, members)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (kc, dims, anchors, offsets, cells, members) = parsed
    val aRef = ctx.addReferenceObj("cellAnchors", anchors, "long[]")
    val oRef = ctx.addReferenceObj("cellOffsets", offsets, "int[]")
    val cRef = ctx.addReferenceObj("cellIds", cells, "long[]")
    val mRef = ctx.addReferenceObj("cellMembers", members, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCell2l($v, $kc, $dims, " +
        s"$aRef, $oRef, $cRef, $mRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_cell_2l"
}
