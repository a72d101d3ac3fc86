package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native PQ encode: for each of `numSub` equal subspaces of an
  * ARRAY<DOUBLE> vector, the index of the nearest (squared-L2)
  * codeword in an ARRAY<ARRAY<DOUBLE>> codebook, the per-subspace
  * best distances, and the total reconstruction error —
  * `STRUCT<codes: ARRAY<INT>, dists: ARRAY<DOUBLE>, qerr: DOUBLE>`
  * (`dists` feeds the q85 distortion diagnostic without a second
  * corpus pass; `qerr` is its j-ascending fold).
  *
  * The composable form (nested aggregate/transform HOFs over the
  * broadcast codebook, kept as `Quantization.pqEncodeHof`) is
  * interpreted per element — measured 7.8 s for a 50k-vector encode
  * at sf1, which inverts PQ's whole point (the brute-force scan it is
  * supposed to beat costs 6.4 s). This expression runs the identical
  * arithmetic as a primitive loop inside whole-stage codegen:
  * per-subspace distances fold left-to-right from 0.0, candidate
  * codewords scan in index order keeping strictly-smaller distances
  * (ties → lowest index, Double.MaxValue sentinel init), and `qerr`
  * sums best distances j-ascending from 0.0 — bit-identical doubles,
  * which the q84/q85 DuckDB oracle parity relies on.
  *
  * Null discipline (the ArrayDot contract): null vector/codebook is
  * null (BinaryExpression default); a vector length not divisible by
  * `numSub`, an empty codebook, a codeword length mismatching the
  * vector, or any null element also yield null — loud schema drift,
  * never a wrong code.
  */
case class PqEncode(vector: Expression, codebook: Expression, numSub: Int)
    extends BinaryExpression {

  override def left: Expression = vector
  override def right: Expression = codebook

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = vector.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbOk = codebook.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (vOk && cbOk && numSub > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>, numSub > 0), " +
        s"got (${vector.dataType}, ${codebook.dataType}, $numSub)")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false)),
    StructField("dists", ArrayType(DoubleType, containsNull = false)),
    StructField("qerr", DoubleType),
    StructField("word", LongType, nullable = true)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val k = cb.numElements()
    if (dim == 0 || dim % numSub != 0 || k == 0) return null
    val sub = dim / numSub
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val codes = new Array[Int](numSub)
    val dists = new Array[Double](numSub)
    var qerr = 0.0
    var j = 0
    while (j < numSub) {
      var bd = Double.MaxValue
      var bc = -1
      var c = 0
      while (c < k) {
        if (cb.isNullAt(c)) return null
        val cw = cb.getArray(c)
        if (cw.numElements() != dim) return null
        var d = 0.0
        var p = 0
        while (p < sub) {
          val idx = j * sub + p
          if (cw.isNullAt(idx)) return null
          val t = v.getDouble(idx) - cw.getDouble(idx)
          d += t * t
          p += 1
        }
        if (d < bd) { bd = d; bc = c }
        c += 1
      }
      codes(j) = bc
      dists(j) = bd
      qerr += bd
      j += 1
    }
    // 64-bit packed code word (the FAISS PQ8x8 storage form): code j in
    // bits [8j, 8j+8) — valid iff numSub <= 8 and every code fits a
    // byte; null otherwise so a too-large codebook can't silently wrap
    val word: Any =
      if (numSub <= 8 && k <= 256) {
        var w = 0L
        var jj = 0
        while (jj < numSub) { w |= (codes(jj).toLong & 0xffL) << (8 * jj); jj += 1 }
        java.lang.Long.valueOf(w)
      } else null
    InternalRow(new GenericArrayData(codes), new GenericArrayData(dists), qerr, word)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val k = ctx.freshName("k")
      val sub = ctx.freshName("sub")
      val codes = ctx.freshName("codes")
      val qerr = ctx.freshName("qerr")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val p = ctx.freshName("p")
      val idx = ctx.freshName("idx")
      val bd = ctx.freshName("bd")
      val bc = ctx.freshName("bc")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val cw = ctx.freshName("cw")
      val bad = ctx.freshName("bad")
      val dists = ctx.freshName("dists")
      val word = ctx.freshName("word")
      val wv = ctx.freshName("wv")
      s"""
         |int $dim = $a.numElements();
         |int $k = $b.numElements();
         |boolean $bad = ($dim == 0 || $dim % $numSub != 0 || $k == 0);
         |for (int $p = 0; !$bad && $p < $dim; $p++) {
         |  if ($a.isNullAt($p)) $bad = true;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $sub = $dim / $numSub;
         |  int[] $codes = new int[$numSub];
         |  double[] $dists = new double[$numSub];
         |  double $qerr = 0.0;
         |  for (int $j = 0; !$bad && $j < $numSub; $j++) {
         |    double $bd = Double.MAX_VALUE;
         |    int $bc = -1;
         |    for (int $c = 0; !$bad && $c < $k; $c++) {
         |      if ($b.isNullAt($c)) { $bad = true; break; }
         |      org.apache.spark.sql.catalyst.util.ArrayData $cw = $b.getArray($c);
         |      if ($cw.numElements() != $dim) { $bad = true; break; }
         |      double $d = 0.0;
         |      for (int $p = 0; $p < $sub; $p++) {
         |        int $idx = $j * $sub + $p;
         |        if ($cw.isNullAt($idx)) { $bad = true; break; }
         |        double $t = $a.getDouble($idx) - $cw.getDouble($idx);
         |        $d += $t * $t;
         |      }
         |      if (!$bad && $d < $bd) { $bd = $d; $bc = $c; }
         |    }
         |    $codes[$j] = $bc;
         |    $dists[$j] = $bd;
         |    $qerr += $bd;
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    Object $word = null;
         |    if ($numSub <= 8 && $k <= 256) {
         |      long $wv = 0L;
         |      for (int $j = 0; $j < $numSub; $j++) {
         |        $wv |= (((long) $codes[$j]) & 0xffL) << (8 * $j);
         |      }
         |      $word = Long.valueOf($wv);
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[] {
         |        new org.apache.spark.sql.catalyst.util.GenericArrayData($codes),
         |        new org.apache.spark.sql.catalyst.util.GenericArrayData($dists),
         |        Double.valueOf($qerr), $word });
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(vector = newLeft, codebook = newRight)
}

object PqEncode {
  /** Column-API entry point. */
  def apply(v: Column, cb: Column, numSub: Int): Column =
    ColumnBridge.column(PqEncode(
      ColumnBridge.expression(v), ColumnBridge.expression(cb), numSub))
}

/** Native ADC distance: `Σ_j lut[j * K + codes[j]]` over an ARRAY<INT>
  * code word and a FLAT j-major ARRAY<DOUBLE> per-query lookup table
  * (`K` = `lut.length / codes.length` codewords per subspace), summed
  * j-ascending from 0.0 (bit-identical to the interpreted nested
  * `aggregate(sequence(...), ...)` form it replaces — the q84 oracle
  * relies on the order). This is THE hot loop of a PQ scan: one row
  * per (query, vector) pair. The table is flat, not nested, on
  * purpose: `ArrayData.getArray(j)` materializes a fresh array view
  * per call, which at `numSub` calls per pair × corpus×queries pairs
  * dominated the whole scan; a flat primitive array keeps the loop at
  * `numSub` offset reads with zero per-pair allocation.
  *
  * Null discipline: any out-of-range code, null element, or a table
  * length not divisible by the code length is null (matches
  * element_at's non-ANSI null), never a wrong distance.
  */
case class PqAdcDist(codes: Expression, lut: Expression)
    extends BinaryExpression {

  override def left: Expression = codes
  override def right: Expression = lut

  override def checkInputDataTypes(): TypeCheckResult = {
    val cOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val lOk = lut.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (cOk && lOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc_dist expects (ARRAY<INT>, ARRAY<DOUBLE> flat j-major), " +
        s"got (${codes.dataType}, ${lut.dataType})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val lt = b.asInstanceOf[ArrayData]
    val m = cs.numElements()
    val n = lt.numElements()
    if (m == 0 || n % m != 0) return null
    val k = n / m
    var s = 0.0
    var j = 0
    while (j < m) {
      if (cs.isNullAt(j)) return null
      val c = cs.getInt(j)
      if (c < 0 || c >= k) return null
      val idx = j * k + c
      if (lt.isNullAt(idx)) return null
      s += lt.getDouble(idx)
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      s"""
         |int $m = $a.numElements();
         |int $n = $b.numElements();
         |if ($m == 0 || $n % $m != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $n / $m;
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    int $c = $a.getInt($j);
         |    int $idx = $j * $k + $c;
         |    if ($c < 0 || $c >= $k || $b.isNullAt($idx)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $s += $b.getDouble($idx);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDist =
    copy(codes = newLeft, lut = newRight)
}

object PqAdcDist {
  /** Column-API entry point. */
  def apply(codes: Column, lut: Column): Column =
    ColumnBridge.column(PqAdcDist(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut)))
}

/** Native ADC distance over the PACKED 64-bit code word (PqEncode's
  * `word` field — the FAISS PQ8x8 storage form: code j in bits
  * [8j, 8j+8)): `Σ_j lut[j * K + ((word >>> 8j) & 255)]` with
  * `K = lut.length / numSub`, summed j-ascending from 0.0 —
  * bit-identical to [[PqAdcDist]] over the unpacked codes array
  * (spec-pinned). This is the form the q84 scan uses: the corpus side
  * of the pair loop carries ONE primitive long per vector — 8 bytes,
  * no array header, no per-pair element access on the stream side —
  * the at-scale storage claim (64 bits/vector) made literal. At
  * fixture scale both ADC forms are join-overhead-bound (SCALE.md round
  * 10: 4M evals of either ≈ the no-op baseline); the storage ratio vs the
  * unpacked INT array (~10×) is what matters at corpus scale.
  *
  * Null discipline: a table length not divisible by `numSub` or a
  * byte-code >= K is null, never a wrong distance.
  */
case class PqAdcDistPacked(word: Expression, lut: Expression, numSub: Int)
    extends BinaryExpression {

  override def left: Expression = word
  override def right: Expression = lut

  override def checkInputDataTypes(): TypeCheckResult = {
    val wOk = word.dataType == LongType
    val lOk = lut.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (wOk && lOk && numSub > 0 && numSub <= 8) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc_dist_packed expects (BIGINT, ARRAY<DOUBLE>, 0 < numSub <= 8), " +
        s"got (${word.dataType}, ${lut.dataType}, $numSub)")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val w = a.asInstanceOf[Long]
    val lt = b.asInstanceOf[ArrayData]
    val n = lt.numElements()
    if (n % numSub != 0) return null
    val k = n / numSub
    var s = 0.0
    var j = 0
    while (j < numSub) {
      val c = ((w >>> (8 * j)) & 0xffL).toInt
      if (c >= k) return null
      val idx = j * k + c
      if (lt.isNullAt(idx)) return null
      s += lt.getDouble(idx)
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      s"""
         |int $n = $b.numElements();
         |if ($n % $numSub != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $n / $numSub;
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $numSub; $j++) {
         |    int $c = (int) (($a >>> (8 * $j)) & 0xffL);
         |    int $idx = $j * $k + $c;
         |    if ($c >= $k || $b.isNullAt($idx)) { ${ev.isNull} = true; break; }
         |    $s += $b.getDouble($idx);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistPacked =
    copy(word = newLeft, lut = newRight)
}

object PqAdcDistPacked {
  /** Column-API entry point. */
  def apply(word: Column, lut: Column, numSub: Int): Column =
    ColumnBridge.column(PqAdcDistPacked(
      ColumnBridge.expression(word), ColumnBridge.expression(lut), numSub))
}
