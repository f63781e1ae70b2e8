package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector hot path.
  *
  * `vec_cosine(a, b)` computes cosine similarity of two array<double>
  * columns in ONE fused whole-stage-codegen'd loop. The composed
  * `zip_with + aggregate` formulation evaluates three separate folds (dot,
  * |a|^2, |b|^2) and allocates an intermediate product array per row; this
  * expression is the preference-ladder case (b): a scalar function Spark
  * lacks, implemented with doGenCode so it stays inside codegen.
  *
  * Numeric contract: each accumulator receives exactly the same IEEE
  * addition sequence (index order) as the fold formulation and as the
  * DuckDB oracle's list_aggregate sum, so results are bit-identical across
  * all three — required for the knn oracle gate.
  *
  * Arrays must not contain null elements (embedding vectors never do);
  * null inputs propagate to a null result via BinaryExpression's
  * null-intolerant default eval.
  */
/** `ieee_ln(x)` — natural log pinned to the `java.lang.Math`
  * implementation.
  *
  * Spark's own `log` codegen routes through `java.lang.StrictMath`
  * (fdlibm), which differs from `Math` by 1 ulp on some operands — e.g.
  * ln(0.03879310344827586) = -0x1.9ff00905ca688p1 (StrictMath) vs
  * -0x1.9ff00905ca687p1 (Math) — while DuckDB's `ln` matches `Math.log`
  * bit-for-bit over the perplexity/tfidf operand ranges (measured).
  * Operators whose oracle replays transcendental math (text_perplexity)
  * use this kernel so both engines evaluate the same function, keeping
  * the driver's hash compare exact. Same preference-ladder case (b) as
  * vec_cosine: trivial scalar codegen, no UDF.
  *
  * CAVEAT (measured in r7): glibc's ln is itself not correctly rounded,
  * and on SOME operands it sides with StrictMath against Math — so no
  * JVM pin can match DuckDB on arbitrary operands. ieee_ln remains
  * correct for the existing fixed-seed operand sets; NEW operators
  * should quantize ln output to fixed point instead of betting on ulp
  * agreement (see Mixing.dsirWeights).
  *
  * There is deliberately NO ieee_exp twin: DuckDB's `exp` (glibc) was
  * measured 1 ulp off BOTH JVM exps at e.g. x = 0x1.aa32f29509925p1, so
  * no JVM-side pin can reproduce it — oracle-checked operators must keep
  * exp out of compared columns (work in the log domain) instead.
  */
case class IeeeLn(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ieee_ln needs double, got ${child.dataType}")
  override def nullSafeEval(x: Any): Any =
    java.lang.Math.log(x.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")
  override protected def withNewChildInternal(c: Expression): IeeeLn = copy(c)
  override def prettyName: String = "ieee_ln"
}


/** Shared deflate scratch state: one Deflater + one 8 KiB drain buffer
  * per thread, reset between rows — a per-row `new Deflater()` allocates
  * native zlib state and was the dominant cost in early profiling of
  * per-document compression.
  */
object DeflateKernel {
  private val deflaterTL: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION))
  private val bufTL: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](8192))

  /** Deflated byte length of the UTF-8 input — the size, not the bytes:
    * the quality signal only needs the ratio, so the compressed stream is
    * drained into a reusable scratch buffer and only counted.
    */
  def lengthOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val d = deflaterTL.get()
    val buf = bufTL.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** `deflate_len(s)` — byte length of the zlib-deflated UTF-8 encoding of
  * `s`: the COMPRESSION-RATIO quality signal (RedPajama-v2 / Dolma ship
  * it per document — boilerplate and template spam deflate far below
  * natural prose, near-random noise barely deflates at all).
  * deflate_len(s) / octet_length(s) is the feature.
  *
  * Map-side scalar, whole-stage-codegen'd via a static kernel call; the
  * per-thread Deflater is reused across rows. No oracle: the deflated
  * size depends on the zlib build, so the driver check is rows-only with
  * the monotonicity fixtures in VectorExpressionsSpec.
  */
case class DeflateLen(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"deflate_len needs string, got ${child.dataType}")
  override def nullSafeEval(x: Any): Any =
    DeflateKernel.lengthOf(
      x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DeflateKernel.lengthOf($c)")
  override protected def withNewChildInternal(c: Expression): DeflateLen =
    copy(c)
  override def prettyName: String = "deflate_len"
}

/** Product-quantization kernels (`pq_encode`, `pq_adc_table`,
  * `pq_adc_score`) — the hot path of Similarity.pqKnn as three tight
  * loops instead of a literal expression forest.
  *
  * The composed formulation (m × ksub `zip_with`+`aggregate` subtrees over
  * centroid literals) built a ~4 MiB plan whose higher-order lambdas Spark
  * interprets per element — measured 4.2s at sf0.1 for a 500-row corpus,
  * nearly all of it expression overhead (the same anti-pattern class as
  * text_top_bigrams pre-rewrite). Here the codebook rides along as a
  * codegen reference object and each row is one pass of plain JVM
  * arithmetic. Same outputs: argmin index per subspace (ties to the lowest
  * index, like the struct-array_min formulation), squared-L2 tables, and
  * the m-lookup ADC sum in subspace order.
  */
object PqKernels {
  /** ArrayData(array<array<array<double>>>) literal -> nested JVM arrays. */
  def booksFromLiteral(a: ArrayData): Array[Array[Array[Double]]] =
    (0 until a.numElements()).map { j =>
      val sub = a.getArray(j)
      (0 until sub.numElements()).map { c =>
        sub.getArray(c).toDoubleArray()
      }.toArray
    }.toArray

  def encode(v: ArrayData, books: Array[Array[Array[Double]]])
      : GenericArrayData = {
    val m = books.length
    val dsub = books(0)(0).length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val bj = books(j)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < bj.length) {
        val cent = bj(c)
        var d = 0.0; var i = 0
        while (i < dsub) {
          val diff = v.getDouble(base + i) - cent(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  def adcTable(v: ArrayData, books: Array[Array[Array[Double]]])
      : GenericArrayData = {
    val m = books.length
    val dsub = books(0)(0).length
    new GenericArrayData((0 until m).map { j =>
      val base = j * dsub
      val bj = books(j)
      val row = new Array[Double](bj.length)
      var c = 0
      while (c < bj.length) {
        val cent = bj(c)
        var d = 0.0; var i = 0
        while (i < dsub) {
          val diff = v.getDouble(base + i) - cent(i); d += diff * diff; i += 1
        }
        row(c) = d
        c += 1
      }
      new GenericArrayData(row)
    }.toArray[Any])
  }

  def adcScore(code: ArrayData, qtab: ArrayData): Double = {
    var s = 0.0
    var j = 0
    val m = code.numElements()
    while (j < m) {
      s += qtab.getArray(j).getDouble(code.getInt(j))
      j += 1
    }
    s
  }
}

abstract class PqBookExpression extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  def books: Array[Array[Array[Double]]]
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
        child.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"input must be array<double>, got ${child.dataType}")
}

case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends PqBookExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.encode($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
  override def prettyName: String = "pq_encode"
}

case class PqAdcTable(child: Expression, books: Array[Array[Array[Double]]])
    extends PqBookExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PqKernels.adcTable(v.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.adcTable($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): PqAdcTable =
    copy(child = c)
  override def prettyName: String = "pq_adc_table"
}

case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okCode = left.dataType.isInstanceOf[ArrayType] &&
      left.dataType.asInstanceOf[ArrayType].elementType == IntegerType
    val okTab = right.dataType.isInstanceOf[ArrayType] &&
      right.dataType.asInstanceOf[ArrayType].elementType
        .isInstanceOf[ArrayType]
    if (okCode && okTab)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"expected (array<int>, array<array<double>>), got " +
          s"(${left.dataType}, ${right.dataType})")
  }
  override def nullSafeEval(code: Any, qtab: Any): Any =
    PqKernels.adcScore(code.asInstanceOf[ArrayData],
      qtab.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqKernels.adcScore($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcScore = copy(left = l, right = r)
  override def prettyName: String = "pq_adc_score"
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == ArrayType(DoubleType, containsNull = false) ||
        left.dataType == ArrayType(DoubleType, containsNull = true)) {
      if (right.dataType.isInstanceOf[ArrayType] &&
          right.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"right side must be array<double>, got ${right.dataType}")
    } else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"left side must be array<double>, got ${left.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_cosine"
}

/** Fused dot product — same contract and codegen shape as vec_cosine,
  * without the norm terms. Useful on pre-normalized embeddings, where
  * cosine degenerates to the dot and the two sqrt/divide ops per row are
  * pure waste.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t.isInstanceOf[ArrayType] &&
      t.asInstanceOf[ArrayType].elementType == DoubleType
    if (!ok(left.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"left side must be array<double>, got ${left.dataType}")
    else if (!ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"right side must be array<double>, got ${right.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Fused L2 norm (sqrt of the self-dot), the third member of the family. */
case class L2Norm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"input must be array<double>, got ${child.dataType}")

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val xi = x.getDouble(i); s += xi * xi; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $xi = $a.getDouble($i);
         |  $s += $xi * $xi;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)

  override def prettyName: String = "vec_norm"
}

object GraftFunctions {

  private val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "vec_norm"),
      (children: Seq[Expression]) => L2Norm(children(0))),
    (FunctionIdentifier("ieee_ln"),
      new ExpressionInfo(classOf[IeeeLn].getName, "ieee_ln"),
      (children: Seq[Expression]) => IeeeLn(children(0))),
    (FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (children: Seq[Expression]) => DeflateLen(children(0))),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => PqEncode(children(0),
        PqKernels.booksFromLiteral(
          children(1).eval().asInstanceOf[ArrayData]))),
    (FunctionIdentifier("pq_adc_table"),
      new ExpressionInfo(classOf[PqAdcTable].getName, "pq_adc_table"),
      (children: Seq[Expression]) => PqAdcTable(children(0),
        PqKernels.booksFromLiteral(
          children(1).eval().asInstanceOf[ArrayData]))),
    (FunctionIdentifier("pq_adc_score"),
      new ExpressionInfo(classOf[PqAdcScore].getName, "pq_adc_score"),
      (children: Seq[Expression]) => PqAdcScore(children(0), children(1))),
    (FunctionIdentifier("minhash_md5"),
      new ExpressionInfo(classOf[MinhashMd5Sigs].getName, "minhash_md5"),
      (children: Seq[Expression]) => MinhashMd5Sigs(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("minhash_xx"),
      new ExpressionInfo(classOf[MinhashXxSigs].getName, "minhash_xx"),
      (children: Seq[Expression]) => MinhashXxSigs(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("minwindow_md5"),
      new ExpressionInfo(classOf[MinWindowMd5].getName, "minwindow_md5"),
      (children: Seq[Expression]) => MinWindowMd5(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("windows_with_pos"),
      new ExpressionInfo(classOf[WindowsWithPos].getName, "windows_with_pos"),
      (children: Seq[Expression]) => WindowsWithPos(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("token_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "token_shingles"),
      (children: Seq[Expression]) => TokenShingles(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("icu_lower"),
      new ExpressionInfo(classOf[IcuCase].getName, "icu_lower"),
      (children: Seq[Expression]) => IcuCase(children(0), upper = false)),
    (FunctionIdentifier("icu_upper"),
      new ExpressionInfo(classOf[IcuCase].getName, "icu_upper"),
      (children: Seq[Expression]) => IcuCase(children(0), upper = true)),
    (FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (children: Seq[Expression]) => WinnowFps(children(0),
        children(1).eval().asInstanceOf[Number].intValue(),
        children(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("zorder_rank"),
      new ExpressionInfo(classOf[RankBucket].getName, "zorder_rank"),
      (children: Seq[Expression]) => RankBucket(children(0),
        children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq)),
    (FunctionIdentifier("hilbert_d"),
      new ExpressionInfo(classOf[HilbertD].getName, "hilbert_d"),
      (children: Seq[Expression]) => HilbertD(children(0), children(1),
        children(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("md5_slices32"),
      new ExpressionInfo(classOf[Md5Slices32].getName, "md5_slices32"),
      (children: Seq[Expression]) => Md5Slices32(children(0))),
    (FunctionIdentifier("md5_bits"),
      new ExpressionInfo(classOf[Md5Bits].getName, "md5_bits"),
      (children: Seq[Expression]) => Md5Bits(children(0),
        children(1).eval().asInstanceOf[Number].intValue(),
        children(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("lcs_len"),
      new ExpressionInfo(classOf[LcsLen].getName, "lcs_len"),
      (children: Seq[Expression]) => LcsLen(children(0), children(1))),
    (FunctionIdentifier("simhash_md5"),
      new ExpressionInfo(classOf[SimhashSigs].getName, "simhash_md5"),
      (children: Seq[Expression]) => SimhashSigs(children(0), portable = true)),
    (FunctionIdentifier("simhash_xx"),
      new ExpressionInfo(classOf[SimhashSigs].getName, "simhash_xx"),
      (children: Seq[Expression]) => SimhashSigs(children(0), portable = false)),
    // Spark's own runtime-filter bloom expressions, surfaced as session
    // functions so the engine can build a semi-join pre-filter EXPLICITLY
    // (InjectRuntimeFilter only plants them inside a same-query join;
    // graft's decontamination wants the sketch across two statements).
    // graft_bloom_agg(xxhash64(k), estItems, numBits) -> binary sketch;
    // graft_might_contain(sketch, xxhash64(k)) -> boolean, codegen'd.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))

  /** Registration path (c): plug into `spark.sql.extensions` /
    * `SparkSession.builder().withExtensions(...)`.
    */
  def install(extensions: SparkSessionExtensions): Unit =
    registrations.foreach(extensions.injectFunction)

  /** Idempotent in-session registration for sessions built without the
    * extension (a library consumer's own SparkSession).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }

  /** Column-level API for the native expressions. */
  def vecCosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vecNorm(a: Column): Column = call_function("vec_norm", a)
  def ieeeLn(x: Column): Column = call_function("ieee_ln", x)
  def lcsLen(a: Column, b: Column): Column = call_function("lcs_len", a, b)
  def deflateLen(x: Column): Column = call_function("deflate_len", x)
  def pqEncode(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    call_function("pq_encode", v,
      org.apache.spark.sql.functions.typedlit(books))
  def pqAdcTable(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    call_function("pq_adc_table", v,
      org.apache.spark.sql.functions.typedlit(books))
  def pqAdcScore(code: Column, qtab: Column): Column =
    call_function("pq_adc_score", code, qtab)
  def minhashMd5(shingles: Column, k: Int): Column =
    call_function("minhash_md5", shingles,
      org.apache.spark.sql.functions.lit(k))
  def minhashXx(shingles: Column, k: Int): Column =
    call_function("minhash_xx", shingles,
      org.apache.spark.sql.functions.lit(k))
  def minWindowMd5(s: Column, window: Int): Column =
    call_function("minwindow_md5", s,
      org.apache.spark.sql.functions.lit(window))
  def icuLower(s: Column): Column = call_function("icu_lower", s)
  def icuUpper(s: Column): Column = call_function("icu_upper", s)
  def winnowFps(s: Column, gram: Int, win: Int): Column =
    call_function("winnow_fps", s,
      org.apache.spark.sql.functions.lit(gram),
      org.apache.spark.sql.functions.lit(win))
  def windowsWithPos(toks: Column, n: Int): Column =
    call_function("windows_with_pos", toks,
      org.apache.spark.sql.functions.lit(n))
  def tokenShingles(toks: Column, n: Int): Column =
    call_function("token_shingles", toks,
      org.apache.spark.sql.functions.lit(n))
  def rankBucket(c: Column, bounds: Seq[Double]): Column =
    call_function("zorder_rank", c,
      org.apache.spark.sql.functions.typedlit(bounds))
  def hilbertD(x: Column, y: Column, bits: Int): Column =
    call_function("hilbert_d", x, y,
      org.apache.spark.sql.functions.lit(bits))
  def md5Slices32(s: Column): Column = call_function("md5_slices32", s)
  def md5Bits(s: Column, start: Int, len: Int): Column =
    call_function("md5_bits", s,
      org.apache.spark.sql.functions.lit(start),
      org.apache.spark.sql.functions.lit(len))
  def simhash(tokens: Column, portable: Boolean): Column =
    call_function(if (portable) "simhash_md5" else "simhash_xx", tokens)
  def bloomAgg(hashed: Column, estItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", hashed,
      org.apache.spark.sql.functions.lit(estItems),
      org.apache.spark.sql.functions.lit(numBits))
  def mightContain(sketch: Column, hashed: Column): Column =
    call_function("graft_might_contain", sketch, hashed)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.install(extensions)
    // materialized-aggregate routing (no-op while its registry is empty)
    extensions.injectOptimizerRule(s => new graft.plans.SummaryRouting(s))
  }
}
