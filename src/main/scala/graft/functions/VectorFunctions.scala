package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for the embedding hot path: a fused
  * dot-product over two numeric arrays with a double accumulator, folded
  * left-to-right — the same evaluation order as the `aggregate(zip_with(...))`
  * composition it replaces and as DuckDB's `list_reduce`, so results stay
  * bit-identical while moving from interpreted higher-order functions into
  * WholeStageCodegen (a tight primitive loop, no per-element boxing or
  * intermediate array).
  *
  * This is preference order (b) from the build rules: the built-ins *can*
  * express the semantics but leave ~10× throughput on the floor at 100 TB —
  * measured locally: the exact all-pairs cosine query dropped from 30 s to
  * ~3 s at sf0.1 when this expression replaced the HOF pipeline.
  */
case class DotProductFP(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** Always nullable: a null ELEMENT nullifies the product even when both
    * array columns are non-nullable. Without this override the inherited
    * `left.nullable || right.nullable` can be false, and the generated
    * `ev.isNull = true;` assigns to the constant `false` — an uncompilable
    * stage that silently drops the whole pipeline to interpreted mode.
    */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType | IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double|int> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def elemType(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType

  /** A null element nullifies the whole product — matching
    * `aggregate(zip_with(...))` (null product → null accumulator) and
    * DuckDB's list_reduce, instead of crashing or silently reading zeros.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    // ragged inputs → null, matching the composed aggregate(zip_with(...))
    // form (zip_with null-pads the shorter side, nullifying the fold) —
    // truncating would return a finite-but-wrong similarity for a
    // malformed embedding row
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    acc
  }

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
  }

  private def getterJava(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (${getterJava(elemType(left), a, i)}) * (${getterJava(elemType(right), b, i)});
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All sign-plane LSH bucket ids of one embedding in ONE pass: returns
  * `array<long>` of `nTables` bucket ids, where bit j of table t is set iff
  * `dot(emb, planes(t*width+j)) > 0`.
  *
  * Replaces `nTables × width` separate [[DotProductFP]]+`when` expressions
  * (each re-reading the array) with a single expression that streams the
  * embedding once per plane in a fused primitive loop — the projections for
  * all 32 planes run in one codegen method with zero intermediate rows.
  * Accumulation order per plane is identical to DotProductFP (ascending
  * index, double accumulator), so bucket values are bit-identical to the
  * composed form and the DuckDB oracle replays them unchanged.
  *
  * Null semantics match the composed form: a null embedding yields null; a
  * null ELEMENT made every `when(proj > 0, ...)` evaluate false in the
  * composed form (null comparison), producing bucket id 0 for every table —
  * reproduced here by zeroing all buckets on the first null element.
  */
case class SignPlanesFP(child: Expression, planes: Array[Array[Int]],
                        nTables: Int, width: Int, probes: Int = 1)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(probes >= 1 && probes <= width + 1,
    s"probes must be in [1, width+1]: primary + up to $width single-bit flips " +
      "in ascending |margin| order")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_sign_planes expects array<float|double|int>, got $t")
    }

  private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val n = emb.numElements()
    val buckets = new Array[Long](nTables * probes)
    var t = 0
    while (t < nTables) {
      var b = 0L
      val absm = new Array[Double](width)
      var j = 0
      while (j < width) {
        val p = planes(t * width + j)
        val m = math.min(n, p.length)
        var acc = 0.0
        var i = 0
        while (i < m) {
          if (emb.isNullAt(i)) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](nTables * probes))
          acc += (elemType match {
            case FloatType => emb.getFloat(i).toDouble
            case DoubleType => emb.getDouble(i)
            case IntegerType => emb.getInt(i).toDouble
          }) * p(i)
          i += 1
        }
        if (acc > 0) b |= (1L << j)
        absm(j) = math.abs(acc)
        j += 1
      }
      buckets(t * probes) = b
      // probe q flips the q-th lowest-|margin| bit (ties -> lowest j, same
      // as the oracle's ORDER BY abs(s), j): partial selection over width
      val used = new Array[Boolean](width)
      var q = 1
      while (q < probes) {
        var best = 0
        var bestAbs = Double.MaxValue
        var k = 0
        while (k < width) {
          if (!used(k) && absm(k) < bestAbs) { bestAbs = absm(k); best = k }
          k += 1
        }
        used(best) = true
        buckets(t * probes + q) = b ^ (1L << best)
        q += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "int[][]")
    val getter = elemType match {
      case FloatType => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case DoubleType => (a: String, i: String) => s"$a.getDouble($i)"
      case IntegerType => (a: String, i: String) => s"(double) $a.getInt($i)"
    }
    nullSafeCodeGen(ctx, ev, emb => {
      val n = ctx.freshName("n"); val buckets = ctx.freshName("buckets")
      val t = ctx.freshName("t"); val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val b = ctx.freshName("b")
      val nullElem = ctx.freshName("nullElem")
      val absm = ctx.freshName("absm"); val used = ctx.freshName("used")
      val q = ctx.freshName("q"); val k = ctx.freshName("k")
      val best = ctx.freshName("best"); val bestAbs = ctx.freshName("bestAbs")
      s"""
         |int $n = $emb.numElements();
         |long[] $buckets = new long[${nTables * probes}];
         |boolean $nullElem = false;
         |for (int $t = 0; $t < $nTables && !$nullElem; $t++) {
         |  long $b = 0L;
         |  double[] $absm = new double[$width];
         |  for (int $j = 0; $j < $width && !$nullElem; $j++) {
         |    int[] $p = $planesRef[$t * $width + $j];
         |    int $m = java.lang.Math.min($n, $p.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      if ($emb.isNullAt($i)) { $nullElem = true; break; }
         |      $acc += (${getter(emb, i)}) * (double) $p[$i];
         |    }
         |    if (!$nullElem && $acc > 0) $b |= (1L << $j);
         |    $absm[$j] = java.lang.Math.abs($acc);
         |  }
         |  $buckets[$t * $probes] = $b;
         |  // probe q flips the q-th lowest-|margin| bit (ties -> lowest j)
         |  boolean[] $used = new boolean[$width];
         |  for (int $q = 1; $q < $probes; $q++) {
         |    int $best = 0;
         |    double $bestAbs = Double.MAX_VALUE;
         |    for (int $k = 0; $k < $width; $k++) {
         |      if (!$used[$k] && $absm[$k] < $bestAbs) { $bestAbs = $absm[$k]; $best = $k; }
         |    }
         |    $used[$best] = true;
         |    $buckets[$t * $probes + $q] = $b ^ (1L << $best);
         |  }
         |}
         |if ($nullElem) { $buckets = new long[${nTables * probes}]; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($buckets);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two SORTED long arrays (ascending, distinct,
  * non-null elements — the shape `sort_array(collect_list(h))` produces
  * over distinct per-doc posting hashes): one two-pointer sweep, zero
  * allocation, fully codegen. This is the per-pair verification kernel of
  * the verified dedup families: n_common(a, b) = |A ∩ B| computed
  * directly from the two docs' posting arrays, replacing a second
  * hash-join probe per posting row (and the exploded (pair, h) expansion
  * that probe required — see SCALE.md "Never SORT the quadratic stream").
  */
case class SortedIntersectCountFP(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect_count expects array<bigint> inputs, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Column-level API — usable without any session setup. */
  def graftDot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductFP(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Intersection count of two sorted distinct long arrays (codegen
    * two-pointer; see [[SortedIntersectCountFP]]).
    */
  def graftSortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCountFP(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Int8 quantization summary: [scale_bp, checksum, q_min, q_max]
    * (empty array on null element / zero max).
    */
  def graftQuant8(emb: Column): Column =
    ColumnBridge.column(Quant8FP(ColumnBridge.expression(emb)))

  /** All LSH bucket ids of an embedding in one fused pass (array<long>).
    * `probes = p` appends, per table, p−1 extra buckets: probe q flips the
    * q-th LOWEST-|MARGIN| bit (the planes whose |projection| is smallest —
    * the most likely single-bit hash errors, in likelihood order):
    * symmetric multi-probe, entries laid out
    * [t0 primary, t0 probe1, …, t1 primary, …].
    */
  def graftSignPlanes(emb: Column, planes: Array[Array[Int]],
                      nTables: Int, width: Int, probes: Int = 1): Column =
    ColumnBridge.column(SignPlanesFP(
      ColumnBridge.expression(emb), planes, nTables, width, probes))

  /** SQL surface: `SELECT graft_dot(a.embedding, b.embedding)` — injected via
    * SparkSessionExtensions (`.withExtensions(new GraftExtensions)`).
    */
  /** Arity gate (TextFunctions.requireArity's twin): a wrong argument
    * count must surface as a usable usage error, not an
    * IndexOutOfBoundsException from exprs(i).
    */
  private def requireArity(exprs: Seq[Expression], n: Int, usage: String): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$usage: expected $n arguments, got ${exprs.length}")

  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductFP].getName, "graft_dot"),
    (exprs: Seq[Expression]) => {
      requireArity(exprs, 2, "graft_dot(a, b)")
      DotProductFP(exprs.head, exprs(1))
    })

  /** SQL surface: `SELECT graft_quant8(embedding)`. */
  val registrationQuant8: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quant8"),
    new ExpressionInfo(classOf[Quant8FP].getName, "graft_quant8"),
    (exprs: Seq[Expression]) => {
      requireArity(exprs, 1, "graft_quant8(embedding)")
      Quant8FP(exprs.head)
    })
}

/** Int8 quantization summary of an embedding — the vector-store
  * compression step: q_i = floor(x_i · 127 / max|x|), reported as integer
  * summary columns (scale in 1e-4 fixed point, an order-weighted checksum
  * Σ q_i·(i+1), min, max) rather than the raw int8 array, which keeps the
  * oracle compare scalar. All arithmetic after the reads is IEEE double
  * multiply/divide + floor — bit-identical across engines (HALF_UP vs
  * half-even never enters: floor only). Returns an EMPTY array for a null
  * element or a zero/negative max (callers filter on size), so the isNull
  * slot is never assigned in generated code.
  */
case class Quant8FP(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_quant8 expects array<float|double|int>, got $t")
    }

  private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val n = emb.numElements()
    def at(i: Int): Double = elemType match {
      case FloatType => emb.getFloat(i).toDouble
      case DoubleType => emb.getDouble(i)
      case IntegerType => emb.getInt(i).toDouble
    }
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return empty
      val a = math.abs(at(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (maxAbs <= 0.0) return empty
    var checksum = 0L
    var qMin = Long.MaxValue
    var qMax = Long.MinValue
    i = 0
    while (i < n) {
      val q = math.floor(at(i) * 127.0 / maxAbs).toLong
      checksum += q * (i + 1)
      if (q < qMin) qMin = q
      if (q > qMax) qMax = q
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(math.floor(maxAbs * 10000.0).toLong, checksum, qMin, qMax))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elemType match {
      case FloatType => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case DoubleType => (a: String, i: String) => s"$a.getDouble($i)"
      case IntegerType => (a: String, i: String) => s"(double) $a.getInt($i)"
    }
    nullSafeCodeGen(ctx, ev, emb => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val maxAbs = ctx.freshName("maxAbs"); val bad = ctx.freshName("bad")
      val a = ctx.freshName("a"); val q = ctx.freshName("q")
      val cs = ctx.freshName("cs"); val qmn = ctx.freshName("qmn")
      val qmx = ctx.freshName("qmx"); val out = ctx.freshName("out")
      s"""
         |int $n = $emb.numElements();
         |double $maxAbs = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($emb.isNullAt($i)) { $bad = true; break; }
         |  double $a = java.lang.Math.abs(${getter(emb, i)});
         |  if ($a > $maxAbs) $maxAbs = $a;
         |}
         |long[] $out;
         |if ($bad || $maxAbs <= 0.0) {
         |  $out = new long[0];
         |} else {
         |  long $cs = 0L; long $qmn = Long.MAX_VALUE; long $qmx = Long.MIN_VALUE;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $q = (long) java.lang.Math.floor((${getter(emb, i)}) * 127.0 / $maxAbs);
         |    $cs += $q * ($i + 1);
         |    if ($q < $qmn) $qmn = $q;
         |    if ($q > $qmx) $qmx = $q;
         |  }
         |  $out = new long[]{(long) java.lang.Math.floor($maxAbs * 10000.0), $cs, $qmn, $qmx};
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session extensions registering graft's native functions plus the whole-
  * operator tier: the as-of join planner strategy and its pushdown rule
  * ([[graft.plans.AsofJoinStrategy]], [[graft.plans.PushFilterThroughAsofJoin]]).
  * Live sessions get the same two via `spark.experimental.*`, installed
  * idempotently by [[graft.plans.AsofJoin.join]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(VectorFunctions.registration)
    e.injectFunction(VectorFunctions.registrationQuant8)
    e.injectFunction(TextFunctions.registration)
    e.injectFunction(TextFunctions.registrationAll)
    e.injectFunction(TextFunctions.registrationSimhash)
    e.injectFunction(TextFunctions.registrationMinhash)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
  }
}

object GraftExtensions {
  /** Register every graft SQL function on an ALREADY-RUNNING session (the
    * builder-time extensions path can't reach existing sessions).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, VectorFunctions.registration)
    ColumnBridge.registerFunction(spark, VectorFunctions.registrationQuant8)
    ColumnBridge.registerFunction(spark, TextFunctions.registration)
    ColumnBridge.registerFunction(spark, TextFunctions.registrationAll)
    ColumnBridge.registerFunction(spark, TextFunctions.registrationSimhash)
    ColumnBridge.registerFunction(spark, TextFunctions.registrationMinhash)
  }
}
