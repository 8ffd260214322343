package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared scaffolding for binary expressions folding over a pair of
  * float/double arrays: the type check, element accessors (interpreted
  * and codegen), and the common null/length semantics (arrays are
  * folded over the common prefix length; a null element → null result).
  * Subclasses supply only their accumulate/combine logic — keeping
  * [[CosineSimilarity]] and [[DotProduct]] from drifting apart.
  */
abstract class ArrayPairExpression extends BinaryExpression {

  /** SQL-facing name used in type-check error messages. */
  protected def fnName: String

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  protected def get(arr: ArrayData, i: Int, dt: DataType): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  protected def getterCode(arr: String, i: String, dt: DataType): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** Cosine similarity between two numeric arrays, as a native Catalyst
  * expression with whole-stage codegen.
  *
  * Why a custom expression instead of `aggregate(zip_with(...))`: the
  * higher-order-function composition materializes an intermediate array
  * per row and evaluates lambdas interpretively; this expression is a
  * single fused loop inside WholeStageCodegen — the hot path for
  * brute-force ANN over 100 TB of embeddings. Accumulation is strictly
  * left-to-right in double, which also makes results reproducible.
  *
  * Null/zero handling: returns null if either array is null or either
  * norm is zero; arrays are compared over the common prefix length.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends ArrayPairExpression {

  override protected def fnName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (ta, tb) = (elemType(left), elemType(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // null element → null result
      val va = get(a, i, ta); val vb = get(b, i, tb)
      dot += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      val anyNull = ctx.freshName("anyNull")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |  double $va = ${getterCode(a, i, ta)};
         |  double $vb = ${getterCode(b, i, tb)};
         |  $dot += $va * $vb; $na += $va * $va; $nb += $vb * $vb;
         |}
         |if ($anyNull || $na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Plain dot product of two numeric arrays — [[CosineSimilarity]] minus
  * the norms. Exists because hyperplane-LSH bucketing only needs the
  * SIGN of the projection: sign(dot) == sign(cosine) for nonzero
  * vectors, and computing the full cosine would redo the row vector's
  * norm (plus two sqrts and a division) once per hyperplane — 64×
  * per row at the default planes×tables. Null/length semantics match
  * CosineSimilarity (common prefix length; null element → null).
  */
case class DotProduct(left: Expression, right: Expression)
    extends ArrayPairExpression {

  override protected def fnName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (ta, tb) = (elemType(left), elemType(right))
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val anyNull = ctx.freshName("anyNull")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |  $dot += ${getterCode(a, i, ta)} * ${getterCode(b, i, tb)};
         |}
         |if ($anyNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** L2-normalize a numeric array in one pass, returning array<double>.
  * A lambda formulation (`transform(v, x => x / sqrt(aggregate(v, ...)))`)
  * re-evaluates the norm aggregate per element after Catalyst inlines the
  * alias — O(n²) per row; this expression is O(n) and codegen'd.
  * Zero-norm or null input → null.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"l2_normalize expects array<float|double>, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null // null element → null result
      val x = elemType match {
        case FloatType => arr.getFloat(i).toDouble
        case _ => arr.getDouble(i)
      }
      out(i) = x; ss += x * x; i += 1
    }
    if (ss == 0.0) null
    else {
      val inv = 1.0 / java.lang.Math.sqrt(ss)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val ss = ctx.freshName("ss"); val out = ctx.freshName("out")
      val inv = ctx.freshName("inv")
      val anyNull = ctx.freshName("anyNull"); val v = ctx.freshName("v")
      val get = elemType match {
        case FloatType => s"(double) $a.getFloat($i)"
        case _ => s"$a.getDouble($i)"
      }
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |double $ss = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $anyNull = true; break; }
         |  double $v = $get; $out[$i] = $v; $ss += $v * $v;
         |}
         |if ($anyNull || $ss == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $inv = 1.0 / java.lang.Math.sqrt($ss);
         |  for (int $i = 0; $i < $n; $i++) { $out[$i] *= $inv; }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit polynomial rolling-hash fingerprint of a string (document
  * fingerprinting). h = Σ h*B + byte, wrapping in 64-bit arithmetic —
  * deterministic, codegen'd, and cheap enough to run inline in a scan.
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  private val B = 1000003L

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"rolling_hash expects string, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    java.lang.Long.valueOf(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i"); val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * ${B}L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hilbert-curve index of a 2-D point on the 2^bits × 2^bits grid —
  * the write-layout clustering key with STRICTLY better locality than
  * the Morton interleave ([[graft.operators.Layout.mortonInterleave]]):
  * consecutive Hilbert indices are always Manhattan-adjacent cells
  * (unit steps, no Z-order jumps), so a file covering a tight index
  * range covers a tight spatial rectangle with no diagonal seams —
  * the reason Delta's liquid clustering moved from Z-order to Hilbert.
  *
  * The classic top-bit-down walk (Hilbert 1891; the compact iterative
  * x,y→d form): per level, quadrant digit `(3·rx) XOR ry` weighted by
  * s², then reflect+swap the frame when ry=0. A plain register loop —
  * codegen'd into the scan (the [[RollingWindowHashes]] lesson: HOF
  * formulations interpret a lambda per step), and replayed bit-exactly
  * by the oracle as staged per-level CTEs
  * ([[graft.queries.HilbertSql]], the Murmur3Sql pattern). Inputs are
  * floor-mod-wrapped into the grid like mortonInterleave's pmod.
  * Result < 4^bits — long-exact through bits=31.
  */
case class HilbertIndex2D(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits=$bits out of range [1,31]")

  private val m = 1L << bits

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert2d expects (bigint, bigint), got ($l, $r)")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    var x = java.lang.Math.floorMod(l.asInstanceOf[Long], m)
    var y = java.lang.Math.floorMod(r.asInstanceOf[Long], m)
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    java.lang.Long.valueOf(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val rx = ctx.freshName("rx"); val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |long $x = java.lang.Math.floorMod($l, ${m}L);
         |long $y = java.lang.Math.floorMod($r, ${m}L);
         |long $d = 0L;
         |for (long $s = ${1L << (bits - 1)}L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The per-position rolling-window hash stream behind CDC chunking and
  * winnowing fingerprints ([[graft.operators.Chunking]]): for every
  * 1-based position p in [8, len], `h(p) = Σ_{j=0..7} byte(p−j)·31^j` —
  * returned as `array<long>` (element i ↔ position i+7).
  *
  * Codegen'd with the INCREMENTAL recurrence
  * `h(p+1) = (h(p) − byte(p−7)·31^7)·31 + byte(p+1)` — one
  * multiply-add per byte instead of the higher-order-function form's
  * 8-term closed-form polynomial per position with an interpreted
  * lambda dispatch per element (the HOF path cannot enter
  * whole-stage codegen). Bit-identical to the HOF form on
  * single-byte-per-char text (the corpus family; same ASCII caveat as
  * [[SimHash64]]'s oracle — DuckDB replays code points).
  * Max magnitude 8·255·31^7 ≈ 5.6·10¹³ — long-exact, no wrap.
  */
case class RollingWindowHashes(child: Expression) extends UnaryExpression {
  private val Pow7 = 27512614111L // 31^7

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cdc_hashes expects string, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    val n = b.length
    val m = if (n >= 8) n - 7 else 0
    val out = new Array[Long](m)
    if (m > 0) {
      var h = 0L
      var i = 0
      while (i < 8) { h = h * 31L + (b(i) & 0xffL); i += 1 }
      out(0) = h
      var p = 8
      while (p < n) {
        h = (h - (b(p - 8) & 0xffL) * Pow7) * 31L + (b(p) & 0xffL)
        out(p - 7) = h
        p += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val b = ctx.freshName("b"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val out = ctx.freshName("out")
      val h = ctx.freshName("h"); val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      s"""
         |byte[] $b = $s.getBytes();
         |int $n = $b.length;
         |int $m = $n >= 8 ? $n - 7 : 0;
         |long[] $out = new long[$m];
         |if ($m > 0) {
         |  long $h = 0L;
         |  for (int $i = 0; $i < 8; $i++) $h = $h * 31L + ($b[$i] & 0xffL);
         |  $out[0] = $h;
         |  for (int $p = 8; $p < $n; $p++) {
         |    $h = ($h - ($b[$p - 8] & 0xffL) * ${Pow7}L) * 31L + ($b[$p] & 0xffL);
         |    $out[$p - 7] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The [[RollingWindowHashes]] byte stream SAMPLED at CHARACTER ends —
  * the multi-byte-safe boundary source for CDC chunking
  * ([[graft.operators.Chunking.cdcChunks]]): element q (1-based) ↔ the
  * q-th character of the string; its value is the window hash
  * `Σ_{j=0..7} byte(e_q−j)·31^j` over the 8 UTF-8 BYTES ending at that
  * character's LAST byte e_q, or the sentinel −1 (never ≡ 0 mod the
  * boundary mask — hashes are non-negative) when fewer than 8 bytes
  * precede. Admitting boundaries only at character ends keeps chunk
  * slicing in the CHARACTER domain on both engines (DuckDB has no blob
  * substring/md5), so multilingual corpora chunk correctly where the
  * former byte-position + char-substring mismatch had to fail loudly.
  *
  * On single-byte-per-char text every byte position IS a char end, so
  * element q equals RollingWindowHashes element q−7 exactly — the
  * pre-round-12 ASCII behavior bit-for-bit (pinned in
  * GraftFunctionsSpec). Same incremental multiply-add-per-byte codegen
  * as [[RollingWindowHashes]]; char ends are `(next byte & 0xC0) !=
  * 0x80` — one mask test per byte, no decode.
  */
case class CdcCharHashes(child: Expression) extends UnaryExpression {
  private val Pow7 = 27512614111L // 31^7

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cdc_char_hashes expects string, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    val n = b.length
    var nc = 0
    var i = 0
    while (i < n) { if ((b(i) & 0xC0) != 0x80) nc += 1; i += 1 }
    val out = new Array[Long](nc)
    var h = 0L
    var q = 0
    i = 0
    while (i < n) {
      h = if (i < 8) h * 31L + (b(i) & 0xffL)
          else (h - (b(i - 8) & 0xffL) * Pow7) * 31L + (b(i) & 0xffL)
      if (i == n - 1 || (b(i + 1) & 0xC0) != 0x80) {
        out(q) = if (i >= 7) h else -1L
        q += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val b = ctx.freshName("b"); val n = ctx.freshName("n")
      val nc = ctx.freshName("nc"); val out = ctx.freshName("out")
      val h = ctx.freshName("h"); val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      s"""
         |byte[] $b = $s.getBytes();
         |int $n = $b.length;
         |int $nc = 0;
         |for (int $i = 0; $i < $n; $i++)
         |  if (($b[$i] & 0xC0) != 0x80) $nc++;
         |long[] $out = new long[$nc];
         |long $h = 0L;
         |int $q = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $h = $i < 8 ? $h * 31L + ($b[$i] & 0xffL)
         |             : ($h - ($b[$i - 8] & 0xffL) * ${Pow7}L) * 31L + ($b[$i] & 0xffL);
         |  if ($i == $n - 1 || ($b[$i + 1] & 0xC0) != 0x80) {
         |    $out[$q++] = $i >= 7 ? $h : -1L;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over a token array: FNV-1a hash per token, per-bit
  * majority vote. Near-duplicate documents land within a small Hamming
  * distance; band the result (e.g. four 16-bit bands) for bucketed
  * candidate generation at scale. Codegen'd — the fingerprint runs
  * scan-side over every document, so it must stay inside
  * WholeStageCodegen like the other fingerprints.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<string>, got $t")
  }

  private def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var t = 0
    while (t < arr.numElements()) {
      if (!arr.isNullAt(t)) {
        val h = fnv1a64(arr.getUTF8String(t).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      // The nested token×64-bit voting loop goes into its OWN generated
      // method: inlined into the whole-stage-codegen body it pushes the
      // stage method past the JIT's huge-method bytecode limit and the
      // entire stage drops to interpreted bytecode (measured 2× slowdown
      // on the banded-candidates query). FNV-1a constants are decimal
      // longs (0xcbf29ce484222325 is negative as a signed Java literal).
      val fn = ctx.freshName("simhash64")
      val method = ctx.addNewFunction(fn,
        s"""
           |private long $fn(org.apache.spark.sql.catalyst.util.ArrayData arr) {
           |  int[] votes = new int[64];
           |  for (int t = 0; t < arr.numElements(); t++) {
           |    if (!arr.isNullAt(t)) {
           |      byte[] bytes = arr.getUTF8String(t).getBytes();
           |      long h = -3750763034362895579L;
           |      for (int i = 0; i < bytes.length; i++) {
           |        h ^= (bytes[i] & 0xffL);
           |        h *= 1099511628211L;
           |      }
           |      for (int b = 0; b < 64; b++) {
           |        if (((h >>> b) & 1L) == 1L) votes[b]++; else votes[b]--;
           |      }
           |    }
           |  }
           |  long out = 0L;
           |  for (int b = 0; b < 64; b++) {
           |    if (votes[b] > 0) out |= (1L << b);
           |  }
           |  return out;
           |}
         """.stripMargin)
      s"${ev.value} = $method($arr);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature over a shingle array in ONE pass: every seeded
  * murmur3 lane evaluated inside a single fused loop per shingle, with
  * running minima — `array<string> → array<int>` (k lanes).
  *
  * Replaces the explode → k× `murmur3_seeded` → groupBy(min…k) build
  * (r13 verdict task: the x21/x03 cold floor was ~8 M exploded shingles
  * × 16 separate seeded expression evaluations plus a corpus-wide
  * hash-aggregate exchange). Here the signature is a scan-side
  * projection: no explode row blow-up, no aggregation exchange, one
  * `UTF8String` fetch per shingle with the bytes hot in cache across
  * all k lanes.
  *
  * Parity contract (pinned in GraftFunctionsSpec): lane j equals
  * `min(Murmur3Hash(shingle, seeds(j)))` over the array's elements —
  * the exact values the former build produced and the DuckDB oracle
  * replays. That means Spark's `Murmur3_x86_32.hashUnsafeBytes` on the
  * UTF8 bytes for non-null elements, and the SEED itself for a null
  * element (Spark's hash of null returns the seed — explode used to
  * emit null elements as rows). An EMPTY (or all-null-yielding…) array
  * returns a null signature, mirroring "explode emits no rows → the
  * doc never reaches the aggregate".
  */
case class MinhashSignature(child: Expression, seeds: Seq[Int])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if seeds.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure("minhash_sig needs at least one seed")
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got $t")
  }

  private lazy val seedArray: Array[Int] = seeds.toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val k = seedArray.length
    val mins = Array.fill(k)(Int.MaxValue)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var j = 0
        while (j < k) {
          if (seedArray(j) < mins(j)) mins(j) = seedArray(j); j += 1
        }
      } else {
        val u = arr.getUTF8String(i)
        val base = u.getBaseObject
        val off = u.getBaseOffset
        val len = u.numBytes()
        var j = 0
        while (j < k) {
          val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashUnsafeBytes(base, off, len, seedArray(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sd = ctx.addReferenceObj("seeds", seedArray, "int[]")
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val mins = ctx.freshName("mins"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val u = ctx.freshName("u")
      val b = ctx.freshName("b"); val o = ctx.freshName("o")
      val l = ctx.freshName("l"); val h = ctx.freshName("h")
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $sd.length;
         |  int[] $mins = new int[$k];
         |  java.util.Arrays.fill($mins, Integer.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($arr.isNullAt($i)) {
         |      for (int $j = 0; $j < $k; $j++)
         |        if ($sd[$j] < $mins[$j]) $mins[$j] = $sd[$j];
         |    } else {
         |      org.apache.spark.unsafe.types.UTF8String $u = $arr.getUTF8String($i);
         |      Object $b = $u.getBaseObject();
         |      long $o = $u.getBaseOffset();
         |      int $l = $u.numBytes();
         |      for (int $j = 0; $j < $k; $j++) {
         |        int $h = org.apache.spark.unsafe.hash.Murmur3_x86_32
         |          .hashUnsafeBytes($b, $o, $l, $sd[$j]);
         |        if ($h < $mins[$j]) $mins[$j] = $h;
         |      }
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word n-gram (shingle) array over a pre-split token array — the
  * codegen'd replacement (r16) for the interpreted zip_with-over-
  * shifted-slices chain in `Dedup.shingleArrayOfTokens`.
  *
  * Why native: the zip_with chain is CodegenFallback, so every
  * evaluation interprets ~n lambda invocations per element with
  * intermediate array churn, nothing CSEs, and InferFiltersFromGenerate
  * + predicate pushdown re-inline the WHOLE chain (including the
  * `split`) into pre-Generate filters — x58 measured ~21 regex splits
  * and 3 full chain evaluations per doc. This expression is one
  * O(len·n) pass with no intermediates, stays inside whole-stage
  * codegen, and a pushed-down `size(shingle_array(split(..)))>0` filter
  * costs one split + one pass instead of ten.
  *
  * Parity contract (pinned in GraftFunctionsSpec): output equals the
  * zip_with chain element-for-element — m = max(len−(n−1), 0) elements,
  * element i = tokens[i..i+n−1] joined by a single space, NULL when any
  * contributing token is null (concat's null semantics), EMPTY array
  * (never null) for arrays shorter than n, null only for null input.
  */
case class ShingleArray(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure("shingle_array needs n >= 1")
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_array expects array<string>, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val m = math.max(len - (n - 1), 0)
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](2 * n - 1)
    var j = 1
    while (j < parts.length) { parts(j) = ShingleArray.Space; j += 2 }
    var i = 0
    while (i < m) {
      var k = 0
      while (k < n) {
        parts(2 * k) =
          if (arr.isNullAt(i + k)) null else arr.getUTF8String(i + k)
        k += 1
      }
      out(i) = UTF8String.concat(parts: _*) // null if any part null
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val len = ctx.freshName("len"); val m = ctx.freshName("m")
      val out = ctx.freshName("out"); val parts = ctx.freshName("parts")
      val i = ctx.freshName("i"); val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $len = $arr.numElements();
         |int $m = java.lang.Math.max($len - ${n - 1}, 0);
         |Object[] $out = new Object[$m];
         |$utf8[] $parts = new $utf8[${2 * n - 1}];
         |for (int $j = 1; $j < ${2 * n - 1}; $j += 2)
         |  $parts[$j] = graft.functions.ShingleArray.Space();
         |for (int $i = 0; $i < $m; $i++) {
         |  for (int $k = 0; $k < $n; $k++) {
         |    $parts[2 * $k] = $arr.isNullAt($i + $k)
         |      ? null : $arr.getUTF8String($i + $k);
         |  }
         |  $out[$i] = $utf8.concat($parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleArray {
  private val SpaceV: UTF8String = UTF8String.fromString(" ")
  /** Java-codegen-friendly accessor (static call in generated code). */
  def Space(): UTF8String = SpaceV
}

/** All n-character substrings (char n-grams) of a string — the
  * whole-stage-codegen replacement for
  * `transform(sequence(1, length(p) - (n-1)), i -> substring(p, i, n))`
  * (x42/x60's char-trigram build): higher-order functions are
  * CodegenFallback, so the SQL form broke codegen for the scan stage
  * and paid interpreted lambda dispatch per gram. One byte pass finds
  * the code-point starts, each gram is a byte-range slice — O(len +
  * gram bytes), no per-element substring rescans. Element-for-element
  * parity with the SQL chain is pinned in GraftFunctionsSpec.
  */
case class CharGrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType =>
      TypeCheckResult.TypeCheckFailure("char_grams needs n >= 1")
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_grams expects string, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    CharGrams.grams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharGrams.grams($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharGrams {
  /** Shared by interpreted eval and generated code — parity by
    * construction. Code-point semantics match SQL `substring`.
    */
  def grams(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    // code-point start offsets (continuation bytes are 10xxxxxx)
    var nc = 0
    var i = 0
    while (i < b.length) { if ((b(i) & 0xC0) != 0x80) nc += 1; i += 1 }
    val starts = new Array[Int](nc + 1)
    var ci = 0
    i = 0
    while (i < b.length) {
      if ((b(i) & 0xC0) != 0x80) { starts(ci) = i; ci += 1 }
      i += 1
    }
    starts(nc) = b.length
    val m = math.max(nc - (n - 1), 0)
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = UTF8String.fromBytes(b, starts(i), starts(i + n) - starts(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sliding-window minimum over a long array — the codegen replacement
  * for the winnowing selector
  * `transform(sequence(1, size(kh) - (w-1)), i -> array_min(slice(kh, i, w)))`
  * (x97): the HOF form is CodegenFallback AND allocates a w-element
  * slice per window. One pass, no allocations beyond the output; the
  * len<w case yields an empty array (the SQL form needed a CASE guard
  * because sequence(1, k) descends for k < 1). Parity pinned in
  * GraftFunctionsSpec.
  */
case class SlidingMin(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, false) =>
      TypeCheckResult.TypeCheckFailure("sliding_min needs w >= 1")
    case t => TypeCheckResult.TypeCheckFailure(
      s"sliding_min expects array<long> without nulls, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    SlidingMin.mins(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SlidingMin.mins($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SlidingMin {
  /** Shared by interpreted eval and generated code. O(len·w) with w
    * small by contract (winnowing windows are 4-ish); no per-window
    * slice allocation.
    */
  def mins(arr: ArrayData, w: Int): ArrayData = {
    val len = arr.numElements()
    val m = math.max(len - (w - 1), 0)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var mn = arr.getLong(i)
      var k = 1
      while (k < w) {
        val v = arr.getLong(i + k)
        if (v < mn) mn = v
        k += 1
      }
      out(i) = mn
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Longest run of equal ADJACENT elements in a string array — the
  * codegen replacement for gopherQuality's `aggregate(array_sort(ws),
  * struct(prev,run,best), ...)` mode counter (x40/x47): the aggregate
  * HOF is CodegenFallback and paid interpreted struct churn per token.
  * Same fold semantics: a null element never extends a run (and starts
  * its own singleton), empty arrays yield 0. Callers sort first when
  * they want the mode count. Parity pinned in GraftFunctionsSpec.
  */
case class MaxRunLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"max_run_len expects array<string>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    MaxRunLen.maxRun(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MaxRunLen.maxRun($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MaxRunLen {
  /** Shared by interpreted eval and generated code. */
  def maxRun(arr: ArrayData): Int = {
    val len = arr.numElements()
    var best = 0
    var run = 0
    var prev: UTF8String = null
    var i = 0
    while (i < len) {
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      run = if (cur != null && cur.equals(prev)) run + 1 else 1
      if (cur != null && run > best) best = run
      else if (cur == null && best == 0) best = 1
      prev = cur
      i += 1
    }
    best
  }
}

/** Registration + Column-level wrappers for the engine's native functions. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Idempotent per session: operators call register() defensively, so
    // guard on the last-registered name to avoid the registry's
    // "replaced a previously registered function" warning on every query.
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("murmur3_seeded"))) {
      return
    }
    def arity2(name: String)(es: Seq[Expression]): (Expression, Expression) = {
      if (es.length != 2) throw new IllegalArgumentException(
        s"$name expects exactly 2 arguments, got ${es.length}")
      (es(0), es(1))
    }
    reg.createOrReplaceTempFunction("cosine_sim",
      (es: Seq[Expression]) => {
        val (a, b) = arity2("cosine_sim")(es); CosineSimilarity(a, b)
      }, "built-in")
    reg.createOrReplaceTempFunction("dot_product",
      (es: Seq[Expression]) => {
        val (a, b) = arity2("dot_product")(es); DotProduct(a, b)
      }, "built-in")
    reg.createOrReplaceTempFunction("rolling_hash",
      (es: Seq[Expression]) => RollingHash(es.head), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      (es: Seq[Expression]) => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("cdc_hashes",
      (es: Seq[Expression]) => RollingWindowHashes(es.head), "built-in")
    reg.createOrReplaceTempFunction("cdc_char_hashes",
      (es: Seq[Expression]) => CdcCharHashes(es.head), "built-in")
    reg.createOrReplaceTempFunction("l2_normalize",
      (es: Seq[Expression]) => L2Normalize(es.head), "built-in")
    reg.createOrReplaceTempFunction("hilbert2d",
      (es: Seq[Expression]) => {
        if (es.length != 3) throw new IllegalArgumentException(
          s"hilbert2d expects exactly (x, y, bits) — 3 arguments, got ${es.length}")
        val bits = es(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hilbert2d expects a literal int bits, got $other")
        }
        HilbertIndex2D(es(0), es(1), bits)
      }, "built-in")
    // Spark's codegen'd Murmur3 with a CALLER-CHOSEN seed (the built-in
    // hash() pins seed 42): k independent hash functions for MinHash are
    // murmur3 under k seeds — the textbook construction; affine maps of
    // ONE hash are perfectly correlated (see Dedup.minhashSignatures).
    reg.createOrReplaceTempFunction("minhash_sig",
      (es: Seq[Expression]) => {
        if (es.length < 2) throw new IllegalArgumentException(
          s"minhash_sig expects (shingles, seed...) — ≥2 arguments, got ${es.length}")
        val seeds = es.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig expects literal int seeds, got $other")
        }
        MinhashSignature(es.head, seeds)
      }, "built-in")
    reg.createOrReplaceTempFunction("shingle_array",
      (es: Seq[Expression]) => {
        if (es.length != 2) throw new IllegalArgumentException(
          s"shingle_array expects exactly (tokens, n) — 2 arguments, got ${es.length}")
        val n = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"shingle_array expects a literal int n, got $other")
        }
        ShingleArray(es.head, n)
      }, "built-in")
    def arityLitInt(name: String)(es: Seq[Expression]): (Expression, Int) = {
      if (es.length != 2) throw new IllegalArgumentException(
        s"$name expects exactly 2 arguments, got ${es.length}")
      val k = es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"$name expects a literal int, got $other")
      }
      (es(0), k)
    }
    reg.createOrReplaceTempFunction("char_grams",
      (es: Seq[Expression]) => {
        val (c, n) = arityLitInt("char_grams")(es); CharGrams(c, n)
      }, "built-in")
    reg.createOrReplaceTempFunction("sliding_min",
      (es: Seq[Expression]) => {
        val (c, w) = arityLitInt("sliding_min")(es); SlidingMin(c, w)
      }, "built-in")
    reg.createOrReplaceTempFunction("max_run_len",
      (es: Seq[Expression]) => MaxRunLen(es.head), "built-in")
    reg.createOrReplaceTempFunction("murmur3_seeded",
      (es: Seq[Expression]) => {
        if (es.length != 2) throw new IllegalArgumentException(
          s"murmur3_seeded expects exactly (value, seed) — 2 arguments, got ${es.length}")
        val seed = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"murmur3_seeded expects a literal int seed, got $other")
        }
        org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(es.head), seed)
      }, "built-in")
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def rollingHash(c: Column): Column = call_function("rolling_hash", c)
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def cdcHashes(c: Column): Column = call_function("cdc_hashes", c)
  def cdcCharHashes(c: Column): Column = call_function("cdc_char_hashes", c)
  /** Test oracle: no query calls `l2_normalize`; the Column form stays
    * so GraftFunctionsSpec can pin the native expression (unit vectors,
    * null on a zero vector or a null element, two instances compiling
    * in one codegen projection). */
  def l2Normalize(c: Column): Column = call_function("l2_normalize", c)
  def hilbert2d(x: Column, y: Column, bits: Int): Column =
    call_function("hilbert2d", x, y,
      org.apache.spark.sql.functions.lit(bits))
  /** Spark's murmur3 `hash(c)` read as the unsigned 32-bit value it
    * encodes, in a bigint: the form [[graft.queries.Murmur3Sql]] replays
    * in the DuckDB oracles, so every sample, sketch and shard key built
    * on it orders the same on both engines. */
  def unsignedHash(c: Column): Column =
    org.apache.spark.sql.functions.hash(c).cast("bigint")
      .bitwiseAND(org.apache.spark.sql.functions.lit(4294967295L))
  def murmur3Seeded(c: Column, seed: Int): Column =
    call_function("murmur3_seeded", c, org.apache.spark.sql.functions.lit(seed))
  def minhashSig(shingles: Column, seeds: Seq[Int]): Column =
    call_function("minhash_sig",
      (shingles +: seeds.map(org.apache.spark.sql.functions.lit(_))): _*)
  def shingleArr(tokens: Column, n: Int): Column =
    call_function("shingle_array", tokens,
      org.apache.spark.sql.functions.lit(n))
  def charGrams(s: Column, n: Int): Column =
    call_function("char_grams", s, org.apache.spark.sql.functions.lit(n))
  def slidingMin(arr: Column, w: Int): Column =
    call_function("sliding_min", arr, org.apache.spark.sql.functions.lit(w))
  def maxRunLen(arr: Column): Column = call_function("max_run_len", arr)
}
