package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot array kernels. Spark's
  * higher-order functions (transform/aggregate/zip_with) are evaluated
  * interpreted — fine for projection-sized work, but a 2M-pair × 64-dim
  * dot product or a 32-permutation MinHash runs orders of magnitude
  * faster as a generated tight loop. Both expressions ship `doGenCode`
  * plus an identical interpreted eval, so they work under either
  * execution mode.
  */

/** Integer dot product of two array<long> columns.
  * Caller contract: inputs are bounded (quantized embeddings, |x| <=
  * ~20000) so the accumulation cannot overflow; arithmetic is raw long
  * (no ANSI overflow check — that is the point of quantizing first). */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot_long expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local is freshName'd: Java forbids shadowing, so fixed names
      // collide with enclosing generated loops (e.g. writer/HOF `i`)
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** One-pass MinHash signature over an array of shingles (array<string> or
  * pre-hashed array<long>): for each of `k` permutations (a_j*h + b_j)
  * mod `prime`, the minimum over all shingles. Replaces k separate
  * array_min(transform(...)) passes with a single generated loop. */
case class MinhashSig(child: Expression, k: Int, prime: Long)
    extends UnaryExpression {

  private def stringInput: Boolean = child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects array<string> or array<bigint>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val str = stringInput
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = if (str) arr.getUTF8String(i).hashCode.toLong else arr.getLong(i)
      var h = base % prime
      if (h < 0) h += prime
      var j = 0
      while (j < k) {
        val v = (h * (1L + 2L * j) + (40503L * (j + 1)) % prime) % prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val baseExpr =
        if (stringInput) s"((long) $a.getUTF8String($i).hashCode())"
        else s"$a.getLong($i)"
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $baseExpr % ${prime}L;
         |  if ($h < 0) $h += ${prime}L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($h * (1L + 2L * $j) + (40503L * ($j + 1)) % ${prime}L) % ${prime}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** Distinct 3-token shingle hashes straight from a token array: replaces
  * transform(sequence)+concat_ws+array_distinct (four interpreted passes
  * materializing shingle strings) with one generated loop that combines
  * per-token hashes polynomially and dedups in a hash set. */
case class ShingleHash3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_hash3 expects array<string>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = arr.getUTF8String(i).hashCode.toLong; i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= n - 3) {
      seen.add((th(i) * 1000003L ^ th(i + 1)) * 1000003L ^ th(i + 2))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val th = ctx.freshName("th")
      val seen = ctx.freshName("seen")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val it = ctx.freshName("it")
      s"""
         |int $n = $a.numElements();
         |if ($n < 3) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $th = new long[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $th[$i] = (long) $a.getUTF8String($i).hashCode();
         |  }
         |  java.util.LinkedHashSet<Long> $seen = new java.util.LinkedHashSet<Long>();
         |  for (int $i = 0; $i + 2 < $n; $i++) {
         |    $seen.add(java.lang.Long.valueOf(($th[$i] * 1000003L ^ $th[$i + 1]) * 1000003L ^ $th[$i + 2]));
         |  }
         |  long[] $out = new long[$seen.size()];
         |  int $p = 0;
         |  for (java.util.Iterator $it = $seen.iterator(); $it.hasNext();) {
         |    $out[$p++] = ((java.lang.Long) $it.next()).longValue();
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHash3 =
    copy(child = newChild)
}

/** Distinct 3-token shingle hashes where the hash is an ENGINE-PORTABLE
  * char-level polynomial (mod 1e9+7) of the space-joined shingle string:
  * hash("t1 t2 t3") = fold codepoints cp of the joined text as
  * (acc*31 + cp) % 1000000007. A SQL oracle recomputes it exactly with
  * list_reduce over unicode(substring(...)) — this is what lets the
  * MinHash query carry a full DuckDB oracle, unlike [[ShingleHash3]]'s
  * JVM-internal string hash. Each token's characters are walked ONCE:
  * per-token (hash, 31^len) are precomputed and windows combine them via
  * the rolling-hash concatenation identity
  * hash(a ++ b) = (hash(a) * 31^len(b) + hash(b)) mod P. */
case class ShinglePoly3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_poly3 expects array<string>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    val pw = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i).toString
      var h = 0L
      var p = 1L
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        h = (h * 31L + cp) % ShinglePoly3.P
        p = (p * 31L) % ShinglePoly3.P
        ci += Character.charCount(cp)
      }
      th(i) = h; pw(i) = p
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= n - 3) {
      var h = th(i)
      h = (h * 31L + 32L) % ShinglePoly3.P
      h = (h * pw(i + 1) + th(i + 1)) % ShinglePoly3.P
      h = (h * 31L + 32L) % ShinglePoly3.P
      h = (h * pw(i + 2) + th(i + 2)) % ShinglePoly3.P
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val th = ctx.freshName("th")
      val pw = ctx.freshName("pw")
      val seen = ctx.freshName("seen")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val pp = ctx.freshName("pp")
      val ci = ctx.freshName("ci")
      val cp = ctx.freshName("cp")
      val p = ctx.freshName("p")
      val it = ctx.freshName("it")
      s"""
         |int $n = $a.numElements();
         |if ($n < 3) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $th = new long[$n];
         |  long[] $pw = new long[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    String $s = $a.getUTF8String($i).toString();
         |    long $h = 0L;
         |    long $pp = 1L;
         |    for (int $ci = 0; $ci < $s.length(); ) {
         |      int $cp = $s.codePointAt($ci);
         |      $h = ($h * 31L + $cp) % 1000000007L;
         |      $pp = ($pp * 31L) % 1000000007L;
         |      $ci += java.lang.Character.charCount($cp);
         |    }
         |    $th[$i] = $h;
         |    $pw[$i] = $pp;
         |  }
         |  java.util.LinkedHashSet<Long> $seen = new java.util.LinkedHashSet<Long>();
         |  for (int $i = 0; $i + 2 < $n; $i++) {
         |    long $h = $th[$i];
         |    $h = ($h * 31L + 32L) % 1000000007L;
         |    $h = ($h * $pw[$i + 1] + $th[$i + 1]) % 1000000007L;
         |    $h = ($h * 31L + 32L) % 1000000007L;
         |    $h = ($h * $pw[$i + 2] + $th[$i + 2]) % 1000000007L;
         |    $seen.add(java.lang.Long.valueOf($h));
         |  }
         |  long[] $out = new long[$seen.size()];
         |  int $p = 0;
         |  for (java.util.Iterator $it = $seen.iterator(); $it.hasNext();) {
         |    $out[$p++] = ((java.lang.Long) $it.next()).longValue();
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShinglePoly3 =
    copy(child = newChild)
}

object ShinglePoly3 {
  val P = 1000000007L
}

/** L2-normalize + integer-quantize a float/double vector in one generated
  * pass: out[i] = round(x[i] / ||x|| * scale) as long. Replaces a
  * transform(...) whose lambda re-evaluated the norm fold per element.
  * Rounding goes through BigDecimal.valueOf(...).setScale(0, HALF_UP) —
  * bit-identical to Spark's `round(double, 0)`, which the DuckDB oracles
  * were verified against. Zero-norm vectors quantize to all zeros. */
case class QuantizeVec(child: Expression, scale: Int)
    extends UnaryExpression {

  private def floatInput: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quantize_vec expects array<float|double>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) {
      xs(i) = if (floatInput) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += xs(i) * xs(i); i += 1 }
    val norm = math.sqrt(acc)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      out(i) = if (norm == 0.0) 0L
        else QuantizeVec.roundHalfUp(xs(i) / norm * scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xs = ctx.freshName("xs")
      val acc = ctx.freshName("acc")
      val norm = ctx.freshName("norm")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val get = if (floatInput) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double[] $xs = new double[$n];
         |for (int $i = 0; $i < $n; $i++) { $xs[$i] = $get; }
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $acc += $xs[$i] * $xs[$i]; }
         |double $norm = java.lang.Math.sqrt($acc);
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = ($norm == 0.0) ? 0L :
         |    graft.functions.QuantizeVec.roundHalfUp($xs[$i] / $norm * $scale);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {
  /** Spark `round(double, 0)` semantics. */
  def roundHalfUp(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
}

/** 64-bit SimHash of a token array where every bit is derived from the
  * ENGINE-PORTABLE char-level polynomial token hash (same base-31 mod-1e9+7
  * fold as [[ShinglePoly3]]): bit b's vote for a token with hash h is the
  * parity of (h²%P·(2b+1) + h·(4b+7) + 40503·(b+1)) mod P, P = 1e9+7.
  * The QUADRATIC term matters: with a purely linear plane, tokens whose
  * poly hashes are near-consecutive (shared prefixes differing in one
  * trailing char — exactly what similar corpora produce) get complementary
  * bit patterns (parity(h·odd) flips with h), anti-correlated votes pull
  * every bit's sum toward zero, and near-dup hamming distances inflate
  * ~2x (measured 14 vs 7 on DedupSpec's crafted docs). Squaring h mod P
  * breaks the linear structure. A SQL oracle replays the signature
  * bit-for-bit with list_reduce + modular arithmetic (an XXH64 token
  * hash would have no DuckDB twin). Null tokens carry no vote. One generated pass
  * per row; h < 2^30 so h² < 2^60, no overflow in either engine. */
case class SimhashPolySig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_poly_sig expects array<string>, got ${other.sql}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        var h = 0L
        var ci = 0
        while (ci < s.length) {
          val cp = s.codePointAt(ci)
          h = (h * 31L + cp) % 1000000007L
          ci += Character.charCount(cp)
        }
        val g = (h * h) % 1000000007L
        var b = 0
        while (b < 64) {
          val r = (g * (2L * b + 1L) + h * (4L * b + 7L) + 40503L * (b + 1L)) %
            1000000007L
          votes(b) += (((r & 1L).toInt) << 1) - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val r = ctx.freshName("r")
      val s = ctx.freshName("s")
      val ci = ctx.freshName("ci")
      val cp = ctx.freshName("cp")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  String $s = $a.getUTF8String($i).toString();
         |  long $h = 0L;
         |  for (int $ci = 0; $ci < $s.length(); ) {
         |    int $cp = $s.codePointAt($ci);
         |    $h = ($h * 31L + $cp) % 1000000007L;
         |    $ci += java.lang.Character.charCount($cp);
         |  }
         |  long ${h}g = ($h * $h) % 1000000007L;
         |  for (int $b = 0; $b < 64; $b++) {
         |    long $r = (${h}g * (2L * $b + 1L) + $h * (4L * $b + 7L)
         |      + 40503L * ($b + 1L)) % 1000000007L;
         |    $votes[$b] += (((int) ($r & 1L)) << 1) - 1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= 1L << $b;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashPolySig =
    copy(child = newChild)
}

/** Count of common elements between two SORTED arrays (both int or both
  * long) — one merge pass per pair, no per-pair hash-set allocation
  * (array_intersect builds one), which is the difference at millions of
  * candidate pairs. Caller contract: both inputs sorted ascending and
  * duplicate-free (sort_array ∘ array_distinct at record build); Jaccard
  * follows as 1000·overlap div (|a| + |b| − overlap). */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap expects matching (array<int>) or (array<long>) " +
          s"operands, got (${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = IntegerType

  private def isLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    if (isLong) {
      while (i < nx && j < ny) {
        val vx = x.getLong(i); val vy = y.getLong(j)
        if (vx == vy) { c += 1; i += 1; j += 1 }
        else if (vx < vy) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val vx = x.getInt(i); val vy = y.getInt(j)
        if (vx == vy) { c += 1; i += 1; j += 1 }
        else if (vx < vy) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (jt, get) = if (isLong) ("long", "getLong") else ("int", "getInt")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val vx = ctx.freshName("vx"); val vy = ctx.freshName("vy")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  $jt $vx = $a.$get($i); $jt $vy = $b.$get($j);
         |  if ($vx == $vy) { $c++; $i++; $j++; }
         |  else if ($vx < $vy) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

/** The linear adjacent-pair proximity kernel as ONE generated loop:
  * minimum |pos_a - pos_b| over occurrences of two DIFFERENT query
  * terms in a token array, or NULL when no such pair exists. The
  * round-18 form composed transform → filter → slice → zip_with →
  * array_min — five higher-order functions evaluated INTERPRETED per
  * row, allocating |toks| structs and re-scanning the term array per
  * element (measured 43 s CPU inside text_prox_rerank_panel_wide's
  * survivor stage at sf0.1, ~175 µs per candidate pair). Same
  * adjacency theorem (between any different-token occurrence pair the
  * token must change at some consecutive matched step whose distance
  * is ≤ the pair's, so the adjacent min IS the pairwise min — pinned
  * by ProxKernelPropSpec), now as a single pass tracking the previous
  * matched term: no allocation, no interpreted lambda. NULL tokens
  * never match (the HOF form's array_contains(termSet, null) filter
  * dropped them); a NULL toks or terms input yields NULL. Result is
  * long; distances are 0-based-index differences, identical to the
  * HOF form's transform-index arithmetic (the registered consumers
  * only read mindist through `div`, which is width-invariant). */
case class AdjacentMinDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"adjacent_min_dist expects (array<string>, array<string>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = LongType
  // the result is null when the doc holds < 2 distinct matched terms,
  // independent of input nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val terms = b.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val nt = terms.numElements()
    var best = Long.MaxValue
    var prevTid = -1
    var prevPos = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var tid = -1
        var j = 0
        while (tid < 0 && j < nt) {
          if (!terms.isNullAt(j) && t.equals(terms.getUTF8String(j))) tid = j
          j += 1
        }
        if (tid >= 0) {
          if (prevTid >= 0 && tid != prevTid) {
            val d = (i - prevPos).toLong
            if (d < best) best = d
          }
          prevTid = tid
          prevPos = i
        }
      }
      i += 1
    }
    if (best == Long.MaxValue) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val nt = ctx.freshName("nt")
      val best = ctx.freshName("best")
      val prevTid = ctx.freshName("prevTid")
      val prevPos = ctx.freshName("prevPos")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val tid = ctx.freshName("tid")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |int $nt = $b.numElements();
         |long $best = Long.MAX_VALUE;
         |int $prevTid = -1;
         |int $prevPos = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  org.apache.spark.unsafe.types.UTF8String $t = $a.getUTF8String($i);
         |  int $tid = -1;
         |  for (int $j = 0; $tid < 0 && $j < $nt; $j++) {
         |    if (!$b.isNullAt($j) && $t.equals($b.getUTF8String($j))) $tid = $j;
         |  }
         |  if ($tid >= 0) {
         |    if ($prevTid >= 0 && $tid != $prevTid) {
         |      long $d = (long) ($i - $prevPos);
         |      if ($d < $best) $best = $d;
         |    }
         |    $prevTid = $tid;
         |    $prevPos = $i;
         |  }
         |}
         |if ($best == Long.MAX_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdjacentMinDist =
    copy(left = newLeft, right = newRight)
}

/** Argmin/argmax assignment of a vector against a BROADCAST candidate
  * array in one generated pass (round 19): `cands` is
  * array<struct<id: long, cv: array<long>>> SORTED BY id ASCENDING with
  * unique ids (the caller builds it with sort_array ∘ collect_list over
  * the codebook/centroid frame — bounded by construction, so the array
  * is broadcast-sized). Returns struct(id, s) of the winning candidate,
  * or NULL when `cands` is empty.
  *
  *  - maxDot = true  (IVF coarse assignment): s = ⟨x, c⟩, winner is the
  *    max s; iteration in id order with a STRICT > keeps the smallest id
  *    on ties — exactly max_by(_, struct(cdot, -centroid_id)).
  *  - maxDot = false (PQ codeword assignment): s = ⟨c, c⟩ − 2⟨x, c⟩,
  *    winner is the min s. The true squared distance adds the constant
  *    ⟨x, x⟩ to every candidate, so dropping it preserves both the
  *    order and the ties; STRICT < in id order keeps the smallest code
  *    on ties — exactly max_by(_, struct(-d2, -code)).
  *
  * Replaces the join-against-candidate-ROWS shape (corpus × |codebook|
  * intermediate rows through a max_by hash aggregate — 10M rows for a
  * 20k-vector corpus against 512 PQ codewords) with |corpus| rows and
  * zero aggregation; the per-row loop is the same dot-product work the
  * join paid, minus one redundant ⟨x, x⟩ per candidate. */
case class NearestVec(left: Expression, right: Expression, maxDot: Boolean)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"nearest_vec expects (array<bigint>, array<struct<bigint, " +
          s"array<bigint>>>), got (${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", LongType, nullable = false)))
  // null iff the candidate array is empty, independent of input nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val m = cands.numElements()
    val dims = x.numElements()
    var found = false
    var bestId = 0L
    var bestS = 0L
    var ci = 0
    while (ci < m) {
      val cr = cands.getStruct(ci, 2)
      val id = cr.getLong(0)
      val cv = cr.getArray(1)
      val n = math.min(dims, cv.numElements())
      var dt = 0L
      var cc = 0L
      var i = 0
      while (i < n) {
        val c = cv.getLong(i)
        dt += x.getLong(i) * c
        if (!maxDot) cc += c * c
        i += 1
      }
      val s = if (maxDot) dt else cc - 2L * dt
      if (!found || (if (maxDot) s > bestS else s < bestS)) {
        found = true; bestS = s; bestId = id
      }
      ci += 1
    }
    if (!found) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestS))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val dims = ctx.freshName("dims")
      val found = ctx.freshName("found")
      val bestId = ctx.freshName("bestId")
      val bestS = ctx.freshName("bestS")
      val ci = ctx.freshName("ci")
      val cr = ctx.freshName("cr")
      val id = ctx.freshName("id")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val dt = ctx.freshName("dt")
      val cc = ctx.freshName("cc")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val ccLine = if (maxDot) "" else s"$cc += $c * $c;"
      val sExpr = if (maxDot) dt else s"($cc - 2L * $dt)"
      val better = if (maxDot) s"$s > $bestS" else s"$s < $bestS"
      s"""
         |int $m = $b.numElements();
         |int $dims = $a.numElements();
         |boolean $found = false;
         |long $bestId = 0L;
         |long $bestS = 0L;
         |for (int $ci = 0; $ci < $m; $ci++) {
         |  org.apache.spark.sql.catalyst.InternalRow $cr = $b.getStruct($ci, 2);
         |  long $id = $cr.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cr.getArray(1);
         |  int $n = java.lang.Math.min($dims, $cv.numElements());
         |  long $dt = 0L;
         |  long $cc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $c = $cv.getLong($i);
         |    $dt += $a.getLong($i) * $c;
         |    $ccLine
         |  }
         |  long $s = $sExpr;
         |  if (!$found || $better) {
         |    $found = true; $bestS = $s; $bestId = $id;
         |  }
         |}
         |if (!$found) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { java.lang.Long.valueOf($bestId), java.lang.Long.valueOf($bestS) });
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestVec =
    copy(left = newLeft, right = newRight)
}

/** Sign-bit LSH bucket of a quantized vector against a CONSTANT plane
  * matrix: bit k (k < `pl`, the data-adaptive plane count) is set iff
  * dot(q, planes(k)) >= 0. One generated double loop replaces
  * planes×dims unrolled dot expressions — the unrolled form at 24
  * planes × 16 tables exceeds Janino's method size and kills
  * whole-stage codegen for the entire stage. */
case class LshSignBits(left: Expression, right: Expression,
    planes: Array[Array[Long]]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"lsh_sign_bits expects (array<bigint>, bigint), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val np = math.min(b.asInstanceOf[Long], planes.length.toLong).toInt
    val dims = q.numElements()
    var bucket = 0L
    var k = 0
    while (k < np) {
      val p = planes(k)
      val n = math.min(dims, p.length)
      var acc = 0L
      var i = 0
      while (i < n) { acc += q.getLong(i) * p(i); i += 1 }
      if (acc >= 0) bucket |= (1L << k)
      k += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, pl) => {
      val mat = ctx.addReferenceObj("lshPlanes", planes, "long[][]")
      val np = ctx.freshName("np")
      val bucket = ctx.freshName("bucket")
      val k = ctx.freshName("k")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $np = (int) java.lang.Math.min($pl, (long) $mat.length);
         |long $bucket = 0L;
         |for (int $k = 0; $k < $np; $k++) {
         |  long[] $p = $mat[$k];
         |  int $n = java.lang.Math.min($q.numElements(), $p.length);
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $q.getLong($i) * $p[$i];
         |  }
         |  if ($acc >= 0L) $bucket |= (1L << $k);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSignBits =
    copy(left = newLeft, right = newRight)
}

object ArrayOps {
  import org.apache.spark.sql.graftops.ColumnBridge

  /** Column wrapper: integer dot product (codegen'd). */
  def dot_long(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper: sorted-array overlap count (codegen'd). */
  def sorted_overlap(a: Column, b: Column): Column =
    ColumnBridge.column(SortedOverlapCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper: one-pass MinHash signature (codegen'd). */
  def minhash_sig(shingles: Column, k: Int, prime: Long): Column =
    ColumnBridge.column(MinhashSig(
      ColumnBridge.expression(shingles), k, prime))

  /** Column wrapper: distinct 3-token shingle hashes (codegen'd). */
  def shingle_hash3(tokens: Column): Column =
    ColumnBridge.column(ShingleHash3(ColumnBridge.expression(tokens)))

  /** Column wrapper: distinct PORTABLE polynomial 3-gram hashes (codegen'd). */
  def shingle_poly3(tokens: Column): Column =
    ColumnBridge.column(ShinglePoly3(ColumnBridge.expression(tokens)))

  /** Column wrapper: one-pass L2-normalize + integer quantize (codegen'd). */
  def quantize_vec(v: Column, scale: Int): Column =
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(v), scale))

  /** Column wrapper: one-pass PORTABLE-hash 64-bit SimHash (codegen'd). */
  def simhash_poly_sig(tokens: Column): Column =
    ColumnBridge.column(SimhashPolySig(ColumnBridge.expression(tokens)))

  /** Column wrapper: one-pass argmin/argmax vector assignment against a
    * broadcast candidate array (codegen'd). `cands` must be sorted by id
    * ascending with unique ids. */
  def nearest_vec(x: Column, cands: Column, maxDot: Boolean): Column =
    ColumnBridge.column(NearestVec(
      ColumnBridge.expression(x), ColumnBridge.expression(cands), maxDot))

  /** Column wrapper: adjacent-pair min proximity distance (codegen'd). */
  def adjacent_min_dist(toks: Column, terms: Column): Column =
    ColumnBridge.column(AdjacentMinDist(
      ColumnBridge.expression(toks), ColumnBridge.expression(terms)))

  /** Column wrapper: adaptive-count sign-bit LSH bucket (codegen'd). */
  def lsh_sign_bits(q: Column, pl: Column, planes: Array[Array[Long]]): Column =
    ColumnBridge.column(LshSignBits(
      ColumnBridge.expression(q), ColumnBridge.expression(pl), planes))
}
