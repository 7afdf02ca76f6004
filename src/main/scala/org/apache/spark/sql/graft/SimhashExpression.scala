/* Lives under org.apache.spark.sql for the private[sql] Expression<->Column
 * bridge — see JvmHashCode.scala. */
package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Native SimHash signature over a token array — the hot kernel of the
  * near-dup family (r20 optimization, guide §4: eliminate non-codegen
  * expressions in the hot path).
  *
  * Semantics (BIT-EXACT with the formulation it replaces, and with the
  * DuckDB oracles): per token t, h(t) = the first `producerBits` bits of
  * md5(t) read big-endian (56 bits = the `conv(substr(md5(t),1,14),16,10)`
  * encoding; 64 bits = the two-32-bit-halves `md5Hash64` encoding — the
  * signed two's-complement long with the digest's leading 8 bytes' bit
  * pattern). bit j of the signature is set iff
  * sum over the token MULTISET of (+1 if bit j of h(t) else -1) > 0.
  * Integer balances are order-independent and exact, so one pass per row
  * here equals the previous explode → per-token-hash → grouped-aggregate
  * plan (batch) and the per-token zip_with/aggregate higher-order fold
  * (stream) value-for-value.
  *
  * Why an expression: the HOF fold evaluated interpreted lambdas per
  * (token, bit) and allocated a fresh W-element array per token step —
  * the same rationale as [[DotProduct]] (~10x there). As a map-only
  * per-row expression it also lets the BATCH signature computation drop
  * its explode + aggregate exchange entirely: at 100 TB the signature
  * stage becomes embarrassingly parallel with zero shuffle bytes.
  *
  * Null contract (DELIBERATE, not legacy-equivalent — ADVICE r20): null
  * array → null; a null token element → null signature. The legacy fold
  * differed here: Spark's IF treats a null condition as false, so
  * md5(null)'s null hash contributed -1 per bit instead of nulling the
  * signature. A null element is unreachable from split() output (the only
  * producer), so the twins still agree on every reachable input; the
  * expression picks the saner contract for the unreachable case.
  */
case class SimhashFromTokens(child: Expression, producerBits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(producerBits == 56 || producerBits == 64,
    s"no $producerBits-bit md5 producer")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def prettyName: String = s"simhash$producerBits"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SimhashFromTokens.compute(input.asInstanceOf[ArrayData], producerBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("sh")
      s"""
         |Long $boxed = org.apache.spark.sql.graft.SimhashFromTokens.compute(
         |  $c, $producerBits);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashFromTokens =
    copy(child = newChild)
}

object SimhashFromTokens {
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** One tight JVM loop per row (called from both eval and codegen — the
    * per-row work is digest-dominated, so a virtual call per row is noise).
    * Returns null (boxed) when a token element is null. */
  def compute(arr: ArrayData, producerBits: Int): java.lang.Long = {
    val n = arr.numElements()
    val bal = new Array[Int](producerBits)
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // leading 8 digest bytes, big-endian — the md5Hash64 bit pattern;
      // the 56-bit producer is the same value without its low byte
      var h = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      if (producerBits == 56) h = h >>> 8
      var j = 0
      while (j < producerBits) {
        bal(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < producerBits) {
      if (bal(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }
}

object SimhashFunctions {
  /** Signature of a token-array column at the given producer width. */
  def simhashOfTokens(toks: Column, producerBits: Int): Column =
    GraftExpressions.column(
      SimhashFromTokens(GraftExpressions.expression(toks), producerBits))
}
