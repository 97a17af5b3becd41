package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 32-bit segment `seg` of md5(str) as an unsigned long — the exact
  * value of `conv(substring(md5(str), 8*seg+1, 8), 16, 10)`, computed
  * straight from the digest bytes.
  *
  * Why it exists: that conv/substring spelling is the engine's
  * portable-hash workhorse (minhash bases, SimHash segments, Bloom
  * bits, CMS rows, feature-hash dims — every oracled op that needs a
  * hash DuckDB can reproduce), and it is HOT — dd05 alone digests
  * ~1.5M char-grams per sf0.1 pass. The composite expression pays,
  * per row: a fresh MessageDigest instance (Spark's Md5 calls
  * commons-codec md5Hex), a 32-char hex encode, a substring copy, and
  * a NumberConverter base-16 parse — all to recover 4 bytes the digest
  * already had. This expression reuses one MessageDigest per task and
  * reads the segment bytes big-endian, skipping every intermediate
  * string. Same value, so every existing DuckDB oracle
  * (`('0x' || substr(md5(el), 1+8*k, 8))::BIGINT`) holds unchanged.
  * Measured A/B vs the conv spelling: SCALING.md, "md5_seg32 vs
  * conv/substring — the honest A/B" (a wash at the sf0.1 fixture's
  * 1.47M grams, 2-5x faster at 8x that corpus — the win grows with
  * scale).
  *
  * `seg` ∈ [0, 3] (md5 is 16 bytes = 4 segments). Null in → null out.
  */
case class Md5Seg32(child: Expression, seg: Int) extends UnaryExpression {
  require(seg >= 0 && seg <= 3, s"md5 has 4 32-bit segments, got seg=$seg")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_seg32"

  // Per-call instance: the interpreted path is cold (codegen path has
  // per-task instances), and a shared MessageDigest is not thread-safe
  // if one expression object is ever evaluated from two threads (e.g.
  // driver-side folding of a shared Column across concurrent queries).
  override def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(input.asInstanceOf[UTF8String].getBytes)
    Md5Seg32.seg32(d, seg)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one MessageDigest per generated-class instance (= per task,
    // single-threaded): digest() resets it after each call
    val mdRef = ctx.addMutableState("java.security.MessageDigest", "md5seg",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) {
              |  throw new RuntimeException(e); }""".stripMargin)
    val o = seg * 4
    nullSafeCodeGen(ctx, ev, in => {
      val d = ctx.freshName("d")
      // The OR-chain MUST stay on one generated line: Spark's code-block
      // assembly re-applies stripMargin, so a continuation line starting
      // with `|` loses that operator and Janino fails ("is not a type"),
      // silently dropping the projection to interpreted mode (r10 bug).
      s"""
         |byte[] $d = $mdRef.digest($in.getBytes());
         |${ev.value} = (($d[$o] & 0xffL) << 24) | (($d[${o + 1}] & 0xffL) << 16) | (($d[${o + 2}] & 0xffL) << 8) | ($d[${o + 3}] & 0xffL);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Seg32 =
    copy(child = newChild)
}

object Md5Seg32 {
  private[functions] def seg32(d: Array[Byte], seg: Int): Long = {
    val o = seg * 4
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
  }
}

object HashOps {
  /** Register `md5_seg32` in the session's function registry
    * (idempotent) — same wrapping mechanism as VectorOps.register. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_seg32", exprs => Md5Seg32(exprs(0), exprs(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"md5_seg32 segment must be a literal int, got $other")
      }), "scala_udf")

  /** Column form of [[Md5Seg32]]: unsigned 32-bit segment `seg` of
    * md5(c), equal to `conv(substring(md5(c), 8*seg+1, 8), 16, 10)`
    * (requires register(spark) on the session). */
  def md5Seg32(c: Column, seg: Int): Column =
    call_function("md5_seg32", c, lit(seg))
}
