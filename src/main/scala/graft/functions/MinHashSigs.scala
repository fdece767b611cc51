package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The k MinHash signature slots of a shingle set in one pass:
  * `graft_minhash_sigs(shs, k)[j]` equals
  * `array_min(transform(shs, x -> md5(concat('j|', x))))` for every
  * j < k (MinHashSigsSpec pins it).
  *
  * The expression form builds and compares k·|shs| hex strings and runs
  * k separate higher-order-function loops. This kernel keeps one MD5
  * digest per task, hashes the UTF-8 bytes of "j|" followed by the
  * shingle straight from the array's buffer, compares the raw 16-byte
  * digests as unsigned bytes (the same order as their lowercase hex
  * strings) and hex-encodes only each slot's winner. Null elements are
  * skipped as `array_min` skips them; a null, empty or all-null array
  * gives null.
  */
case class MinHashSigs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sigs"

  @transient private lazy val kernel = new MinHashKernel

  override def nullSafeEval(shs: Any, k: Any): Any =
    kernel.sigs(shs.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addMutableState(classOf[MinHashKernel].getName, "minhash",
      v => s"$v = new ${classOf[MinHashKernel].getName}();")
    nullSafeCodeGen(ctx, ev, (shs, k) =>
      s"""${ev.value} = $kernel.sigs($shs, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One task's MinHash state: the digest and the per-slot minima. Not
  * thread-safe; each task (generated class or deserialized expression)
  * holds its own.
  */
final class MinHashKernel {
  private val md = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  private var best = new Array[Byte](0)
  private var seen = new Array[Boolean](0)
  private var prefixes = new Array[Array[Byte]](0)

  def sigs(shs: ArrayData, k: Int): ArrayData = {
    val n = shs.numElements()
    if (n == 0 || k <= 0) return null
    if (prefixes.length < k) {
      prefixes = Array.tabulate(k)(j => s"$j|".getBytes(StandardCharsets.UTF_8))
      best = new Array[Byte](16 * k)
      seen = new Array[Boolean](k)
    }
    java.util.Arrays.fill(seen, false)
    var i = 0
    while (i < n) {
      if (!shs.isNullAt(i)) {
        val s = shs.getUTF8String(i)
        var j = 0
        while (j < k) {
          md.update(prefixes(j))
          update(s)
          md.digest(digest, 0, 16)
          if (!seen(j) || less(digest, best, 16 * j)) {
            System.arraycopy(digest, 0, best, 16 * j, 16)
            seen(j) = true
          }
          j += 1
        }
      }
      i += 1
    }
    if (!seen(0)) return null // every element was null
    val out = new Array[Any](k)
    var j = 0
    while (j < k) { out(j) = hex(16 * j); j += 1 }
    new GenericArrayData(out)
  }

  private def update(s: UTF8String): Unit = s.getBaseObject match {
    case bytes: Array[Byte] =>
      md.update(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
        s.numBytes())
    case _ => md.update(s.getBytes)
  }

  // unsigned lexicographic a < b(off .. off+16)
  private def less(a: Array[Byte], b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xFF; val y = b(off + i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val v = best(off + i) & 0xFF
      out(2 * i) = MinHashSigs.HexDigits(v >>> 4)
      out(2 * i + 1) = MinHashSigs.HexDigits(v & 0x0F)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object MinHashSigs {
  private val FnName = "graft_minhash_sigs"
  private[functions] val HexDigits: Array[Byte] =
    "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, exprs => MinHashSigs(exprs(0), exprs(1)), "built-in")

  /** `graft_minhash_sigs(shs, k)` as a Column; caller must have
    * registered on the session.
    */
  def sigs(shs: Column, k: Int): Column = call_function(FnName, shs, lit(k))
}
