package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The xxhash64 of every n-word shingle of ONE document's word array, as a
  * codegen'd scalar projection: element `i` is Spark's `xxhash64` (seed 42)
  * of the UTF-8 bytes of `words[i .. i+n)` joined by `sep` — bit-identical
  * to `transform(words, w => xxhash64(w))` for n = 1 and to
  * `xxhash64(array_join(slice(words, i, n), sep))` over
  * `sequence(1, greatest(size(words) - (n - 1), 1))` for n > 1
  * (ShingleHashesSpec pins both, codegen'd and interpreted).
  *
  * Exists because the `transform` forms are higher-order lambdas, which
  * Spark never codegens (`CodegenFallback`): every operator holding one
  * drops out of whole-stage codegen, and the lambda re-boxes each word and
  * each joined shingle string. Here n = 1 hashes every word in place, and
  * n > 1 copies a shingle's bytes into one scratch buffer reused across
  * rows (grown on demand) before hashing it.
  *
  * Semantics carried over from the `transform` forms: a null word hashes to
  * the seed (xxhash64 of null) for n = 1 and is skipped inside a shingle
  * (`array_join` skips nulls); an array with fewer than n words (even an
  * empty one) yields ONE shingle of all its words when n > 1, and an empty
  * array yields no hashes when n = 1. Null contract: null for a null
  * array, so a null document carries no hashes at any n (the n > 1
  * `transform` form hashed it to one seed-only shingle).
  */
case class ShingleHashes(child: Expression, n: Int, sep: String)
    extends UnaryExpression {

  require(n >= 1, "shingles of at least one word")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects ARRAY<STRING>, got $dt")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  @transient private lazy val sepUtf8 = UTF8String.fromString(sep)

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val m = a.numElements()
    val out = new Array[Long](ShingleHashes.count(m, n))
    var s = 0
    while (s < out.length) {
      out(s) =
        if (n == 1) {
          if (a.isNullAt(s)) ShingleHashes.Seed
          else XXH64.hashUTF8String(a.getUTF8String(s), ShingleHashes.Seed)
        } else {
          val words = (s until math.min(s + n, m)).map(t =>
            if (a.isNullAt(t)) null else a.getUTF8String(t))
          XXH64.hashUTF8String(UTF8String.concatWs(sepUtf8, words: _*), ShingleHashes.Seed)
        }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val m = ctx.freshName("m"); val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val w = ctx.freshName("w")
      val xx = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      val seed = s"${ShingleHashes.Seed}L"
      val hashOne =
        if (n == 1)
          s"""
             |if ($arr.isNullAt($s)) {
             |  $out[$s] = $seed;
             |} else {
             |  final $utf8 $w = $arr.getUTF8String($s);
             |  $out[$s] = $xx.hashUnsafeBytes($w.getBaseObject(), $w.getBaseOffset(),
             |    $w.numBytes(), $seed);
             |}
           """.stripMargin
        else {
          // one scratch buffer per generated instance (one per task),
          // reused across rows and grown when a shingle outgrows it
          val buf = ctx.addMutableState("byte[]", "shingleBuf",
            v => s"$v = new byte[64];")
          val sepBytes = sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val sepRef = ctx.addReferenceObj("shingleSep", sepBytes, "byte[]")
          val len = ctx.freshName("len"); val t = ctx.freshName("t")
          val first = ctx.freshName("first"); val need = ctx.freshName("need")
          val base = "org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET"
          val putSep =
            if (sepBytes.isEmpty) ""
            else s"""
                    |if (!$first) {
                    |  System.arraycopy($sepRef, 0, $buf, $len, ${sepBytes.length});
                    |  $len += ${sepBytes.length};
                    |}
                  """.stripMargin
          s"""
             |int $len = 0;
             |boolean $first = true;
             |for (int $t = $s; $t < Math.min($s + $n, $m); $t++) {
             |  if (!$arr.isNullAt($t)) {
             |    final $utf8 $w = $arr.getUTF8String($t);
             |    final int $need = $len + ${sepBytes.length} + $w.numBytes();
             |    if ($need > $buf.length) {
             |      $buf = java.util.Arrays.copyOf($buf, Math.max($need, 2 * $buf.length));
             |    }
             |    $putSep
             |    $w.writeToMemory($buf, $base + $len);
             |    $len += $w.numBytes();
             |    $first = false;
             |  }
             |}
             |$out[$s] = $xx.hashUnsafeBytes($buf, $base, $len, $seed);
           """.stripMargin
        }
      val count = if (n == 1) m else s"Math.max($m - ${n - 1}, 1)"
      s"""
         |final int $m = $arr.numElements();
         |final long[] $out = new long[$count];
         |for (int $s = 0; $s < $out.length; $s++) {
         |  $hashOne
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Spark's `xxhash64` seed: `xxhash64(x)` is `XXH64(bytes of x, 42)`. */
  val Seed: Long = 42L

  /** Shingles of an m-word array: m for n = 1, else at least one. */
  private def count(m: Int, n: Int): Int = if (n == 1) m else math.max(m - (n - 1), 1)

  /** Column face: the n-word shingle hashes of an ARRAY<STRING> column,
    * each shingle's words joined by `sep` before hashing. */
  def apply(words: Column, n: Int, sep: String = ""): Column =
    Bridge.column(ShingleHashes(Bridge.expression(words), n, sep))
}
