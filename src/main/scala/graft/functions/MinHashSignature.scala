package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The k-slot MinHash signature of ONE document's shingle-hash array, as a
  * codegen'd scalar projection: `sig[i] = min over hashes h of
  * mix(h ^ seed_i)` — bit-identical to what [[MinHashSketch]] aggregates
  * for the same multiset of hashes (same splitmix64 finalizer, same seed
  * stream; MinHashSignatureParitySpec pins the equality).
  *
  * Exists because a one-row-per-document corpus never needed the aggregate
  * shape at all: `explode(shingles) → groupBy(doc)` shuffles one k·8-byte
  * sketch per document — 13.5 GB and the dominant cost at 1e8 docs
  * (measured, BENCH r16 bring-up) — while the signature of a document is a
  * pure function of its own row. This expression computes it in place
  * inside whole-stage codegen: zero exchange, zero aggregation state, and
  * the LSH banding that follows is more projection. Its input should be
  * codegen'd too ([[ShingleHashes]], not a `transform` lambda, which
  * would drop the whole operator out of codegen), and the k slots are
  * emitted as an `UnsafeArrayData` over the primitive buffer, never boxed.
  * [[MinHashSketch]] remains the right shape when the input is ALREADY
  * exploded to (group, hash) grain.
  *
  * Null contract: null for a null or empty/all-null-element array —
  * matching the aggregate, which emits null for a group with no non-null
  * input. Callers reproduce the grouped output (where such documents have
  * no group) by dropping those rows BEFORE the projection, on a column the
  * signature is null exactly when: a filter on the signature itself is
  * pushed below the projection and evaluates it a second time per row.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0 && k <= 1024, "1..1024 minhash slots")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects ARRAY<BIGINT>, got $dt")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  private lazy val seeds: Array[Long] = MinHashSketch.seedsFor(k)

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    val buf = Array.fill(k)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j)) {
        any = true
        val h = a.getLong(j)
        var i = 0
        while (i < k) {
          val g = MinHashSketch.mix(h ^ seeds(i))
          if (g < buf(i)) buf(i) = g
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else UnsafeArrayData.fromPrimitiveArray(buf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val z = ctx.freshName("z"); val buf = ctx.freshName("buf")
      val any = ctx.freshName("any")
      // the z-mixing lines are splitmix64 — they MUST stay identical to
      // MinHashSketch.mix (raw Java long arithmetic wraps, so no ANSI
      // overflow concern); the parity spec pins expression == aggregate
      s"""
         |final int $n = $arr.numElements();
         |final long[] $buf = new long[$k];
         |java.util.Arrays.fill($buf, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    $any = true;
         |    final long $h = $arr.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $z = ($h ^ $seedsRef[$i]) + 0x9E3779B97F4A7C15L;
         |      $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |      $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |      $z = $z ^ ($z >>> 31);
         |      if ($z < $buf[$i]) $buf[$i] = $z;
         |    }
         |  }
         |}
         |if (!$any) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($buf);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Column face: k-slot MinHash signature of an ARRAY<BIGINT> hash column. */
  def apply(hashes: Column, k: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(hashes), k))
}
