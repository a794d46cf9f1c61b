package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `minhash_sig(gramHashes, numHashes, seed): array<long>` — the full
  * MinHash signature of one document's 64-bit gram-hash set in ONE pass
  * over the array: per gram, base = pmod(hash, 2^31), then every signature
  * slot keeps min(base·aᵢ + bᵢ mod p). Numerically IDENTICAL to the
  * explode + 64-column min-aggregate lowering it replaces (same universal-
  * hash family, same 2^31−1 modulus, same pmod semantics — see
  * [[graft.functions.DedupFunctions]] header), but the per-gram inner loop
  * runs over two primitive parameter arrays inside whole-stage codegen
  * instead of pushing corpus×grams rows through a generator, 64 aggregate
  * buffer slots, and a shuffle (the signature aggregation was the dedup
  * pipeline's single heaviest stage at the 100× replica —
  * commit f6f9b67).
  *
  * Returns NULL for an empty gram set: the aggregate lowering produced no
  * row for such a document, so callers filter nulls to keep the signature
  * table row-identical. `numHashes`/`seed` must be foldable; parameters are
  * derived once per plan instance (the seeded [[MinHashSig.params]] draw,
  * shared with nothing — determinism is the contract).
  */
case class MinHashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean  = true

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(LongType, _)
        if second.dataType == IntegerType && third.dataType == LongType =>
      if (!second.foldable || !third.foldable)
        TypeCheckResult.TypeCheckFailure(
          "minhash_sig needs FOLDABLE (literal) numHashes and seed")
      else {
        val n = second.eval(null)
        if (n == null || n.asInstanceOf[Int] < 1 || n.asInstanceOf[Int] > 4096)
          TypeCheckResult.TypeCheckFailure("minhash_sig needs 1 <= numHashes <= 4096")
        else TypeCheckResult.TypeCheckSuccess
      }
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs (array<long>, int, long), got (${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, ${third.dataType.catalogString})")
  }

  @transient private lazy val ab: (Array[Long], Array[Long]) = MinHashSig.params(
    second.eval(null).asInstanceOf[Int], third.eval(null).asInstanceOf[Long])

  override def nullSafeEval(h: Any, n: Any, seed: Any): Any = {
    val out = MinHashSig.compute(h.asInstanceOf[ArrayData].toLongArray(), ab._1, ab._2)
    if (out == null) null else ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, _, _) => {
      val cls  = MinHashSig.getClass.getName.stripSuffix("$")
      val aRef = ctx.addReferenceObj("mhA", ab._1, "long[]")
      val bRef = ctx.addReferenceObj("mhB", ab._2, "long[]")
      s"""
         |long[] mhOut = $cls.compute($h.toLongArray(), $aRef, $bRef);
         |if (mhOut == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mhOut);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashSig =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  // the DedupFunctions constants, restated here so the expression is
  // self-contained; MinHashParitySpec pins the two definitions equal
  val SigPrime: Long   = (1L << 31) - 1
  val ParamBound: Long = 1L << 31

  /** The seeded universal-hash parameter draw — IDENTICAL sequence to
    * DedupFunctions.hashParams (same Random stream, same bounds), split
    * into primitive arrays for the per-gram loop.
    */
  def params(n: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a   = new Array[Long](n)
    val b   = new Array[Long](n)
    var i   = 0
    while (i < n) {
      a(i) = math.abs(rnd.nextLong()) % (ParamBound - 1) + 1
      b(i) = math.abs(rnd.nextLong()) % ParamBound
      i += 1
    }
    (a, b)
  }

  /** One pass: per gram hash, base = pmod(h, 2^31) (identical to SQL
    * `pmod`), then min(base·aᵢ+bᵢ mod p) per slot. base < 2^31 and
    * aᵢ < 2^31 keep the product < 2^62 — no overflow, matching the
    * ANSI-safe SQL arithmetic. Returns null for an empty gram set.
    */
  def compute(h: Array[Long], a: Array[Long], b: Array[Long]): Array[Long] = {
    if (h.length == 0) return null
    val n   = a.length
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < h.length) {
      var base = h(i) % ParamBound
      if (base < 0) base += ParamBound
      var j = 0
      while (j < n) {
        val v = (base * a(j) + b(j)) % SigPrime
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    out
  }

  /** Column API (session must have [[graft.GraftSessionExtensions]] loaded). */
  def minHashSig(hashes: Column, numHashes: Int, seed: Long): Column =
    call_function("minhash_sig", hashes,
      org.apache.spark.sql.functions.lit(numHashes),
      org.apache.spark.sql.functions.lit(seed))
}
