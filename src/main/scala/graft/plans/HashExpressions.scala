package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine-neutral 60-bit document hash as ONE fused kernel.
  *
  * The sketch operators (minhash, simhash, centroid seeding, shard
  * assignment) hash every shingle/token with
  * `conv(substring(md5(s), 1, 15), 16, 10)` — three chained
  * expressions that materialize a 32-char hex string, slice it, and
  * parse it back to a long. This expression computes the identical
  * value (the digest's top 60 bits; hex is big-endian nibbles, so the
  * first 15 hex chars ARE bits 127..68) straight from the digest
  * bytes: no hex string, no substring copy, no radix parse. The
  * number is bit-identical to the chain, so every DuckDB oracle that
  * replays `('0x' || substr(md5(s), 1, 15))::BIGINT` still matches.
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5prefix64 expects a string, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any): Any =
    Md5Prefix64.prefix60(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Md5Prefix64.prefix60($c.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix64 {
  // MessageDigest is stateful — one per task thread, reset per call
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(bytes) as a non-negative long — numerically
    * identical to parsing the first 15 hex chars of the digest.
    */
  def prefix60(bytes: Array[Byte]): Long = {
    val digest = md.get()
    digest.reset()
    val d = digest.digest(bytes)
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }
}

/** MinHash signature and LSH band keys of ONE document as one fused
  * kernel: reads the document's shingle-hash array, returns its
  * `numBands` band keys.
  *
  * The arithmetic is the engine-neutral form the DuckDB oracle
  * replays in plain SQL: `h31 = pmod(h, p)` with p = 2^31−1, the
  * `numBands·rowsPerBand` permutation mins `m_i = min (a_i·h31 + b_i) % p`
  * over the affine family [[MinHashBandKeys.consts]], and per band the
  * fold `key = (key·1000003 + m) % p` over its `rowsPerBand` mins. Null
  * elements are skipped (as a `min` aggregate skips them); an array
  * with no non-null element has no signature and yields NO keys, so an
  * exploded key table leaves the document out. A null array is null.
  */
case class MinHashBandKeys(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(numBands >= 1 && rowsPerBand >= 1,
    s"numBands and rowsPerBand must be >= 1: $numBands, $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_band_keys expects array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  @transient private lazy val perms = MinHashBandKeys.consts(numBands * rowsPerBand)
  @transient private lazy val mults: Array[Long] = perms.map(_._1).toArray
  @transient private lazy val offsets: Array[Long] = perms.map(_._2).toArray

  override def nullSafeEval(h: Any): Any =
    MinHashBandKeys.bandKeys(h.asInstanceOf[ArrayData], mults, offsets, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minHashMults", mults, "long[]")
    val b = ctx.addReferenceObj("minHashOffsets", offsets, "long[]")
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.plans.MinHashBandKeys.bandKeys($h, $a, $b, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBandKeys {

  /** The Mersenne prime 2^31−1. Values stay below 2^31, so an affine
    * a·h+b stays below 2^63 — no long overflow — and the identical
    * arithmetic runs in plain SQL.
    */
  val P: Long = 2147483647L

  /** Affine-permutation multipliers/offsets over mod-[[P]], fixed at
    * plan time from a seeded LCG: a ∈ [1, p−1], b ∈ [0, p−1]. The
    * first n pairs of one stream, so a narrower family is a prefix of
    * a wider one.
    */
  def consts(n: Int, seed: Long = 42L): IndexedSeq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    IndexedSeq.fill(n)((
      java.lang.Math.floorMod(next(), P - 1) + 1,
      java.lang.Math.floorMod(next(), P)))
  }

  /** x % P for 0 <= x < 2^63 without a division: 2^31 ≡ 1 (mod P), so
    * folding the high bits onto the low ones keeps the residue; two
    * folds leave r < 2P.
    */
  private def modP(x: Long): Long = {
    val r1 = (x & P) + (x >>> 31)
    val r2 = (r1 & P) + (r1 >>> 31)
    if (r2 >= P) r2 - P else r2
  }

  /** The band keys of one hash array under the permutations
    * (mults, offsets); mults.length = numBands·rowsPerBand.
    */
  def bandKeys(hashes: ArrayData, mults: Array[Long], offsets: Array[Long],
               rowsPerBand: Int): ArrayData = {
    val k = mults.length
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < hashes.numElements()) {
      if (!hashes.isNullAt(i)) {
        seen = true
        val h31 = java.lang.Math.floorMod(hashes.getLong(i), P)
        var j = 0
        while (j < k) {
          val m = modP(mults(j) * h31 + offsets(j))
          if (m < mins(j)) mins(j) = m
          j += 1
        }
      }
      i += 1
    }
    val keys = new Array[Long](if (seen) k / rowsPerBand else 0)
    var band = 0
    while (band < keys.length) {
      var key = 0L
      var j = band * rowsPerBand
      while (j < (band + 1) * rowsPerBand) {
        key = modP(key * 1000003L + mins(j))
        j += 1
      }
      keys(band) = key
      band += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}
