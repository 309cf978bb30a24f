package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Portable MinHash signatures of a shingle array in ONE native pass: base
  * hash = first 28 bits of md5 (= `('0x'||substr(md5(s),1,7))::BIGINT` in
  * the oracle SQL), composed with the universal-hash family
  * `(a_p*h + b_p) mod 2^31-1`; the signature is the per-permutation minimum
  * over the doc's shingles. Replaces the exploded-shingle numPerm-min
  * aggregate shuffle of the relational formulation (bit-parity asserted in
  * DedupSpec). Returns array<long> of length numPerm. */
case class Md5MinHashSigs(child: Expression, numPerm: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinHash.sigsFromArrayData(input.asInstanceOf[ArrayData], numPerm))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = MinHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = new ${classOf[GenericArrayData].getName}($cls.sigsFromArrayData($s, $numPerm));"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** xxhash64-family MinHash BAND hashes of a shingle array in ONE native
  * pass — the engine-hash twin of [[Md5MinHashSigs]]. Per permutation p
  * the signature is `min over shingles s of xxhash64(p, s)` (Spark's
  * XxHash64 seed chain: 42 → hashInt(p) → hashUTF8String(s)); band b's
  * key is `xxhash64(h_{b·r}, …, h_{b·r+r−1})` over its signature slice
  * (42 → hashLong chain), both bit-identical to the `functions.xxhash64`
  * columns they replace (asserted in XxKernelParitySpec). Emitting the
  * BAND hashes rather than the raw signature keeps the numPerm-wide
  * `element_at` fold out of the plan (the round-11 ac_counts trap: k-wide
  * consumption of a kernel's array output runs at interpreted speed as k
  * grows). Replaces the exploded-shingle numPerm-min aggregate shuffle.
  * Returns array<long> of length numPerm/rowsPerBand; empty input → empty
  * output (callers drop shingle-less docs to mirror the relational
  * groupBy's absent-group semantics). */
case class XxMinHashBands(child: Expression, numPerm: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHash.xxBandsFromArrayData(
      input.asInstanceOf[ArrayData], numPerm, rowsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = MinHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = new ${classOf[GenericArrayData].getName}(" +
        s"$cls.xxBandsFromArrayData($s, $numPerm, $rowsPerBand));"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash {
  /** MinHash prime modulus (2^31 - 1, Mersenne). */
  val Prime = 2147483647L

  /** Universal-hash permutation constants (a_p, b_p), derived from
    * splitmix64 so Spark literals and DuckDB oracle SQL embed the same
    * numbers. Bounded < 2^30 so a*h+b stays < 2^62 for 28-bit base hashes
    * (no overflow in either engine). */
  def permConsts(numPerm: Int): (Array[Long], Array[Long]) = {
    def mix(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & ((1L << 30) - 1)
    }
    (Array.tabulate(numPerm)(p => mix(2L * p) | 1L), // odd multipliers
      Array.tabulate(numPerm)(p => mix(2L * p + 1)))
  }

  // constants are a pure function of numPerm — memoized so the per-row hot
  // path never re-runs the splitmix mixes or allocates
  private val constCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def cachedConsts(numPerm: Int): (Array[Long], Array[Long]) =
    constCache.computeIfAbsent(numPerm, permConsts(_))

  /** Empty input → EMPTY output (never a colliding sentinel signature);
    * callers must still drop shingle-less docs before banding to mirror
    * the relational groupBy's absent-group semantics. */
  def sigsFromArrayData(arr: ArrayData, numPerm: Int): Array[Long] = {
    val n = arr.numElements()
    if (n == 0) return Array.empty
    val (as, bs) = cachedConsts(numPerm)
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = Md5Bits.top28(Md5Bits.digest(arr.getUTF8String(i).getBytes))
      var p = 0
      while (p < numPerm) {
        val v = (as(p) * h + bs(p)) % Prime
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    mins
  }

  val FunctionName = "graft_minhash_md5"

  val builder: Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == 2 && exprs(1).foldable,
        s"$FunctionName(shingles, num_perm): num_perm must be a literal")
      Md5MinHashSigs(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
    }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FunctionName, builder, "scala_udf")

  /** Portable MinHash signature array of a shingle-array column. */
  def sigsMd5(shingles: Column, numPerm: Int): Column = {
    register(SparkSession.active)
    call_function(FunctionName, shingles, org.apache.spark.sql.functions.lit(numPerm))
  }

  // --- xxhash64 family (engine-hash tier) -------------------------------

  // per-permutation seeds xxhash64-chain-prefix(42, p) are a pure function
  // of numPerm — memoized so the per-row hot path never re-hashes them
  private val xxSeedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def xxSeeds(numPerm: Int): Array[Long] =
    xxSeedCache.computeIfAbsent(numPerm,
      np => Array.tabulate(np)(p => XXH64.hashInt(p, 42L)))

  /** Empty input → EMPTY output (never a colliding sentinel signature);
    * see [[XxMinHashBands]] for the hash-chain contract. */
  def xxBandsFromArrayData(arr: ArrayData, numPerm: Int,
                           rowsPerBand: Int): Array[Long] = {
    val n = arr.numElements()
    if (n == 0) return Array.empty
    val seeds = xxSeeds(numPerm)
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      var p = 0
      while (p < numPerm) {
        val v = XXH64.hashUTF8String(s, seeds(p))
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    val numBands = numPerm / rowsPerBand
    Array.tabulate(numBands) { b =>
      var h = 42L
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(mins(b * rowsPerBand + r), h)
        r += 1
      }
      h
    }
  }

  val XxBandsFunctionName = "graft_minhash_xx_bands"

  val xxBandsBuilder: Seq[Expression] => Expression =
    exprs => {
      val usage = s"$XxBandsFunctionName(shingles, num_perm, rows_per_band)"
      require(exprs.length == 3 && exprs(1).foldable && exprs(2).foldable,
        s"$usage: num_perm and rows_per_band must be literals")
      val numPerm = exprs(1).eval().asInstanceOf[Number].intValue()
      val rowsPerBand = exprs(2).eval().asInstanceOf[Number].intValue()
      // the kernel keeps numPerm / rowsPerBand whole bands, so a remainder
      // would silently drop the trailing permutations
      require(numPerm > 0 && rowsPerBand > 0 && numPerm % rowsPerBand == 0,
        s"$usage: num_perm and rows_per_band must be positive and num_perm " +
          s"divisible by rows_per_band, got ($numPerm, $rowsPerBand)")
      XxMinHashBands(exprs.head, numPerm, rowsPerBand)
    }

  /** xxhash64-family banded MinHash keys of a shingle-array column. */
  def bandsXx(shingles: Column, numPerm: Int, rowsPerBand: Int): Column = {
    val spark = SparkSession.active
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      XxBandsFunctionName, xxBandsBuilder, "scala_udf")
    call_function(XxBandsFunctionName, shingles,
      org.apache.spark.sql.functions.lit(numPerm),
      org.apache.spark.sql.functions.lit(rowsPerBand))
  }
}
