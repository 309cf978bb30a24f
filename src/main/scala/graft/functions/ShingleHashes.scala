package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct xxhash64 values of a document's word n-gram shingles in
  * ONE native pass over the text — the fusion of
  * `sort_array(transform(TextOps.shingles(text, n), s => xxhash64(s)))`
  * that the hashed dedup substrate (PPJoin prefix, clusters, containment)
  * consumed per doc. The relational chain allocates the full distinct
  * shingle STRING array, a lambda-transformed hash array and a sorted copy
  * per row; the per-stage listener probe put the substrate's scan stages at
  * cpu/run ≈ 0.6 (allocation stall, PROBES_r15.json `noncpu_gap`), so the
  * allocation is the cost, not the hashing. This kernel tokenizes the
  * lowercased text byte-wise (maximal `[a-z0-9]+` ASCII runs — exactly
  * `TextOps.tokens`' regex class; multi-byte UTF-8 units are ≥ 0x80 and
  * never match, so byte-level scanning is exact), builds each n-token
  * window '_'-joined in a reused thread-local buffer, hashes it with
  * Spark's own XXH64 (seed 42, byte-identical to `xxhash64` on the shingle
  * string), then sorts and value-dedupes.
  *
  * Equivalence contract (asserted on real data in XxKernelParitySpec):
  * identical to the relational chain unless two DISTINCT shingle strings
  * collide on xxhash64 (the old chain would keep both values, this kernel
  * one). p ≈ |shingles|²/2⁶⁵ per doc — the same collision the existing
  * hashed substrate already accepts for its join keys and set intersects
  * (see Dedup.hashedShingleArrays), so no new failure mode is introduced.
  *
  * Empty/short docs (< n tokens) return an EMPTY array, exactly like the
  * regexp formulation. */
case class XxShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleHashes.fromText(input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = ShingleHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = new ${classOf[GenericArrayData].getName}(" +
        s"$cls.fromText($s, $n));"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  /** Reused per-thread scratch: token bounds, window byte buffer, hash
    * accumulator. Bounded by the largest document a task has seen; freed
    * with the task thread. */
  private final class Scratch {
    var starts: Array[Int] = new Array[Int](256)
    var ends: Array[Int] = new Array[Int](256)
    var win: Array[Byte] = new Array[Byte](256)
    var hashes: Array[Long] = new Array[Long](256)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Largest array length every JVM allocates. */
  private[functions] val MaxArrayLength = Int.MaxValue - 8

  /** New length for a scratch buffer that must hold `needed` elements: the
    * next power of two above it (amortised doubling), clamped to
    * [[MaxArrayLength]] so the doubling never overflows to a negative size.
    * A need past that limit fails with a named error. */
  private[functions] def growSize(needed: Int): Int = {
    if (needed > MaxArrayLength)
      throw new IllegalArgumentException(
        s"$FunctionName: a document needs a scratch buffer of $needed elements, " +
          s"over the JVM array limit of $MaxArrayLength")
    math.min(Integer.highestOneBit(needed).toLong * 2, MaxArrayLength.toLong).toInt
  }

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  def fromText(text: UTF8String, n: Int): Array[Long] = {
    val lower = text.toLowerCase // same lowering as Spark's lower()
    val bytes = lower.getBytes
    val len = bytes.length
    val s = scratch.get()
    // 1. token bounds: maximal [a-z0-9]+ runs
    var nTok = 0
    var i = 0
    while (i < len) {
      if (isTokenByte(bytes(i))) {
        if (nTok == s.starts.length) {
          s.starts = java.util.Arrays.copyOf(s.starts, growSize(nTok + 1))
          s.ends = java.util.Arrays.copyOf(s.ends, growSize(nTok + 1))
        }
        s.starts(nTok) = i
        i += 1
        while (i < len && isTokenByte(bytes(i))) i += 1
        s.ends(nTok) = i
        nTok += 1
      } else i += 1
    }
    if (nTok < n) return Array.emptyLongArray
    // 2. hash every n-token '_'-joined window from a reused buffer
    val nWin = nTok - n + 1
    if (s.hashes.length < nWin) s.hashes = new Array[Long](growSize(nWin))
    var w = 0
    while (w < nWin) {
      var wl = 0
      var t = w
      while (t < w + n) {
        if (t > w) {
          if (wl == s.win.length) s.win = java.util.Arrays.copyOf(s.win, growSize(wl + 1))
          s.win(wl) = '_'
          wl += 1
        }
        val tl = s.ends(t) - s.starts(t)
        if (wl + tl > s.win.length)
          s.win = java.util.Arrays.copyOf(s.win, growSize(wl + tl))
        System.arraycopy(bytes, s.starts(t), s.win, wl, tl)
        wl += tl
        t += 1
      }
      s.hashes(w) = XXH64.hashUnsafeBytes(s.win, Platform.BYTE_ARRAY_OFFSET, wl, 42L)
      w += 1
    }
    // 3. sort + value-dedupe (distinct-by-string == distinct-by-value
    //    absent a cross-string collision; see the class doc)
    java.util.Arrays.sort(s.hashes, 0, nWin)
    var out = 1
    var j = 1
    while (j < nWin) {
      if (s.hashes(j) != s.hashes(j - 1)) { s.hashes(out) = s.hashes(j); out += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(s.hashes, out)
  }

  val FunctionName = "graft_shingle_hashes"

  val builder: Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == 2 && exprs(1).foldable,
        s"$FunctionName(text, n): n must be a literal")
      XxShingleHashes(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
    }

  /** Sorted distinct shingle-hash array of a text column. */
  def of(text: Column, n: Int): Column = {
    SparkSession.active.sessionState.functionRegistry
      .createOrReplaceTempFunction(FunctionName, builder, "scala_udf")
    call_function(FunctionName, text, org.apache.spark.sql.functions.lit(n))
  }
}
