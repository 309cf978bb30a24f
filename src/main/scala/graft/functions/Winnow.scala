package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm): Rabin-Karp rolling hashes of all character k-grams,
  * then one representative hash per sliding window of `w` hashes (the
  * rightmost minimum), consecutive duplicates collapsed.
  *
  * Guarantees: any shared substring of length >= w + k - 1 between two
  * documents yields at least one shared fingerprint, making the selected
  * set a position-robust containment signature — unlike a whole-document
  * hash, which only catches exact duplicates.
  *
  * Native expression with `doGenCode` for the same reason as
  * [[DotProduct]]: the rolling loop runs per document over the full text —
  * interpreter dispatch per character would dominate at corpus scale.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(WinnowFingerprints.winnow(input.asInstanceOf[UTF8String].toString, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = WinnowFingerprints.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = new ${classOf[GenericArrayData].getName}($cls.winnow($s.toString(), $k, $w));"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {
  private final val Base = 257L
  private final val Mod = 0x7FFFFFFFL // 2^31-1 (Mersenne), keeps hashes positive

  /** Rolling-hash + winnow; also the test oracle (shared by interpreted and
    * codegen paths, so both are exercised against it). */
  def winnow(text: String, k: Int, w: Int): Array[Long] = {
    val n = text.length
    if (n < k) return Array.empty
    // Rabin-Karp: h(i) = sum text(i+j) * Base^(k-1-j) mod Mod
    val hashes = new Array[Long](n - k + 1)
    var pow = 1L // Base^(k-1)
    var j = 1
    while (j < k) { pow = pow * Base % Mod; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * Base + text.charAt(i)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i <= n - k) {
      h = ((h - text.charAt(i - 1) * pow % Mod + Mod * Base) % Mod * Base
        + text.charAt(i + k - 1)) % Mod
      hashes(i) = h
      i += 1
    }
    if (hashes.length <= w) {
      var m = 0
      i = 1
      while (i < hashes.length) { if (hashes(i) <= hashes(m)) m = i; i += 1 }
      return Array(hashes(m))
    }
    // winnow: rightmost min of each w-window, collapse repeats
    val out = new scala.collection.mutable.ArrayBuffer[Long]
    var lastIdx = -1
    var start = 0
    while (start <= hashes.length - w) {
      var m = start
      i = start + 1
      while (i < start + w) { if (hashes(i) <= hashes(m)) m = i; i += 1 }
      if (m != lastIdx) { out += hashes(m); lastIdx = m }
      start += 1
    }
    out.toArray
  }
}

/** Portable-hash winnowing as ONE native pass per document: the same
  * md5-derived 28-bit gram hashes, rightmost-window-min selection, and
  * distinct-value output as the test-side referee
  * `Referees.winnowFingerprintsPortableRelational`
  * (whose formulation the DuckDB oracle mirrors) — but computed in a tight
  * JVM loop instead of a per-gram explode + md5 column + window exchange.
  * At sf0.1 that removes a ~1.5M-row shuffle and sort per query.
  *
  * Parity rules (all asserted equal to the relational form in WinnowSpec):
  * code-point indexing for grams (Spark `substring`/`length` and DuckDB
  * count code points, not UTF-16 units), UTF-8 bytes into md5, hash =
  * first 28 bits of the digest (= first 7 hex chars), enc = h*2^22 +
  * (2^22-1-pos) with 1-based pos, window starts 1..max(1, nGrams-w+1). */
case class Md5WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Md5WinnowFingerprints.winnowMd5(input.asInstanceOf[UTF8String].toString, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = Md5WinnowFingerprints.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = new ${classOf[GenericArrayData].getName}($cls.winnowMd5($s.toString(), $k, $w));"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5WinnowFingerprints {
  /** Distinct selected hashes, sorted ascending (callers explode; order of
    * the returned set is irrelevant but determinism keeps plans stable). */
  def winnowMd5(text: String, k: Int, w: Int): Array[Long] = {
    val cps = text.codePoints().toArray // code-point semantics, as both engines
    val nG = cps.length - k + 1
    if (nG < 1) return Array.empty
    val hs = new Array[Long](nG)
    var i = 0
    while (i < nG) {
      val gram = new String(cps, i, k)
      hs(i) = Md5Bits.top28(Md5Bits.digest(gram.getBytes("UTF-8")))
      i += 1
    }
    val div = 1L << 22
    val lastStart = math.max(1, nG - (w - 1))
    val out = new java.util.TreeSet[java.lang.Long]()
    var pos = 1
    while (pos <= lastStart) {
      var best = Long.MaxValue
      var j = pos
      val end = math.min(pos + w - 1, nG)
      while (j <= end) {
        val enc = hs(j - 1) * div + (div - 1 - j)
        if (enc < best) best = enc
        j += 1
      }
      out.add(best / div)
      pos += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    arr
  }
}

object Winnow {
  val FunctionName = "graft_winnow"

  val builder: Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == 3 && exprs.tail.forall(_.foldable),
        s"$FunctionName(text, k, w): k and w must be literals")
      WinnowFingerprints(exprs.head,
        k = exprs(1).eval().asInstanceOf[Number].intValue(),
        w = exprs(2).eval().asInstanceOf[Number].intValue())
    }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FunctionName, builder, "scala_udf")

  /** Winnowed fingerprint set of a text column. */
  def fingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    register(SparkSession.active)
    call_function(FunctionName, text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  }

  val Md5FunctionName = "graft_winnow_md5"

  val md5Builder: Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == 3 && exprs.tail.forall(_.foldable),
        s"$Md5FunctionName(text, k, w): k and w must be literals")
      Md5WinnowFingerprints(exprs.head,
        k = exprs(1).eval().asInstanceOf[Number].intValue(),
        w = exprs(2).eval().asInstanceOf[Number].intValue())
    }

  def registerMd5(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      Md5FunctionName, md5Builder, "scala_udf")

  /** Portable (md5-hash) winnowed fingerprint set — one native pass. */
  def fingerprintsMd5(text: Column, k: Int = 16, w: Int = 4): Column = {
    registerMd5(SparkSession.active)
    call_function(Md5FunctionName, text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  }
}
