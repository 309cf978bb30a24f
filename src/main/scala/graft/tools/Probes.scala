package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Machine-checkable scale-probe artifact (round-7 verdict #6): time the
  * named declared queries at TWO fixture scales and write
  * `{query: {a_sec, b_sec, ratio_pct}}` JSON — the sf0.1 → sf1x stretch
  * signal that previously lived only in BASELINE.md prose, emitted as
  * PROBES_r(N).json per round.
  *
  * `runMain graft.tools.Probes <dirA> <dirB> <reps> <outFile> <query>...`
  *
  * Every rep clears the caches first ([[ToolSession.timeQuery]]). Each
  * query runs once untimed per scale, then its reps alternate A, B. The JSON
  * holds min-of-reps (the contention-free shape); ratio_pct = 100·tB/tA,
  * so a 10× fixture at a 1000 (= 10×) ratio is exactly linear scaling.
  * Each printed line also carries the median of the reps, the number to
  * decide an A/B on: cross-JVM mins drift on a shared host, so an A/B on
  * mins alone can invert.
  */
object Probes {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5, "usage: Probes <dirA> <dirB> <reps> <outFile> <query>...")
    val Array(dirA, dirB, repsS, outFile) = args.take(4)
    val reps = repsS.toInt
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val names = args.drop(4).toSeq
    val spark = ToolSession()

    /** (min, median) of samples; an even count averages the two middle
      * ones. */
    def stats(samples: Seq[Double]): (Double, Double) = {
      val ts = samples.sorted
      (ts.head, (ts((reps - 1) / 2) + ts(reps / 2)) / 2)
    }

    val rows = names.map { n =>
      // one untimed run per scale, then A/B-interleaved reps: the JVM's
      // warm-up (class loading, JIT) keeps paying off over the first
      // reps, and timing one scale's reps before the other's charged it
      // to whichever scale came first
      Seq(dirA, dirB).foreach(ToolSession.timeQuery(spark, n, _))
      val pairs = (1 to reps).map(_ =>
        (ToolSession.timeQuery(spark, n, dirA), ToolSession.timeQuery(spark, n, dirB)))
      val (a, aMed) = stats(pairs.map(_._1))
      val (b, bMed) = stats(pairs.map(_._2))
      val ratioPct = math.round(100.0 * b / a)
      System.err.println(f"[probe] $n%-28s a=$a%7.2f s (med $aMed%7.2f)  " +
        f"b=$b%7.2f s (med $bMed%7.2f)  ratio=${ratioPct / 100.0}%6.2fx")
      f"""  "$n": {"a_sec": $a%.3f, "b_sec": $b%.3f, "ratio_pct": $ratioPct}"""
    }
    val json =
      s"""{
         |"dir_a": "$dirA", "dir_b": "$dirB", "reps": $reps,
         |"queries": {
         |${rows.mkString(",\n")}
         |}}""".stripMargin
    Files.write(Paths.get(outFile), json.getBytes(StandardCharsets.UTF_8))
    println(s"[probe] wrote $outFile")
    spark.stop()
  }
}
