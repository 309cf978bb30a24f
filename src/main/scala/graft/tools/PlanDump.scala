package graft.tools

import graft.SparkEntry

/** Batch `.explain("formatted")` capture for the r14 plan deliverables:
  * writes `<outDir>/<query>_<suffix>.txt` for each named declared query
  * (initial formatted plan + the executed plan after one run of the same
  * QueryExecution, so AQE's final shape is visible too; a noop-sink write
  * would plan and run a separate one and leave this plan unfinalised).
  * Run-dependent tokens are normalised ([[normalise]]), so two runs of one
  * commit write identical files and `diff -r` of two output dirs is the
  * plan-identity receipt.
  *
  * `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <query>...`
  */
object PlanDump {
  /** Tokens that name a run, not a plan: expression ids, Dataset plan ids,
    * RDD ids (localCheckpoint scans), lambda class names and identity
    * hashes, AQE query-stage ids and whole-stage-codegen ids. */
  private val RunTokens: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+".r -> "#n",
    "plan_id=\\d+".r -> "plan_id=n",
    "(\\w*RDD)\\[\\d+\\]".r -> "$1[n]",
    "\\$\\$Lambda[\\w$/.]*(@[0-9a-f]+)?".r -> "\\$\\$Lambda",
    "(QueryStage) \\d+".r -> "$1 n",
    "\\*\\(\\d+\\)".r -> "*(n)",
    "(codegen id : |WholeStageCodegen \\()\\d+".r -> "$1n")

  def normalise(plan: String): String =
    RunTokens.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = ToolSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.queryExecution.toRdd.foreach(_ => ())
      val executed = df.queryExecution.executedPlan.toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        normalise(s"== explain(formatted) ==\n$formatted\n\n== executed plan " +
          s"(post-AQE) ==\n${executed.take(40000)}\n"))
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
