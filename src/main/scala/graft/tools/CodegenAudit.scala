package graft.tools

import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.SparkEntry

/** Audit: for every declared query (or the named ones), count equi-join
  * nodes that sit OUTSIDE WholeStageCodegen in the physical plan — the
  * least/greatest-constraint-inference trap detector (see CLAUDE.md).
  * Plans with AQE off: AQE inserts codegen stages only at run time, so an
  * unexecuted adaptive plan shows every join bare. Prints one `AUDIT` line
  * per query with bare joins, then `AUDIT_END`.
  *
  * `runMain graft.tools.CodegenAudit <sfDir> [<query>...]` */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CodegenAudit <sfDir> [<query>...]")
    val sfDir = args(0)
    val spark = ToolSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan
        // walk with a codegen-context flag; joins seen under a
        // WholeStageCodegenExec are fine, bare ones are flagged
        def walk(p: SparkPlan, inCodegen: Boolean): Seq[String] = p match {
          case _: WholeStageCodegenExec => p.children.flatMap(walk(_, true))
          case _: org.apache.spark.sql.execution.InputAdapter =>
            p.children.flatMap(walk(_, false))
          case j: BroadcastHashJoinExec =>
            (if (inCodegen) Nil else Seq(s"BHJ(${j.joinType})")) ++
              j.children.flatMap(walk(_, inCodegen))
          case j: ShuffledHashJoinExec =>
            (if (inCodegen) Nil else Seq(s"SHJ(${j.joinType})")) ++
              j.children.flatMap(walk(_, inCodegen))
          case j: SortMergeJoinExec =>
            (if (inCodegen) Nil else Seq(s"SMJ(${j.joinType})")) ++
              j.children.flatMap(walk(_, inCodegen))
          case _ => p.children.flatMap(walk(_, inCodegen))
        }
        val bare = walk(plan, inCodegen = false)
        if (bare.nonEmpty) println(f"AUDIT $n%-28s ${bare.size} bare: ${bare.mkString(", ")}")
      } catch {
        case e: Exception => println(f"AUDIT $n%-28s ERR ${e.getMessage.take(80)}")
      }
    }
    println("AUDIT_END")
    spark.stop()
  }
}
