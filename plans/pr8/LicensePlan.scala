// License gold's optimised plan over the intake benchmark's seed-1
// inputs (perfbench InputGen, 1,000 orders), and how many times each
// parquet input relation appears in it. Build and run with
// plans/pr8/license_plan.sh.
package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.pipelines.PowerBiPipeline

object LicensePlan {
  def main(args: Array[String]): Unit = {
    val Array(work, planOut) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gen = new InputGen(spark, 1L, orders = 1000L)
    gen.write(work)
    val g = PowerBiPipeline.build(InputGen.read(spark, work), gen.vcoName,
      gen.moved, gen.eventSkip)
    val plan: LogicalPlan = g.license.queryExecution.optimizedPlan
    java.nio.file.Files.writeString(java.nio.file.Paths.get(planOut),
      plan.toString)
    val inputs = plan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.rootPaths.map(_.getName).mkString(",")
    }
    inputs.groupBy(identity).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(f"$n%-12s ${rs.size}%d relation(s)")
    }
    spark.stop()
  }
}
