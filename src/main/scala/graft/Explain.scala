package graft

import org.apache.spark.sql.execution.SQLExecution

/** Plan auditor: prints the formatted physical plan of each query so
  * scan pruning (PushedFilters/ReadSchema), join strategies and
  * WholeStageCodegen spans can be reviewed. Each query runs once first,
  * through the same QueryExecution that is printed: an adaptive plan
  * is final (`isFinalPlan=true`, its codegen stages in place) only
  * after it ran. `runMain graft.Explain
  * [names...]`; `SPARK_GRAFT_CPUS` sets the local parallelism (default
  * 4), as for [[Verify]].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // same parallelism as Verify, so plans match what the oracle run executes
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
      df.explain("formatted")
    }
    spark.stop()
  }
}
