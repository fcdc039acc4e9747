package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Print `explain("formatted")` for registered queries to stdout, one
  * `## <query>` header per query — the format of docs/PLANS.md and of
  * the optimization-round evidence (redirect into
  * `plans/rNN/<query>_{before,after}.txt`).
  * Usage: PlanDump <q1,q2,...> [sfDir]   (sfDir defaults to sf0.001)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PlanDump <q1,q2,...> [sfDir]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"## $name\n")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
