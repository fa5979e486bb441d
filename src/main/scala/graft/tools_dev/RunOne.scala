package graft.tools_dev

import graft.SparkEntry

/** Run one inventory query at a data dir on local[8] and print its
  * first rows and row count:
  * `sbt "runMain graft.tools_dev.RunOne <query-name> <sf-dir>"`. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions","8").config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(0))(spark, args(1))
    df.show(10, false); println("ROWS=" + df.count())
    spark.stop()
  }
}
