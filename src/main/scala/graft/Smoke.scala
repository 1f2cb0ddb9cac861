package graft

/** Dev-only probe: verify every fixture table loads and print schemas. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("4")
    println(s"== entry rows=${SparkEntry.entry(spark).count()}")
    val dir = "/root/testdata/sf0.001"
    graft.sources.Tables.names.foreach { n =>
      try {
        val df = spark.read.parquet(s"$dir/$n.parquet")
        println(s"== $n rows=${df.count()} schema=${df.schema.simpleString}")
      } catch {
        case e: Throwable => println(s"== $n FAILED: ${e.getMessage.take(300)}")
      }
    }
    spark.stop()
  }
}
