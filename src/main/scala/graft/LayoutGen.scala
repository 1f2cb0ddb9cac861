package graft

/** Writes the SURVEY §9 partitioned multi-file layout of a fixture corpus.
  *
  * Usage: `sbt "runMain graft.LayoutGen <inDir> <outDir>"`
  * e.g. `sbt "runMain graft.LayoutGen /root/testdata/sf0.1 target/graft-layout/sf0.1"`
  */
object LayoutGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: LayoutGen <inDir> <outDir>")
    // 32 shuffle partitions at any core count: they set the layout's file counts
    val spark = GraftSession.build(GraftSession.cpus(32), shufflePartitions = Some("32"))
    graft.sources.Layout.writeLayout(spark, args(0), args(1))
    println(s"[layoutgen] wrote partitioned layout: ${args(0)} -> ${args(1)}")
    spark.stop()
  }
}
