package graft.tools

/** Local profiling driver: run ANY catalog query in a loop so jcmd
  * Thread.print sampling can attribute its cost (see SCALE.md round-8
  * method; not part of the driver contract).
  * Usage: QueryLoop <queryName> [runs]
  */
object QueryLoop {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 12
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-query-loop", Some("32"))
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.pipeline.Curate.releaseCaches(spark)
    }
    spark.stop()
  }
}
