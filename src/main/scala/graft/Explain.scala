package graft

/** Plan inspection utility: print the formatted physical plan and
  * wall time for named queries — the explain-then-iterate loop every
  * operator goes through before it's called done.
  *
  * usage: runMain graft.Explain <sfDir> <query>[,query...] [--run N]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.contains("--run")) args(args.indexOf("--run") + 1).toInt else 1
    val spark = Harness.session(defaultCpus = 8)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      (1 to runs).foreach { r =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"run $r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
