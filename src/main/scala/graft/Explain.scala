package graft

/** Dev tool: print the formatted physical plan of one query.
  * Usage: runMain graft.Explain <query_name>|list [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query>|list [sfDir]"))
    if (name == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus)
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
