package graft

/** Dumps `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the round-9 plan evidence under
  * plans/r09/. Queries whose construction has
  * side effects (stream ingest, table writes) run them at the given sf,
  * so use a small sf. The session is the bench's ([[Bench.session]]), so
  * the plans are the ones the bench runs at that core count.
  *
  * usage: runMain graft.PlanDump <sfDir> <cores> <outDir> <suffix> <query...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cores = args(1).toInt
    val outDir = args(2)
    val suffix = args(3)
    val names =
      if (args(4) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(4).toSeq
    val s = Bench.session(cores)
    new java.io.File(outDir).mkdirs()
    try {
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val txt =
          try fn(s, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case t: Throwable => s"FAILED: ${t.getClass.getName}: ${t.getMessage}" }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"PLANDUMP $name -> $outDir/${name}_$suffix.txt")
      }
    } finally s.stop()
  }
}
