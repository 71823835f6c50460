package graft

/** Dump `explain("formatted")` for every catalog query — the plan-quality
  * feedback loop: check PushedFilters reach the parquet scans, small sides
  * are BroadcastHashJoin, WholeStageCodegen spans are wide, and no
  * unexpected shuffles appear. Usage: Explain <sfDir> [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Queries.all
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try q.run(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
