package graft.tools

/** Repeated timing of one catalog query (noop sink), for checking whether a
  * bench delta is real or run-to-run noise (dev tool, not part of the
  * library surface). Usage: `Profile <sfDir> <query> [runs]`, default 4
  * runs, on the drivers' session (`local[$SPARK_GRAFT_CPUS]`). */
object Profile {
  def time[T](label: String)(f: => T): T = {
    // process-CPU delta beside wall time: on a machine with external load
    // (the r18 ±30% swings) CPU seconds are the stable signal — an
    // optimization that removes work shrinks CPU even when wall is noise
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    println(f"[profile] $label: $wall%.2f s (cpu $cpu%.1f s)")
    r
  }

  def timeQuery(dir: String, name: String, runs: Int = 4): Unit = {
    val q = graft.Queries.all.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    val spark = graft.core.GraftSession.driver()
    for (i <- 1 to runs) {
      time(s"$name run $i")(q.run(spark, dir).write.format("noop").mode("overwrite").save())
      // the r14 bench lesson, applied to this harness: localCheckpoint RDDs
      // skip clearCache and accrue block-manager memory across runs —
      // under pressure the NEXT run's cache evicts mid-query and every
      // consumer recomputes its whole upstream (measured here as sporadic
      // >10x CPU explosions on later runs); Bench unpersists between
      // queries, so the per-run steady state must too
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = args match {
    case Array(dir, name) => timeQuery(dir, name)
    case Array(dir, name, runs) => timeQuery(dir, name, runs.toInt)
    case _ =>
      System.err.println("usage: Profile <sfDir> <query> [runs]")
      sys.exit(2)
  }
}
