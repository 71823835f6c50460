package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Old-generation occupancy after a full GC: what a pass leaves live. */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured")).toSeq

  def liveAfterFullGcMb(): Double = {
    // the first GC lets Spark's ContextCleaner see unreferenced shuffles and
    // broadcasts; the second one frees what the cleaner released meanwhile
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }
}

/** One pass: wall and process-CPU seconds, bytes of files written, live
  * old-generation MB after the pass, and whether the pass was traced. */
final case class PassSample(wall: Double, cpu: Double, bytes: Long, heapMb: Double, traced: Boolean)

/** The benchmark process: one workload, closed loop, one client, on
  * local[cores]. Prints nothing on stdout; writes one result JSON file. */
object Main {
  val SetupRepeats = 3

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = cpuBean.getProcessCpuTime / 1e9

  /** Busy jiffies of the whole machine (total − idle − iowait). */
  private def machineBusyTicks: Long = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("bytes") || m == "bytes_written" => "bytes"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("jobs") || m.endsWith("stages") || m.endsWith("tasks") ||
      m.endsWith("compiles") || m.endsWith("files") => "count"
    case _ => "ratio"
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val fixture = opt("fixture")
    val cores = opt("cores").toInt
    val inject = opt.getOrElse("inject", "none")
    require(Set("none", "wrong_result", "accept_invalid").contains(inject), s"unknown fault: $inject")

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.builder(master = s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark.sparkContext)

    val workload: Workload = workloadName match {
      case "dsgrid_query" => new DsgridQuery(spark, probe, seed, inject)
      case "catalog_iterative" => new CatalogIterative(spark, probe, fixture)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val p0 = System.nanoTime()
    workload.prepare(s"$work/inputs")
    val prepareSeconds = (System.nanoTime() - p0) / 1e9
    System.err.println(f"[perfbench] inputs staged: $prepareSeconds%.2f s")
    // set-up, repeated into fresh directories (once in a traced run, which
    // does not report setup_s); the last set-up is used
    val setupTimes = (1 to (if (traced) 1 else SetupRepeats)).map { i =>
      val s0 = System.nanoTime()
      val outcome = workload.setup(s"$work/setup$i")
      val dt = (System.nanoTime() - s0) / 1e9
      attempted += outcome.attempted
      failures ++= outcome.failures ++ workload.checkSetup()
      if (i > 1) deleteTree(s"$work/setup${i - 1}")
      System.err.println(f"[perfbench] set-up $i: $dt%.2f s")
      dt
    }

    // closed loop: the first pass is cold, the rest warm. In a traced run
    // the warm passes alternate traced/untraced, starting and ending traced,
    // so the median difference (the tracing overhead) is not biased by the
    // passes still getting faster.
    val samples = mutable.ArrayBuffer.empty[PassSample]
    val passSpans = mutable.ArrayBuffer.empty[SpanStats]
    val busy0 = machineBusyTicks
    val cpu0 = cpuSeconds
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    val minWarm = 2
    Heap.liveAfterFullGcMb() // every pass, the cold one too, starts after a full GC
    while (samples.size <= minWarm || elapsed < seconds || (traced && samples.size % 2 == 1)) {
      val k = samples.size
      val tracedPass = traced && (k == 0 || k % 2 == 1)
      val out = s"$work/pass$k"
      probe.tracing(tracedPass)
      val c = cpuSeconds
      val w = System.nanoTime()
      val outcome = probe.span("pass")(workload.pass(out))
      val wall = (System.nanoTime() - w) / 1e9
      val cpu = cpuSeconds - c
      probe.tracing(false)
      if (tracedPass) passSpans += probe.stats(probe.spans.last)
      samples += PassSample(wall, cpu, Workload.bytesUnder(out), Heap.liveAfterFullGcMb(), tracedPass)
      System.err.println(f"[perfbench] pass $k: $wall%.2f s wall, $cpu%.2f s cpu" + (if (tracedPass) " (traced)" else ""))
      attempted += outcome.attempted
      failures ++= outcome.failures ++ workload.check(out)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // catalog results stay for run.py's hash check; dsgrid outputs are large
      if (workloadName != "catalog_iterative") deleteTree(out)
    }
    val measured = elapsed
    val external = math.max(0.0,
      ((machineBusyTicks - busy0) / 100.0 - (cpuSeconds - cpu0)) / (cores * measured))

    val warm = samples.drop(1)
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> (sessionSeconds + prepareSeconds + median(setupTimes)),
        "cold_s" -> samples.head.wall,
        "wall_s" -> median(warm.map(_.wall).toSeq),
        "cpu_s" -> median(warm.map(_.cpu).toSeq),
        "bytes_written" -> median(warm.map(_.bytes.toDouble).toSeq),
        "live_heap_mb" -> median(warm.map(_.heapMb).toSeq))
      else {
        val warmSpans = passSpans.drop(1).toSeq
        def med(f: SpanStats => Double) = median(warmSpans.map(f))
        val engine = Seq(
          "spark.jobs" -> med(_.jobs),
          "spark.stages" -> med(_.stages),
          "spark.tasks" -> med(_.tasks),
          "spark.task_s" -> med(_.taskSeconds),
          "spark.core_util" -> med(s => s.taskSeconds / (s.seconds * cores)),
          "spark.driver_s" -> med(_.driverSeconds),
          "spark.compiles" -> med(_.compiles.toDouble),
          "spark.compile_s" -> med(_.compileSeconds),
          "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
          "spark.spill_bytes" -> med(_.spillBytes.toDouble),
          "spark.peak_task_mem_mb" -> med(_.peakTaskMemBytes / 1048576.0),
          "tracing.overhead_s" ->
            (median(warm.filter(_.traced).map(_.wall).toSeq) - median(warm.filterNot(_.traced).map(_.wall).toSeq)))
        engine ++ layerMetrics(spark, probe, workload, seed, fixture, work)
      }

    Files.writeString(Paths.get(s"$work/spans.json"), probe.spansJson)
    val result = Json.obj(
      "workload" -> workloadName,
      "seed" -> seed,
      "seed_used" -> (workloadName == "dsgrid_query"),
      "trace" -> traced,
      "inject" -> inject,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq,
      "metrics" -> collection.immutable.ListMap(metrics.map { case (n, v) =>
        n -> collection.immutable.ListMap("value" -> v, "unit" -> unitOf(n))
      }: _*),
      "samples" -> collection.immutable.ListMap(
        "session_s" -> sessionSeconds,
        "inputs_s" -> prepareSeconds,
        "setup_s" -> setupTimes,
        "pass_wall_s" -> samples.map(_.wall).toSeq,
        "pass_cpu_s" -> samples.map(_.cpu).toSeq,
        "pass_bytes" -> samples.map(_.bytes).toSeq,
        "pass_heap_mb" -> samples.map(_.heapMb).toSeq,
        "pass_traced" -> samples.map(_.traced).toSeq),
      "machine" -> collection.immutable.ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_used" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "external_load" -> external,
        "measured_s" -> measured,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "fixture_hash" -> workload.fixtureHash))
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }

  /** The layer ledger of a traced run: both workloads' decomposed passes,
    * so every traced run reports every per-layer metric. The other
    * workload's layers run on the same seed right after this workload. */
  private def layerMetrics(
      spark: SparkSession, probe: Probe, workload: Workload, seed: Long, fixture: String, work: String
  ): Seq[(String, Double)] = {
    val dsgrid = workload match {
      case q: DsgridQuery => q
      case _ =>
        val q = new DsgridQuery(spark, probe, seed, "none")
        q.prepare(s"$work/inputs")
        q.setup(s"$work/layers-setup")
        q
    }
    probe.tracing(true)
    val catalog = workload match {
      case c: CatalogIterative => c
      case _ => new CatalogIterative(spark, probe, fixture)
    }
    val all = dsgrid.layers(s"$work/layers-dsgrid") ++ catalog.layers(s"$work/layers-catalog")
    probe.tracing(false)
    all.toSeq.sortBy(_._1)
  }
}

/** Writes the DuckDB oracle SQL of the catalog_iterative queries as a JSON
  * object (record_oracle.py turns it into the expected hashes). */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)),
      Json.render(collection.immutable.ListMap(CatalogIterative.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*)))
}
