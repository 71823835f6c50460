package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DimensionFilter, MappingKernel, Reshape, Validation}
import graft.query.Models._
import graft.query.Submitter
import graft.registry.{DatasetFormat, MappingTypes, Registry}

/** Ops a step attempted and the failures it saw (one message each). */
final case class Outcome(attempted: Int, failures: Seq[String])

/** One benchmark workload: a repeatable set-up unit, a timed pass, untimed
  * output checks, and the layer probe of a traced run. */
trait Workload {
  /** Stage the inputs under `dir` (once per run). */
  def prepare(dir: String): Unit
  /** One set-up unit under `dir`; the set-up of the last call is used. */
  def setup(dir: String): Outcome
  /** Check what the last `setup` produced (untimed). */
  def checkSetup(): Seq[String]
  /** One timed pass writing every output under `out`. */
  def pass(out: String): Outcome
  /** Compare the outputs of a finished pass with the expectation (untimed). */
  def check(out: String): Seq[String]
  /** Layer metrics from one decomposed pass (a traced run only). */
  def layers(out: String): Map[String, Double]
  /** A stable description of the inputs. */
  def fixtureHash: String
}

object Workload {
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def dataFilesUnder(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString.take(16)

  /** Sum of one stat over the spans named `name` among `spans`. */
  def total(probe: Probe, spans: Seq[Span], name: String)(f: SpanStats => Double): Double =
    spans.filter(_.name == name).map(s => f(probe.stats(s))).sum

  /** Run one op; an exception is a failure, never a crash of the run. */
  def attempt(what: String, failures: mutable.Buffer[String])(body: => Unit): Unit =
    try body
    catch { case e: Exception => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}" }

  def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

import Workload._

/** `dsgrid_query`: the paper's pipeline. The inputs are staged once; each
  * set-up unit registers them with full validation into a fresh registry
  * and submits the invalid input, which must be rejected. Each pass submits
  * two ProjectQuery shapes through the Submitter and writes each with
  * Writers.parquet. */
final class DsgridQuery(spark: SparkSession, probe: Probe, seed: Long, inject: String) extends Workload {
  import Inputs._
  private var inputs: Inputs = _
  private var registry: Registry = _

  private def records(dim: String, ids: Seq[String]): DataFrame =
    inputs.read(dim).filter(col("id").isin(ids: _*))

  /** Dimension records each dataset is validated against: a dataset is
    * complete over its own subsectors and metrics only. */
  private def resDims: Map[String, DataFrame] = Map(
    "geography" -> inputs.read("county"),
    "subsector" -> records("subsector", ResSubsectors),
    "metric" -> records("metric", ResMetrics),
    "scenario" -> inputs.read("scenario"))
  private def comDims: Map[String, DataFrame] = Map(
    "geography" -> inputs.read("county"),
    "subsector" -> records("subsector", ComSubsectors),
    "scenario" -> inputs.read("scenario"))
  private val comFormat = DatasetFormat("pivoted", ComMetrics, "metric")
  private val dimensions = Seq("geography", "county", "metric", "subsector", "scenario")

  /** Register every dimension, the mapping and both datasets; each
    * registration is one op. */
  private def registerAll(reg: Registry, failures: mutable.Buffer[String], validate: Boolean = true): Int = {
    val suffix = if (validate) "" else "[validate=false]"
    for (d <- dimensions)
      attempt(s"registerDimension($d)", failures) {
        probe.span("registry.Registry.registerDimension" + suffix)(Registry.registerDimension(reg, d, inputs.read(d)))
      }
    attempt("registerMapping(county_to_state)", failures) {
      probe.span("registry.Registry.registerMapping" + suffix)(Registry.registerMapping(
        reg, "county_to_state", inputs.read("county_to_state"), MappingTypes.ManyToOneAggregation,
        validate = validate, fromDimension = Some("county"), toDimension = Some("geography")))
    }
    attempt("registerDataset(res)", failures) {
      probe.span("registry.Registry.registerDataset" + suffix)(Registry.registerDataset(
        reg, "res", inputs.read("res_load_data"), lookup = Some(inputs.read("res_lookup")),
        dimensionRecords = resDims, expectedTimestamps = Some(inputs.spine),
        requireCompleteAssociations = true, validate = validate))
    }
    attempt("registerDataset(com)", failures) {
      probe.span("registry.Registry.registerDataset" + suffix)(Registry.registerDataset(
        reg, "com", inputs.read("com"), format = Some(comFormat),
        dimensionRecords = comDims, expectedTimestamps = Some(inputs.spine),
        requireCompleteAssociations = true, validate = validate))
    }
    dimensions.size + 3
  }

  private val mapping = Seq(DimensionMappingRef("geography", "county_to_state"))

  private def national = ProjectQuery(
    name = "national",
    datasets = DatasetSection(
      Seq(DatasetRef("res", mapping), DatasetRef("com", mapping)), expression = Some("res | com")),
    result = ResultSection(
      aggregations = Seq(Aggregation(Seq("geography", "metric", "scenario", "timestamp"))),
      toUnit = Some("MWh"),
      timeZone = Some("geography"),
      pivotDimension = Some("metric")))

  // The aggregation gives one row per hour: without it, res rows of
  // counties with different scaling factors stay apart after the mapping,
  // because the Submitter collapses fractions before it applies scaling
  // factors.
  private def stateSubset = {
    val only = Seq(DimensionFilter.ExpressionFilter("geography", "==", inputs.subsetState._1))
    ProjectQuery(
      name = "state_subset",
      datasets = DatasetSection(
        Seq(DatasetRef("res", mapping, filters = only), DatasetRef("com", mapping, filters = only)),
        expression = Some("res | com")),
      result = ResultSection(
        aggregations = Seq(Aggregation(Seq("geography", "subsector", "metric", "scenario", "timestamp"))),
        idsToNames = Seq("geography", "subsector"),
        sortBy = Seq("geography", "subsector", "metric", "scenario", "timestamp")))
  }

  private def shapes = Seq(national, stateSubset)

  def prepare(dir: String): Unit = {
    inputs = new Inputs(spark, seed, dir)
    inputs.stage()
  }

  /** A full registration, then the invalid input, which must be rejected. */
  def setup(dir: String): Outcome = {
    registry = Registry(spark, s"$dir/registry")
    val failures = mutable.Buffer.empty[String]
    val n = registerAll(registry, failures)
    // the fault self-check submits the valid table in place of the invalid one
    val source = if (inject == "accept_invalid") "com" else "com_invalid"
    try {
      probe.span("registry.Registry.registerDataset[invalid]")(Registry.registerDataset(
        Registry(spark, s"$dir/rejected"), "com_invalid", inputs.read(source), format = Some(comFormat),
        dimensionRecords = comDims, expectedTimestamps = Some(inputs.spine),
        requireCompleteAssociations = true))
      failures += s"registerDataset(com_invalid): the invalid input ($source) was accepted"
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains(inputs.unknownCounty) =>
      case e: Exception => failures += s"registerDataset(com_invalid): rejected with the wrong error: ${e.getMessage}"
    }
    Outcome(n + 1, failures.toSeq)
  }

  private val checked =
    Seq(("res_load_data", "value"), ("res_lookup", "scaling_factor")) ++ ComMetrics.map(("com", _))

  /** (table, column) → (rows, value sum) */
  private def checksums(tables: String => DataFrame): Map[(String, String), (Long, Double)] =
    checked.map { case (t, c) =>
      val r = tables(t).agg(count(lit(1)), sum(col(c))).head()
      (t, c) -> (r.getLong(0), r.getDouble(1))
    }.toMap

  private lazy val stagedChecksums = checksums(inputs.read)

  /** The registered data must hold exactly the staged rows and values. */
  def checkSetup(): Seq[String] = {
    val tables: String => DataFrame = {
      case "res_load_data" => registry.loadData("res")
      case "res_lookup" => registry.lookup("res").get
      case "com" => registry.loadData("com")
    }
    val got =
      try checksums(tables)
      catch { case e: Exception => return Seq(s"registered data unreadable: ${e.getMessage}") }
    checked.filter(k => got(k)._1 != stagedChecksums(k)._1 || !near(got(k)._2, stagedChecksums(k)._2))
      .map(k => s"registered ${k._1}.${k._2}: staged ${stagedChecksums(k)}, registered ${got(k)}")
  }

  def fixtureHash: String = sha256(
    (s"seed=$seed counties=${inputs.counties.size} hours=$Hours res=$ResSubsectors/$ResMetrics " +
      s"com=$ComSubsectors/$ComMetrics scenarios=$Scenarios").getBytes("UTF-8"))

  def pass(out: String): Outcome = {
    val failures = mutable.Buffer.empty[String]
    val submitter = new Submitter(registry)
    for (q <- shapes)
      attempt(s"query ${q.name}", failures) {
        val df = probe.span("query.Submitter.submit")(submitter.submit(q))
        probe.span("sources.Writers.parquet")(graft.sources.Writers.parquet(df, s"$out/${q.name}"))
      }
    Outcome(shapes.size, failures.toSeq)
  }

  /** query → group → (value sum, rows), from the staged parquet with plain
    * Spark SQL and java.time: no graft operator is on this path. */
  private lazy val expected: Map[String, Map[Seq[String], (Double, Long)]] = {
    inputs.stackedFacts.createOrReplaceTempView("pb_facts")
    val sums = spark.sql(
      "SELECT county, subsector, metric, scenario, SUM(value) FROM pb_facts GROUP BY 1, 2, 3, 4").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
    val toKwh = Map("kWh" -> 1.0, "therm" -> 29.307111111111112, "MBtu" -> 293.07111111111113)
    val unit = Metrics.map(m => m._1 -> m._3).toMap
    val stateName = States.map(s => s._1 -> s._2).toMap
    // a fall-back hour folds two UTC hours into one local hour
    def localHours(zone: String): Long = {
      val z = java.time.ZoneId.of(zone)
      (0 until Hours).map(h => java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(YearStartEpoch + h * 3600L), z)).distinct.size.toLong
    }
    val nat = sums.groupBy { case (c, _, m, sc, _) => Seq(inputs.countyState(c), sc, m) }.map { case (k, rows) =>
      k -> (rows.map(_._5 * toKwh(unit(k(2))) / 1000.0).sum, localHours(zoneOf(k.head)))
    }
    val state = inputs.subsetState._1
    val sub = sums.filter(r => inputs.countyState(r._1) == state)
      .groupBy { case (_, s, m, sc, _) => Seq(stateName(state), subsectorName(s), m, sc) }
      .map { case (k, rows) => k -> (rows.map(_._5).sum, Hours.toLong) }
    val e = Map("national" -> nat, "state_subset" -> sub)
    if (inject != "wrong_result") e
    else {
      // fault self-check: one expected total off by 0.1 %
      val (k, (v, n)) = nat.minBy(_._1.mkString("/"))
      e.updated("national", nat.updated(k, (v * 1.001, n)))
    }
  }

  def check(out: String): Seq[String] = shapes.flatMap { q =>
    val path = s"$out/${q.name}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Nil // already counted by the pass
    else {
      val df = spark.read.parquet(path)
      val got: Map[Seq[String], (Double, Long)] =
        if (q.name == "national") {
          // pivoted: one column per metric, one row per (state, scenario, local hour)
          val metrics = Metrics.map(_._1).filter(df.columns.contains)
          df.groupBy("geography", "scenario").agg(count(lit(1)), metrics.map(m => sum(col(m))): _*)
            .collect().toSeq.flatMap { r =>
              metrics.zipWithIndex.map { case (m, i) =>
                Seq(r.getString(0), r.getString(1), m) -> (r.getDouble(3 + i), r.getLong(2))
              }
            }.toMap
        } else
          df.groupBy("geography", "subsector", "metric", "scenario").agg(sum("value"), count(lit(1)))
            .collect().map(r => ((0 until 4).map(r.getString): Seq[String]) -> (r.getDouble(4), r.getLong(5))).toMap
      val want = expected(q.name)
      val bad = (want.keySet ++ got.keySet).toSeq.filter { k =>
        (want.get(k), got.get(k)) match {
          case (Some((v1, n1)), Some((v2, n2))) => !near(v1, v2) || n1 != n2
          case _ => true
        }
      }
      if (bad.isEmpty) Nil
      else Seq(s"query ${q.name}: ${bad.size} groups differ from the expectation, e.g. " +
        s"${bad.head.mkString("/")}: want ${want.get(bad.head)}, got ${got.get(bad.head)}")
    }
  }

  def layers(out: String): Map[String, Double] = queryLayers(s"$out/query") ++ registrationLayers(s"$out/register")

  /** The pipeline decomposed into its public stages; operator spans each
    * run on a materialized (localCheckpoint) input, so a span holds only
    * that function's work. */
  private def queryLayers(out: String): Map[String, Double] = {
    val before = probe.spans.size
    val submitter = new Submitter(registry)
    var rowsOut = 0L
    var nationalCombined: DataFrame = null
    for (q <- shapes) {
      probe.span("query.Submitter.validate")(submitter.validate(q))
      val mapped = q.datasets.datasets.map { ref =>
        probe.span("registry.Registry.dataset")(registry.dataset(ref.datasetId))
        val m = probe.span("query.Submitter.mapDataset")(submitter.mapDataset(ref).localCheckpoint())
        rowsOut += m.count()
        ref.datasetId -> m
      }
      probe.span("query.Submitter.combine")(submitter.combine(q.datasets))
      val combined = graft.operators.DatasetExpr.evaluate(q.datasets.expression.get, mapped.toMap)
      if (q.name == "national") nationalCombined = combined
      val shaped = probe.span("query.Submitter.postProcess")(submitter.postProcess(combined, q.result).localCheckpoint())
      probe.span("sources.Writers.parquet")(graft.sources.Writers.parquet(shaped, s"$out/${q.name}"))
    }
    val raw = registry.dataset("res").localCheckpoint()
    val stacked = probe.span("operators.MappingKernel.mapStackedDimension")(
      MappingKernel.mapStackedDimension(raw, "geography", registry.mapping("county_to_state")).localCheckpoint())
    probe.span("operators.MappingKernel.applyFraction")(MappingKernel.applyFraction(stacked).localCheckpoint())
    val aggregated = graft.operators.Aggregation
      .aggregate(nationalCombined, Seq("geography", "metric", "scenario", "timestamp"), "sum").localCheckpoint()
    val converted = probe.span("functions.Units.convertUnits")(graft.functions.Units
      .convertUnits(aggregated, "metric", registry.dimensionRecords("metric"), "MWh").localCheckpoint())
    val local = probe.span("time.TimeZones.toGeographyLocal")(graft.time.TimeZones
      .toGeographyLocal(converted, "timestamp", "geography", registry.dimensionRecords("geography")).localCheckpoint())
    probe.span("operators.Reshape.pivot")(Reshape.pivot(local, "metric").localCheckpoint())
    probe.drain()

    def t(n: String)(f: SpanStats => Double) = total(probe, probe.spans.drop(before), n)(f)
    val ds = "registry.Registry.dataset"
    val sub = "query.Submitter"
    val w = "sources.Writers.parquet"
    val mk = "operators.MappingKernel"
    Map(
      s"$ds.self_s" -> t(ds)(_.selfSeconds),
      s"$ds.jobs" -> t(ds)(_.jobs),
      s"$ds.task_s" -> t(ds)(_.taskSeconds),
      s"$ds.input_bytes" -> t(ds)(_.inputBytes.toDouble),
      s"$sub.validate.self_s" -> t(s"$sub.validate")(_.selfSeconds),
      s"$sub.validate.jobs" -> t(s"$sub.validate")(_.jobs),
      s"$sub.mapDataset.self_s" -> t(s"$sub.mapDataset")(_.selfSeconds),
      s"$sub.mapDataset.jobs" -> t(s"$sub.mapDataset")(_.jobs),
      s"$sub.mapDataset.task_s" -> t(s"$sub.mapDataset")(_.taskSeconds),
      s"$sub.mapDataset.shuffle_write_bytes" -> t(s"$sub.mapDataset")(_.shuffleWriteBytes.toDouble),
      s"$sub.mapDataset.rows_scanned_per_row_out" -> t(s"$sub.mapDataset")(_.inputRecords.toDouble) / math.max(1L, rowsOut),
      s"$sub.combine.self_s" -> t(s"$sub.combine")(_.selfSeconds),
      s"$sub.combine.jobs" -> t(s"$sub.combine")(_.jobs),
      s"$sub.postProcess.self_s" -> t(s"$sub.postProcess")(_.selfSeconds),
      s"$sub.postProcess.jobs" -> t(s"$sub.postProcess")(_.jobs),
      s"$sub.postProcess.task_s" -> t(s"$sub.postProcess")(_.taskSeconds),
      s"$sub.postProcess.compiles" -> t(s"$sub.postProcess")(_.compiles.toDouble),
      s"$w.self_s" -> t(w)(_.selfSeconds),
      s"$w.task_s" -> t(w)(_.taskSeconds),
      s"$w.output_bytes" -> t(w)(_.outputBytes.toDouble),
      s"$w.files" -> shapes.map(q => dataFilesUnder(s"$out/${q.name}")).sum.toDouble,
      s"$mk.mapStackedDimension.self_s" -> t(s"$mk.mapStackedDimension")(_.selfSeconds),
      s"$mk.mapStackedDimension.task_s" -> t(s"$mk.mapStackedDimension")(_.taskSeconds),
      s"$mk.applyFraction.self_s" -> t(s"$mk.applyFraction")(_.selfSeconds),
      s"$mk.applyFraction.shuffle_write_bytes" -> t(s"$mk.applyFraction")(_.shuffleWriteBytes.toDouble),
      "functions.Units.convertUnits.self_s" -> t("functions.Units.convertUnits")(_.selfSeconds),
      "functions.Units.convertUnits.task_s" -> t("functions.Units.convertUnits")(_.taskSeconds),
      "time.TimeZones.toGeographyLocal.self_s" -> t("time.TimeZones.toGeographyLocal")(_.selfSeconds),
      "time.TimeZones.toGeographyLocal.task_s" -> t("time.TimeZones.toGeographyLocal")(_.taskSeconds),
      "operators.Reshape.pivot.self_s" -> t("operators.Reshape.pivot")(_.selfSeconds),
      "operators.Reshape.pivot.jobs" -> t("operators.Reshape.pivot")(_.jobs))
  }

  /** Registration with and without validation, plus each validation
    * function registerDataset runs, called on its own. */
  private def registrationLayers(out: String): Map[String, Double] = {
    val before = probe.spans.size
    val failures = mutable.Buffer.empty[String]
    registerAll(Registry(spark, s"$out/validated"), failures)
    registerAll(Registry(spark, s"$out/unvalidated"), failures, validate = false)
    require(failures.isEmpty, s"probe registration failed: ${failures.mkString("; ")}")
    for ((frame, dims) <- Seq((inputs.read("res_lookup"), resDims), (inputs.read("com"), comDims))) {
      val cols = dims.keys.toSeq.sorted
      probe.span("operators.Validation.nullViolations")(Validation.nullViolations(frame, cols).limit(5).collect())
      for (d <- cols)
        probe.span("operators.Validation.unknownDimensionValues")(
          Validation.unknownDimensionValues(frame, d, dims(d)).limit(5).collect())
      probe.span("operators.Validation.missingAssociations")(
        Validation.missingAssociations(frame, cols, dims).limit(5).collect())
    }
    for (t <- Seq("res_load_data", "com"))
      probe.span("time.TimeChecks.timestampsMatchSpine")(
        graft.time.TimeChecks.timestampsMatchSpine(inputs.read(t), "timestamp", inputs.spine))
    probe.span("registry.MappingTypes.validate")(
      MappingTypes.validate("county_to_state", MappingTypes.ManyToOneAggregation, inputs.read("county_to_state")))
    probe.drain()

    def t(n: String)(f: SpanStats => Double) = total(probe, probe.spans.drop(before), n)(f)
    val r = "registry.Registry"
    val staged = Seq("res_load_data", "res_lookup", "com").map(n => bytesUnder(inputs.path(n))).sum.toDouble
    Map(
      s"$r.registerDimension.self_s" -> t(s"$r.registerDimension")(_.selfSeconds),
      s"$r.registerDimension.jobs" -> t(s"$r.registerDimension")(_.jobs),
      s"$r.registerMapping.self_s" -> t(s"$r.registerMapping")(_.selfSeconds),
      s"$r.registerMapping.jobs" -> t(s"$r.registerMapping")(_.jobs),
      s"$r.registerDataset.self_s" -> t(s"$r.registerDataset")(_.selfSeconds),
      s"$r.registerDataset.jobs" -> t(s"$r.registerDataset")(_.jobs),
      s"$r.registerDataset.task_s" -> t(s"$r.registerDataset")(_.taskSeconds),
      s"$r.registerDataset.validate_s" ->
        (t(s"$r.registerDataset")(_.seconds) - t(s"$r.registerDataset[validate=false]")(_.seconds)),
      s"$r.registerDataset.input_scans" -> t(s"$r.registerDataset")(_.inputBytes.toDouble) / staged,
      s"$r.registerDataset.write_amp" -> bytesUnder(s"$out/validated/datasets") / staged,
      "operators.Validation.nullViolations.self_s" -> t("operators.Validation.nullViolations")(_.selfSeconds),
      "operators.Validation.unknownDimensionValues.self_s" -> t("operators.Validation.unknownDimensionValues")(_.selfSeconds),
      "operators.Validation.missingAssociations.self_s" -> t("operators.Validation.missingAssociations")(_.selfSeconds),
      "time.TimeChecks.timestampsMatchSpine.self_s" -> t("time.TimeChecks.timestampsMatchSpine")(_.selfSeconds),
      "registry.MappingTypes.validate.self_s" -> t("registry.MappingTypes.validate")(_.selfSeconds))
  }
}

/** `catalog_iterative`: driver-bound iterative catalog queries over the
  * fixture shipped with the benchmark; results are written as parquet so
  * run.py can hash them against the recorded DuckDB-oracle hashes. */
final class CatalogIterative(spark: SparkSession, probe: Probe, fixture: String) extends Workload {
  import CatalogIterative._
  private lazy val all = graft.SparkEntry.queries

  /** The fixture ships with the benchmark. */
  def prepare(dir: String): Unit = ()

  /** Prewarm: open and count every fixture table. */
  def setup(dir: String): Outcome = {
    for (t <- Tables) spark.read.parquet(s"$fixture/$t.parquet").count()
    Outcome(0, Nil)
  }

  def checkSetup(): Seq[String] = Nil

  def fixtureHash: String = sha256(Tables.flatMap(t =>
    t.getBytes("UTF-8") ++ java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fixture/$t.parquet"))).toArray)

  def pass(out: String): Outcome = {
    val failures = mutable.Buffer.empty[String]
    for (q <- Queries) {
      attempt(q, failures) {
        probe.span(s"queries.$q")(all(q)(spark, fixture).write.mode("overwrite").parquet(s"$out/$q"))
      }
      // as graft.Bench does between queries: cached intermediates and
      // checkpoints of one query must not tax the next
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    Outcome(Queries.size, failures.toSeq)
  }

  /** Hashes are compared in run.py, with the oracle's hashing. */
  def check(out: String): Seq[String] = Nil

  def layers(out: String): Map[String, Double] = {
    val before = probe.spans.size
    pass(out)
    probe.drain()
    def t(n: String)(f: SpanStats => Double) = total(probe, probe.spans.drop(before), n)(f)
    Queries.flatMap { q =>
      val n = s"queries.$q"
      Seq(
        s"$n.self_s" -> t(n)(_.selfSeconds),
        s"$n.driver_s" -> t(n)(_.driverSeconds),
        s"$n.jobs" -> t(n)(_.jobs),
        s"$n.compiles" -> t(n)(_.compiles.toDouble))
    }.toMap
  }
}

object CatalogIterative {
  val Queries: Seq[String] = Seq("q253_incremental_cc")
  val Tables: Seq[String] = Seq("part")
}
