package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Core constants of the engine's data model.
  *
  * The reference keeps the fact-table value in a single double column and
  * accumulates mapping fractions in a running column
  * (ref: dsgrid/common.py VALUE_COLUMN; dsgrid/utils/dataset.py:59-80).
  */
object Constants {
  val ValueColumn = "value"
  val FractionColumn = "fraction"
  val ScalingFactorColumn = "scaling_factor"
  val FromIdColumn = "from_id"
  val ToIdColumn = "to_id"
  val FromFractionColumn = "from_fraction"
  val TimeZoneColumn = "time_zone"
  /** Target output-file size for the auto-partitioning parquet sink
    * (ref: dsgrid/utils/spark.py:61 MAX_PARTITION_SIZE_MB). */
  val MaxPartitionSizeMb = 128
  val MinWritePartitions = 36
}

/** The eight fixed dimension types every dataset declares
  * (ref: dsgrid/dimension/base_models.py:12-23). */
sealed abstract class DimensionType(val name: String)
object DimensionType {
  case object Metric extends DimensionType("metric")
  case object Geography extends DimensionType("geography")
  case object Sector extends DimensionType("sector")
  case object Subsector extends DimensionType("subsector")
  case object Time extends DimensionType("time")
  case object WeatherYear extends DimensionType("weather_year")
  case object ModelYear extends DimensionType("model_year")
  case object Scenario extends DimensionType("scenario")

  val all: Seq[DimensionType] =
    Seq(Metric, Geography, Sector, Subsector, Time, WeatherYear, ModelYear, Scenario)
  /** The stacked (non-time) dimension columns. */
  val stacked: Seq[DimensionType] = all.filterNot(_ == Time)
  def fromName(s: String): DimensionType =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"unknown dimension type: $s"))
}

/** A dimension record: id + display name, plus optional per-type attributes
  * (geography carries time_zone, metric carries unit)
  * (ref: dsgrid/dimension/base_models.py:54-83, dsgrid/units/convert.py:39). */
case class DimensionRecord(
    id: String,
    name: String,
    time_zone: Option[String] = None,
    unit: Option[String] = None)

/** One row of a dimension-mapping table
  * (ref: dsgrid/config/mapping_tables.py:23-46). A null toId means the
  * from-record maps to nothing and is dropped by the mapping join. */
case class MappingRecord(from_id: String, to_id: Option[String], from_fraction: Double = 1.0)

/** Declared-or-inferred file schema: names columns, optional dtypes,
  * rename-to-dimension mappings and ignore columns
  * (ref: dsgrid/config/file_schema.py:20-77). */
case class FileSchema(
    columns: Seq[(String, String)] = Nil, // (name, typeName); empty => infer
    renames: Map[String, String] = Map.empty, // source col -> dimension col
    ignoreColumns: Seq[String] = Nil) {
  def toStructType: Option[StructType] =
    if (columns.isEmpty) None
    else Some(StructType(columns.map { case (n, t) => StructField(n, SqlTypes.fromName(t)) }))
}

/** Supported column types (ref: dsgrid/spark/types.py:52-104). No nested /
  * decimal / interval types appear in reference data tables. */
object SqlTypes {
  def fromName(name: String): DataType = name.trim.toUpperCase match {
    case "BOOLEAN" => BooleanType
    case "INT" | "INTEGER" => IntegerType
    case "TINYINT" => ByteType
    case "SMALLINT" => ShortType
    case "BIGINT" | "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "TIMESTAMP_TZ" | "TIMESTAMP" => TimestampType
    case "TIMESTAMP_NTZ" => TimestampNTZType
    case "STRING" | "TEXT" | "VARCHAR" => StringType
    case "DATE" => DateType
    case other => throw new IllegalArgumentException(s"unsupported type: $other")
  }
}

/** Session factory with the scale-aware defaults this engine assumes:
  * AQE on (skew-join + partition coalescing), shuffle partitions sized to
  * cores rather than the 200 default, UTC session time zone
  * (ref session handling: dsgrid/utils/spark.py:76-125,854-864). Every
  * session the CLI, the drivers, the tools and the test suite run is built
  * here, so what is tested and benched is what ships. */
object GraftSession {
  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Parquet TIMESTAMP(NANOS) columns (unsupported natively) surface as
      // long nanos; readers convert explicitly (`timestamp_micros(ns div 1000)`).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // native codegen vector functions (fvec_dot)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The batch drivers' session (Bench, Verify, PlanLintSweep, ScaleProbe,
    * Profile): `local[$SPARK_GRAFT_CPUS]`, default every core, with one
    * shuffle partition per core. */
  def driver(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run a thunk with a temporarily overridden session time zone
    * (ref: dsgrid/query/query_submitter.py:697-714 restarts the session for
    * this; in-JVM a scoped conf set/restore suffices). */
  def withSessionTimeZone[T](spark: SparkSession, tz: String)(f: => T): T = {
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, tz)
    try f
    finally spark.conf.set(key, old)
  }
}

/** Order-preserving parallel map for INDEPENDENT Spark actions (guide
  * §2.6: actions are only sequential because the driver calls them
  * sequentially — overlapping independent jobs lets the scheduler back-fill
  * executors from the next job's tasks while the current one drains its
  * tail). Spark driver calls are thread-safe; results come back in input
  * order, so an assembled frame is bit-identical to the sequential loop's.
  * Use ONLY when iterations touch disjoint state.
  *
  * Runs on a bounded dedicated pool (the global EC would serialize behind
  * other work; an unbounded one could swamp the scheduler). Each worker
  * sets `spark` as its active session itself — Spark 4's
  * `SparkPlan.session` is `getActiveSession.orNull`, and a pool thread
  * only inherits the active session if its creator had one, so a parquet
  * write from a caller without one would NPE. The first failure, or
  * [[Timeout]], cancels the siblings' jobs (tagged per call) and
  * interrupts their threads before it propagates. */
object ParActions {
  /** Parallel actions per call. */
  val Threads = 4

  /** Longest one call may run: far above any registry copy or catalog
    * sweep, so reaching it means a job hung. */
  val Timeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(6, "hours")

  def apply[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.isEmpty) Nil
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(Threads, xs.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val all = Future.traverse(xs) { a =>
        Future {
          SparkSession.setActiveSession(spark)
          spark.sparkContext.addJobTag(tag)
          f(a)
        }
      }
      try Await.result(all, Timeout)
      catch {
        case e: Throwable =>
          // interrupt the siblings and cancel their jobs; cancel again once
          // they have unwound, for a job submitted between the two
          pool.shutdownNow()
          spark.sparkContext.cancelJobsWithTag(tag)
          pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
          spark.sparkContext.cancelJobsWithTag(tag)
          throw e
      } finally pool.shutdown()
    }
}
