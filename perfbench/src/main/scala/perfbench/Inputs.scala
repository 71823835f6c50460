package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded dsgrid-shaped inputs, generated with `spark.range` in this
  * process and staged as parquet. The seed sets the values, the scaling
  * factors, the county→state assignment, the queried state and the
  * corrupted row of the invalid input; every shape (row counts, columns,
  * counties per state) is fixed, so runs with different seeds do the same
  * amount of work.
  *
  * Layout (one non-leap year, hourly, UTC):
  *   - `res`: two-table stacked layout — `res_load_data` (id, timestamp,
  *     value) plus `res_lookup` (id, geography, subsector, metric,
  *     scenario, scaling_factor); geography holds county ids;
  *   - `com`: one-table PIVOTED layout (geography, subsector, scenario,
  *     timestamp, com_gas, com_oil);
  *   - records: `county`, `geography` (states, with time zones), `metric`
  *     (with units kWh, therm and MBtu), `subsector`, `scenario`;
  *   - `county_to_state`: a many-to-one mapping;
  *   - `com_invalid`: `com` with one unknown county id and one hour missing.
  */
final class Inputs(spark: SparkSession, val seed: Long, val dir: String) {
  import Inputs._
  import spark.implicits._

  private val rng = new scala.util.Random(seed)
  val counties: IndexedSeq[String] = (0 until CountiesPerState * States.size).map(i => f"c$i%03d")
  /** county → state: a seeded permutation, CountiesPerState counties each. */
  val countyState: Map[String, String] =
    rng.shuffle(counties).zipWithIndex.map { case (c, i) => c -> States(i / CountiesPerState)._1 }.toMap
  /** The state the `state_subset` query selects. */
  val subsetState: (String, String, String) = States(rng.nextInt(States.size))
  private val scaling: IndexedSeq[Double] =
    IndexedSeq.fill(counties.size * ResSubsectors.size * ResMetrics.size * Scenarios.size)(
      0.5 + rng.nextInt(1000) / 1000.0)
  /** The invalid input's corrupted county row and dropped hour. */
  val missingHour: Int = rng.nextInt(Hours)
  val unknownCounty = "c_unknown"

  def path(name: String): String = s"$dir/$name.parquet"
  def read(name: String): DataFrame = spark.read.parquet(path(name))

  /** `value` in (0, 100], a seeded hash of the row key and a salt. */
  private def valueOf(key: org.apache.spark.sql.Column, salt: Int) =
    ((pmod(xxhash64(lit(seed), lit(salt), key), lit(100000L)) + 1L) / 1000.0)

  private def tsOf(hour: org.apache.spark.sql.Column) =
    timestamp_seconds(lit(YearStartEpoch) + hour * 3600L)

  def stage(): Unit = {
    def write(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(path(name))
    write(counties.map(c => (c, s"County ${c.drop(1)}", zoneOf(countyState(c)))).toDF("id", "name", "time_zone"), "county")
    write(States.toDF("id", "name", "time_zone"), "geography")
    write(Metrics.toDF("id", "name", "unit"), "metric")
    write((ResSubsectors ++ ComSubsectors).map(s => (s, subsectorName(s))).toDF("id", "name"), "subsector")
    write(Scenarios.map(s => (s, s.replace('_', ' '))).toDF("id", "name"), "scenario")
    write(counties.map(c => (c, countyState(c), 1.0)).toDF("from_id", "to_id", "from_fraction"), "county_to_state")

    val lookup = for {
      (c, ci) <- counties.zipWithIndex
      (s, si) <- ResSubsectors.zipWithIndex
      (m, mi) <- ResMetrics.zipWithIndex
      (sc, sci) <- Scenarios.zipWithIndex
    } yield {
      val id = ((ci * ResSubsectors.size + si) * ResMetrics.size + mi) * Scenarios.size + sci
      (id.toLong, c, s, m, sc, scaling(id))
    }
    write(lookup.toDF("id", "geography", "subsector", "metric", "scenario", "scaling_factor"), "res_lookup")
    val cores = spark.sparkContext.defaultParallelism
    write(
      spark.range(0L, lookup.size.toLong * Hours, 1L, cores).select(
        floor(col("id") / Hours).as("id"),
        tsOf(col("id") % Hours).as("timestamp"),
        valueOf(col("id"), 1).as("value")),
      "res_load_data")

    val combos = ComSubsectors.size * Scenarios.size
    def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
      element_at(array(values.map(lit): _*), (idx + 1).cast("int"))
    val com = spark.range(0L, counties.size.toLong * combos * Hours, 1L, cores)
      .select(col("id"), floor(col("id") / Hours).as("combo"), (col("id") % Hours).as("hour"))
      .select(Seq(
        pick(counties, floor(col("combo") / combos)).as("geography"),
        pick(ComSubsectors, pmod(floor(col("combo") / Scenarios.size), lit(ComSubsectors.size))).as("subsector"),
        pick(Scenarios, pmod(col("combo"), lit(Scenarios.size))).as("scenario"),
        tsOf(col("hour")).as("timestamp")) ++
        ComMetrics.zipWithIndex.map { case (m, i) => valueOf(col("id"), 2 + i).as(m) }: _*)
    write(com, "com")
    val bad = read("com")
      .filter(col("timestamp") =!= tsOf(lit(missingHour.toLong)))
      .withColumn("geography",
        when(col("geography") === counties.head && col("subsector") === ComSubsectors.head &&
          col("scenario") === Scenarios.head && col("timestamp") === tsOf(lit(((missingHour + 1) % Hours).toLong)),
          lit(unknownCounty)).otherwise(col("geography")))
    write(bad, "com_invalid")
  }

  /** Hourly spine of the staged year (a registration input). */
  def spine: DataFrame = graft.time.TimeSpine.yearHourlySpine(spark, Year)

  /** Every staged fact as stacked rows (county, subsector, metric, scenario,
    * timestamp, value), value already scaled — plain Spark SQL, no graft. */
  def stackedFacts: DataFrame = {
    read("res_load_data").createOrReplaceTempView("pb_res_load_data")
    read("res_lookup").createOrReplaceTempView("pb_res_lookup")
    read("com").createOrReplaceTempView("pb_com")
    val stacked = ComMetrics.map(m => s"'$m', $m").mkString(s"stack(${ComMetrics.size}, ", ", ", ")")
    spark.sql(
      s"""SELECT k.geography AS county, k.subsector, k.metric, k.scenario, d.timestamp,
        |       d.value * k.scaling_factor AS value
        |FROM pb_res_load_data d JOIN pb_res_lookup k ON d.id = k.id
        |UNION ALL
        |SELECT geography AS county, subsector, metric, scenario, timestamp, value
        |FROM (SELECT geography, subsector, scenario, timestamp,
        |             $stacked AS (metric, value)
        |      FROM pb_com)""".stripMargin)
  }
}

object Inputs {
  val Year = 2018
  val Hours = 8760
  val YearStartEpoch = 1514764800L // 2018-01-01T00:00:00Z
  val CountiesPerState = 2
  /** (id, name, time zone): four zones, one of them without DST. */
  val States: Seq[(String, String, String)] = Seq(
    ("s01", "Eastland", "America/New_York"),
    ("s02", "Prairie", "America/Chicago"),
    ("s03", "Mesa", "America/Phoenix"),
    ("s04", "Coastal", "America/Los_Angeles"))
  def zoneOf(state: String): String = States.find(_._1 == state).get._3
  val Metrics: Seq[(String, String, String)] = Seq(
    ("res_elec", "residential electricity", "kWh"),
    ("com_gas", "commercial natural gas", "therm"),
    ("com_oil", "commercial fuel oil", "MBtu"))
  val ResMetrics: Seq[String] = Seq("res_elec")
  val ComMetrics: Seq[String] = Seq("com_gas", "com_oil")
  val ResSubsectors: Seq[String] = Seq("single_family")
  val ComSubsectors: Seq[String] = Seq("office")
  val Scenarios: Seq[String] = Seq("reference")
  def subsectorName(id: String): String = id.replace('_', ' ')
}
