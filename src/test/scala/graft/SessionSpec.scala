package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession
import graft.core.ParActions

class SessionSpec extends SparkSpec {

  test("the suite runs on the shipped session config: TIMESTAMP_MICROS parquet, UTC") {
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("ParActions returns results in input order whatever order they finish in") {
    val xs = 1 to 12
    assert(ParActions(spark, xs) { i => Thread.sleep((12 - i) * 10L); i * 2 } == xs.map(_ * 2))
    assert(ParActions(spark, Seq.empty[Int])(identity).isEmpty)
  }

  test("ParActions propagates the first failure and cancels the siblings' jobs") {
    val group = "par-actions-spec-sibling"
    val started = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      ParActions(spark, Seq(0, 1)) {
        case 0 =>
          started.await(30, TimeUnit.SECONDS)
          Thread.sleep(300)
          throw new IllegalStateException("boom")
        case _ =>
          spark.sparkContext.setJobGroup(group, "sibling")
          started.countDown()
          // SUCCEEDED after ~2 s unless cancelled
          spark.range(0, 8, 1, 4).foreach(_ => Thread.sleep(1000))
      }
    }
    assert(e.getMessage == "boom")
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def statuses = tracker.getJobIdsForGroup(group).toSeq.flatMap(tracker.getJobInfo).map(_.status)
    while (!statuses.contains(JobExecutionStatus.FAILED) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(statuses == Seq(JobExecutionStatus.FAILED))
  }

  test("ParActions workers see the caller's session when the calling thread has none") {
    val root = java.nio.file.Files.createTempDirectory("par_actions").toString
    var seen: Seq[Option[SparkSession]] = Nil
    val caller = new Thread(() => {
      SparkSession.clearActiveSession()
      seen = ParActions(spark, 0 until 4) { i =>
        spark.range(3).write.parquet(s"$root/$i")
        SparkSession.getActiveSession
      }
    })
    caller.start()
    caller.join()
    assert(seen == Seq.fill(4)(Some(spark)))
    assert((0 until 4).map(i => spark.read.parquet(s"$root/$i").count()) == Seq.fill(4)(3L))
  }
}
