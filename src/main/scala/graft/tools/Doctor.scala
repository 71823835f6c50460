package graft.tools

/** One-shot gate chain: compile → Verify+oracle → sbt test → ScaleProbe →
  * PlanLintSweep → Bench, each as a subprocess, with one JSON verdict at
  * the end (DOCTOR.json + a final stdout line). The round-close ritual is
  * otherwise four hand-run commands spread across the verify skill — one
  * entry point makes driver rounds and future judges cheaper.
  *
  * Usage: `graft.tools.Doctor [--skip step,…] [--sf-dir dir] [--out file]`
  * where steps ∈ {compile, verify, test, scale, planlint, bench}. Runs from the repo
  * root. Each step is best-effort isolated: a failed step records its exit
  * code and the chain continues (the verdict names every failure), except
  * compile — nothing downstream is meaningful against stale classes, so a
  * failed compile short-circuits.
  */
object Doctor {

  private case class Step(name: String, ok: Boolean, seconds: Double, detail: String)

  private def addOpens: Seq[String] =
    Seq("java.lang", "java.lang.invoke", "java.io", "java.net", "java.nio",
      "java.util", "java.util.concurrent", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  private def run(cmd: Seq[String], env: Map[String, String] = Map.empty,
      logFile: String): Int = {
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(logFile))
    pb.start().waitFor()
  }

  private def timed(name: String)(f: => (Boolean, String)): Step = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try f
      catch { case e: Exception => (false, s"exception: ${e.getMessage}") }
    Step(name, ok, (System.nanoTime() - t0) / 1e9, detail)
  }

  def main(args: Array[String]): Unit = {
    def argOf(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val skip = argOf("--skip").map(_.split(",").toSet).getOrElse(Set.empty)
    val sfDir = argOf("--sf-dir").getOrElse("/root/testdata/sf0.01")
    val outFile = argOf("--out").getOrElse("DOCTOR.json")
    val work = java.nio.file.Files.createTempDirectory("graft-doctor").toString
    val classes = "target/scala-2.13/classes"
    def cp: String = {
      val jars = new java.io.File("/opt/spark/jars").listFiles()
        .filter(_.getName.endsWith(".jar")).map(_.getPath).sorted
      (classes +: jars).mkString(":")
    }
    def javaCmd(main: String, rest: Seq[String]): Seq[String] =
      Seq("java", "-Xmx8g") ++ addOpens ++ Seq("-cp", cp, main) ++ rest

    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    def record(name: String)(f: => (Boolean, String)): Boolean = {
      if (skip.contains(name)) { steps += Step(name, ok = true, 0.0, "skipped"); true }
      else { val s = timed(name)(f); steps += s;
        System.err.println(f"[doctor] ${s.name}%-8s ${if (s.ok) "ok" else "FAIL"}%-4s ${s.seconds}%7.1fs ${s.detail}")
        s.ok }
    }

    val compiled = record("compile") {
      val rc = run(Seq("sbt", "-batch", "compile"), logFile = s"$work/compile.log")
      (rc == 0, s"rc=$rc log=$work/compile.log")
    }
    if (compiled) {
      record("verify") {
        val vOut = s"$work/verify_out"
        val rc = run(
          javaCmd("graft.Verify", Seq(sfDir, vOut)),
          Map("SPARK_GRAFT_CPUS" -> "8"), s"$work/verify.log")
        if (rc != 0) (false, s"Verify rc=$rc log=$work/verify.log")
        else {
          val rc2 = run(
            Seq("python3", "tools/check_oracle.py", sfDir, vOut, "--budget-seconds", "30"),
            logFile = s"$work/oracle.log")
          val tail = scala.util.Try(
            java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$work/oracle.log"))
              .toArray.lastOption.map(_.toString).getOrElse("")).getOrElse("")
          (rc2 == 0, s"oracle rc=$rc2 $tail")
        }
      }
      record("test") {
        val rc = run(Seq("sbt", "-batch", "test"), logFile = s"$work/test.log")
        (rc == 0, s"rc=$rc log=$work/test.log")
      }
      record("scale") {
        val rc = run(
          javaCmd("graft.tools.ScaleProbe",
            Seq("/root/testdata/sf0.001", sfDir, s"$work/scale.json")),
          Map("SPARK_GRAFT_CPUS" -> "8"), s"$work/scale.log")
        (rc == 0, s"rc=$rc out=$work/scale.json")
      }
      record("planlint") {
        // writes the repo-root artifact (PLANLINT.json is part of the
        // round-close contract, like bench_detail.json from the bench step)
        val rc = run(
          javaCmd("graft.tools.PlanLintSweep", Seq(sfDir, "PLANLINT.json")),
          Map("SPARK_GRAFT_CPUS" -> "8"), s"$work/planlint.log")
        (rc == 0, s"rc=$rc out=PLANLINT.json")
      }
      record("bench") {
        val rc = run(
          javaCmd("graft.Bench", Nil),
          Map("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_SF_DIR" -> sfDir),
          s"$work/bench.log")
        val contended = scala.util.Try(
          java.nio.file.Files.readString(java.nio.file.Paths.get("bench_detail.json"))
            .contains("\"contended\":true")).getOrElse(false)
        (rc == 0, s"rc=$rc contended=$contended detail=bench_detail.json")
      }
    }
    val pass = steps.forall(_.ok)
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    import graft.query.Json.quote
    val body = steps.map(s =>
      s"""${quote(s.name)}:{"ok":${s.ok},"seconds":${fmt(s.seconds)},"detail":${quote(s.detail)}}""")
      .mkString("{", ",", "}")
    val json = s"""{"pass":$pass,"sf":${quote(sfDir)},"work":${quote(work)},"steps":$body}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    println(json)
    if (!pass) sys.exit(1)
  }
}
