package graft

import org.apache.spark.scheduler.SparkListenerJobStart

/** `BenchOne`: argument checks, and the job table of its last warm run. */
class BenchOneSpec extends SparkSessionSpec {

  private def failure(args: String*): String =
    intercept[IllegalArgumentException](BenchOne.parseArgs(args.toArray))
      .getMessage

  test("bad arguments fail with a usage message naming the argument") {
    assert(BenchOne.parseArgs(Array("d", "km_sizes")) ==
      (("d", Seq("km_sizes"), 3)))
    assert(BenchOne.parseArgs(Array("d", "km_sizes,km_update", "1")) ==
      (("d", Seq("km_sizes", "km_update"), 1)))
    for (runs <- Seq("0", "-2")) {
      val msg = failure("d", "km_sizes", runs)
      assert(msg.startsWith(s"runs: must be >= 1, got $runs"), msg)
      assert(msg.contains(BenchOne.Usage))
    }
    assert(failure("d", "km_sizes", "x").startsWith("runs: not an integer"))
    assert(failure("d", "km_sizes,no_such_query")
      .startsWith("query: unknown no_such_query"))
    assert(failure("d").startsWith("expected 2 or 3 arguments, got 1"))
  }

  test("prints the timing line, then one table line per job of the last run") {
    val lines = BenchOne.report(spark, sf0001, "km_sizes", runs = 1)
    assert(lines.head.startsWith("[benchone] km_sizes cold="), lines.head)
    val Head = """\[profile\] km_sizes wall=(\S+) s  jobs=(\d+) job_time_sum=(\S+) s .*""".r
    val Head(wall, jobs, jobSum) = lines(1): @unchecked
    val jobLines = lines.drop(2)
    assert(jobs.toInt >= 1 && jobLines.size == jobs.toInt, lines.mkString("\n"))
    // every job's end was seen: no negative duration from a missing end
    val secs = jobLines.map(_.trim.split("\\s+")(3).toDouble)
    assert(secs.forall(_ >= 0), lines.mkString("\n"))
    // and says where it came from (the result stage's call site)
    assert(jobLines.forall(_.contains(" at ")), lines.mkString("\n"))
    assert(wall.toDouble >= 0 && jobSum.toDouble >= 0)
    // the table holds one run's jobs: as many as another warm run starts
    val another = sparkEvents { case j: SparkListenerJobStart => j.jobId } {
      SparkEntry.queries("km_sizes")(spark, sf0001).count(); ()
    }
    assert(jobLines.size == another.size, lines.mkString("\n"))
  }
}
