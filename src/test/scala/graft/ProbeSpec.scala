package graft

/** Probe's loop on the shared session: a single-job search query and a
  * multi-job dedup query report the rows their forced plan produces,
  * the jobs the listener saw, its codegen line and the formatted
  * post-execution plan.
  */
class ProbeSpec extends SparkSpec {

  test("probe reports rows, jobs and the formatted plan") {
    val names = Seq("dense_topk", "dedup_minhash")
    val results = Probe.run(spark, names, sfDir)
    assert(results.map(_.name) == names)
    results.foreach { r =>
      val expected = Probe.targetFn(r.name)(spark, sfDir).queryExecution.toRdd.count()
      assert(r.rows == expected, r.name)
      assert(r.counters.jobs.get >= 1, r.name)
      assert(r.plan.contains("AdaptiveSparkPlan"), r.name)
      val line = raw"\[probe\] (\S+) codegen round1=(\d+) round2=(\d+) compile_s=[0-9.]+".r
      r.codegen match {
        case line(n, _, round2) =>
          assert(n == r.name)
          // a warm re-run of a single-job query compiles no new class
          if (n == "dense_topk") assert(round2 == "0", r.codegen)
        case other => fail(s"unexpected codegen line: $other")
      }
    }
  }
}
