package graft

/** The profiler's per-query function on the shared session: one batch
  * and one streaming query, each with its wall, stage CPU and (streaming)
  * per-batch duration split.
  */
class ProfileSpec extends SparkSuite {

  private def query(name: String): Q =
    SparkEntry.all.find(_.name == name).getOrElse(fail(s"no query $name"))

  test("a batch query reports wall time and stage CPU per rep") {
    val reps = Profile.profile(spark, query("scan_parquet"), sf, reps = 2)
    assert(reps.size == 2)
    for (r <- reps) {
      assert(r.wall > 0.0, r)
      assert(r.cpuMs >= 0L, r)
      assert(r.stages.nonEmpty, r)
    }
  }

  test("a streaming query reports the per-batch durationMs split") {
    val Seq(r) = Profile.profile(spark, query("stream_tumbling_agg"), sf,
      reps = 1)
    assert(r.wall > 0.0 && r.cpuMs >= 0L, r)
    assert(r.batches.exists(_.durationMs.contains("triggerExecution")),
      r.batches)
  }
}
