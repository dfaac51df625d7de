package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftTestAccess.{cachedEntries, isShuffleMapStage}
import org.apache.spark.sql.functions._

import graft.operators.Rounds

/** The shared round driver of the iterative kernels: what it releases,
  * and the per-round plan shape the kernels keep on it.
  */
class RoundsSpec extends SparkSuite {
  import graft.api.Graft

  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees a persisted frame and a checkpointed frame") {
    val base = pinnedIds
    val persisted = spark.range(100).toDF("id").persist()
    persisted.count()
    val checkpointed = spark.range(100).toDF("id").localCheckpoint(true)
    assert((pinnedIds -- base).size == 2)
    // Dataset.unpersist only reaches the CacheManager: the checkpoint's
    // blocks stay pinned under it
    checkpointed.unpersist(blocking = false)
    assert((pinnedIds -- base).size == 2)
    Rounds.release(persisted)
    Rounds.release(checkpointed)
    assert((pinnedIds -- base).isEmpty, s"still pinned: ${pinnedIds -- base}")
  }

  test("run releases pins on return and every frame on a throw") {
    val base = pinnedIds
    val cache = cachedEntries(spark)
    val result = Rounds.run("spec") { r =>
      val inv = r.pin(spark.range(50).toDF("id"))
      val first = r.cut(inv.select((col("id") * 2).as("id")))
      first.count()
      val second = r.cut(first.select((col("id") + 1).as("id")), eager = true)
      second
    }
    // the settled first cut and the pin are gone; the result's cut stays
    // readable after the invariant it was computed from is released
    assert(cachedEntries(spark) == cache)
    assert((pinnedIds -- base).size == 1)
    assert(result.agg(sum(col("id"))).head.getLong(0) == 2500L)
    Rounds.release(result)

    intercept[IllegalStateException] {
      Rounds.run("spec") { r =>
        r.pin(spark.range(50).toDF("id")).count()
        r.cut(spark.range(50).toDF("id"), eager = true)
        r.exhausted(3, "the spec gives up")
      }
    }
    assert(cachedEntries(spark) == cache)
    assert((pinnedIds -- base).isEmpty, s"still pinned: ${pinnedIds -- base}")
  }

  test("partitions: ~50k rows each, capped at the session setting") {
    assert(Rounds.partitions(spark, 0L) == 1)
    assert(Rounds.partitions(spark, 120000L) == 3)
    assert(Rounds.partitions(spark, 10000000L) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Shuffle-map stages the jobs of `body` complete, counted by a
    * listener scoped to a job group.
    */
  private def shuffleStages(body: => Unit): Long = {
    val group = "rounds-spec-shape"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffles = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(id => stages.add(id))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            isShuffleMapStage(e.stageInfo))
          shuffles.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "round shape")
      try body finally spark.sparkContext.clearJobGroup()
      // listener events are async: wait until the counter is stable
      var last = -1L
      var spins = 0
      while (shuffles.get() != last && spins < 50) {
        last = shuffles.get(); Thread.sleep(100); spins += 1
      }
      shuffles.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def path(n: Int): DataFrame = {
    import spark.implicits._
    (1 until n).map(i => (i.toLong, i + 1L)).toDF("u", "v")
  }

  test("round shape: LPA and BFS rounds add no shuffle stage") {
    val lpa2 = shuffleStages(
      Graft.labelPropagation(path(12), iters = 2).collect())
    val lpa5 = shuffleStages(
      Graft.labelPropagation(path(12), iters = 5).collect())
    assert(lpa2 == lpa5, s"LPA: $lpa2 stages at 2 rounds, $lpa5 at 5")
    val short = shuffleStages(
      Graft.shortestHops(path(4), source = 1L).collect())
    val long = shuffleStages(
      Graft.shortestHops(path(12), source = 1L).collect())
    assert(short == long,
      s"BFS: $short stages at diameter 3, $long at diameter 11")
  }

  test("round shape: Bellman-Ford adds exactly one stage per round") {
    val we = path(12).withColumn("cost", lit(1L))
    val counts = (2 to 4).map(n => shuffleStages(
      Graft.shortestCost(we, source = 1L, rounds = n).collect()))
    assert(counts(1) - counts(0) == 1 && counts(2) - counts(1) == 1,
      s"stages at 2, 3, 4 rounds: $counts")
  }
}
