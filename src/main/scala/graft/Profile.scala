package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSql, SparkSession}

/** Dev profiler: time individual inventory queries at an arbitrary SF
  * without paying for the full bench sweep, and say where each rep went.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.Profile dedup_minhash_collapse [more names]'
  *
  * Per rep it prints the wall, the executor CPU summed over the rep's
  * stages, every stage of at least 30 ms (duration or CPU), and for a
  * streaming query each micro-batch's `durationMs` split — planning,
  * getBatch, addBatch and commit against triggerExecution, the
  * coordination-versus-execution split of Drizzle (SOSP 2017). Then the
  * min over `SPARK_GRAFT_REPS` reps (default 2). `-explain` as the first
  * arg prints the formatted physical plan instead of timing.
  */
object Profile {

  final case class Stage(id: Int, durMs: Long, tasks: Int, runMs: Long,
      cpuMs: Long)

  final case class Batch(id: Long, rows: Long, durationMs: Map[String, Long])

  final case class Rep(wall: Double, stages: Seq[Stage], batches: Seq[Batch]) {
    def cpuMs: Long = stages.map(_.cpuMs).sum
  }

  /** Runs `q` `reps` times on `spark`, releasing its blocks after each rep
    * (as Bench does), and records each rep's wall, completed stages and
    * streaming progress.
    */
  def profile(spark: SparkSession, q: Q, sfDir: String, reps: Int): Seq[Rep] = {
    val stages = new ConcurrentLinkedQueue[Stage]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s
        stages.add(Stage(si.stageId, dur.getOrElse(-1L), si.numTasks,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.executorCpuTime / 1000000L))
      }
    }
    val batchListener = Harness.progressListener { p =>
      batches.add(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(batchListener)
    try (1 to reps).map { _ =>
      GraftSql.drainListeners(spark)
      stages.clear(); batches.clear()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.operators.Rounds.releaseAll(spark)
      GraftSql.drainListeners(spark)
      Rep(wall, stages.asScala.toSeq.sortBy(_.id),
        batches.asScala.toSeq.sortBy(_.id))
    } finally {
      spark.streams.removeListener(batchListener)
      spark.sparkContext.removeSparkListener(stageListener)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Harness.session()
    val (explain, names) =
      if (args.headOption.contains("-explain")) (true, args.drop(1))
      else (false, args)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    Harness.warmUp(spark, sfDir, "profile")
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      if (explain) {
        println(s"==== $n ====")
        q.fn(spark, sfDir).explain("formatted")
      } else {
        val runs = profile(spark, q, sfDir, reps)
        runs.zipWithIndex.foreach { case (r, i) =>
          println(f"== $n r${i + 1} wall=${r.wall}%.3f cpu=${r.cpuMs / 1e3}%.3f")
          r.stages.filter(s => s.durMs >= 30 || s.cpuMs >= 30).foreach { s =>
            println(s"   stage=${s.id} dur=${s.durMs}ms tasks=${s.tasks} " +
              s"runTime=${s.runMs}ms cpuTime=${s.cpuMs}ms")
          }
          r.batches.foreach { b =>
            println(s"   batch=${b.id} rows=${b.rows} durationMs=" +
              b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }
                .mkString("{", ", ", "}"))
          }
        }
        val times = runs.map(_.wall)
        println(f"$n%-28s min=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
