package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway dev probe: stage/job-level breakdown of arbitrary inventory
  * queries on this host (jobs with descriptions, stages with task counts).
  */
object DevBasketAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
    spark.range(10).select(sum("id")).count()

    val stages =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int, Long, Long)]
    val lis = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages.synchronized {
          stages += ((si.stageId, dur.getOrElse(-1L), si.numTasks,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.executorCpuTime / 1000000L))
        }
      }
    }
    spark.sparkContext.addSparkListener(lis)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val names = if (args.nonEmpty) args.toSeq else Seq("dedup_band_recall_curve")
    names.foreach { n =>
      (1 to 3).foreach { r =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        byName(n).fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Rounds.releaseAll(spark)
        Thread.sleep(300)
        var cpuMs = 0L
        stages.synchronized { cpuMs = stages.map(_._5).sum }
        val cpuSum = cpuMs / 1e3
        println(f"== $n r$r wall=$dt%.3f cpu=$cpuSum%.3f")
        stages.synchronized {
          stages.sortBy(_._1).foreach { case (id, dur, nt, rt, ct) =>
            if (dur >= 30 || ct >= 30)
              println(f"   stage=$id dur=${dur}ms tasks=$nt runTime=${rt}ms cpuTime=${ct}ms")
          }
        }
      }
    }
    spark.stop()
  }
}
