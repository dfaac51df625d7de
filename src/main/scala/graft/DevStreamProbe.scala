package graft

import org.apache.spark.sql.SparkSession

/** Throwaway dev probe (not part of the inventory): per-phase breakdown of
  * one streaming bench query — progress durationMs per micro-batch plus
  * wall segments around query start/stop.
  */
object DevStreamProbe {
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
    // same warm-up as Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
    spark.range(10).select(org.apache.spark.sql.functions.sum("id")).count()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val w = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "10").load()
      .groupBy("value").count()
    graft.streaming.Streams.runToTable(w, "complete", 2).count()
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    val stages =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int, Long)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = e.stageInfo
          val dur = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s
          stages.synchronized {
            stages += ((si.stageId, dur.getOrElse(-1L), si.numTasks,
              si.taskMetrics.executorRunTime))
          }
        }
      })

    val names = if (args.nonEmpty) args.toSeq else Seq("stream_tumbling_agg")
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName(n)
      (1 to 2).foreach { rep =>
        val progresses =
          scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
        val lis = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent): Unit =
            progresses.synchronized { progresses += e.progress }
          override def onQueryTerminated(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(lis)
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        stages.synchronized {
          stages.sortBy(_._1).foreach { case (id, dur, nt, rt) =>
            if (dur >= 40)
              println(f"  stage=$id dur=${dur}ms tasks=$nt runTime=${rt}ms")
          }
        }
        Thread.sleep(300)
        spark.streams.removeListener(lis)
        println(f"==== $n rep$rep wall=$wall%.3f s, batches=${progresses.size}")
        progresses.synchronized {
          progresses.foreach { p =>
            val d = p.durationMs
            println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
              s"durationMs=${new java.util.TreeMap(d)}")
          }
        }
        graft.operators.Rounds.releaseAll(spark)
      }
    }
    spark.stop()
  }
}
