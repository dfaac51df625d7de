package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What the driver mains share: the local session and its width, the
  * fixture directory, the untimed warm-up and a streaming progress hook.
  */
object Harness {

  /** Worker threads and shuffle partitions of the local session:
    * `SPARK_GRAFT_CPUS`, else the host's core count.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fixture directory of Bench and Profile: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The local session of a main, `cpus` wide with no UI. UTC because the
    * events readers normalize ts via a TIMESTAMP_NTZ cast that is
    * value-identical to the stored instant only under a UTC session.
    */
  def session(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs one untimed warm-up step. A failure prints
    * `[<tag>-warmup] <label> failed: …`: its cost would otherwise land
    * silently on the first timed query.
    */
  def warm(tag: String, label: String)(body: => Unit): Unit =
    try body catch { case t: Throwable =>
      System.err.println(s"[$tag-warmup] $label failed: $t") }

  /** The "core" warm-up: JVM/codegen/parquet-reader init and the streaming
    * machinery (incremental planner, state-store managers, RocksDB native
    * library) are one-time costs (~3 s) that otherwise land on whichever
    * query runs first.
    */
  def warmUp(spark: SparkSession, sfDir: String, tag: String): Unit =
    warm(tag, "core") {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
      spark.range(10).select(org.apache.spark.sql.functions.sum("id")).count()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val w = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "10").load()
        .groupBy("value").count()
      graft.streaming.Streams.runToTable(w, "complete", 2).count()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

  /** A streaming listener that hands every progress event to `onProgress`
    * and every query termination to `onTerminated`.
    */
  def progressListener(onProgress: StreamingQueryProgress => Unit,
      onTerminated: () => Unit = () => ()): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        onProgress(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        onTerminated()
    }
}
