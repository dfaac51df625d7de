package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: time individual inventory queries (min of `reps`) at an
  * arbitrary SF without paying for the full bench sweep.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.Profile dedup_minhash_collapse [more names]'
  *
  * `-explain` as the first arg prints the formatted physical plan instead
  * of timing.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC session: required for the events readers' NTZ-cast ts
      // normalization to be value-identical (same as Bench/Verify/Smoke)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (explain, names) =
      if (args.headOption.contains("-explain")) (true, args.drop(1))
      else (false, args)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    // same untimed warm-up as Bench so numbers are comparable
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
    spark.range(10).select(org.apache.spark.sql.functions.sum("id")).count()
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      if (explain) {
        println(s"==== $n ====")
        q.fn(spark, sfDir).explain("formatted")
      } else {
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          q.fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // same block release as Bench: queries that persist/localCheckpoint
          // would otherwise inflate later reps (storage-region pressure)
          graft.operators.Rounds.releaseAll(spark)
          dt
        }
        println(f"$n%-28s min=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
