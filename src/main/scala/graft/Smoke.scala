package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("ERROR")
    val df = SparkEntry.entry(spark)
    df.show(1, 60)
    println("rows=" + df.count())
    spark.stop()
  }
}
