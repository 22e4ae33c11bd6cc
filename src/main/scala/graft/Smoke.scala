package graft

/** Local mirror of the driver's t1 smoke: run SparkEntry.entry, assert rows>0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
