package graft

/** Dev smoke: run the flagship `SparkEntry.entry` the way the driver's t1
  * gate does (rows > 0 on sf0.001) and print the count + schema.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.envCpus)
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
