package graft

/** Local smoke tool: prints table schemas and runs every declared query
  * on a small sf dir. Not part of the driver contract. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Sessions.local(Sessions.cores)
    Tables.all.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables.t(spark, dir, n)
      println(s"== $n: ${df.schema.simpleString}")
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        println(s"-- $name rows=${df.count()}")
        df.show(5, truncate = 60)
      } catch {
        case e: Throwable => println(s"-- $name FAILED: ${e.getMessage}")
      }
    }
    println(s"entry rows=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
