package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible skew study for the native as-of join (PERF.md §as-of):
  * one hot key holding `hotRows` of the right side versus the
  * join+window formulation, whose candidate fanout is
  * left-rows-on-key × right-rows-on-key before row_number discards all
  * but one. Usage: `sbt "runMain graft.AsOfSkewBench [hotRows]"`.
  * Prints one line per formulation; the native pass stays linear in
  * input size no matter how hot the key is. */
object AsOfSkewBench {
  def main(args: Array[String]): Unit = {
    val hotRows = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = Sessions.local(Sessions.cores)
    import spark.implicits._

    val hot = 7L
    val nLeftHot = 2000
    // left: 2000 events on the hot key + 60k spread over 100 cold keys
    val left = spark.range(0, nLeftHot + 60000).select(
      $"id".as("lid"),
      when($"id" < nLeftHot, lit(hot)).otherwise(pmod($"id", lit(100)) + 100).as("lk"),
      pmod($"id" * 211, lit(500000)).as("lt"))
    // right: hotRows orders on the hot key + 100k over the cold keys
    val right = spark.range(0, hotRows + 100000).select(
      ($"id" + 1000000).as("rid"),
      when($"id" < hotRows, lit(hot)).otherwise(pmod($"id", lit(100)) + 100).as("rk"),
      pmod($"id" * 13, lit(500000)).as("rt"))
    left.persist().count(); right.persist().count()

    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$label%-8s rows=$n%8d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    time("native") {
      plans.AsOf.join(left, right, Seq("lk"), Seq("rk"), "lt", "rt", Seq("rid"))
        .select($"lid", $"rid")
    }
    time("window") {
      val w = Window.partitionBy($"lid").orderBy($"rt".desc, $"rid".desc)
      left.join(right, $"lk" === $"rk" && $"rt" <= $"lt")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"lid", $"rid")
    }
    spark.stop()
  }
}
