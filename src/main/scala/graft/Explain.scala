package graft

/** Plan-audit tool: prints the formatted physical plan for the named
  * queries (or a default set of the join/agg-heavy ones). Used to check
  * that broadcasts, pushdown and whole-stage codegen land as designed. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_topk_revenue", "q03_join_brand", "q07_window_rank",
        "q20_range_join", "q21_asof_join", "q36_cosine_topk", "q40_round_strata")
    val spark = Sessions.local(Sessions.cores)
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, dir).explain("formatted")
        case None     => println(s"unknown query $n")
      }
    }
    spark.stop()
  }
}
