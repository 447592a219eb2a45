package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration. Every entry point and the test suite
  * build their session here and differ only in cores, so the plans the
  * oracle grades and the tests check are the plans Bench times. The
  * benchmark harness (`perfbench/harness`) builds the same configuration
  * in its own session.
  *
  * Deliberately not in the table:
  *  - `GraftExtensions`: its `FoldSelfCosine` rule can move
  *    `graft_cosine(x, x)` by 1 ULP, and the harness session does not
  *    install it either, so installing it here would make graded and
  *    timed plans differ again;
  *  - `Strategies.ensure` and `DropMetrics.ensureListener`: they stay
  *    lazy and per-call, because external sessions rely on them too.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS` if set, else every core of the box. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
