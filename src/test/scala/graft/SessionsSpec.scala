package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[Sessions.local]], so
  * what Verify grades and the specs check is what Bench times. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.local carries the one config table") {
    val spark = Sessions.local(4)
    // the same values as the session the benchmark times
    // (perfbench/harness/src/main/scala/graft/perfbench/Main.scala:20-29)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "67108864")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("one session builder in the sources: Sessions.scala") {
    val needle = "SparkSession" + ".builder("
    def sites(root: String): Seq[String] = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
          .flatMap { p =>
            val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            Seq.fill(text.split(java.util.regex.Pattern.quote(needle), -1).length - 1)(
              p.toString)
          }
      } finally files.close()
    }
    val main = sites("src/main/scala")
    assert(main.size == 1 && main.head.endsWith("graft/Sessions.scala"),
      s"builder sites under src/main/scala: $main")
    val test = sites("src/test/scala")
    assert(test.isEmpty, s"builder sites under src/test/scala: $test")
  }
}
