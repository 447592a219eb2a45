package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rows-only registered queries for the streaming domain: the driver
  * can't oracle stateful streaming, so these run the batch-replay form
  * over fixture event logs; the true streaming paths are covered by
  * StreamingSpec (MemoryStream + processAllAvailable). */
object Registered {

  /** q55: session capability probe (S27). */
  def q55Capabilities(s: SparkSession, dir: String): DataFrame =
    Dispatch.detectCapabilities(s).orderBy("capability")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_capabilities"     -> (q55Capabilities _),
  )
}
