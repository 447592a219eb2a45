package graft.plans

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Whole-operator custom tier (SURVEY.md §7.3 path (c)): per-group top-k
  * as a first-class operator — LogicalPlan node, planner Strategy, and
  * physical SparkPlan — instead of the window row_number()+filter
  * formulation, which must fully sort every group. The physical operator
  * keeps a bounded k-element heap per group (one pass, O(n log k),
  * memory O(groups·k) per partition) after clustering rows by group key.
  *
  * This is the scheduler's "pick the best k per queue" (S8,
  * ref `agents/orbiter.md:85-90`) shaped for 100 TB: the only shuffle is
  * the hash partition by group; no sort of the full input ever happens.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  // ClusteredDistribution(Nil) fails deep inside Spark's planner with an
  // internal require — reject the unsupported shape here with a usable
  // message instead
  require(groupExprs.nonEmpty,
    "TopKPerGroup requires at least one group expression; " +
      "for global top-k use orderBy(...).limit(k)")
  override def output = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output = child.output

  /** Rows of one group must meet in one partition — Catalyst inserts the
    * hash exchange (or reuses an existing compatible partitioning). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  /** The operator neither adds nor moves rows across partitions, so the
    * child's (hash-clustered) partitioning survives — advertise it, or
    * downstream operators that need the same clustering re-exchange. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val (gExprs, oOrder, kk) = (groupExprs, order, k)
    // Memory contract: the heap map holds groups·k rows per partition.
    // Past this many distinct groups the partition falls back to a
    // disk-spilling external sort (Spark's own sort machinery), which is
    // what the window formulation would have done for ALL partitions —
    // so the fast path costs nothing when cardinality is low and
    // degrades to the safe path exactly where it would otherwise OOM.
    val maxGroups = conf.getConfString(
      "spark.graft.topk.maxGroupsPerPartition", "1000000").toInt
    val structType = StructType(schema.map(a => StructField(a.name, a.dataType, a.nullable)))
    val pageSize = SparkEnv.get.memoryManager.pageSizeBytes
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(gExprs, schema)
      val ord = RowOrdering.create(oOrder, schema)
      // max-heap under `ord`: the worst retained row sits on top and is
      // evicted when a better one arrives
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var overflow = false
      while (iter.hasNext && !overflow) {
        val row = iter.next()
        val key = groupProj(row)
        val existing = heaps.get(key)
        if (existing.isEmpty && heaps.size >= maxGroups) {
          overflow = true
          // row not consumed into the heaps: hand it to the sort path
          val heap = mutable.PriorityQueue.empty[InternalRow](
            ord.asInstanceOf[Ordering[InternalRow]])
          heap.enqueue(row.copy())
          heaps.put(key.copy(), heap)
        } else {
          val heap = existing.getOrElse {
            val h = mutable.PriorityQueue.empty[InternalRow](
              ord.asInstanceOf[Ordering[InternalRow]])
            heaps.put(key.copy(), h)
            h
          }
          if (heap.size < kk) heap.enqueue(row.copy())
          else if (ord.compare(row, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(row.copy())
          }
        }
      }
      if (!overflow) {
        heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
      } else {
        // external-sort fallback: (group, order) sort of the retained
        // rows plus the remainder of the partition, then stream the
        // first k of each group. Constant prefix => all comparisons go
        // through the row ordering; the sorter spills to disk under
        // memory pressure like SortExec.
        val fullOrder = gExprs.map(SortOrder(_, Ascending)) ++ oOrder
        val fullOrd = RowOrdering.create(fullOrder, schema)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow) = { p.value = 0L; p.isNull = false; p }
        }
        val sorter = UnsafeExternalRowSorter.create(
          structType, fullOrd, PrefixComparators.LONG, prefixComputer, pageSize, false)
        val toUnsafe = UnsafeProjection.create(schema, schema)
        heaps.valuesIterator.foreach(_.foreach(r => sorter.insertRow(toUnsafe(r))))
        iter.foreach(r => sorter.insertRow(toUnsafe(r)))
        heaps.clear()
        val sorted = sorter.sort()
        // the sorter's iterator REUSES its row buffer: a returned row is
        // valid only until the next hasNext/next call, so advance in
        // hasNext (after the consumer is done with the previous row),
        // never inside next() before handing the row out
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = null
          private var taken = 0
          private var ready: InternalRow = null
          override def hasNext: Boolean = {
            while (ready == null && sorted.hasNext) {
              val r = sorted.next()
              val key = groupProj(r)
              if (curKey == null || key != curKey) {
                curKey = key.copy(); taken = 1; ready = r
              } else if (taken < kk) {
                taken += 1; ready = r
              }
            }
            ready != null
          }
          override def next(): InternalRow = {
            if (ready == null && !hasNext) throw new NoSuchElementException
            val r = ready; ready = null; r
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopK {
  import org.apache.spark.sql.graftshim.GraftSqlShim

  /** Sort spec: column name + direction. */
  case class Ord(name: String, asc: Boolean = true)

  /** Per-group top-k of `df`: the `k` first rows of each group under
    * `orderBy`. Columns are resolved by name against the analyzed child
    * (computed keys: `withColumn` first). Registers the strategy
    * idempotently on the session. */
  def perGroup(df: DataFrame, groupBy: Seq[String], orderBy: Seq[Ord], k: Int): DataFrame = {
    val spark = df.sparkSession
    Strategies.ensure(spark, TopKStrategy)
    val child = df.queryExecution.analyzed
    // resolve like the rest of Spark does: the session's resolver
    // (case-insensitive by default), with an explicit ambiguity error
    // instead of silently taking the first duplicate-named column
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String) = child.output.filter(a => resolver(a.name, n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"column $n is ambiguous: matches ${many.map(_.name).mkString(", ")}")
    }
    // Group keys must be normalized for floating types: the exec
    // identifies groups by raw UnsafeRow bytes AND hash-partitions on
    // these expressions, so -0.0 vs 0.0 (and non-canonical NaN bit
    // patterns) would otherwise split one semantic group across byte
    // keys — and possibly across partitions — diverging from the
    // PARTITION BY oracle, which normalizes (NormalizeFloatingNumbers).
    def norm(e: Expression): Expression = e.dataType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(e)
      case _ => e
    }
    val g = groupBy.map(n => norm(attr(n)): Expression)
    val o = orderBy.map(s =>
      SortOrder(attr(s.name), if (s.asc) Ascending else Descending))
    GraftSqlShim.ofRows(spark, TopKPerGroup(g, o, k, child))
  }

  /** q86: the custom operator under the oracle gate — 3 highest-value
    * orders per customer via TopKPerGroupExec, hash-matched against the
    * window row_number() SQL formulation. */
  def q86CustomTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val o = graft.Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    perGroup(o, Seq("o_custkey"),
        Seq(Ord("o_totalprice", asc = false), Ord("o_orderkey")), 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val q86Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** q106: the custom operator composed with the text-quality scorer —
    * per-language top-3 "most fluent" documents (highest stopword
    * ratio, q32's fluency signal). A second oracle gate on
    * `TopKPerGroupExec`, over the documents table this time, and the
    * curation shape a training pipeline actually runs: "keep the best
    * k per stratum" without sorting whole strata. */
  def q106QualityTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val stop = "('the','a','an','of','and','to','in','is','it','for')"
    val scored = graft.Tables.documents(s, dir)
      .withColumn("toks", graft.llm.TextOps.tokens(col("text")))
      .withColumn("stop_ratio",
        round(expr(s"size(filter(toks, x -> x IN $stop))").cast("double") /
          size(col("toks")), 4))
      .select(col("lang"), col("doc_id"), col("stop_ratio"))
    perGroup(scored, Seq("lang"),
        Seq(Ord("stop_ratio", asc = false), Ord("doc_id")), 3)
      .orderBy(col("lang"), col("stop_ratio").desc, col("doc_id"))
  }

  val q106Sql: String =
    """WITH scored AS (
      |  SELECT lang, doc_id,
      |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','and','to','in','is','it','for'))) AS DOUBLE)
      |          / len(toks), 4) AS stop_ratio
      |  FROM (SELECT lang, doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |        FROM documents) raw)
      |SELECT lang, doc_id, stop_ratio FROM (
      |  SELECT lang, doc_id, stop_ratio,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY stop_ratio DESC, doc_id) AS rn
      |  FROM scored) t
      |WHERE rn <= 3
      |ORDER BY lang, stop_ratio DESC, doc_id""".stripMargin

  /** q121: deterministic per-group sample — for every source, the 5
    * docs with the smallest md5(doc_id): a reproducible
    * uniform-in-expectation sample per group (eval-set construction,
    * spot-check extraction) with no RNG and no seed drift between runs
    * or engines. Runs through the SAME custom `TopKPerGroupExec` as
    * q86/q106 — the operator is ordering-agnostic, so "sample k per
    * group" is just top-k under a hash ordering: bounded per-group
    * heaps, one shuffle by source, no full per-group sort even when
    * one source holds most of a 100 TB corpus. Third oracle gate on
    * the custom exec (hash-graded vs the row_number restatement). */
  def q121GroupSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val hashed = graft.Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
    perGroup(hashed, Seq("source"), Seq(Ord("h"), Ord("doc_id")), 5)
      .orderBy(col("source"), col("h"))
  }

  val q121Sql: String =
    """SELECT source, doc_id, h FROM (
      |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 5 ORDER BY source, h""".stripMargin

  /** q127: the SQL FRONT DOOR to the per-group top-k operator — q86's
    * shape with the operator invocation itself as SQL TEXT through the
    * `graft_topk` table function, hash-graded against the same
    * row_number() oracle as the Scala path. Order directions ride the
    * text ('desc' on the price, default-asc tiebreak), so the orderSpec
    * mini-grammar is under the gate too. */
  def q127TopkSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    GraftTableFunctions.register(s)
    graft.Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_q127_orders")
    s.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM graft_topk('graft_q127_orders', 3, 'o_custkey',
        |                'o_totalprice desc, o_orderkey')
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q86_custom_topk"  -> (q86CustomTopk _),
    "q106_quality_topk" -> (q106QualityTopk _),
    "q121_group_sample" -> (q121GroupSample _),
    "q127_topk_sql"     -> (q127TopkSql _))
  val oracle: Map[String, String] = Map(
    "q86_custom_topk"  -> q86Sql,
    "q106_quality_topk" -> q106Sql,
    "q121_group_sample" -> q121Sql,
    "q127_topk_sql"     -> q86Sql)
}
