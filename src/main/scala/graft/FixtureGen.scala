package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Oracle-fixture generator (VERDICT r11 item 5): xxhash64 is not
  * DuckDB-expressible, so the xxhash64-family dedup queries (q46/q47/
  * q48) were graded rows-only, with md5 twins carrying the hash grade.
  * This main precomputes the ENGINE-SPECIFIC hash stage of each — the
  * q46 band table, the q47 simhash signatures, the q48 per-token
  * hashes — as small parquet side inputs under `fixtures/`
  * (git-committed), and the oracle SQL `read_parquet`s them so DuckDB
  * can replay everything DOWNSTREAM of the hash (width caps, bucket
  * equi-joins, Jaccard/Hamming verification, the Karp–Rabin fold)
  * against the live Spark result. The hash stage itself stays pinned
  * by the md5 twins (q107/q109/q110) and DedupSpec's constructed
  * corpora; the fixture adds direct hash-grading of the production
  * path's downstream semantics.
  *
  * Drift discipline: the fixtures are derived BY the same code the
  * queries run ([[llm.Dedup.xxhBanded]] etc. — shared helpers, not
  * copies), at the driver's verification scale factor (sf0.01). If
  * the shingle/minhash/banding code ever changes, the driver's hash
  * gate fails loudly until this main is rerun:
  * `sbt "runMain graft.FixtureGen /root/testdata/sf0.01 fixtures"`.
  */
/** Runtime resolution of the committed oracle-fixture directory (ADVICE
  * r12): the fixture-fed oracle SQL (q46/q47/q48/q87) must read THIS
  * checkout's fixtures — a hardcoded `/root/repo/fixtures` would
  * silently grade a worktree or relocated clone against the main
  * checkout's possibly-stale parquet. Resolution order:
  *   1. `SPARK_GRAFT_FIXTURES` env (explicit override),
  *   2. the nearest `fixtures/` dir containing `q46_banded_sf001`,
  *      walking up from the working directory (sbt and the driver both
  *      run from the checkout root; a worktree carries its own
  *      git-tracked copy at its root),
  *   3. the canonical checkout path as a last resort (so a cwd outside
  *      any checkout — e.g. a spark-submit scratch dir — still points
  *      at a real fixture set rather than a guaranteed-missing one).
  * Lazy and non-throwing: the vals interpolating this live in objects
  * loaded by every query, so a missing dir must not break non-fixture
  * paths — the oracle's own corpus-agreement guard reports the mismatch
  * legibly if a stale/wrong dir is ever read. */
object Fixtures {
  /** Resolved ONCE per JVM from the first caller's working directory
    * (ADVICE r13: a long-lived JVM later operating from a different
    * checkout keeps this first resolution). The resolution is logged at
    * first use so a surprising fixture source is visible in any run's
    * stderr, and FixtureDriftSpec asserts it lives inside the current
    * checkout — a relocated clone silently reading another checkout's
    * fixtures through the final fallback fails there by name. */
  lazy val dir: String = {
    val resolved = sys.env.getOrElse("SPARK_GRAFT_FIXTURES", {
      val cwd = new java.io.File(sys.props("user.dir")).getAbsoluteFile
      Iterator.iterate(cwd)(_.getParentFile).takeWhile(_ != null).take(5)
        .map(d => new java.io.File(d, "fixtures"))
        .find(f => new java.io.File(f, "q46_banded_sf001").isDirectory)
        .map(_.getAbsolutePath)
        .getOrElse("/root/repo/fixtures")
    })
    System.err.println(
      s"graft.Fixtures: resolved fixture dir $resolved " +
        s"(cwd ${sys.props("user.dir")})")
    resolved
  }

  /** Shared DuckDB guard CTEs for the fixture-fed oracles (q46/q47/q48/
    * q87): compares the live `documents` corpus against the committed
    * (doc_id, md5(text)) checksum written alongside the hash fixtures.
    * doc_id sets alone cannot tell scales apart (sf0.001 and sf0.01
    * both carry doc_ids 0..499 with different texts), so the guard is
    * content-sensitive. Interpolate right after WITH; the consuming
    * oracle unions a named poison row when `n > 0`, so a wrong-corpus
    * gate failure names its cause instead of hash-mismatching
    * confusingly. Pre-stripped: no margin bars, two-space indent to
    * read well inside the interpolating SQL. */
  lazy val corpusGuardCtes: String =
    s"""corpus_ck AS (
       |  SELECT doc_id, m
       |  FROM read_parquet('$dir/corpus_md5_sf001/*.parquet')),
       |fixture_corpus_mismatch AS (
       |  SELECT count(*) AS n FROM (
       |    SELECT doc_id, md5(text) AS m FROM documents
       |    EXCEPT SELECT doc_id, m FROM corpus_ck
       |    UNION ALL
       |    (SELECT doc_id, m FROM corpus_ck
       |     EXCEPT SELECT doc_id, md5(text) FROM documents)))""".stripMargin
}

object FixtureGen {
  /** Spark writes `part-<uuid>` + crc/_SUCCESS noise; a committed
    * fixture wants one stable `data.parquet` so regeneration diffs
    * only when the DATA changes. */
  private def tidy(dir: String): Unit = {
    val d = new java.io.File(dir)
    val part = d.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $dir"))
    val dst = new java.io.File(d, "data.parquet")
    if (dst.exists()) dst.delete()
    require(part.renameTo(dst), s"rename failed: $part")
    d.listFiles().filterNot(_.getName == "data.parquet").foreach(_.delete())
  }

  /** The fixture datasets, built THROUGH the same production code the
    * queries run (shared helpers, not copies). Shared by [[main]]
    * (writes them) and FixtureDriftSpec (regenerates and asserts
    * dataset equality with the committed parquet — so code/fixture
    * drift is caught at `sbt test` time, not a driver round later).
    *
    *  - q46: the (doc_id, band, bkt) band table of the xxhash64
    *    minhash path — exactly what `lshCandidates` self-joins on.
    *  - q47: the (doc_id, simhash) signature table of the xxhash64
    *    simhash path — what `simhashChunkPairs` explodes and joins.
    *  - q48: per-token hashes over the corpus vocabulary, REDUCED mod
    *    2^31−1 (pmod, so always non-negative — DuckDB's % keeps the
    *    sign of the dividend, and the oracle's Karp–Rabin fold only
    *    matches Spark's pmod arithmetic because every stored value is
    *    already in [0, 2^31−1)). The oracle replays the
    *    order-sensitive fold itself.
    *  - corpus_md5 (ADVICE r12): (doc_id, md5(text)) checksum of the
    *    generating corpus — doc_id sets alone can't tell scales apart
    *    (sf0.001 and sf0.01 both carry doc_ids 0..499 with different
    *    texts), so every fixture-fed oracle guards on this table and
    *    injects a named poison row on any disagreement. */
  def datasets(spark: SparkSession,
               sfDir: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select($"doc_id", llm.TextOps.tokens($"text").as("toks"))
    val sh = toks.select($"doc_id", llm.Dedup.shingles($"toks").as("sh"))
    Seq(
      "q46_banded_sf001" ->
        llm.Dedup.xxhBanded(llm.Dedup.minhashSigs(sh))
          .orderBy($"doc_id", $"band"),
      "q47_simhash_sf001" ->
        llm.Dedup.simhash64(toks, "doc_id", "toks").orderBy($"doc_id"),
      "q48_tokhash_sf001" ->
        toks.select(explode($"toks").as("tok")).distinct()
          .select($"tok", pmod(xxhash64($"tok"), lit(2147483647L)).as("h"))
          .orderBy($"tok"),
      "corpus_md5_sf001" ->
        docs.select($"doc_id", md5($"text".cast("binary")).as("m"))
          .orderBy($"doc_id"),
      //  - q240 (r15): the incremental-SemDeDup STORE INDEX — cells,
      //    centroids, and per-cell store representatives from the
      //    sf0.01 store split (vec_id % 4 != 0), built through
      //    semIndexFrom at the pinned default lloydIters = 2. The
      //    committed index is what lets q240 grade BATCH-ONLY ingest
      //    cost: both engines read it instead of rebuilding the store.
      //    Content guard lives in the q240 oracle itself (non-null
      //    rep_v must equal the live corpus vector at rep_id).
      "q240_semindex_sf001" ->
        llm.Similarity.q240IndexFixture(spark, sfDir),
      //  - q247/q248 (r16, VERDICT r15 item 1): the distinct span→hash /
      //    gram→hash vocabularies of the xxhash64-keyed production
      //    twins of q243 (10-token removal spans) and q245 (13-token
      //    memorization grams), built THROUGH the same window helpers
      //    the queries run (spanWindows / splitGramWindows). The oracle
      //    rebuilds the windows textually from the live corpus and maps
      //    them through these tables, so both engines consume identical
      //    hash values and everything downstream of the hash is replayed
      //    in SQL.
      "q247_spanhash_sf001" ->
        llm.Dedup.spanWindows(docs, 10).select($"sh").distinct()
          .select($"sh", xxhash64($"sh").as("h")).orderBy($"sh"),
      "q248_gramhash_sf001" ->
        llm.TextOps.splitGramWindows(docs).select($"g").distinct()
          .select($"g", xxhash64($"g").as("h")).orderBy($"g"),
      //  - q253 (r16, VERDICT r15 item 7): the deterministic thematic
      //    corpus — the probe eval's graded TRUE-POSITIVE. Generated
      //    THROUGH Corpus.thematicCorpus (the same builder CorpusSpec
      //    pins transfer on), independent of the sf corpus by design.
      "q253_thematic_sf001" ->
        llm.Corpus.thematicCorpus(spark).orderBy($"doc_id"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("fixtures")
    val spark = Sessions.local(Sessions.cores)
    datasets(spark, sfDir).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      tidy(s"$outDir/$name")
    }
    spark.stop()
  }
}
