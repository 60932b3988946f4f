package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Total-function robustness: EVERY registered query must plan and execute
  * on a zero-row corpus with the production schemas. Empty is not an edge
  * case at 100 TB — it is the steady state of a filtered partition, a
  * fresh tenant, a dry re-run — and an operator that throws on it turns a
  * routine backfill into a page. The oracle gate cannot see this (DuckDB
  * and Spark would both run on the same populated tables), so it gets its
  * own suite: read each sf0.001 table's schema, write a 0-row parquet
  * twin, run all of SparkEntry.queries against the twin directory.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft_empty_sf").toString
    // the events table only yields its schema under the same reader conf
    // Envelope uses (nanos timestamps surface as long)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (name <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val src = spark.read.parquet(s"$sfDir/$name.parquet")
      src.limit(0).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** The ONE documented partial-function family: CCNet-style LM scoring
    * requires a non-empty reference corpus — a model trained on nothing
    * has no probability estimates, and "score every doc as unscorable"
    * would silently drop rows where a descriptive error stops the
    * pipeline at the true fault. The contract is asserted below: these
    * must fail WITH the documented message, not arbitrarily. Everything
    * else — including centroid/codebook training, which yields the empty
    * model and empty search results — must be total. */
  private val requiresTrainingData = Map(
    "q_text_lm_score" -> "LM reference corpus is empty",
    "q_text_lm_trigram" -> "LM reference corpus is empty",
    "q_text_ppl_buckets" -> "LM reference corpus is empty",
    "q_text_lm_backoff" -> "LM reference corpus is empty",
    "q_text_ppl_buckets_backoff" -> "LM reference corpus is empty",
    "q_pipeline_curation" -> "LM reference corpus is empty")

  test("the partial-function allowlist names only registered queries") {
    // name-keyed allowlist: a rename in SparkEntry.queries would otherwise
    // silently drop the renamed query from the totality check above (it
    // would no longer match the allowlist, but nothing would notice the
    // allowlist entry going stale either)
    val unknown = requiresTrainingData.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty,
      s"allowlist entries with no matching registered query: $unknown")
  }

  test("every registered query runs on a zero-row corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => requiresTrainingData.contains(q._1))
      .flatMap { case (name, fn) =>
      try {
        fn(spark, emptyDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" / ")}")
      } finally spark.catalog.clearCache()
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on empty input:\n${failures.mkString("\n")}")
  }

  test("LM-scoring queries fail on an empty reference WITH the documented error") {
    for ((name, msg) <- requiresTrainingData) {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries(name)(spark, emptyDir)
          .write.format("noop").mode("overwrite").save()
      }
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
    }
  }

  test("query names are distinct across all registries") {
    // a name declared twice, in one registry or in two, would leave one
    // record unreachable through the name-keyed maps (last wins) — query
    // and oracle could even resolve to a CONSISTENT stale pair and stay
    // green while the new code never runs (caught live in round 15: a
    // second "q_pipeline_crawl")
    val names = SparkEntry.registries.flatMap(_.all).map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted}")
  }
}
