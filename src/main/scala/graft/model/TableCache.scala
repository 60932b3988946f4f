package graft.model

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-JVM parquet SCHEMA memo for the fixed test tables (r15 optimization,
  * guide §6 file-listing/metadata posture).
  *
  * Every `spark.read.parquet(path)` call re-resolves the source: a fresh
  * DataSource, a glob walk, and parquet footer schema inference — ~100–150 ms
  * of driver-side work per call at r15 on local[32] (steady state, q_wc:
  * build 133 ms vs 137 ms for the whole execution). The bench
  * and verify harnesses build every query's frame from scratch per rep, so
  * across 319 queries × 2 reps this metadata tax alone was ~30–40 s of suite
  * wall — the single largest component of the per-query floor.
  *
  * This memo caches the INFERRED SCHEMA (a StructType — pure metadata) per
  * path and replays it via `spark.read.schema(st).parquet(path)`, which is
  * semantically identical to inference (the cached value IS the schema the
  * first call inferred) but skips the footer job. It is exactly what a real
  * deployment gets from its catalog (Hive metastore / Iceberg manifest):
  * known table schemas, data still scanned from files on every query. No
  * DATA or query RESULT is ever cached here — Bench/Verify compute every row
  * from parquet on every invocation.
  *
  * Scope: the immutable driver test tables (the sfDir parquet files). Paths a
  * query WRITES during its run (FileStorage topics, Files sinks) must not go
  * through this memo — their schema can legitimately change between calls.
  */
object TableCache {
  private val schemas = new ConcurrentHashMap[String, StructType]()
  // resolved-relation memo for exactly ONE session — the most recently used
  // one. A WeakHashMap keyed by session does NOT work here (r15 ADVICE): a
  // resolved DataFrame strongly references its SparkSession through the
  // relation, so the map's own values kept every weak key reachable and
  // every session that ever touched the memo was pinned for the JVM's
  // lifetime. The single-slot design bounds retention to one session (the
  // live one in every real caller — Bench/Verify/tests run queries against
  // one session at a time); an older session's entries are dropped, and the
  // session itself becomes collectable, the moment a new session arrives.
  // A new session's map is installed by compare-and-set, so threads of one
  // session that race to install it end up sharing one map; a plain
  // check-then-set let the last writer drop the others' entries.
  private val slot = new AtomicReference[(SparkSession, ConcurrentHashMap[String, DataFrame])]()

  @annotation.tailrec
  private def relations(spark: SparkSession): ConcurrentHashMap[String, DataFrame] = {
    val cur = slot.get
    if (cur != null && (cur._1 eq spark)) cur._2
    else {
      val fresh = (spark, new ConcurrentHashMap[String, DataFrame]())
      if (slot.compareAndSet(cur, fresh)) fresh._2 else relations(spark)
    }
  }

  /** `spark.read.parquet(path)` with the resolved relation memoized per
    * (session, path) and the schema per path. Returning the same immutable
    * DataFrame object is the plain df-reuse idiom (self-joins of a shared
    * frame go through DeduplicateRelations like any `df.join(df)`), and it
    * skips the DataSource re-resolution that remains after the schema memo:
    * at local[4] on a 4-core host, perfbench's 10 `floor` core queries at
    * sf0.01 summed 419–539 ms of build time per rep with this memo and
    * 617–946 ms with the schema memo alone ([[graft.Run]]'s build split,
    * reps 3–6 of two runs each); plan time and job count did not move.
    *
    * Fixture tables ONLY: the relation memo snapshots the file listing at
    * first read, so a path whose files change mid-session would silently
    * read stale data. The contract is enforced at the source level — a
    * PlanSpec test pins every src/main call site to the `s"$dir/..."` /
    * `s"$sfDir/..."` fixture-root shape, so a write-path caller fails the
    * build loudly instead of reading stale files. (A runtime path guard
    * cannot work: tests legitimately point `dir` at read-only temp
    * fixtures, e.g. EmptyInputSpec's zero-row corpus.) */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val perSession = relations(spark)
    val hit = perSession.get(path)
    if (hit != null) hit
    else {
      val cached = schemas.get(path)
      val df =
        if (cached != null) spark.read.schema(cached).parquet(path)
        else {
          val d = spark.read.parquet(path)
          schemas.put(path, d.schema)
          d
        }
      perSession.put(path, df)
      df
    }
  }
}
