package graft.streaming

import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType
import graft.streams.ZSet

/** Stream-stream THETA join — unsupported by Structured Streaming's native
  * stream-stream join (equi-keys + watermarks only), and SURVEY §7.4's
  * recommended shape: foreachBatch + accumulated state + the bilinear
  * delta rule (ZSet.joinDelta):
  *
  *   per micro-batch:  Δout = ΔA ⋈ (B + ΔB)  +  A ⋈ ΔB
  *   then:             A += ΔA ;  B += ΔB
  *
  * Each side's state is a list of immutable parquet SEGMENTS, named
  * `<side>-<version>-<tier>`. A step writes the raw ΔA and ΔB as two
  * tier-0 segments and nothing else: the join is bilinear, so unconsolidated
  * state gives the same consolidated output. When a side holds 4 segments
  * of one tier they are consolidated into one segment of the next tier
  * (the geometric merge of DBSP's integrate trace, Budiu et al. VLDB 2023,
  * and the analogue of `evaluator.compact()` in the reference's `latest`,
  * topologynode.py:1110-1129). So each row is rewritten O(log₄ n) times and
  * a step reads O(log n) segments; a step's cost is O(|Δ| · matched) plus
  * its share of the merges, never a rewrite of the whole state.
  *
  * Commit: the step writes `manifest-<version>` (the segments of both
  * sides) and then atomically swaps the `CURRENT` pointer. A crash at any
  * instant leaves the pointer on the previous complete version; a replay of
  * the same deltas first clears the new version's residue (segments and
  * manifest named by it), so it is idempotent, never a half-applied
  * A-without-B step. GC deletes the segments that neither the current nor
  * the previous manifest lists.
  */
class IncrementalJoin(
    spark: SparkSession,
    stateDir: String,
    schemaA: StructType,
    schemaB: StructType,
    cond: Column) {

  private val root = Paths.get(stateDir)
  private val pointer = root.resolve("CURRENT")
  private val Fanout = 4

  /** Segment `<side>-<version>-<tier>`: written at `version`; tier 0 holds
    * one raw Δ, tier t+1 the consolidation of Fanout segments of tier t. */
  private case class Seg(side: String, version: Long, tier: Int) {
    def name = s"$side-$version-$tier"
    def path = s"$stateDir/$name"
  }
  private val SegName = "([ab])-(\\d+)-(\\d+)".r
  private val ManifestName = "manifest-(\\d+)".r

  private def manifestPath(v: Long) = root.resolve(s"manifest-$v")

  private def currentVersion: Long =
    if (JFiles.exists(pointer)) JFiles.readString(pointer).trim.toLong else 0L

  private def manifest(v: Long): Seq[Seg] =
    if (v == 0) Nil
    else JFiles.readAllLines(manifestPath(v)).asScala.toSeq.collect {
      case SegName(side, ver, tier) => Seg(side, ver.toLong, tier.toInt)
    }

  private def schemaOf(side: String) = if (side == "a") schemaA else schemaB

  /** The Z-set union of `segs` (all of one side): one scan, or an empty
    * local relation, which the optimizer folds out of the joins. */
  private def read(segs: Seq[Seg], schema: StructType): DataFrame =
    if (segs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(segs.map(_.path): _*)

  /** Write `df` as `seg`; false, with nothing left on disk, when it has no
    * rows (an Observation on the same write counts them). */
  private def write(df: DataFrame, seg: Seg): Boolean = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.parquet(seg.path)
    val nonEmpty = obs.get("n").asInstanceOf[Long] > 0
    if (!nonEmpty) deleteDir(Paths.get(seg.path))
    nonEmpty
  }

  /** Consolidate every tier of `segs` that holds Fanout segments into one
    * segment of the next tier, cascading. */
  @annotation.tailrec
  private def merge(segs: Seq[Seg], next: Long): Seq[Seg] =
    segs.groupBy(_.tier).filter(_._2.size >= Fanout).keys.minOption match {
      case None => segs
      case Some(t) =>
        val (full, rest) = segs.partition(_.tier == t)
        val merged = Seg(full.head.side, next, t + 1)
        val kept = if (write(ZSet.consolidate(read(full, schemaOf(merged.side))), merged)) Seq(merged) else Nil
        merge(rest ++ kept, next)
    }

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(JFiles.delete) finally s.close()
    }

  /** Delete the segments and manifests `keep` does not name; with
    * `version`, only those written at that version (replay residue). */
  private def sweep(keep: Set[String], version: Option[Long]): Unit = {
    val entries = JFiles.list(root)
    try entries.iterator().asScala.toSeq.foreach { p =>
      val n = p.getFileName.toString
      val ver = n match {
        case SegName(_, v, _) => Some(v.toLong)
        case ManifestName(v) => Some(v.toLong)
        case _ => None
      }
      if (ver.exists(v => version.forall(_ == v)) && !keep(n)) deleteDir(p)
    } finally entries.close()
  }

  /** Apply one micro-batch of deltas (Z-set frames with weight columns);
    * returns the join's output delta, built over the immutable segment
    * files and not written — consume it before the next step. Safe to
    * replay the same batch after a crash: the pointer only advances once
    * the manifest of the new version is on disk. */
  def step(deltaA: DataFrame, deltaB: DataFrame): DataFrame = {
    JFiles.createDirectories(root)
    val v = currentVersion
    val next = v + 1
    sweep(Set.empty, Some(next)) // clear any half-written replay residue
    val prev = manifest(v)
    val (a, b) = (merge(prev.filter(_.side == "a"), next), merge(prev.filter(_.side == "b"), next))
    def delta(df: DataFrame, side: String): Option[Seg] = {
      val seg = Seg(side, next, 0)
      val conformed = df.select(schemaOf(side).fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      if (write(conformed, seg)) Some(seg) else None
    }
    val (da, db) = (delta(deltaA, "a"), delta(deltaB, "b"))
    val current = a ++ da ++ b ++ db
    JFiles.write(manifestPath(next), current.map(_.name).asJava)
    // atomic pointer swap — the commit point
    val tmp = root.resolve("CURRENT.tmp")
    JFiles.writeString(tmp, next.toString)
    JFiles.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // GC sweeps every stale entry, not just version v-1's: a crash between
    // a past swap and its GC leaves orphans a fixed delete never revisits
    sweep((current ++ prev).map(_.name).toSet ++ Set(s"manifest-$next", s"manifest-$v"), None)
    ZSet.joinDelta(read(a, schemaA), read(da.toSeq, schemaA), read(b, schemaB), read(db.toSeq, schemaB), cond)
  }
}
