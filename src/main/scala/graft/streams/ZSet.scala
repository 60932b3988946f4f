package graft.streams

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch Z-set algebra — the engine's incremental data model (SURVEY §1.4).
  *
  * A Z-set is a multiset with signed integer weights (+1 insert, −1 retract);
  * here it is a DataFrame with a `weight: long` column, every other column
  * forming the record. Operator semantics mirror the reference's TopologyNode
  * circuit ops (kafi/streams/topologynode.py:120-543) executed in batch:
  * Catalyst + Tungsten replace the DBSP circuit machinery wholesale
  * (SURVEY §4.2), and Structured Streaming supplies the per-micro-batch
  * delta execution (graft.streaming).
  *
  * Scale notes:
  *  - `consolidate` is ONE hash aggregation with map-side partial combine —
  *    the canonical two-phase shuffle; record equality hashes UnsafeRow
  *    bytes (the Tungsten analogue of the reference's msgpack packing,
  *    topologynode.py:28-33).
  *  - joins multiply weights (bilinear, topologynode.py:375-383) and let
  *    Catalyst pick broadcast/SMJ/shuffled-hash; no hand scheduling.
  */
object ZSet {

  val W = "weight"

  /** from_records — every record gets weight +1 (topologynode.py:1084-1088). */
  def fromRecords(df: DataFrame): DataFrame = df.withColumn(W, lit(1L))

  /** _from_records — explicit (record, weight) pairs (topologynode.py:1078-1082):
    * the caller supplies a weight expression. */
  def fromWeighted(df: DataFrame, weight: Column): DataFrame =
    df.withColumn(W, weight.cast("long"))

  def recordCols(df: DataFrame): Seq[Column] =
    df.columns.filterNot(_ == W).map(col).toSeq

  /** Consolidate: sum weights per distinct record, drop zero-weight records —
    * the Z-set normal form (the reference's ZSetAddition group). */
  def consolidate(df: DataFrame): DataFrame =
    df.groupBy(recordCols(df): _*).agg(sum(W).as(W)).filter(col(W) =!= 0)

  /** distinct — weight>0 → 1; retraction-correct (topologynode.py:278-294). */
  def distinct(df: DataFrame): DataFrame =
    df.groupBy(recordCols(df): _*).agg(sum(W).as("__w"))
      .filter(col("__w") > 0)
      .drop("__w")
      .withColumn(W, lit(1L))

  /** _neg — negate all weights (topologynode.py:197-204). */
  def neg(df: DataFrame): DataFrame = df.withColumn(W, -col(W))

  /** merge — Z-set addition, no distinct = UNION ALL (topologynode.py:549-567). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    consolidate(a.unionByName(b))

  /** union — add then distinct = SQL UNION (topologynode.py:298-318). */
  def union(a: DataFrame, b: DataFrame): DataFrame =
    distinct(a.unionByName(b))

  /** minus — a + (−b) then distinct = SQL EXCEPT (topologynode.py:330-350). */
  def minus(a: DataFrame, b: DataFrame): DataFrame =
    distinct(a.unionByName(neg(b)))

  /** intersect — equality join of the distinct'd sides projecting left
    * (topologynode.py:322-326 delegates to join). Compiled as a LEFT SEMI
    * join: no fanout, no right-side columns shuffled.
    *
    * Both sides are aliased and the condition built from alias-qualified
    * names: when a and b derive from the same frame (the common Z-set
    * pattern), `da(c) <=> db(c)` resolves both sides to the SAME attribute
    * — a trivially-true predicate (the SPARK-25150 self-join hazard).
    * Qualified names force per-alias resolution. PlanSpec asserts no join
    * in any declared query carries a same-attribute equality. */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.filterNot(_ == W)
    val da = distinct(a).alias("__zsl")
    val db = distinct(b).drop(W).alias("__zsr")
    val cond = cols
      .map(c => col(s"__zsl.`$c`") <=> col(s"__zsr.`$c`")).reduce(_ && _)
    da.join(db, cond, "left_semi")
  }

  /** from_value — project message → value payload (topologynode.py:185-189). */
  def fromValue(df: DataFrame): DataFrame = df.select(col("value"), col(W))

  /** to_value — wrap a value back into a message envelope shape
    * (topologynode.py:191-195). */
  def toValue(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.select(struct(col(valueCol).as("value")).as("message"), col(W))

  /** map — 1→1 projection, weight-preserving (topologynode.py:120-155). */
  def map(df: DataFrame)(cols: Column*): DataFrame =
    df.select(cols :+ col(W): _*)

  /** filter — predicate on the record (topologynode.py:244-274). */
  def filter(df: DataFrame)(pred: Column): DataFrame = df.filter(pred)

  /** flatmap — 1→N generator; colliding outputs merge weights, zero-weight
    * drops (topologynode.py:208-240). */
  def flatmap(df: DataFrame)(generator: Column, keep: Column*): DataFrame =
    consolidate(df.select((keep :+ generator) :+ col(W): _*))

  /** join (equi or theta) — weights multiply: the bilinear form of the
    * incremental join (topologynode.py:354-430). For theta predicates
    * Catalyst falls back to BNLJ; broadcast the smaller side. */
  def join(a: DataFrame, b: DataFrame, cond: Column): DataFrame = {
    val l = a.withColumnRenamed(W, "__wl")
    val r = b.withColumnRenamed(W, "__wr")
    l.join(r, cond)
      .withColumn(W, col("__wl") * col("__wr"))
      .drop("__wl", "__wr")
  }

  /** group_by_sum — Σ value·weight per key (topologynode.py:489-493). */
  def groupBySum(df: DataFrame, keys: Seq[String], value: Column, as: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(sum(value * col(W)).as(as))

  /** group_by_count — Σ weight per key (topologynode.py:507-511). */
  def groupByCount(df: DataFrame, keys: Seq[String], as: String = "count"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(sum(col(W)).as(as))

  /** group_by_max — max over currently-present records, fold initial 0
    * (the reference's not-retraction-safe quirk, topologynode.py:495-505:
    * the fold starts at 0, so the result is never below 0). Presence =
    * consolidated weight > 0. */
  def groupByMax(df: DataFrame, keys: Seq[String], value: Column, as: String): DataFrame =
    consolidate(df).filter(col(W) > 0)
      .groupBy(keys.map(col): _*)
      .agg(greatest(max(value), lit(0.0)).as(as))

  /** group_by_min — min fold with initial 0 (topologynode.py:495-505). */
  def groupByMin(df: DataFrame, keys: Seq[String], value: Column, as: String): DataFrame =
    consolidate(df).filter(col(W) > 0)
      .groupBy(keys.map(col): _*)
      .agg(least(min(value), lit(0.0)).as(as))

  /** global agg/sum/max/min/count — group-by-constant-key variants
    * (topologynode.py:515-543). */
  def globalAgg(df: DataFrame)(aggs: Column*): DataFrame = df.groupBy().agg(aggs.head, aggs.tail: _*)

  /** Incremental join delta — the bilinear rule at the heart of the
    * reference's circuit (topologynode.py:375-383):
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B  +  A ⋈ ΔB  +  ΔA ⋈ ΔB  =  ΔA ⋈ (B + ΔB)  +  A ⋈ ΔB
    *
    * Given integrated states a/b and this step's deltas da/db, returns the
    * join's delta WITHOUT recomputing a ⋈ b, in two joins. This is what makes view
    * maintenance O(|Δ|·|matched|) instead of O(|A|·|B|) per step — on a
    * 100 TB accumulated state with MB-scale deltas, the two Δ-sided joins
    * broadcast their delta side. Verified against full recomputation in
    * ZSetSpec.
    */
  def joinDelta(a: DataFrame, da: DataFrame, b: DataFrame, db: DataFrame,
      cond: Column): DataFrame =
    consolidate(join(da, b.unionByName(db), cond).unionByName(join(a, db, cond)))

  /** to_records — positive-weight records replicated weight times
    * (topologynode.py:1138-1146); negative weights drop. The multiset →
    * plain-rows adapter. */
  def toRecords(df: DataFrame): DataFrame =
    df.filter(col(W) > 0)
      .withColumn("__i", explode(sequence(lit(1L), col(W))))
      .drop(W, "__i")
}
