package graft.queries

import graft.model.TableCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Fuzzy

/** Correctness wiring for the edit-distance (fuzzy) join family. The
  * operator is exact ([[graft.llm.Fuzzy]] — prefix-filtered blocking +
  * levenshtein verify), so the oracles are plain brute force: DuckDB's
  * `levenshtein` over the length-filtered cross product, and the
  * q_dedup_cluster-style recursive closure for the cluster form. Two
  * independent algorithms (blocked vs exhaustive) must agree pair-for-pair.
  */
object FuzzyQueries extends Registry {

  private def customer(s: SparkSession, dir: String): DataFrame =
    TableCache.parquet(s, s"$dir/customer.parquet")

  val all: Seq[Q] = Seq(
    // near-identical entity strings one substituted character apart — the
    // low-entropy keyspace ("Customer#000014999") that is exactly the
    // deletion-neighborhood regime: every gram is corpus-frequent, so
    // gram-prefix buckets go quadratic while deletion variants collide
    // almost only on true pairs (50.8 s vs 2.5 s at sf0.1, same answer)
    Q("q_fuzzy_join", (s, dir) =>
      Fuzzy.editDistanceJoinShort(customer(s, dir), "c_custkey", "c_name", maxDist = 1)
        .orderBy("id_a", "id_b"),
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a, customer b
        |WHERE a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // the fuzzy pairs closed transitively: cluster_id = min custkey of the
    // edit-distance component. The every-7th slice sparsifies the
    // sequential keyspace so components look like real entity-resolution
    // clusters (a handful of spellings each) instead of the one giant
    // chain the contiguous keyspace degenerates to — the full corpus
    // collapses to a single component in 4 star-contraction rounds
    // (measured), correct but uninformative as a fixture
    Q("q_fuzzy_cluster", (s, dir) =>
      Fuzzy.fuzzyClusters(customer(s, dir).filter(col("c_custkey") % 7 === 0),
          "c_custkey", "c_name", maxDist = 1, shortStrings = true)
        .orderBy("c_custkey"),
      """WITH RECURSIVE cu AS (SELECT * FROM customer WHERE c_custkey % 7 = 0),
        |pr AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM cu a, cu b
        |  WHERE a.c_custkey < b.c_custkey
        |    AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |    AND levenshtein(a.c_name, b.c_name) <= 1),
        |e AS (SELECT id_a AS u, id_b AS v FROM pr
        |      UNION SELECT id_b, id_a FROM pr),
        |reach(id, r) AS (
        |  SELECT c_custkey, c_custkey FROM cu
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
        |cl AS (SELECT id AS c_custkey, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c_custkey, cluster_id, c_custkey = cluster_id AS is_canonical
        |FROM cl ORDER BY c_custkey""".stripMargin),

    // duplicate-heavy input (64 distinct p_names over 2000 rows):
    // collapse multiplicity FIRST (distinct name, min partkey as
    // representative), then fuzzy-join the representatives — the
    // documented composition that keeps near-identical corpora from
    // going quadratic in the candidate buckets
    Q("q_fuzzy_reps", (s, dir) => {
      val reps = TableCache.parquet(s, s"$dir/part.parquet")
        .groupBy("p_name").agg(min("p_partkey").as("rep_id"))
      Fuzzy.editDistanceJoin(reps, "rep_id", "p_name", maxDist = 2)
        .orderBy("id_a", "id_b")
    },
      """WITH reps AS (SELECT p_name, min(p_partkey) AS rep_id
        |              FROM part GROUP BY p_name)
        |SELECT a.rep_id AS id_a, b.rep_id AS id_b,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM reps a, reps b
        |WHERE a.rep_id < b.rep_id
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin))
}
