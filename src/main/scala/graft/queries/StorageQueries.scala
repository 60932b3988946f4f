package graft.queries

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.storage.FileStorage
import graft.storage.FileStorage.deleteTree

/** Correctness wiring for the FileStorage log: a full produce → consume
  * roundtrip (partitioner + offset assignment + scan) checked against the
  * same derivation in DuckDB. */
object StorageQueries extends Registry {

  val all: Seq[Q] = Seq(
    Q("q_storage_roundtrip", (s, dir) => {
      val root = "/tmp/graft_storage_rt"
      deleteTree(Paths.get(root))
      val fs = new FileStorage(s, root)
      fs.createTopic("events", Envelope.NumPartitions)
      // explicit partition (user_id % 4) so the oracle can reproduce the
      // assignment; offsets come from the producer (row_number by ts per
      // partition over the prior high watermark)
      fs.produce("events",
        Envelope.fromEvents(s, dir).select("key", "value", "partition", "timestamp"))
      fs.read("events")
        .select(col("partition"), col("offset"), col("key"), col("value"),
          Envelope.tsMs(col("timestamp")).as("ts_ms"))
        .orderBy("partition", "offset")
    },
      s"""${BatchQueries.envCte} SELECT partition, "offset", key, value, ts_ms FROM env ORDER BY partition, "offset""""),

    Q("q_storage_offsets_for_times", (s, dir) => {
      // reuses the topic written by q_storage_roundtrip when run in order;
      // rebuild defensively if missing
      val root = "/tmp/graft_storage_oft"
      deleteTree(Paths.get(root))
      val fs = new FileStorage(s, root)
      fs.createTopic("events", Envelope.NumPartitions)
      fs.produce("events",
        Envelope.fromEvents(s, dir).select("key", "value", "partition", "timestamp"))
      fs.offsetsForTimes("events", 1705276800000L) // 2024-01-15T00:00Z
        .orderBy("partition")
    },
      s"""${BatchQueries.envCte} SELECT partition, min("offset") AS "offset" FROM env
         |WHERE ts_ms >= 1705276800000 GROUP BY partition ORDER BY partition""".stripMargin))
}
