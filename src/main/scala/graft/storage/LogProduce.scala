package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Envelope

/** The offset-assignment plan of the file log (fs_producer.py:26-70
  * semantics): partition resolution, timestamp default, and
  * content-deterministic per-partition offset sequencing past the prior
  * high watermark. Pure plan construction — the caller supplies the
  * watermarks and writes the result.
  */
private[storage] object LogProduce {

  /** @param hw partition -> high watermark; absent partitions start at 0.
    *           A map literal, so the plan reads no log and its generated
    *           code does not change with the values. */
  def assign(topic: String, df: DataFrame, numPartitions: Int, hw: Map[Int, Long]): DataFrame = {
    val p = numPartitions
    val withKey = if (df.columns.contains("key")) df else df.withColumn("key", lit(null).cast("string"))
    // hash-of-key partitioner (kafi/helpers.py:338-352); explicit partition
    // wins but is range-checked row-side (Kafka rejects out-of-range
    // partitions; silently appending them would create phantom partitions
    // no consumer iterating 0..p-1 ever reads)
    val withPart =
      if (withKey.columns.contains("partition"))
        withKey.withColumn("partition",
          when(col("partition") >= 0 && col("partition") < p, col("partition").cast("int"))
            .otherwise(raise_error(concat(
              lit(s"partition out of range for topic '$topic' (0..${p - 1}): "),
              col("partition").cast("string")))))
      else {
        // partition-key projection (kafi/chunker.py:16-18's projection_fun):
        // a `__partition_key` column, when present, is hashed INSTEAD of the
        // key — chunked messages carry distinct per-chunk keys but must
        // co-locate by their ORIGINAL key (helpers.py:356-376). The column
        // never reaches the log (the envelope projection below drops it).
        val pk = if (withKey.columns.contains("__partition_key"))
          col("__partition_key") else col("key")
        withKey.withColumn("partition", pmod(hash(pk), lit(p)).cast("int"))
      }
    val withTs =
      if (withPart.columns.contains("timestamp")) withPart
      else withPart.withColumn("timestamp", current_timestamp()) // CURRENT_TIME (fs_producer.py:36-37)
    withTs
      // content-deterministic ordering: (timestamp, key, value) — the same
      // input always yields the same offsets regardless of task scheduling;
      // monotonically_increasing_id only breaks ties between IDENTICAL
      // rows, where any assignment is equivalent
      .withColumn("offset",
        (row_number().over(Window.partitionBy("partition")
          .orderBy(col("timestamp"), col("key"), col("value"), monotonically_increasing_id())) - 1
          + coalesce(typedLit(hw).getItem(col("partition")), lit(0L))).cast("long"))
      .withColumn("topic", lit(topic))
      .withColumn("timestampType", lit(1))
      .withColumn("headers",
        if (withTs.columns.contains("headers")) col("headers") else lit(null).cast(Envelope.headersType))
      .select(Envelope.columnNames.map(col): _*)
  }
}
