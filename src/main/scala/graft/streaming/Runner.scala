package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.streams.Windows

/** Streaming runtime — the analogue of the reference's asyncio runner
  * (kafi/streams/streams.py:57-271), which Structured Streaming replaces
  * wholesale (SURVEY §3.3): micro-batch = push/latest step, SS checkpoint =
  * the zstd-pickle checkpoint topic (state-before-offsets ordering built
  * in), consumer groups = source options.
  */
object Runner {

  /** Multi-sink demux in ONE source pass (topologynode.py:998-1024,
    * streams.py:229-252): foreachBatch + persist + N filtered writes. Each
    * sink is (name, routing predicate, writer). The batch is read once from
    * the source and N times from the block-manager cache — at scale this is
    * the difference between N source scans and one. */
  def demux(stream: DataFrame, sinks: Seq[(String, Column, DataFrame => Unit)],
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try sinks.foreach { case (_, pred, write) => write(batch.filter(pred)) }
        finally batch.unpersist()
        ()
      }
      .start()

  /** Watermarked tumbling-window aggregation in append mode: windows emit
    * exactly once, when the watermark passes window end — the streaming
    * form of Linear.trigger (topologynode.py:654-666): the batch
    * [[graft.streams.Windows.tumbling]] over the watermarked stream. */
  def windowedAgg(stream: DataFrame, tsCol: String, sizeMs: Long, delayMs: Long,
      keys: Seq[Column])(aggs: Column*): DataFrame =
    Windows.tumbling(stream.withWatermark(tsCol, s"$delayMs milliseconds"), col(tsCol),
      sizeMs, keys)(aggs: _*)

  /** Update-mode running aggregation — the streaming form of the Z-set
    * group_by_* family: each micro-batch emits only changed groups
    * (integrate∘differentiate, topologynode.py:477-480, natively). */
  def runningAgg(stream: DataFrame, keys: Seq[Column])(aggs: Column*): DataFrame =
    stream.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
}
