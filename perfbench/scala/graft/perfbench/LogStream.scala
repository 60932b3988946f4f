package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import graft.ops.Shell
import graft.storage.FileStorage
import graft.streaming.{IncrementalJoin, RetractionWindow, Runner, StreamingDedup}
import graft.streams.ZSet

/** Seeded generator of kafi-envelope messages shaped like the shoe store's
  * `shoe_orders_debezium` stream: CDC records `{op, before, after}` over
  * orders, customer and product keys drawn with skew, event time advancing
  * a fixed step per message with a share of out-of-order events, about 10%
  * deletes of live orders and a few exact re-deliveries. */
class OrderGen(seed: Long, customers: Int = 200, products: Int = 100) {
  private val rnd = new scala.util.Random(seed)
  private var msg = 0L
  private var nextOrder = 0L
  private val live = mutable.ArrayBuffer[(Long, String)]() // (event ms, after-record json)
  private val recent = mutable.Queue[(String, String)]() // (key, value) of recent messages
  val t0Ms = 1609459200000L // 2021-01-01, the shoe store generators' origin
  val stepMs = 1000L
  val maxSkewMs = 30000L

  /** Rank-skewed id: low ranks are drawn far more often than high ones. */
  private def skewed(n: Int): Int = math.min(n - 1, (n * math.pow(rnd.nextDouble(), 3)).toInt)

  /** One batch: (key, value, event time) rows plus the Z-set deltas of the
    * orders it creates and deletes, as (customer_id, order_id, weight). */
  def batch(n: Int): (Seq[(String, String, java.sql.Timestamp)], Seq[(String, Long, Long)]) = {
    val rows = mutable.ArrayBuffer[(String, String, java.sql.Timestamp)]()
    val deltas = mutable.ArrayBuffer[(String, Long, Long)]()
    for (_ <- 0 until n) {
      msg += 1
      val now = t0Ms + msg * stepMs
      val u = rnd.nextDouble()
      // deletes only target orders younger than the watermark delay, so the
      // retraction always reaches a window that still holds state
      val young = live.indices.filter(i => live(i)._1 > now - 40000L)
      if (u < 0.03 && recent.nonEmpty) {
        val (k, v) = recent(rnd.nextInt(recent.size))
        rows += ((k, v, new java.sql.Timestamp(now)))
      } else if (u < 0.13 && young.nonEmpty) {
        val (ts, rec) = live.remove(young(rnd.nextInt(young.size)))
        val id = """"order_id":(\d+)""".r.findFirstMatchIn(rec).get.group(1)
        val cust = """"customer_id":"([^"]+)"""".r.findFirstMatchIn(rec).get.group(1)
        val v = s"""{"op":"d","before":$rec,"after":null}"""
        rows += ((id, v, new java.sql.Timestamp(now)))
        deltas += ((cust, id.toLong, -1L))
        remember(id, v)
      } else {
        nextOrder += 1
        val ts = if (rnd.nextDouble() < 0.2) now - rnd.nextInt(maxSkewMs.toInt) else now
        val cust = s"c${skewed(customers)}"
        val rec = s"""{"order_id":$nextOrder,"customer_id":"$cust","product_id":"p${skewed(products)}",""" +
          s""""price":${100 + rnd.nextInt(19900)},"ts":$ts}"""
        val v = s"""{"op":"c","before":null,"after":$rec}"""
        live += ((ts, rec))
        rows += ((nextOrder.toString, v, new java.sql.Timestamp(ts)))
        deltas += ((cust, nextOrder, 1L))
        remember(nextOrder.toString, v)
      }
    }
    while (live.size > 2000) live.remove(0)
    (rows.toSeq, deltas.toSeq)
  }

  private def remember(k: String, v: String): Unit = {
    recent.enqueue((k, v))
    if (recent.size > 20) recent.dequeue()
  }
}

/** The `log_stream` workload: the Streams half driven through the file log.
  * Each step produces one batch, advances the streaming queries until every
  * sink has committed it, applies the step to an incremental join, then does
  * a log user's reads. Before the timed region the queries are stopped and
  * restarted from their checkpoints once; the timed region then runs whole
  * passes of steps against the restarted queries. */
object LogStream {
  val Topic = "orders"
  val Deduped = "orders_dedup"
  val Partitions = 4
  val MsgsPerStep = 200
  val WindowMs = 60000L
  val DelayMs = 120000L
  /** The backlog produced at set-up, in two calls: kafi's own shape is
    * 100 messages × 20 steps, so timed steps append to a log of more than
    * 2,000 messages. */
  val SeedMsgs = 2000
  val SeedCalls = 2
  /** A pass is one whole step: produce, advance, join and reads. */
  val StepsPerPass = 1

  val record = StructType(Seq(
    StructField("order_id", LongType), StructField("customer_id", StringType),
    StructField("product_id", StringType), StructField("price", LongType),
    StructField("ts", LongType)))
  val cdc = StructType(Seq(StructField("op", StringType),
    StructField("before", record), StructField("after", record)))

  /** Envelope rows → signed order records (Debezium c → +1, d → −1). */
  def decode(env: DataFrame): DataFrame =
    env.select(from_json(col("value"), cdc).as("m"))
      .select(when(col("m.op") === "d", col("m.before")).otherwise(col("m.after")).as("r"),
        when(col("m.op") === "d", lit(-1L)).otherwise(lit(1L)).as(ZSet.W))
      .select(col("r.*"), col(ZSet.W))

  /** The running system: two topics, three streaming queries and a join. Sinks
    * collect each micro-batch into this JVM's memory keyed by batch id, so a
    * replayed batch overwrites instead of duplicating. */
  class Pipeline(spark: SparkSession, dir: String, seed: Long) {
    import spark.implicits._
    val fs = new FileStorage(spark, s"$dir/log")
    Seq(Topic, Deduped).foreach(t => if (!fs.exists(t)) fs.createTopic(t, Partitions))
    val gen = new OrderGen(seed)
    val windows = new java.util.concurrent.ConcurrentHashMap[Long, Array[Row]]()
    val productWindows = new java.util.concurrent.ConcurrentHashMap[Long, Array[Row]]()
    val join = new IncrementalJoin(spark, s"$dir/join",
      StructType(Seq(StructField("customer_id", StringType), StructField("order_id", LongType),
        StructField(ZSet.W, LongType))),
      StructType(Seq(StructField("cid", StringType), StructField("segment", StringType),
        StructField(ZSet.W, LongType))),
      col("customer_id") === col("cid"))
    var queries: Seq[StreamingQuery] = Nil
    var high: Map[Int, Long] = Map.empty
    var produced = 0L
    private var steps = 0
    /** Per query name, the state rows after each of its micro-batches. */
    val stateSeries = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
    private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

    def start(): Seq[StreamingQuery] = {
      val src = fs.readStream(Topic)
      // Spark allows one watermark definition per query, and both stages
      // define their own, so the deduplicated stream goes through its own
      // topic, as a kafi topology chains nodes through topics
      val dedup = StreamingDedup.firstSeen(src, "value", "timestamp", s"$DelayMs milliseconds")
        .writeStream.outputMode(OutputMode.Append()).option("checkpointLocation", s"$dir/ckpt/dedup")
        .queryName("dedup")
        .foreachBatch { (b: DataFrame, _: Long) => fs.produce(Deduped, b.select("key", "value", "timestamp")); () }
        .start()
      val deltas = decode(fs.readStream(Deduped))
        .select(col("customer_id").as("key"), col("ts").as("tsMs"), col("price").as("value"), col(ZSet.W))
        .as[RetractionWindow.WinDelta]
      val windowed = RetractionWindow.tumblingSum(deltas, WindowMs, DelayMs).toDF().writeStream
        .outputMode(OutputMode.Append()).option("checkpointLocation", s"$dir/ckpt/windows")
        .queryName("windows")
        .foreachBatch { (b: DataFrame, id: Long) => windows.put(id, b.collect()); () }.start()
      val byProduct = Runner.windowedAgg(
        decode(src).withColumn("event_ts", timestamp_millis(col("ts"))), "event_ts", WindowMs, DelayMs,
        Seq(col("product_id")))(sum(col(ZSet.W) * col("price")).as("net"), count(lit(1)).as("msgs"))
      val products = byProduct.writeStream
        .outputMode(OutputMode.Append()).option("checkpointLocation", s"$dir/ckpt/products")
        .queryName("products")
        .foreachBatch { (b: DataFrame, id: Long) => productWindows.put(id, b.collect()); () }.start()
      queries = Seq(dedup, windowed, products)
      queries
    }

    def stop(): Unit = {
      for (q <- queries; p <- q.recentProgress if p.stateOperators.nonEmpty)
        stateSeries.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += p.stateOperators.map(_.numRowsTotal).sum
      queries.foreach(_.stop())
      queries = Nil
    }

    /** Append `n` generated messages to the log without advancing anything. */
    def produceOnly(n: Int): Unit = {
      val (msgs, _) = gen.batch(n)
      fs.produce(Topic, msgs.toDF("key", "value", "timestamp"))
      produced += msgs.size
    }

    /** Customer dimension delta for step `i`: every customer at the first
      * step, then one customer moving segment. */
    def customerDelta(i: Int): DataFrame = {
      val rows =
        if (i == 0) (0 until 200).map(c => (s"c$c", segments(c % 5), 1L))
        else {
          val c = i % 200
          Seq((s"c$c", segments((c + i - 1) % 5), -1L), (s"c$c", segments((c + i) % 5), 1L))
        }
      rows.toDF("cid", "segment", ZSet.W)
    }

    /** Run one step; returns per-phase seconds. */
    def step(tracer: Tracer): Map[String, Double] = {
      val i = steps
      steps += 1
      val (msgs, orderDeltas) = gen.batch(MsgsPerStep)
      produced += msgs.size
      val batch = msgs.toDF("key", "value", "timestamp")
      val dA = orderDeltas.toDF("customer_id", "order_id", ZSet.W)
      val dB = customerDelta(i)
      def timed(kind: String, parent: Long)(f: => Unit): Double = {
        val t = System.nanoTime()
        tracer.span(kind, s"step $i", parent) { _ => f }
        (System.nanoTime() - t) / 1e9
      }
      var r = Map.empty[String, Double]
      tracer.span("step", s"step $i") { sid =>
        val t = System.nanoTime()
        r += "produce_s" -> timed("produce", sid)(fs.produce(Topic, batch))
        r += "advance_s" -> timed("advance", sid)(queries.foreach(_.processAllAvailable()))
        r += "join_s" -> timed("join", sid)(join.step(dA, dB).collect())
        r += "step_s" -> (System.nanoTime() - t) / 1e9
        r += "read_s" -> timed("read", sid) {
          val prev = high
          Shell.tail(fs.read(Topic), 5).collect()
          high = fs.lags("perfbench", Topic).collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
          fs.commit("perfbench", Topic, high)
          val from = if (prev.isEmpty) 0L else prev.values.min
          fs.readRange(Topic, from, high.values.max).count()
        }
      }
      r + ("msgs" -> msgs.size.toDouble) + ("state_rows" -> stateRows.toDouble)
    }

    /** State rows of the dedup and window operators after the last batch. */
    def stateRows: Long =
      queries.take(2).flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators).map(_.numRowsTotal).sum
  }

  def run(a: Args, out: mutable.Map[String, Any]): Unit = {
    var rep = 0
    var pipe: Pipeline = null
    // set-up: session, warm-up and seeding the log
    val spark = Main.setUp(a, 3, out) { s =>
      rep += 1
      Main.warm(s, a.dataDir)
      pipe = new Pipeline(s, s"${a.runDir}/setup$rep", a.seed)
      (0 until SeedCalls).foreach(_ => pipe.produceOnly(SeedMsgs / SeedCalls))
    }
    val tracer = new Tracer(spark, a.trace)
    val steps = mutable.ArrayBuffer[Map[String, Any]]()
    // untimed: the queries consume the seeded backlog, then restart from
    // their checkpoints, timed until the first step after it completes
    pipe.start().foreach(_.processAllAvailable())
    pipe.stop()
    // the restarted queries' threads tag their jobs with the epoch that is
    // current when they start, so the timed region's epoch opens here
    tracer.begin()
    val r0 = System.nanoTime()
    pipe.start()
    steps += pipe.step(tracer) + ("phase" -> "restart")
    out("restart_s") = Seq((System.nanoTime() - r0) / 1e9)

    // timed region: whole passes of steps until `seconds` is spent; no full
    // collection first, for the reason given in Floor
    tracer.clear()
    pipe.queries.foreach(q => tracer.streams.queries.add(q.id))
    val passes = mutable.ArrayBuffer[Double]()
    val u0 = Main.usage()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      (0 until StepsPerPass).foreach(_ => steps += pipe.step(tracer) + ("phase" -> "timed"))
      passes += (System.nanoTime() - p0) / 1e9
    }
    val usage = Main.usage() - u0
    if (a.trace) {
      val spans = tracer.allSpans
      out("layers") = tracer.layers.counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      out("spans") = spans.map(_.toMap)
    }
    // with the queries running, so their state stores are still loaded
    out("heap_live_mb") = Main.liveHeapMb()
    pipe.stop()

    out("steps") = steps.toSeq
    out("passes") = passes.toSeq
    out("usage") = usage.toMap
    val logDir = Paths.get(s"${pipe.fs.root}/topics/$Topic/data")
    val files = Files.walk(logDir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    out("storage") = Map("log_files" -> files.size,
      "bytes_per_msg" -> files.map(Files.size(_)).sum.toDouble / pipe.produced)
    out("checks") = check(spark, pipe)
  }

  /** Output checks, outside the timed region: the retraction-window and
    * product-window sinks against a batch recomputation over the full log. */
  def check(spark: SparkSession, pipe: Pipeline): Seq[Map[String, Any]] = {
    import spark.implicits._
    val log = pipe.fs.read(Topic).cache()
    // retraction windows: latest emitted row per (customer, window) vs the
    // deduplicated log; windows whose weights cancel to zero count as absent
    val latest = pipe.windows.asScala.toSeq.sortBy(_._1).flatMap(_._2)
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      .filter { case (_, v) => v != ((0L, 0L)) }
    val expected = decode(log.dropDuplicates("value"))
      .groupBy(col("customer_id"), (floor(col("ts") / WindowMs) * WindowMs + WindowMs).cast("long"))
      .agg(sum(col(ZSet.W) * col("price")).cast("long"), sum(col(ZSet.W)).cast("long"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, w, s, n) => (k, w) -> (s, n) }.toMap
      .filter { case (_, v) => v != ((0L, 0L)) }
    val winDiff = (latest.keySet ++ expected.keySet).count(k => latest.get(k) != expected.get(k))
    // product windows: every emitted (window end, product) row vs the raw log
    val emitted = pipe.productWindows.asScala.values.flatten
      .map(r => (r.getAs[String]("product_id"), r.getAs[Long]("window_end_ms")) ->
        (r.getAs[Long]("net"), r.getAs[Long]("msgs"))).toMap
    val raw = decode(log)
      .groupBy(col("product_id"), (floor(col("ts") / WindowMs) * WindowMs + WindowMs).cast("long"))
      .agg(sum(col(ZSet.W) * col("price")).cast("long"), count(lit(1)))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, w, s, n) => (k, w) -> (s, n) }.toMap
    val prodDiff = emitted.count { case (k, v) => !raw.get(k).contains(v) }
    log.unpersist()
    // bounded state: the dedup and window operators' state rows must
    // plateau as event time advances, not grow with the log (kafi
    // test_base.py:132-139); the first batch consumed the seeded backlog.
    // Medians, not maxima: windows close in bursts, and one burst in the
    // second half of a short run doubled its maximum with the state bounded
    def median(xs: Seq[Long]): Double = { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0 }
    val plateau = pipe.stateSeries.filter(x => Set("dedup", "windows")(x._1)).map { case (q, rows) =>
      val r = rows.drop(1).toSeq
      val half = r.size / 2
      q -> (r.size >= 4 && median(r.drop(half)) <= 1.5 * math.max(1.0, median(r.take(half))))
    }
    Seq(
      Map("name" -> "window_sums_equal_batch", "ok" -> (winDiff == 0 && latest.nonEmpty),
        "detail" -> s"${latest.size} windows, $winDiff differ"),
      Map("name" -> "product_windows_equal_batch", "ok" -> (prodDiff == 0 && emitted.nonEmpty),
        "detail" -> s"${emitted.size} emitted, $prodDiff differ"),
      Map("name" -> "state_plateau", "ok" -> (plateau.size == 2 && plateau.values.forall(identity)),
        "detail" -> pipe.stateSeries.map { case (q, r) => s"$q: ${r.mkString(",")}" }.mkString("; ")))
  }
}
