package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{RetractionDistinct, Runner, StreamingDedup}

/** Structured-Streaming tier of the contract suite (the reference's
  * three-tier streams testing, SURVEY §5 item 3): the same topologies run
  * as micro-batch streams; push = MemoryStream.addData, latest =
  * processAllAvailable (topologynode.py:1061-1129).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ckpt() = Files.createTempDirectory("graft_ckpt").toString

  test("streaming wordcount in update mode emits only changed groups") {
    val in = MemoryStream[String](spark)
    val counts = in.toDF().select(explode(split(col("value"), " ")).as("word"))
      .groupBy("word").count()
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("wc_out").start()
    try {
      in.addData("a b a")
      q.processAllAvailable()
      val step1 = spark.table("wc_out").as[(String, Long)].collect().toSet
      assert(step1 == Set("a" -> 2L, "b" -> 1L))
      in.addData("b c")
      q.processAllAvailable()
      // update mode: second batch appends ONLY the changed groups
      val step2 = spark.table("wc_out").as[(String, Long)].collect().toSet
      assert(step2 == Set("a" -> 2L, "b" -> 1L, "b" -> 2L, "c" -> 1L))
    } finally q.stop()
  }

  test("watermarked tumbling window finalizes exactly once (append mode)") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    val agg = Runner.windowedAgg(
      in.toDF().toDF("ts", "k"), "ts", sizeMs = 60000, delayMs = 0,
      keys = Seq(col("k")))(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_out").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1700000000000L / 60000 * 60000 + min * 60000L)
      in.addData((ts(0), "x"), (ts(0), "x"))
      q.processAllAvailable()
      // window not closed yet: watermark has not passed its end
      assert(spark.table("win_out").count() == 0)
      in.addData((ts(2), "x")) // advances watermark past window 0's end
      q.processAllAvailable()
      val rows = spark.table("win_out").select("k", "n").as[(String, Long)].collect().toSet
      assert(rows == Set("x" -> 2L))
    } finally q.stop()
  }

  test("retraction distinct emits +1 on appearance, -1 when retracted out") {
    val in = MemoryStream[RetractionDistinct.Delta](spark)
    val out = RetractionDistinct(in.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rd_out").start()
    try {
      in.addData(RetractionDistinct.Delta("r1", 1), RetractionDistinct.Delta("r1", 1),
        RetractionDistinct.Delta("r2", 1))
      q.processAllAvailable()
      assert(spark.table("rd_out").as[RetractionDistinct.Delta].collect().toSet ==
        Set(RetractionDistinct.Delta("r1", 1), RetractionDistinct.Delta("r2", 1)))
      // retract r1 twice -> presence flips off -> emit -1; r2 stays (no emit)
      in.addData(RetractionDistinct.Delta("r1", -2), RetractionDistinct.Delta("r2", 1))
      q.processAllAvailable()
      val all = spark.table("rd_out").as[RetractionDistinct.Delta].collect().toSeq
      assert(all.count(d => d.record == "r1" && d.weight == -1) == 1)
      assert(all.count(_.record == "r2") == 1)
    } finally q.stop()
  }

  test("multi-sink demux routes one pass to N sinks") {
    val in = MemoryStream[Int](spark)
    val evens = collection.mutable.ArrayBuffer[Int]()
    val odds = collection.mutable.ArrayBuffer[Int]()
    val q = Runner.demux(
      in.toDF(),
      Seq(
        ("evens", col("value") % 2 === 0,
          (d: org.apache.spark.sql.DataFrame) => evens.synchronized {
            evens ++= d.select("value").as[Int](spark.implicits.newIntEncoder).collect()
          }),
        ("odds", col("value") % 2 =!= 0,
          (d: org.apache.spark.sql.DataFrame) => odds.synchronized {
            odds ++= d.select("value").as[Int](spark.implicits.newIntEncoder).collect()
          })),
      ckpt(), org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      in.addData(1, 2, 3, 4, 5)
      q.awaitTermination(60000)
      assert(evens.sorted == Seq(2, 4))
      assert(odds.sorted == Seq(1, 3, 5))
    } finally q.stop()
  }

  test("watermark bounds window state (the reference's state-plateau oracle)") {
    // test/streams/test_base.py:132-139 asserts pickled state size plateaus
    // under expiry; here: stateOperators.numRowsTotal must not grow once the
    // watermark continually closes old windows
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    val agg = Runner.windowedAgg(
      in.toDF().toDF("ts", "k"), "ts", sizeMs = 60000, delayMs = 0,
      keys = Seq(col("k")))(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("bounded_out").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1700000000000L / 60000 * 60000 + min * 60000L)
      val sizes = (0 until 8).map { step =>
        in.addData((ts(step * 2), "x"), (ts(step * 2), "y"))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      // steady state: the last sizes must not exceed the early plateau
      assert(sizes.takeRight(3).max <= sizes.take(4).max + 2,
        s"state grew without bound: ${sizes.mkString(",")}")
    } finally q.stop()
  }

  test("file-storage topic as a streaming source (push -> latest)") {
    val fs = new graft.storage.FileStorage(spark, Files.createTempDirectory("graft_fs_stream").toString)
    fs.createTopic("t", 2)
    fs.produce("t", Seq(("a", "v1"), ("b", "v2")).toDF("key", "value")
      .withColumn("timestamp", lit(new java.sql.Timestamp(1700000000000L))))
    val counts = fs.readStream("t").groupBy("partition").count()
    val q = counts.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("fs_stream_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fs_stream_out").agg(sum("count")).head.getLong(0) == 2L)
      fs.produce("t", Seq(("c", "v3")).toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(1700000001000L))))
      q.processAllAvailable()
      assert(spark.table("fs_stream_out").agg(sum("count")).head.getLong(0) == 3L)
    } finally q.stop()
  }

  test("incremental theta join: step deltas sum to the full join (with retractions)") {
    import graft.streams.ZSet
    val stateDir = Files.createTempDirectory("graft_ij").toString
    val schemaA = Seq(("x", 1L)).toDF("ka", ZSet.W).schema
    val schemaB = Seq(("x", 1L)).toDF("kb", ZSet.W).schema
    // theta condition: ka <= kb (genuinely non-equi, unsupported by SS joins)
    val ij = new graft.streaming.IncrementalJoin(spark, stateDir, schemaA, schemaB,
      col("ka") <= col("kb"))
    val out1 = ij.step(
      Seq(("a", 1L), ("b", 1L)).toDF("ka", ZSet.W),
      Seq(("b", 1L)).toDF("kb", ZSet.W)).collect()
    // step 2 includes a retraction of ("b", left side)
    val out2 = ij.step(
      Seq(("b", -1L)).toDF("ka", ZSet.W),
      Seq(("c", 2L)).toDF("kb", ZSet.W)).collect()
    val integrated = ZSet.consolidate(
      (out1 ++ out2).map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq.toDF("ka", "kb", ZSet.W))
      .as[(String, String, Long)].collect().toSet
    // full recomputation: A = {a:1}, B = {b:1, c:2}; a<=b, a<=c
    assert(integrated == Set(("a", "b", 1L), ("a", "c", 2L)))
  }

  private def stateNames(stateDir: String): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(stateDir))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .map(_.getFileName.toString).toSet
    finally s.close()
  }

  /** A theta join over (ka, id) ⋈ (kb) with ka <= kb, and seeded deltas:
    * inserts over a small key domain plus retractions of live rows. */
  private class JoinFixture(seed: Int) {
    import graft.streams.ZSet
    val stateDir = Files.createTempDirectory("graft_ij").toString
    private val schemaA = Seq(("x", 1L, 1L)).toDF("ka", "id", ZSet.W).schema
    private val schemaB = Seq(("x", 1L)).toDF("kb", ZSet.W).schema
    def open() = new graft.streaming.IncrementalJoin(spark, stateDir, schemaA, schemaB,
      col("ka") <= col("kb"))
    val ij = open()
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private val liveA = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    private val liveB = scala.collection.mutable.ArrayBuffer[String]()
    val a = scala.collection.mutable.Map[(String, Long), Long]().withDefaultValue(0L)
    val b = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val out = scala.collection.mutable.Map[(String, Long, String), Long]().withDefaultValue(0L)

    def deltas(): (Seq[(String, Long, Long)], Seq[(String, Long)]) = {
      val da = (0 until 3).map { _ => nextId += 1; (s"k${rnd.nextInt(6)}", nextId, 1L) } ++
        (if (liveA.nonEmpty && rnd.nextDouble() < 0.6)
          Seq(liveA.remove(rnd.nextInt(liveA.size))).map { case (k, id) => (k, id, -1L) } else Nil)
      liveA ++= da.filter(_._3 > 0).map(r => (r._1, r._2))
      val db = Seq((s"k${rnd.nextInt(6)}", 1L + rnd.nextInt(2))) ++
        (if (liveB.nonEmpty && rnd.nextDouble() < 0.4) Seq((liveB.remove(0), -1L)) else Nil)
      liveB ++= db.filter(_._2 > 0).map(_._1)
      (da, db)
    }

    /** One step through the join; returns its output delta's rows. */
    def step(da: Seq[(String, Long, Long)], db: Seq[(String, Long)],
        join: graft.streaming.IncrementalJoin = ij): Map[(String, Long, String), Long] =
      join.step(da.toDF("ka", "id", ZSet.W), db.toDF("kb", ZSet.W))
        .as[(String, Long, String, Long)].collect().map { case (ka, id, kb, w) => (ka, id, kb) -> w }.toMap

    /** Add a step's deltas and output to the integrated state. */
    def integrate(da: Seq[(String, Long, Long)], db: Seq[(String, Long)],
        o: Map[(String, Long, String), Long]): Unit = {
      da.foreach { case (k, id, w) => a((k, id)) += w }
      db.foreach { case (k, w) => b(k) += w }
      o.foreach { case (k, w) => out(k) += w }
    }

    /** The integrated output against A ⋈ B recomputed from the deltas. */
    def assertRecomputed(): Unit = {
      val full = (for (((ka, id), wa) <- a.toSeq; (kb, wb) <- b.toSeq if wa != 0 && wb != 0 && ka <= kb)
        yield (ka, id, kb) -> wa * wb).toMap
      assert(out.filter(_._2 != 0).toMap == full)
    }

    /** Tier of every segment in the state directory. */
    def tiers: Set[Int] = stateNames(stateDir).collect { case s"$_-$_-$t" if t.forall(_.isDigit) => t.toInt }
  }

  test("incremental join: 40 steps with retractions across two merge tiers equal a full recompute") {
    val f = new JoinFixture(seed = 11)
    for (i <- 1 to 40) {
      val (da, db) = f.deltas()
      f.integrate(da, db, f.step(da, db))
      if (i % 10 == 0) f.assertRecomputed()
    }
    assert(f.tiers.max >= 2, s"expected a tier-2 segment: ${stateNames(f.stateDir)}")
    // a join reopened on the same directory continues from the committed state
    val (da, db) = f.deltas()
    f.integrate(da, db, f.step(da, db, f.open()))
    f.assertRecomputed()
  }

  test("incremental join: a crash before the pointer swap replays to the same output") {
    val f = new JoinFixture(seed = 5)
    for (_ <- 1 to 4) { val (da, db) = f.deltas(); f.integrate(da, db, f.step(da, db)) }
    // step 5 merges four tier-0 segments; then simulate a crash before its
    // pointer swap: CURRENT back on 4, with step 5's segments, manifest and a
    // torn extra segment left behind as residue
    val (da, db) = f.deltas()
    val first = f.step(da, db)
    val pointer = java.nio.file.Paths.get(s"${f.stateDir}/CURRENT")
    assert(Files.readString(pointer).trim == "5" && f.tiers.contains(1))
    Files.writeString(pointer, "4")
    val torn = java.nio.file.Paths.get(s"${f.stateDir}/b-5-2")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-0.parquet"), "torn")
    val replayed = f.step(da, db, f.open())
    assert(replayed == first && replayed.nonEmpty)
    assert(Files.readString(pointer).trim == "5" && !Files.exists(torn))
    f.integrate(da, db, replayed)
    for (_ <- 1 to 3) { val (da, db) = f.deltas(); f.integrate(da, db, f.step(da, db)) }
    f.assertRecomputed()
  }

  test("incremental join GC sweeps every orphaned segment and manifest") {
    val f = new JoinFixture(seed = 3)
    for (_ <- 1 to 3) { val (da, db) = f.deltas(); f.integrate(da, db, f.step(da, db)) }
    // orphans a fixed previous-version delete would never revisit: segments
    // and a manifest of versions no current or previous manifest lists
    val orphans = Seq("a-0-0", "b-1-3", "manifest-0")
    orphans.foreach { n =>
      val p = java.nio.file.Paths.get(s"${f.stateDir}/$n")
      if (n.startsWith("manifest")) Files.writeString(p, "a-0-0")
      else { Files.createDirectories(p); Files.writeString(p.resolve("part-0.parquet"), "x") }
    }
    val (da, db) = f.deltas()
    f.integrate(da, db, f.step(da, db))
    val names = stateNames(f.stateDir)
    assert(orphans.forall(n => !names.contains(n)), s"orphans left: $names")
    def listed(v: Int) = Files.readAllLines(java.nio.file.Paths.get(s"${f.stateDir}/manifest-$v"))
      .toArray.map(_.toString).toSet
    // exactly the segments of the current and previous manifests remain
    assert(names.filter(_.matches("[ab]-\\d+-\\d+")) == listed(4) ++ listed(3))
    assert(names.filter(_.startsWith("manifest-")) == Set("manifest-3", "manifest-4"))
    f.assertRecomputed()
  }

  test("streaming first-seen dedup: drops in-horizon re-arrivals, re-emits after eviction") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val deduped = StreamingDedup.firstSeen(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sd_out").start()
    try {
      in.addData(ts(10) -> "x", ts(10) -> "x") // same-batch dup
      q.processAllAvailable()
      in.addData(ts(11) -> "x", ts(12) -> "y") // in-horizon dup + new content
      q.processAllAvailable()
      val step1 = spark.table("sd_out").select("text").as[String].collect().toSeq
      assert(step1.sorted == Seq("x", "y"), s"dup must be dropped: $step1")
      // advance the watermark far past x's last-seen: state evicted
      in.addData(ts(100) -> "z")
      q.processAllAvailable()
      in.addData(ts(101) -> "x") // post-eviction re-arrival: re-emitted
      q.processAllAvailable()
      val step2 = spark.table("sd_out").select("text").as[String].collect().toSeq
      assert(step2.sorted == Seq("x", "x", "y", "z"),
        s"post-eviction re-arrival must re-emit (bounded-state contract): $step2")
    } finally q.stop()
  }

  test("streaming ingest pipeline: quality gate then first-seen dedup in one query") {
    // the streaming form of the batch q_pipeline_e2e front half: short docs
    // never reach the dedup state store (filter pushes ahead of the
    // stateful op), duplicates of surviving docs are dropped
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val gated = in.toDF().toDF("ts", "text")
      .filter(size(split(col("text"), " ")) >= 3)
    val q = graft.streaming.StreamingDedup.firstSeen(gated, "text", "ts", "10 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pipe_out").start()
    try {
      in.addData(
        ts(10) -> "keep me around please",  // passes gate
        ts(10) -> "short",                  // gated out
        ts(11) -> "keep me around please",  // dup of a survivor
        ts(12) -> "another doc that stays")
      q.processAllAvailable()
      val out = spark.table("pipe_out").select("text").as[String].collect().toSeq.sorted
      assert(out == Seq("another doc that stays", "keep me around please"), out.toString)
    } finally q.stop()
  }

  test("streaming domain cap: per-domain budget, batch hash order, reset after eviction") {
    val in = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val capped = graft.streaming.StreamingCaps.domainCapFirstSeen(
      in.toDF().toDF("ts", "doc_id", "dom"), "doc_id", "dom", "ts",
      delayMs = 10000L, maxPerDomain = 2)
    val q = capped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cap_out").start()
    try {
      // batch 1: domain a over budget (3 > 2), domain b under (1)
      in.addData((ts(10), 1L, "a"), (ts(10), 2L, "a"), (ts(10), 3L, "a"), (ts(10), 7L, "b"))
      q.processAllAvailable()
      val admitted1 = spark.table("cap_out").select("doc_id", "dom")
        .as[(Long, String)].collect().toSet
      // within the batch, admission follows the BATCH operator's order:
      // the 2 (splitmix64(id), id)-smallest of domain a
      val expectA = Seq(1L, 2L, 3L)
        .sortBy(id => (graft.llm.Hashing.splitmix64(id), id)).take(2).toSet
      assert(admitted1 == expectA.map(_ -> "a") + (7L -> "b"), s"got $admitted1")
      // batch 2, still in-horizon: domain a's budget is spent
      in.addData((ts(12), 4L, "a"), (ts(12), 8L, "b"))
      q.processAllAvailable()
      val admitted2 = spark.table("cap_out").select("doc_id").as[Long].collect().toSet
      assert(!admitted2.contains(4L), s"over-budget in-horizon row admitted: $admitted2")
      assert(admitted2.contains(8L), "domain b still under budget")
      // push the watermark far past the horizon: domain states evict
      in.addData((ts(100), 99L, "flush"))
      q.processAllAvailable()
      // fresh budget for domain a
      in.addData((ts(101), 5L, "a"))
      q.processAllAvailable()
      val admitted3 = spark.table("cap_out").select("doc_id").as[Long].collect().toSet
      assert(admitted3.contains(5L), s"post-eviction arrival must get a fresh budget: $admitted3")
    } finally q.stop()
  }

  test("streaming BPE encode: the batch tokenizer kernel runs unchanged on a stream") {
    // train on a static corpus, tokenize an unbounded feed with the same
    // broadcast merges+dict — the batch/stream unification the Dataset API
    // buys for every pure map-stage operator
    import graft.llm.Bpe
    val staticCorpus = Seq((1L, "ab ab ab abc")).toDF("doc_id", "text")
    val (merges, dict) = Bpe.train(staticCorpus, "text", numMerges = 4)
    val in = MemoryStream[(Long, String)](spark)
    val q = Bpe.encode(in.toDF().toDF("doc_id", "text"), "doc_id", "text", merges, dict)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("bpe_out").start()
    try {
      in.addData(10L -> "abc ab", 11L -> "abd")
      q.processAllAvailable()
      val got = spark.table("bpe_out").select("doc_id", "n_bpe_tokens")
        .as[(Long, Long)].collect().toMap
      // abc→1 token, ab→1 (dict hits); abd→(ab, d)=2 (unseen, merges applied)
      assert(got == Map(10L -> 2L, 11L -> 2L), s"got $got")
    } finally q.stop()
  }

  test("streaming NB quality filter: batch-trained weights score an unbounded feed") {
    // train pos/neg on static corpora, score the stream with the broadcast
    // model — the online form of model-based quality filtering; scores
    // must equal the batch scores for the same rows
    import graft.llm.QualityClassifier
    val pos = Seq((1L, "well written careful prose")).toDF("doc_id", "text")
    val neg = Seq((2L, "buy spam click now")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)](spark)
    val q = QualityClassifier.nbQualityFilter(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", pos, "text", neg, "text", buckets = 64)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nb_out").start()
    try {
      in.addData(10L -> "careful well written prose", 11L -> "spam click buy")
      q.processAllAvailable()
      val streamed = spark.table("nb_out")
        .select("doc_id", "logit_micronats", "score_micro", "keep")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      val batch = QualityClassifier.nbQualityFilter(
          Seq((10L, "careful well written prose"), (11L, "spam click buy"))
            .toDF("doc_id", "text"),
          "doc_id", "text", pos, "text", neg, "text", buckets = 64)
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.head._2 > streamed(1)._2) // pos-like outranks spam
    } finally q.stop()
  }

  test("streaming fuzzy first-seen: in-horizon typo variants suppressed, novel keys pass") {
    // the streaming twin of Fuzzy.editDistanceJoinShort: the batch join
    // (same deletion-variant keys) decides which strings SHOULD collide;
    // the stream must suppress exactly those within the horizon
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val base = "Customer#0001"
    val typo = "Customer#0002" // one substitution
    val novel = "Wombat#9999"
    import spark.implicits._
    // preflight the premise with the BATCH path
    val batchPairs = graft.llm.Fuzzy.editDistanceJoinShort(
        Seq((0L, base), (1L, typo), (2L, novel)).toDF("id", "s"), "id", "s", 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs === Set((0L, 1L)), s"fixture premise broken: $batchPairs")
    val out = StreamingDedup.fuzzyFirstSeen(
      in.toDF().toDF("ts", "name"), "name", "ts", "10 seconds", maxDist = 1)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fz_out").start()
    try {
      in.addData(ts(10) -> base)
      q.processAllAvailable()
      in.addData(ts(12) -> typo, ts(13) -> novel) // in-horizon: typo must drop
      q.processAllAvailable()
      // advance the watermark past the claims' horizon (the watermark
      // moves at batch END, so the flusher must land in its own batch
      // BEFORE the re-arrival), then a post-eviction re-arrival of the
      // typo must RE-EMIT (the documented bounded-horizon contract)
      in.addData(ts(100) -> "flusher far beyond every horizon")
      q.processAllAvailable()
      in.addData(ts(110) -> typo)
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher to close the re-arrival window")
      q.processAllAvailable()
      in.addData(ts(300) -> "third flusher to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("fz_out").select("name").as[String].collect().toSeq
      assert(got.count(_ == base) == 1, s"first arrival must pass once: $got")
      assert(got.contains(novel), s"novel key must pass: $got")
      assert(got.count(_ == typo) == 1,
        s"typo must drop in-horizon and re-emit after eviction: $got")
    } finally q.stop()
  }

  test("streaming fuzzy first-seen: SAME-batch near-dups arbitrate to the min-ts record") {
    // the r9 advice scenario: two typo variants land in ONE micro-batch.
    // Without deterministic arbitration, dropDuplicatesWithinWatermark can
    // split the variant claims between them and emit NEITHER; with
    // batchLocalFirstClaim the min event-time record must win all its
    // claims and pass, the other must be suppressed.
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val first = "Customer#0001"
    val typo = "Customer#0002" // distance 1 from first
    val novel = "Wombat#9999"
    import spark.implicits._
    val out = StreamingDedup.fuzzyFirstSeen(
      in.toDF().toDF("ts", "name"), "name", "ts", "10 seconds", maxDist = 1)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fz_sb_out").start()
    try {
      // all three in ONE batch — first and typo are near-dups of each other
      in.addData(ts(12) -> typo, ts(10) -> first, ts(13) -> novel)
      q.processAllAvailable()
      in.addData(ts(100) -> "flusher far beyond every horizon")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher to close the previous window")
      q.processAllAvailable()
      val got = spark.table("fz_sb_out").select("name").as[String].collect().toSeq
      assert(got.count(_ == first) == 1, s"min-ts arrival must pass exactly once: $got")
      assert(got.count(_ == typo) == 0, s"same-batch near-dup must be suppressed: $got")
      assert(got.count(_ == novel) == 1, s"novel key must pass: $got")
    } finally q.stop()
  }

  test("streaming LSH near-dup: SAME-batch near-dups arbitrate to the min-ts doc") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    val nearDup = base.replace("tonight", "today")
    val distinctDoc = "completely different content about spark shuffles partitions and codegen stages forever"
    import spark.implicits._
    val out = StreamingDedup.nearDupFirstSeen(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nd_sb_out").start()
    try {
      in.addData(ts(12) -> nearDup, ts(10) -> base, ts(13) -> distinctDoc) // one batch
      q.processAllAvailable()
      in.addData(ts(100) -> "window flusher far in the future beyond every horizon boundary now")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher even further out to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("nd_sb_out").select("text").as[String].collect().toSet
      assert(got.contains(base), s"min-ts arrival must pass: $got")
      assert(!got.contains(nearDup), s"same-batch near-dup must be suppressed: $got")
      assert(got.contains(distinctDoc), s"novel doc must pass: $got")
    } finally q.stop()
  }

  test("streaming LSH near-dup: in-horizon near-duplicates suppressed, novel docs pass") {
    // the streaming twin of minhashPairs: batch LSH (same kernel, same band
    // hashing) decides which docs SHOULD collide; the stream must suppress
    // exactly those within the horizon
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    val nearDup = base.replace("tonight", "today") // one-token edit: shares most bands
    val distinctDoc = "completely different content about spark shuffles partitions and codegen stages forever"
    // preflight the premise with the BATCH path: base/nearDup must collide,
    // base/distinctDoc must not
    import spark.implicits._
    val batchPairs = graft.llm.Dedup.candidatePairIds(
      Seq((0L, base), (1L, nearDup), (2L, distinctDoc)).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(batchPairs.contains((0L, 1L)) && !batchPairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"fixture premise broken: $batchPairs")
    val out = StreamingDedup.nearDupFirstSeen(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nd_out").start()
    try {
      in.addData(ts(10) -> base)
      q.processAllAvailable()
      in.addData(ts(12) -> nearDup, ts(13) -> distinctDoc) // in-horizon: near-dup must drop
      q.processAllAvailable()
      // windowed stage emits only once the watermark passes: push it far ahead
      in.addData(ts(100) -> "window flusher far in the future beyond every horizon boundary now")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher even further out to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("nd_out").select("text").as[String].collect().toSet
      assert(got.contains(base), s"first arrival must pass: $got")
      assert(got.contains(distinctDoc), s"novel doc must pass: $got")
      assert(!got.contains(nearDup), s"in-horizon near-dup must be suppressed: $got")
    } finally q.stop()
  }

  test("streaming image near-dup: perceptually-close images suppressed, undecodable pass through") {
    import graft.llm.Multimodal
    val in = MemoryStream[(java.sql.Timestamp, Array[Byte])](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rnd = new scala.util.Random(5)
    val basePx = Array.fill(18 * 16)(rnd.nextInt(256))
    val nearPx = basePx.clone() // one corner cell perturbed: Hamming <= 1
    for (y <- 0 until 2; x <- 0 until 2)
      nearPx(y * 18 + x) = math.min(nearPx(y * 18 + x) + 120, 255)
    val farPx = Array.fill(18 * 16)(rnd.nextInt(256))
    val base = Multimodal.syntheticBmpPixels(18, 16, basePx)
    // the near-dup arrives as a PNG (r11): a re-encoded container must
    // still be suppressed — the stream kernel decodes all real formats
    val near = Multimodal.syntheticPngPixels(18, 16, nearPx, colorType = 2,
      rowFilters = Seq(1, 4, 2))
    // a second re-export of the same image as WebP-lossless (r14): the
    // VP8L decode rides the same shared kernel, so it too must suppress
    val nearWebp = graft.llm.Vp8l.syntheticWebpGray(18, 16, nearPx, variant = 1)
    val far = Multimodal.syntheticGifPixels(18, 16, farPx)
    val garbage = "not an image at all".getBytes("US-ASCII")
    // batch premise: base/near must pair ACROSS containers, base/far must not
    import spark.implicits._
    val batchPairs = Multimodal.imageNearDupPairs(Seq(
        Multimodal.Media(0L, base, "image/bmp"), Multimodal.Media(1L, near, "image/png"),
        Multimodal.Media(2L, far, "image/gif"),
        Multimodal.Media(3L, nearWebp, "image/webp")).toDS(), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs.contains((0L, 1L)) && batchPairs.contains((0L, 3L)) &&
      !batchPairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"fixture premise broken: $batchPairs")
    val out = StreamingDedup.imageNearDupFirstSeen(
      in.toDF().toDF("ts", "media"), "media", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("img_out").start()
    try {
      in.addData(ts(10) -> base, ts(11) -> garbage)
      q.processAllAvailable()
      in.addData(ts(12) -> near, ts(13) -> far) // in-horizon: near must drop
      q.processAllAvailable()
      in.addData(ts(14) -> nearWebp) // in-horizon webp re-export: drop too
      q.processAllAvailable()
      in.addData(ts(100) -> Multimodal.syntheticBmpPixels(18, 16,
        Array.fill(18 * 16)(7))) // window flusher
      q.processAllAvailable()
      in.addData(ts(200) -> Multimodal.syntheticBmpPixels(18, 16,
        Array.fill(18 * 16)(99))) // second flusher closes the previous window
      q.processAllAvailable()
      val got = spark.table("img_out").select("media").as[Array[Byte]].collect()
        .map(_.toSeq).toSet
      assert(got.contains(base.toSeq), "first arrival must pass")
      assert(!got.contains(near.toSeq), "in-horizon near-dup must be suppressed")
      assert(!got.contains(nearWebp.toSeq), "webp re-export must be suppressed")
      assert(got.contains(far.toSeq), "distinct image must pass")
      assert(got.contains(garbage.toSeq), "undecodable media must pass through")
    } finally q.stop()
  }

  test("streaming audio near-dup: close envelopes suppressed, non-PCM passes through") {
    import graft.llm.Multimodal
    val in = MemoryStream[(java.sql.Timestamp, Array[Byte])](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rnd = new scala.util.Random(23)
    val basePcm = Array.fill(1950)(rnd.nextInt(4001) - 2000)
    val nearPcm = basePcm.zipWithIndex.map { case (s, j) => if (j < 30) s + 900 else s }
    val farPcm = Array.fill(1950)(rnd.nextInt(4001) - 2000)
    import spark.implicits._
    // the near-dup arrives as a FLAC (r11): a re-encoded container must
    // still be suppressed — the stream kernel decodes all real formats
    val nearFlac = graft.llm.Flac.synthetic(8000, nearPcm, blockSize = 256)
    // batch premise: base/near pair ACROSS containers, base/far don't
    val batchPairs = Multimodal.audioNearDupPairs(Seq(
        Multimodal.Media(0L, Multimodal.syntheticWavPcm(8000, basePcm), "audio/wav"),
        Multimodal.Media(1L, nearFlac, "audio/flac"),
        Multimodal.Media(2L, Multimodal.syntheticWavPcm(8000, farPcm), "audio/wav")).toDS(),
        maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs.contains((0L, 1L)) && !batchPairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"fixture premise broken: $batchPairs")
    val out = StreamingDedup.audioNearDupFirstSeen(
      in.toDF().toDF("ts", "media"), "media", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("aud_out").start()
    try {
      val garbage = "definitely not audio".getBytes("US-ASCII")
      in.addData(ts(10) -> Multimodal.syntheticWavPcm(8000, basePcm), ts(11) -> garbage)
      q.processAllAvailable()
      in.addData(ts(12) -> nearFlac,
        ts(13) -> Multimodal.syntheticWavPcm(8000, farPcm))
      q.processAllAvailable()
      in.addData(ts(100) -> Multimodal.syntheticWavPcm(8000, Array.fill(1950)(7)))
      q.processAllAvailable()
      in.addData(ts(200) -> Multimodal.syntheticWavPcm(8000, Array.fill(1950)(99)))
      q.processAllAvailable()
      val got = spark.table("aud_out").select("media").as[Array[Byte]].collect()
        .map(_.toSeq).toSet
      assert(got.contains(Multimodal.syntheticWavPcm(8000, basePcm).toSeq), "first passes")
      assert(!got.contains(nearFlac.toSeq), "re-encoded near-dup suppressed")
      assert(got.contains(Multimodal.syntheticWavPcm(8000, farPcm).toSeq), "distinct passes")
      assert(got.contains(garbage.toSeq), "non-PCM passes through")
    } finally q.stop()
  }

  test("streaming video near-dup: frame-hash threshold suppresses copies, unrelated passes") {
    import graft.llm.Multimodal
    val in = MemoryStream[(java.sql.Timestamp, Array[Byte])](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rnd = new scala.util.Random(29)
    val base12 = (0 until 12).map(_ => Array.fill(18 * 16)(rnd.nextInt(256)))
    val oneOff = base12.updated(5, Array.fill(18 * 16)(rnd.nextInt(256)))
    val other12 = (0 until 12).map(_ => Array.fill(18 * 16)(rnd.nextInt(256)))
    val baseV = Multimodal.syntheticY4m(18, 16, base12)
    // the copy arrives RE-CONTAINERED as an animated GIF (r11): frame
    // hashes must match across the Y4M/GIF boundary for suppression
    val nearV = Multimodal.syntheticGifAnimated(18, 16, oneOff)
    val farV = Multimodal.syntheticY4m(18, 16, other12)
    import spark.implicits._
    // batch premise: base/near pair at minShared 8, base/far don't
    val batchPairs = Multimodal.videoNearDupPairs(Seq(
        Multimodal.Media(0L, baseV, "v"), Multimodal.Media(1L, nearV, "v"),
        Multimodal.Media(2L, farV, "v")).toDS(), sampleFrames = 12, minShared = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs.contains((0L, 1L)) && !batchPairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"fixture premise broken: $batchPairs")
    val out = StreamingDedup.videoNearDupFirstSeen(
      in.toDF().toDF("ts", "media"), "media", "ts", "10 seconds",
      sampleFrames = 12, minShared = 8)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vid_out").start()
    try {
      val garbage = "not a video".getBytes("US-ASCII")
      in.addData(ts(10) -> baseV, ts(11) -> garbage)
      q.processAllAvailable()
      in.addData(ts(12) -> nearV, ts(13) -> farV) // 11 shared >= 8: suppress
      q.processAllAvailable()
      in.addData(ts(100) -> Multimodal.syntheticY4m(18, 16,
        (0 until 12).map(_ => Array.fill(18 * 16)(3))))
      q.processAllAvailable()
      in.addData(ts(200) -> Multimodal.syntheticY4m(18, 16,
        (0 until 12).map(_ => Array.fill(18 * 16)(250))))
      q.processAllAvailable()
      val got = spark.table("vid_out").select("media").as[Array[Byte]].collect()
        .map(_.toSeq).toSet
      assert(got.contains(baseV.toSeq), "first passes")
      assert(!got.contains(nearV.toSeq), "11-of-12-shared copy suppressed")
      assert(got.contains(farV.toSeq), "unrelated passes (shares < 8)")
      assert(got.contains(garbage.toSeq), "undecodable passes through")
      // r12: the copy arrives DELTA-ENCODED (keyframe + sub-rect deltas,
      // the GIF-optimizer output shape) — the compositor must land on
      // the same frame hashes as the Y4M original for suppression
      // non-monotone content: a row-monotone gradient dHashes to 0 and
      // would collide with the flat videos above
      val keyframe = Array.tabulate(18 * 16)(i => (i * 97 + 13) % 251)
      val content12 = (0 until 12).map { j =>
        val f = keyframe.clone()
        for (y <- 3 until 8; x <- 4 until 10) f(y * 18 + x) = (j * 19 + x + y) % 255
        f
      }
      val y4mD = Multimodal.syntheticY4m(18, 16, content12)
      val deltaGif = Multimodal.syntheticGifAnimatedDeltas(18, 16,
        (0, 0, 18, 16, content12(0).map(identity), 0) +:
          (1 until 12).map(j => (4, 3, 6, 5,
            Array.tabulate(30)(i => (j * 19 + (4 + i % 6) + (3 + i / 6)) % 255), 0)))
      in.addData(ts(300) -> y4mD)
      q.processAllAvailable()
      in.addData(ts(301) -> deltaGif)
      q.processAllAvailable()
      // a later decodable event advances the watermark past the [300,310)
      // claim window — Append-mode aggregates only emit on window close
      in.addData(ts(400) -> Multimodal.syntheticY4m(18, 16,
        (0 until 12).map(_ => Array.fill(18 * 16)(77))))
      q.processAllAvailable()
      val got2 = spark.table("vid_out").select("media").as[Array[Byte]].collect()
        .map(_.toSeq).toSet
      assert(got2.contains(y4mD.toSeq), "delta premise: the Y4M original passes")
      assert(!got2.contains(deltaGif.toSeq),
        "delta-encoded GIF copy suppressed across the container boundary")
    } finally q.stop()
  }

  test("streaming SimHash near-dup: band-colliding docs suppressed in-horizon") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    val nearDup = base.replace("tonight", "today")
    val distinctDoc = "completely different content about spark shuffles partitions and codegen stages forever"
    // batch premise: near-dup within Hamming<=3 band-collides, distinct doesn't
    import spark.implicits._
    val pairs = graft.llm.Dedup.simhashPairs(
      Seq((0L, base), (1L, nearDup), (2L, distinctDoc)).toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && !pairs.exists(p => p._1 == 2L || p._2 == 2L), pairs.toString)
    val out = StreamingDedup.nearDupFirstSeenSimhash(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nds_out").start()
    try {
      in.addData(ts(10) -> base)
      q.processAllAvailable()
      in.addData(ts(12) -> nearDup, ts(13) -> distinctDoc)
      q.processAllAvailable()
      in.addData(ts(100) -> "window flusher far in the future beyond every horizon boundary now")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher even further out to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("nds_out").select("text").as[String].collect().toSet
      assert(got.contains(base) && got.contains(distinctDoc) && !got.contains(nearDup), got.toString)
    } finally q.stop()
  }

  test("streaming SimHash near-dup: null text passes through instead of failing the query") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val doc = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    val out = StreamingDedup.nearDupFirstSeenSimhash(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nds_null_out").start()
    try {
      in.addData(ts(10) -> doc, ts(11) -> null)
      q.processAllAvailable()
      in.addData(ts(12) -> null)
      q.processAllAvailable()
      in.addData(ts(100) -> "window flusher far in the future beyond every horizon boundary now")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher even further out to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("nds_null_out").select("text").as[String].collect().toSeq
      assert(got.count(_ == null) == 2, s"every null text must pass through: $got")
      assert(got.count(_ == doc) == 1, s"the document must pass once: $got")
    } finally q.stop()
  }

  test("streaming LSH near-dup: null texts pass through, no shared null bucket suppresses them") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val out = StreamingDedup.nearDupFirstSeen(
      in.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nd_null_out").start()
    try {
      in.addData(ts(10) -> null)
      q.processAllAvailable()
      in.addData(ts(12) -> null, ts(13) -> null) // in-horizon: must not be suppressed
      q.processAllAvailable()
      in.addData(ts(100) -> "window flusher far in the future beyond every horizon boundary now")
      q.processAllAvailable()
      in.addData(ts(200) -> "second flusher even further out to close the previous window too")
      q.processAllAvailable()
      val got = spark.table("nd_null_out").select("text").as[String].collect().toSeq
      assert(got.count(_ == null) == 3, s"every null text must pass through: $got")
    } finally q.stop()
  }

  test("streaming LSH near-dup: input columns named band and bh are carried, not confused with claims") {
    val in = MemoryStream[(java.sql.Timestamp, String, Int, Long)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    val nearDup = base.replace("tonight", "today")
    val distinctDoc = "completely different content about spark shuffles partitions and codegen stages forever"
    val out = StreamingDedup.nearDupFirstSeen(
      in.toDF().toDF("ts", "text", "band", "bh"), "text", "ts", "10 seconds")
    assert(out.columns.toSeq == Seq("ts", "text", "band", "bh"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("nd_cols_out").start()
    try {
      in.addData((ts(10), base, 7, 70L))
      q.processAllAvailable()
      in.addData((ts(12), nearDup, 8, 80L), (ts(13), distinctDoc, 9, 90L))
      q.processAllAvailable()
      in.addData((ts(100), "window flusher far in the future beyond every horizon boundary now", 0, 0L))
      q.processAllAvailable()
      in.addData((ts(200), "second flusher even further out to close the previous window too", 0, 0L))
      q.processAllAvailable()
      val got = spark.table("nd_cols_out").select("text", "band", "bh")
        .as[(String, Int, Long)].collect().toSet
      assert(got.contains((base, 7, 70L)) && got.contains((distinctDoc, 9, 90L)), got.toString)
      assert(!got.exists(_._1 == nearDup), got.toString)
    } finally q.stop()
  }

  test("CDC end-to-end: retraction distinct -> debezium out -> demux, across a checkpoint restart") {
    // the reference's full to_debezium lifecycle (streams.py:133-166,
    // test_streams.py:223-228): a weighted delta stream becomes a CDC
    // stream; the run is stopped and restarted from its checkpoint, state
    // intact, without re-emitting batch-1 envelopes; the integrated CDC
    // stream must reconcile to the batch Z-set distinct of ALL input.
    import graft.streams.{Debezium, ZSet}
    val fs = new graft.storage.FileStorage(spark, Files.createTempDirectory("graft_fs_cdc").toString)
    fs.createTopic("cdc_in", 2)
    val checkpoint = ckpt()
    val cdc = collection.mutable.ArrayBuffer[(String, String, Long)]() // (record, op, multiplicity)
    def produce(rows: (String, String)*): Unit =
      fs.produce("cdc_in", rows.toSeq.toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(1700000000000L))))
    def run(): Unit = {
      // value = "<record>:<weight>" — parse, distinct with retractions, wrap as CDC
      val deltas = fs.readStream("cdc_in").select(
        split(col("value"), ":").getItem(0).as("rec"),
        split(col("value"), ":").getItem(1).cast("long").as(ZSet.W))
      val envelopes = Debezium.toDebeziumStream(
        graft.streaming.RetractionDistinct.overFrame(deltas).toDF()
          .withColumnRenamed("record", "rec_json").withColumnRenamed("weight", ZSet.W))
      val q = Runner.demux(
        envelopes,
        Seq(
          ("creates", col("op") === "c", (d: org.apache.spark.sql.DataFrame) => cdc.synchronized {
            cdc ++= d.select("rec_json", "op", "multiplicity")
              .as[(String, String, Long)].collect()
          }),
          ("deletes", col("op") === "d", (d: org.apache.spark.sql.DataFrame) => cdc.synchronized {
            cdc ++= d.select("rec_json", "op", "multiplicity")
              .as[(String, String, Long)].collect()
          })),
        checkpoint, org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(120000)
      q.stop()
    }
    produce("r1" -> "r1:1", "r1" -> "r1:1", "r2" -> "r2:1")
    run() // batch 1: r1 appears (+2 integrates to presence), r2 appears
    assert(cdc.toSet == Set(
      ("""{"rec":"r1"}""", "c", 1L), ("""{"rec":"r2"}""", "c", 1L)))
    produce("r1" -> "r1:-2", "r3" -> "r3:1")
    run() // restart from checkpoint: r1 flips out (state restored), r3 appears
    val byRecord = cdc.groupBy(identity).view.mapValues(_.size).toMap
    assert(byRecord.values.forall(_ == 1), s"restart re-emitted envelopes: $cdc")
    assert(cdc.toSet == Set(
      ("""{"rec":"r1"}""", "c", 1L), ("""{"rec":"r2"}""", "c", 1L),
      ("""{"rec":"r1"}""", "d", 1L), ("""{"rec":"r3"}""", "c", 1L)))
    // reconciliation: integrate the CDC stream back through from_debezium
    // semantics and compare with the batch distinct over ALL input deltas
    val integrated = ZSet.consolidate(
      cdc.toSeq.toDF("rec_json", "op", "multiplicity")
        .select(get_json_object(col("rec_json"), "$.rec").as("rec"),
          (when(col("op") === "c", 1L).otherwise(-1L) * col("multiplicity")).as(ZSet.W)))
      .as[(String, Long)].collect().toSet
    val batch = ZSet.distinct(
      Seq(("r1", 1L), ("r1", 1L), ("r2", 1L), ("r1", -2L), ("r3", 1L)).toDF("rec", ZSet.W))
      .as[(String, Long)].collect().toSet
    assert(integrated == batch, s"CDC stream does not reconcile: cdc=$integrated batch=$batch")
  }

  test("retraction windows: interleaved +1/-1 feeds correct the window across a checkpoint restart") {
    // SURVEY §7.4's last stretch item: a windowed sum that consumes ±w
    // deltas — a retraction inside the horizon CORRECTS its window. The
    // run stops and restarts from its checkpoint mid-stream (state must
    // survive), and the watermark horizon must drop window state after
    // the window can no longer change (the state plateau).
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSum}
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_rw").toString)
    fs.createTopic("rw_in", 2)
    val checkpoint = ckpt()
    val size = 60000L
    val delay = 120000L
    val base = 1700000000000L / size * size
    val out = collection.mutable.ArrayBuffer[WinSum]()
    var lastStateRows = -1L
    def produce(rows: (String, Long, Long, Long)*): Unit =
      fs.produce("rw_in", rows.toSeq.map { case (k, ts, v, w) => (k, s"$ts:$v:$w") }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(1700000000000L))))
    def run(): Unit = {
      val deltas = fs.readStream("rw_in").select(
          col("key").cast("string").as("key"),
          split(col("value"), ":").getItem(0).cast("long").as("tsMs"),
          split(col("value"), ":").getItem(1).cast("long").as("value"),
          split(col("value"), ":").getItem(2).cast("long").as("weight"))
        .as[WinDelta]
      val q = RetractionWindow.tumblingSum(deltas, size, delay)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.Dataset[WinSum], _: Long) =>
          out.synchronized { out ++= d.collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      lastStateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      q.stop()
    }
    // run 1: inserts into window [base, base+60s)
    produce(("x", base + 1000, 10, 1), ("x", base + 2000, 20, 1), ("y", base + 3000, 7, 1))
    run()
    assert(out.filter(_.key == "x").map(w => (w.sumValue, w.n)) == Seq((30L, 2L)),
      s"run1 x: $out")
    assert(out.filter(_.key == "y").map(w => (w.sumValue, w.n)) == Seq((7L, 1L)))
    // run 2: restart from checkpoint — a retraction corrects the RESTORED state
    produce(("x", base + 1000, 10, -1))
    run()
    assert(out.filter(_.key == "x").map(w => (w.sumValue, w.n)) == Seq((30L, 2L), (20L, 1L)),
      s"run2 must correct restored state without re-emitting run1: $out")
    // run 3: retract the remaining x delta — the window zeroes out (the
    // Z-set absent correction) and its state drops immediately
    produce(("x", base + 2000, 20, -1))
    run()
    val xs = out.filter(_.key == "x").map(w => (w.sumValue, w.n))
    assert(xs == Seq((30L, 2L), (20L, 1L), (0L, 0L)), s"x history: $xs")
    // run 4: an insert far in the future advances the watermark past
    // window 1's horizon; run 5's batch then fires y's event-time timeout
    produce(("z", base + size * 6, 3, 1))
    run()
    produce(("z", base + size * 6 + 1000, 3, 1))
    run()
    assert(out.filter(_.key == "z").map(w => (w.sumValue, w.n)) == Seq((3L, 1L), (6L, 2L)))
    // state plateau: y dropped by the horizon timeout, x dropped at zero —
    // only z's live window remains
    assert(lastStateRows == 1L, s"state did not plateau: $lastStateRows rows")
    // final per-(key,window) picture = the batch windowed Z-set sum of ALL deltas
    val last = out.groupBy(w => (w.key, w.windowEndMs)).map(_._2.last)
      .filterNot(w => w.sumValue == 0 && w.n == 0).toSet
    assert(last == Set(WinSum("y", base + size, 7, 1), WinSum("z", base + size * 7, 6, 2)))
  }

  test("retraction hopping windows: one retraction corrects every overlapping window") {
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSum}
    val hop = 60000L
    val size = 2 * hop // each delta falls in 2 windows
    val base = 1700000000000L / hop * hop
    val in = MemoryStream[WinDelta](spark)
    val q = RetractionWindow.hoppingSum(in.toDS(), size, hop, delayMs = 600000L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rw_hop_out").start()
    try {
      in.addData(WinDelta("x", base + 1000, 10, 1), WinDelta("x", base + hop + 1000, 5, 1))
      q.processAllAvailable()
      // t0 covers windows ending at base+hop and base+2hop; t1 covers
      // base+2hop and base+3hop → the middle window holds both
      def rows() = spark.table("rw_hop_out").as[WinSum].collect().toSeq
      assert(rows().toSet == Set(
        WinSum("x", base + hop, 10, 1), WinSum("x", base + 2 * hop, 15, 2),
        WinSum("x", base + 3 * hop, 5, 1)))
      // retract the first delta: BOTH of its windows must re-emit corrected
      in.addData(WinDelta("x", base + 1000, 10, -1))
      q.processAllAvailable()
      val after = rows().drop(3)
      assert(after.toSet == Set(
        WinSum("x", base + hop, 0, 0), WinSum("x", base + 2 * hop, 5, 1)),
        s"corrections: $after")
    } finally q.stop()
  }

  test("retraction cumulative windows: a retraction corrects every expanding window") {
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSum}
    val advance = 60000L
    val period = 3 * advance
    val base = 1700000000000L / period * period
    val in = MemoryStream[WinDelta](spark)
    val q = RetractionWindow.cumulativeSum(in.toDS(), period, advance, delayMs = 600000L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rw_cum_out").start()
    try {
      // slot 0 of the period: covers window ends at +1, +2, +3 advances
      in.addData(WinDelta("x", base + 1000, 10, 1))
      q.processAllAvailable()
      def rows() = spark.table("rw_cum_out").as[WinSum].collect().toSeq
      assert(rows().toSet == (1 to 3).map(j => WinSum("x", base + j * advance, 10, 1)).toSet)
      // slot 1 delta covers ends +2, +3 only (expanding windows)
      in.addData(WinDelta("x", base + advance + 1000, 5, 1))
      q.processAllAvailable()
      assert(rows().drop(3).toSet == Set(
        WinSum("x", base + 2 * advance, 15, 2), WinSum("x", base + 3 * advance, 15, 2)))
      // retract the slot-0 delta: ALL THREE of its windows re-emit corrected
      in.addData(WinDelta("x", base + 1000, 10, -1))
      q.processAllAvailable()
      assert(rows().drop(5).toSet == Set(
        WinSum("x", base + advance, 0, 0),
        WinSum("x", base + 2 * advance, 5, 1), WinSum("x", base + 3 * advance, 5, 1)))
    } finally q.stop()
  }

  test("retraction sliding windows: data-dependent anchors, retraction corrects overlapping records") {
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSlide}
    val size = 60000L
    val base = 1700000000000L
    val in = MemoryStream[WinDelta](spark)
    val q = RetractionWindow.slidingSum(in.toDS(), size, delayMs = 600000L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rw_slide_out").start()
    try {
      // three anchors; t0 and t1 within one size of each other, t2 beyond
      val (t0, t1, t2) = (base + 1000, base + 30000, base + 100000)
      in.addData(WinDelta("x", t0, 10, 1), WinDelta("x", t1, 5, 1),
        WinDelta("x", t2, 3, 1))
      q.processAllAvailable()
      def rows() = spark.table("rw_slide_out").as[WinSlide].collect().toSeq
      // anchor t0's window [t0, t0+size] holds t0+t1; t1's holds t1 only
      // (t2 − t1 > size); t2's holds t2
      assert(rows().toSet == Set(
        WinSlide("x", t0, t0 + size, 15, 2), WinSlide("x", t1, t1 + size, 5, 1),
        WinSlide("x", t2, t2 + size, 3, 1)))
      // retract t1: its own anchor zeroes out (absent correction) AND the
      // t0 anchor whose window contained it re-emits corrected; t2 silent
      in.addData(WinDelta("x", t1, 5, -1))
      q.processAllAvailable()
      val after = rows().drop(3)
      assert(after.toSet == Set(
        WinSlide("x", t0, t0 + size, 10, 1), WinSlide("x", t1, t1 + size, 0, 0)),
        s"corrections: $after")
      // a new record INSIDE t0's and t2's... only t2's range corrects t2;
      // it also opens its own anchor (forward-looking window: holds itself)
      val t3 = t2 + 10000
      in.addData(WinDelta("x", t3, 7, 1))
      q.processAllAvailable()
      assert(rows().drop(5).toSet == Set(
        WinSlide("x", t2, t2 + size, 10, 2), WinSlide("x", t3, t3 + size, 7, 1)))
      // final upsert picture (latest row per anchor, zeroed dropped) equals
      // the batch per-record sliding aggregation of the integrated deltas
      val last = rows().groupBy(w => (w.key, w.tsMs)).map(_._2.last)
        .filterNot(w => w.sumValue == 0 && w.n == 0).toSet
      assert(last == Set(
        WinSlide("x", t0, t0 + size, 10, 1), WinSlide("x", t2, t2 + size, 10, 2),
        WinSlide("x", t3, t3 + size, 7, 1)))
    } finally q.stop()
  }

  test("effectively-once sink: crash between sink write and checkpoint commit replays into a skip") {
    // SURVEY §7.4 item 5 — the reference's checkpoint-then-commit
    // (streams.py:260-271) maps to SS checkpoints + an idempotent sink.
    // Simulate the crash window: the batch lands at the sink (buffer +
    // commit marker), then the query dies BEFORE Spark records the batch
    // in its checkpoint. The restart replays the same batch id;
    // EffectivelyOnce must turn the replay into a no-op.
    import graft.streaming.EffectivelyOnce
    val in = MemoryStream[Int](spark)
    val checkpoint = ckpt()
    val commitLog = Files.createTempDirectory("graft_eo_commits").toString
    val sunk = collection.mutable.ArrayBuffer[Int]()
    @volatile var crashAfterSink = false
    val wrapped = EffectivelyOnce.skipCommitted(commitLog) { (d, _) =>
      sunk.synchronized { sunk ++= d.collect().map(_.getInt(0)) }
    }
    def start() = in.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, bid: Long) =>
        wrapped(d, bid)
        // the crash window: sink write AND commit marker done, Spark's own
        // checkpoint commit for the batch not yet — the restart replays
        if (crashAfterSink) throw new RuntimeException("crash after sink commit")
      }
      .start()
    val q1 = start()
    try { in.addData(1, 2); q1.processAllAvailable() } finally q1.stop()
    assert(sunk.sorted == Seq(1, 2))
    // batch 2 lands at the sink, then the query dies pre-checkpoint
    crashAfterSink = true
    val q2 = start()
    in.addData(3, 4)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination()
    }
    assert(sunk.sorted == Seq(1, 2, 3, 4), s"sink missed the crashed batch: $sunk")
    // restart: Spark replays the uncommitted batch — the marker skips it,
    // and fresh data still flows
    crashAfterSink = false
    val q3 = start()
    try {
      in.addData(5)
      q3.processAllAvailable()
    } finally q3.stop()
    assert(sunk.sorted == Seq(1, 2, 3, 4, 5),
      s"replayed batch must not double-deliver: ${sunk.sorted}")
  }

  test("native stream-stream equi-join: event-time bounds, watermark drop, state cleanup") {
    // SURVEY §2.5 maps the reference's streaming join_equi
    // (topologynode.py:362-421) to Spark's NATIVE stream-stream equi-join:
    // equi-key plus an event-time range condition, watermarks on BOTH
    // sides so join state is evictable. IncrementalJoin covers theta via
    // foreachBatch; this exercises the built-in operator end-to-end over
    // file-backed topics: in-window matches emit, out-of-window pairs
    // don't, a row below the global watermark is dropped, and state stays
    // horizon-bounded instead of stream-bounded.
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_ssj").toString)
    fs.createTopic("ssj_imp", 2)
    fs.createTopic("ssj_clk", 2)
    val checkpoint = ckpt()
    val t0 = 1700000000000L
    val hour = 3600000L
    val out = collection.mutable.ArrayBuffer[(String, Long, Long)]()
    var lastStateRows = -1L
    def produce(topic: String, rows: (String, Long)*): Unit =
      fs.produce(topic, rows.toSeq.map { case (k, ts) => (k, ts.toString) }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(t0))))
    def run(): Unit = {
      def side(topic: String, ad: String, ts: String) =
        fs.readStream(topic).select(
            col("key").cast("string").as(ad),
            timestamp_millis(col("value").cast("long")).as(ts))
          .withWatermark(ts, "10 minutes")
      val joined = side("ssj_imp", "ad", "impTs")
        .join(side("ssj_clk", "c_ad", "clkTs"),
          col("ad") === col("c_ad") &&
            col("clkTs") >= col("impTs") &&
            col("clkTs") <= col("impTs") + expr("interval 1 hour"))
        .select(col("ad"), unix_millis(col("impTs")), unix_millis(col("clkTs")))
      val q = joined.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= d.as[(String, Long, Long)].collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      lastStateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      q.stop()
    }
    // run 1: ad1 click lands inside [imp, imp+1h] → match; ad2's click is
    // 2h after its impression → outside the window, no match; ad0 click
    // has no impression at all
    produce("ssj_imp", ("ad1", t0), ("ad2", t0 + 5000))
    produce("ssj_clk", ("ad1", t0 + 30000), ("ad2", t0 + 2 * hour), ("ad0", t0 + 10000))
    run()
    assert(out.toSet == Set(("ad1", t0, t0 + 30000)), s"run1: $out")
    // run 2: both sides jump 3h ahead → the GLOBAL watermark (min of the
    // two sides) advances past t0 + 1h; the fresh pair matches
    produce("ssj_imp", ("ad3", t0 + 3 * hour))
    produce("ssj_clk", ("ad3", t0 + 3 * hour + 1000))
    run()
    assert(out.drop(1).toSet == Set(("ad3", t0 + 3 * hour, t0 + 3 * hour + 1000)),
      s"run2: ${out.drop(1)}")
    // run 3: a click for ad2 that WOULD match its impression time-wise is
    // now below the watermark → dropped, no resurrection; a live pair
    // still matches
    produce("ssj_imp", ("ad4", t0 + 3 * hour + 300000))
    produce("ssj_clk", ("ad2", t0 + 40000), ("ad4", t0 + 3 * hour + 360000))
    run()
    assert(out.drop(2).toSet == Set(
      ("ad4", t0 + 3 * hour + 300000, t0 + 3 * hour + 360000)),
      s"run3 must drop the too-late ad2 click: ${out.drop(2)}")
    // horizon-bounded state: run-1's imps/clicks are past every eviction
    // bound by run 3 — only the recent pairs' rows remain (2 imps + 2
    // clicks at most), not the 9 rows ever produced
    assert(lastStateRows > 0 && lastStateRows <= 4,
      s"join state not horizon-bounded: $lastStateRows rows")
  }

  test("native stream-stream LEFT OUTER join: matches emit live, null-extension waits for the watermark") {
    // the outer-join completion of the equi-join mapping: an unmatched
    // left row cannot emit its null-extended form until the watermark
    // proves no match can still arrive — Spark holds it in state until
    // the event-time bound expires, then emits (ad, impTs, NULL). This is
    // the semantics a batch left join gives for free and a stream must
    // buy with the horizon; asserting both halves (live match, delayed
    // null) pins the contract.
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_ssoj").toString)
    fs.createTopic("ssoj_imp", 2)
    fs.createTopic("ssoj_clk", 2)
    val checkpoint = ckpt()
    val t0 = 1700000000000L
    val hour = 3600000L
    val out = collection.mutable.ArrayBuffer[(String, Long, Option[Long])]()
    def produce(topic: String, rows: (String, Long)*): Unit =
      fs.produce(topic, rows.toSeq.map { case (k, ts) => (k, ts.toString) }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(t0))))
    def run(): Unit = {
      def side(topic: String, ad: String, ts: String) =
        fs.readStream(topic).select(
            col("key").cast("string").as(ad),
            timestamp_millis(col("value").cast("long")).as(ts))
          .withWatermark(ts, "10 minutes")
      val joined = side("ssoj_imp", "ad", "impTs")
        .join(side("ssoj_clk", "c_ad", "clkTs"),
          col("ad") === col("c_ad") &&
            col("clkTs") >= col("impTs") &&
            col("clkTs") <= col("impTs") + expr("interval 1 hour"),
          "leftOuter")
        .select(col("ad"), unix_millis(col("impTs")), unix_millis(col("clkTs")))
      val q = joined.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized {
            out ++= d.collect().map(r =>
              (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
          }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    // run 1: ad1 matches inside the hour; ad2 has NO click — it must NOT
    // null-emit yet (a click could still arrive within the horizon)
    produce("ssoj_imp", ("ad1", t0), ("ad2", t0 + 5000))
    produce("ssoj_clk", ("ad1", t0 + 30000))
    run()
    assert(out.toSet == Set(("ad1", t0, Some(t0 + 30000))), s"run1: $out")
    // run 2: both sides jump 3h ahead — the global watermark passes ad2's
    // [impTs, impTs+1h] match window, so its null-extended row emits; the
    // fresh pair matches live
    produce("ssoj_imp", ("ad3", t0 + 3 * hour))
    produce("ssoj_clk", ("ad3", t0 + 3 * hour + 1000))
    run()
    assert(out.drop(1).toSet == Set(
      ("ad3", t0 + 3 * hour, Some(t0 + 3 * hour + 1000)),
      ("ad2", t0 + 5000, None)),
      s"run2 must emit the expired left row null-extended: ${out.drop(1)}")
  }

  test("session windows under retraction: integrate-then-window fallback un-merges sessions") {
    // The integrate-then-window COMPOSITION path for sessions (the
    // native multiset-state form is RetractionWindow.sessionSum, tested
    // separately): integrate the ±w delta stream into the live record
    // set (RetractionDistinct presence deltas), then run the BATCH
    // session window over the integrated set each micro-batch — the
    // reference's integrate→window composition (topologynode.py:757-819
    // session merge over the integrated Z-set). Kept alongside the
    // native form because it exercises DISTINCT-presence semantics
    // (duplicate inserts absorb) vs the native weighted multiset.
    import graft.streaming.RetractionDistinct
    import graft.streams.Windows
    val gap = 10000L
    val base = 1700000000000L
    val in = MemoryStream[(String, Long, Long, Long)](spark)
    val df = in.toDF().toDF("key", "tsMs", "value", "weight")
    val live = collection.mutable.Set.empty[(String, Long, Long)]
    var lastSessions: Seq[(String, Long, Long, Long, Long)] = Nil
    val Rec = """\{"key":"(\w+)","tsMs":(\d+),"value":(-?\d+)\}""".r
    val q = RetractionDistinct.overFrame(df)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (d: org.apache.spark.sql.Dataset[RetractionDistinct.Delta], _: Long) =>
        d.collect().foreach { delta =>
          val Rec(k, ts, v) = delta.record
          val rec = (k, ts.toLong, v.toLong)
          if (delta.weight > 0) live += rec else live -= rec
        }
        val liveDF = live.toSeq.toDF("key", "tsMs", "value")
        lastSessions =
          if (live.isEmpty) Nil
          else Windows.session(liveDF, timestamp_millis(col("tsMs")), gap, Seq(col("key")))(
              sum("value").as("sum_value"), count(lit(1)).as("n"))
            .select("key", "session_start_ms", "session_end_ms", "sum_value", "n")
            .as[(String, Long, Long, Long, Long)].collect().toSeq
            .sortBy(r => (r._1, r._2))
        ()
      }.start()
    try {
      // two events inside one gap → one session [t0, t1 + gap)
      in.addData(("x", base, 10L, 1L), ("x", base + 8000, 5L, 1L))
      q.processAllAvailable()
      assert(lastSessions == Seq(("x", base, base + 18000, 15L, 2L)))
      // a third event extends the merged session (8s → 16s bridge via 8s)
      in.addData(("x", base + 16000, 3L, 1L))
      q.processAllAvailable()
      assert(lastSessions == Seq(("x", base, base + 26000, 18L, 3L)))
      // duplicate insert of a present record: Z-set distinct absorbs it —
      // no presence delta, the session picture must not double-count
      in.addData(("x", base, 10L, 1L))
      q.processAllAvailable()
      assert(lastSessions == Seq(("x", base, base + 26000, 18L, 3L)))
      // retract the BRIDGE: the merged session must split in two — the
      // un-merge that pure streaming session state cannot express
      in.addData(("x", base + 8000, 5L, -1L))
      q.processAllAvailable()
      assert(lastSessions == Seq(
        ("x", base, base + 10000, 10L, 1L),
        ("x", base + 16000, base + 26000, 3L, 1L)),
        s"bridge retraction must un-merge the session: $lastSessions")
      // drain t0 (integrated weight 2 after the duplicate insert: presence
      // flips only when weights cancel to zero — two retractions needed)
      in.addData(("x", base, 10L, -1L), ("x", base, 10L, -1L))
      q.processAllAvailable()
      assert(lastSessions == Seq(("x", base + 16000, base + 26000, 3L, 1L)))
    } finally q.stop()
  }

  test("native session retraction: bridge un-merge and re-merge across a checkpoint restart") {
    // The session twin of the tumbling checkpoint test, on the state model
    // sessions uniquely need: the live event multiset per key (the
    // reference's in-agg records list, topologynode.py:757-819), from
    // which sessions are DERIVED — so retracting the bridging event of a
    // merged session re-splits it, the case Spark's own session_window
    // aggregation (merged-agg-only state) can never express.
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSession}
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_sw").toString)
    fs.createTopic("sw_in", 2)
    val checkpoint = ckpt()
    val gap = 10000L
    val delay = 600000L
    val base = 1700000000000L
    val out = collection.mutable.ArrayBuffer[WinSession]()
    var lastStateRows = -1L
    def produce(rows: (String, Long, Long, Long)*): Unit =
      fs.produce("sw_in", rows.toSeq.map { case (k, ts, v, w) => (k, s"$ts:$v:$w") }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(1700000000000L))))
    def run(): Unit = {
      val deltas = fs.readStream("sw_in").select(
          col("key").cast("string").as("key"),
          split(col("value"), ":").getItem(0).cast("long").as("tsMs"),
          split(col("value"), ":").getItem(1).cast("long").as("value"),
          split(col("value"), ":").getItem(2).cast("long").as("weight"))
        .as[WinDelta]
      val q = RetractionWindow.sessionSum(deltas, gap, delay)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.Dataset[WinSession], _: Long) =>
          out.synchronized { out ++= d.collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      lastStateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      q.stop()
    }
    // run 1: two events one gap apart merge into a single session
    produce(("x", base, 10, 1), ("x", base + 8000, 5, 1))
    run()
    assert(out.toSeq == Seq(WinSession("x", base, base + 18000, 15, 2)), s"run1: $out")
    // run 2 (restart): a third event chains through the 8s bridge — the
    // RESTORED multiset must merge, not start a fresh session
    produce(("x", base + 16000, 3, 1))
    run()
    assert(out.drop(1).toSeq == Seq(WinSession("x", base, base + 26000, 18, 3)),
      s"run2 must extend the restored session: ${out.drop(1)}")
    // run 3: retract the BRIDGE — the merged session re-splits; the
    // surviving later half appears as a NEW upsert start
    produce(("x", base + 8000, 5, -1))
    run()
    assert(out.drop(2).toSet == Set(
      WinSession("x", base, base + 10000, 10, 1),
      WinSession("x", base + 16000, base + 26000, 3, 1)),
      s"bridge retraction must un-merge: ${out.drop(2)}")
    // run 4: re-insert the bridge — re-merge; the absorbed later start
    // zeroes out (the Z-set absent correction on the upsert key)
    produce(("x", base + 8000, 5, 1))
    run()
    assert(out.drop(4).toSet == Set(
      WinSession("x", base, base + 26000, 18, 3),
      WinSession("x", base + 16000, base + 26000, 0, 0)),
      s"re-merge must zero the absorbed start: ${out.drop(4)}")
    // run 5: drain the first event — the session's START moves right: the
    // old start zeroes, the same session re-emits under the new identity
    produce(("x", base, 10, -1))
    run()
    assert(out.drop(6).toSet == Set(
      WinSession("x", base + 8000, base + 26000, 8, 2),
      WinSession("x", base, base + 26000, 0, 0)),
      s"start move must re-key the upsert: ${out.drop(6)}")
    // runs 6+7: a far-future key advances the watermark past x's session
    // end; the next batch fires x's event-time timeout and drops its
    // whole multiset — the state plateau (only z's open session remains)
    produce(("z", base + 700000, 3, 1))
    run()
    produce(("z", base + 700000 + 1000, 3, 1))
    run()
    assert(out.drop(8).toSeq == Seq(
      WinSession("z", base + 700000, base + 700000 + gap, 3, 1),
      WinSession("z", base + 700000, base + 700000 + 1000 + gap, 6, 2)))
    assert(lastStateRows == 1L, s"state did not plateau: $lastStateRows rows")
    // final upsert picture (latest row per (key, start), zeroed dropped)
    // equals the batch session window over the integrated deltas
    val last = out.groupBy(w => (w.key, w.sessionStartMs)).map(_._2.last)
      .filterNot(w => w.sumValue == 0 && w.n == 0).toSet
    assert(last == Set(
      WinSession("x", base + 8000, base + 26000, 8, 2),
      WinSession("z", base + 700000, base + 700000 + 1000 + gap, 6, 2)))
  }

  test("session maxEventsPerKey cap: exact aggregates on dense keys, documented split on sparse chains") {
    // The sessionSum growth-contract valve: an eternally-active key's
    // multiset is capped by coalescing the interior pair with the
    // tightest surrounding span into the earlier ts. This pins the
    // contract's two documented behaviors: (1) DENSE keys — the case the
    // cap exists for — keep exact aggregates and exact boundaries, and a
    // retraction of a coalesced-away event nets exactly (it lands as a
    // negative singleton); (2) SPARSE chains (every adjacent pair ≥ gap/2
    // apart) artificially split at the merge points — boundary precision
    // is the documented price of the state bound.
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSession}
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_swcap").toString)
    fs.createTopic("swcap_in", 2)
    val checkpoint = ckpt()
    val gap = 10000L
    val base = 1700000000000L
    val out = collection.mutable.ArrayBuffer[WinSession]()
    def produce(rows: (String, Long, Long, Long)*): Unit =
      fs.produce("swcap_in", rows.toSeq.map { case (k, ts, v, w) => (k, s"$ts:$v:$w") }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(1700000000000L))))
    def run(): Unit = {
      val deltas = fs.readStream("swcap_in").select(
          col("key").cast("string").as("key"),
          split(col("value"), ":").getItem(0).cast("long").as("tsMs"),
          split(col("value"), ":").getItem(1).cast("long").as("value"),
          split(col("value"), ":").getItem(2).cast("long").as("weight"))
        .as[WinDelta]
      val q = RetractionWindow.sessionSum(deltas, gap, 600000L, maxEventsPerKey = 4)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.Dataset[WinSession], _: Long) =>
          out.synchronized { out ++= d.collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    // dense key "d": 6 events 1s apart (cap 4 forces 2 coalesces) — ONE
    // session with the exact uncapped aggregate; sparse key "s": 6 events
    // 8s apart (uncapped = one 48s session) — the 2 forced merges open
    // ≥-gap holes at ts 0→16000 and 16000→32000, a deterministic 3-way
    // artificial split whose aggregates still sum the right events
    produce((0 to 5).map(i => ("d", base + i * 1000L, 1L << i, 1L)): _*)
    produce((0 to 5).map(i => ("s", base + i * 8000L, 1L << i, 1L)): _*)
    run()
    assert(out.filter(_.key == "d").toSet == Set(
      WinSession("d", base, base + 5000 + gap, 63, 6)),
      s"dense capped key must aggregate exactly: $out")
    assert(out.filter(_.key == "s").toSet == Set(
      WinSession("s", base, base + gap, 3, 2),
      WinSession("s", base + 16000, base + 16000 + gap, 12, 2),
      WinSession("s", base + 32000, base + 40000 + gap, 48, 2)),
      s"sparse capped chain splits at the merge points: $out")
    // retract a coalesced-away dense event (ts base+2000 merged during
    // compaction): the negative singleton nets exactly — same session
    // identity, aggregate minus exactly that event
    produce(("d", base + 2000, 4L, -1L))
    run()
    assert(out.drop(4).toSet == Set(
      WinSession("d", base, base + 5000 + gap, 59, 5)),
      s"retraction of a coalesced event must net exactly: ${out.drop(4)}")
  }

  test("session cap never merges across a session hole while an intra-session pair exists") {
    // Round-13 fix (advisor finding): compact() used to pick the
    // globally tightest surrounding span, which could select a pair
    // straddling a >= gapMs hole — absorbing the FIRST event of a later
    // session into the preceding session's timestamp, shifting that
    // session's start AND moving its aggregate between sessions.
    // Construction: key "m" = [0, 9000, 18000, 28100, 28200] with
    // gap=10000, cap=4 (one forced merge). The cross-hole pair
    // (18000, 28100) has the tightest surrounding span (10200) — the old
    // code merged it, yielding {(0..18000, 15, 4), (28200, 16, 1)}. The
    // fix must merge the tightest INTRA-session pair (0, 9000) instead:
    // session B keeps its start 28100 and its exact aggregate 24/2, at
    // the documented case-(b) price of session A splitting (the merge
    // opens the 0->18000 hole).
    import graft.streaming.RetractionWindow
    import graft.streaming.RetractionWindow.{WinDelta, WinSession}
    val fs = new graft.storage.FileStorage(spark,
      Files.createTempDirectory("graft_fs_swhole").toString)
    fs.createTopic("swhole_in", 2)
    val checkpoint = ckpt()
    val gap = 10000L
    val base = 1700000000000L
    val out = collection.mutable.ArrayBuffer[WinSession]()
    fs.produce("swhole_in",
      Seq(0L, 9000L, 18000L, 28100L, 28200L).zipWithIndex
        .map { case (off, i) => ("m", s"${base + off}:${1L << i}:1") }
        .toDF("key", "value")
        .withColumn("timestamp", lit(new java.sql.Timestamp(base))))
    val deltas = fs.readStream("swhole_in").select(
        col("key").cast("string").as("key"),
        split(col("value"), ":").getItem(0).cast("long").as("tsMs"),
        split(col("value"), ":").getItem(1).cast("long").as("value"),
        split(col("value"), ":").getItem(2).cast("long").as("weight"))
      .as[WinDelta]
    val q = RetractionWindow.sessionSum(deltas, gap, 600000L, maxEventsPerKey = 4)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (d: org.apache.spark.sql.Dataset[WinSession], _: Long) =>
        out.synchronized { out ++= d.collect() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    assert(out.toSet == Set(
      WinSession("m", base, base + gap, 3, 2),
      WinSession("m", base + 18000, base + 18000 + gap, 4, 1),
      WinSession("m", base + 28100, base + 28200 + gap, 24, 2)),
      s"cross-hole merge leaked a session start: $out")
  }

  test("streaming jamie: running balance via update-mode aggregation") {
    val in = MemoryStream[(Long, Double)](spark)
    val agg = Runner.runningAgg(
      in.toDF().toDF("user_id", "amt"), Seq(col("user_id")))(
      sum(col("amt").cast("decimal(18,2)")).as("balance"))
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("jamie_out").start()
    try {
      in.addData((1L, 10.0), (1L, -4.0), (2L, 7.0))
      q.processAllAvailable()
      in.addData((1L, 1.0))
      q.processAllAvailable()
      // last emitted row per user = current balance
      val last = spark.table("jamie_out")
        .groupBy("user_id").agg(expr("last(balance)").as("balance"))
      val m = last.collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
      assert(m(1L) == 7.0 && m(2L) == 7.0)
    } finally q.stop()
  }

  test("streaming windowed CMS: counters equal the batch sketch per window") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L / 60000 * 60000 + s * 1000L)
    val out = graft.streaming.StreamingSketch.cmsWindowed(
      in.toDF().toDF("ts", "text"), "ts", "text", "60 seconds", "10 seconds",
      depth = 4, width = 64)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cms_out").start()
    try {
      val (w0a, w0b) = docs.take(30).splitAt(17)
      in.addData(w0a.map { case (_, t) => (ts(5), t) }.toSeq: _*)
      q.processAllAvailable()
      in.addData(w0b.map { case (_, t) => (ts(40), t) }.toSeq: _*)
      in.addData(docs.slice(30, 50).map { case (_, t) => (ts(70), t) }.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("cms_out")
        .select(col("window.start").cast("long").as("w"), col("j"), col("pos"), col("cnt"))
        .as[(Long, Int, Int, Long)].collect()
        .groupBy(_._1).map { case (w, rows) =>
          // last emission per counter wins (update mode re-emits grown counts)
          w -> rows.zipWithIndex.groupBy(r => (r._1._2, r._1._3)).map { case (k, rs) =>
            k -> rs.maxBy(_._2)._1._4
          }
        }
    def batchRegs(part: Seq[(Long, String)]): Map[(Int, Int), Long] =
        graft.llm.Sketches.cmsRegisters(part.toDF("doc_id", "text"), "text",
            depth = 4, width = 64)
          .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val wStarts = got.keys.toSeq.sorted
      assert(wStarts.size == 2, s"expected 2 windows, got $wStarts")
      assert(got(wStarts.head) == batchRegs(docs.take(30).toSeq),
        "window-0 counters != batch sketch")
      assert(got(wStarts.last) == batchRegs(docs.slice(30, 50).toSeq),
        "window-1 counters != batch sketch")
      // state is counter-bounded: never more rows than depth*width per window
      assert(got.values.forall(_.size <= 4 * 64))
    } finally q.stop()
  }

  test("streaming windowed HLL: registers equal the batch sketch per window") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    // 60s windows align to the unix epoch: anchor at a window START so
    // offsets 0..59 land in window 0 and 60..119 in window 1
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L / 60000 * 60000 + s * 1000L)
    val out = graft.streaming.StreamingSketch.hllWindowed(
      in.toDF().toDF("ts", "text"), "ts", "text", "60 seconds", "10 seconds", p = 8)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hll_out").start()
    try {
      // window 0: first 30 docs across two micro-batches (update mode may
      // re-emit a register; LAST value per (window, bucket) is the state)
      val (w0a, w0b) = docs.take(30).splitAt(17)
      in.addData(w0a.map { case (_, t) => (ts(5), t) }.toSeq: _*)
      q.processAllAvailable()
      in.addData(w0b.map { case (_, t) => (ts(40), t) }.toSeq: _*)
      // window 1: the next 20 docs
      in.addData(docs.slice(30, 50).map { case (_, t) => (ts(70), t) }.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("hll_out")
        .select(col("window.start").cast("long").as("w"), col("bucket"), col("rho"))
        .as[(Long, Int, Int)].collect()
        .groupBy(_._1).map { case (w, rows) =>
          // last emission per bucket wins (update mode re-emits grown registers)
          w -> rows.zipWithIndex.groupBy(_._1._2).map { case (b, rs) =>
            b -> rs.maxBy(_._2)._1._3
          }
        }
      val batchW0 = graft.llm.Sketches.hllRegisters(
        docs.take(30).toSeq.toDF("doc_id", "text"), "text", p = 8)
        .as[(Int, Int)].collect().toMap
      val batchW1 = graft.llm.Sketches.hllRegisters(
        docs.slice(30, 50).toSeq.toDF("doc_id", "text"), "text", p = 8)
        .as[(Int, Int)].collect().toMap
      val wStarts = got.keys.toSeq.sorted
      assert(wStarts.size == 2, s"expected 2 windows, got $wStarts")
      assert(got(wStarts.head) == batchW0, "window-0 registers != batch sketch")
      assert(got(wStarts.last) == batchW1, "window-1 registers != batch sketch")
      // the streaming snapshot feeds the SAME estimate chain as batch
      val (_, _, estStream) =
        graft.llm.Sketches.estimateFromRegisters(got(wStarts.head), 8)
      val (_, _, estBatch) =
        graft.llm.Sketches.estimateFromRegisters(batchW0, 8)
      assert(estStream == estBatch)
      // state is register-bounded: never more rows than m per window
      assert(got.values.forall(_.size <= 256))
    } finally q.stop()
  }

  test("streaming container metadata: stream rows equal the batch walk (mp4/ogg/avi)") {
    // the round-13 admission-filter walks are pure map kernels, so they
    // must run unchanged on an unbounded feed — the streaming twin rule
    import spark.implicits._
    import graft.llm.{Containers, Multimodal}
    val medias = (0L until 6L).flatMap { id =>
      Seq(
        (id * 3, Containers.syntheticMp4((1 + id % 3).toInt, mvhdV1 = id % 2 == 1,
          1000, 2000L + id * 500, (32 + id).toInt, 24, (4 + id).toInt,
          audioTrack = id % 2 == 0, mdatLen = 16)),
        (id * 3 + 1, Containers.syntheticOgg(vorbis = id % 2 == 0, 8000,
          (1 + id % 2).toInt, (3 + id).toInt, (2 + id % 3).toInt, _ => 80 + id.toInt, 256L)),
        (id * 3 + 2, Containers.syntheticAvi((100 + id).toInt, 80, 40000L, 50L + id,
          audioStream = id % 2 == 1, moviChunks = 2, chunkLen = i => 40 + i)))
    }
    def toMedia(id: Long, b: Array[Byte]) =
      Multimodal.Media(id, b, if (id % 3 == 0) "video/mp4" else if (id % 3 == 1) "audio/ogg" else "video/avi")
    val batchDs = spark.createDataset(medias.map { case (id, b) => toMedia(id, b) })
    val batchMp4 = Containers.decodeMp4Meta(batchDs.filter(_.mime == "video/mp4")).collect().toSet
    val batchOgg = Containers.decodeOggMeta(batchDs.filter(_.mime == "audio/ogg")).collect().toSet
    val batchAvi = Containers.decodeAviMeta(batchDs.filter(_.mime == "video/avi")).collect().toSet
    assert(batchMp4.forall(_.n_samples > 0) && batchOgg.forall(_.n_pages > 0) &&
      batchAvi.forall(_.n_samples > 0), "batch premise: all fixtures decode")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val mediaStream = in.toDS().map { case (id, b) => toMedia(id, b) }
    val q1 = Containers.decodeMp4Meta(mediaStream.filter(_.mime == "video/mp4")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_mp4").start()
    val q2 = Containers.decodeOggMeta(mediaStream.filter(_.mime == "audio/ogg")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_ogg").start()
    val q3 = Containers.decodeAviMeta(mediaStream.filter(_.mime == "video/avi")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_avi").start()
    try {
      in.addData(medias.take(9): _*)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      in.addData(medias.drop(9): _*)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      val gotMp4 = spark.table("cm_mp4").as[Containers.Mp4Meta].collect().toSet
      val gotOgg = spark.table("cm_ogg").as[Containers.OggMeta].collect().toSet
      val gotAvi = spark.table("cm_avi").as[Containers.Mp4Meta].collect().toSet
      assert(gotMp4 == batchMp4, "mp4 stream == batch")
      assert(gotOgg == batchOgg, "ogg stream == batch")
      assert(gotAvi == batchAvi, "avi stream == batch")
    } finally { q1.stop(); q2.stop(); q3.stop() }
  }

  test("streaming container metadata: stream rows equal the batch walk (webp/mkv)") {
    import spark.implicits._
    import graft.llm.{Containers, Multimodal}
    val medias = (0L until 8L).map { id =>
      if (id % 2 == 0)
        (id, Containers.syntheticWebp(
          Seq("lossy", "lossless", "extended")((id % 3).toInt),
          (40 + id).toInt, (30 + id).toInt, alpha = id % 3 == 1,
          animFrames = if (id % 3 == 2) 2 else 0, frameLen = i => 18 + i,
          fillLen = (11 + id).toInt), "image/webp")
      else
        (id, Containers.syntheticMkv((320 + id).toInt, 180, 100.0 + id * 10,
          1000000L, writeScale = true, audioTrack = id % 3 == 0,
          swapOrder = false, nClusters = (1 + id % 2).toInt,
          blocksPerCluster = ci => 1 + ci, blockLen = (ci, j) => (12 + ci + j + id).toInt,
          videoCodec = "V_VP9", segSizeMode = (id % 3).toInt.min(2)), "video/webm")
    }
    def toMedia(t: (Long, Array[Byte], String)) = Multimodal.Media(t._1, t._2, t._3)
    val batchDs = spark.createDataset(medias.map(toMedia))
    val batchWebp = Containers.decodeWebpMeta(batchDs.filter(_.mime == "image/webp")).collect().toSet
    val batchMkv = Containers.decodeMkvMeta(batchDs.filter(_.mime == "video/webm")).collect().toSet
    assert(batchWebp.forall(_.format != null) && batchMkv.forall(_.duration_ms > 0),
      "batch premise: all fixtures decode")
    val in = MemoryStream[(Long, Array[Byte], String)](spark)
    val mediaStream = in.toDS().map(toMedia)
    val q1 = Containers.decodeWebpMeta(mediaStream.filter(_.mime == "image/webp")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_webp").start()
    val q2 = Containers.decodeMkvMeta(mediaStream.filter(_.mime == "video/webm")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_mkv").start()
    try {
      in.addData(medias.take(4): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      in.addData(medias.drop(4): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      val gotWebp = spark.table("cm_webp").as[Containers.WebpMeta].collect().toSet
      val gotMkv = spark.table("cm_mkv").as[Containers.Mp4Meta].collect().toSet
      assert(gotWebp == batchWebp, "webp stream == batch")
      assert(gotMkv == batchMkv, "mkv stream == batch")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming wiki index slices: stream rows equal the batch kernel (r14)") {
    import spark.implicits._
    import graft.llm.Wiki
    // index blobs arrive on a stream (a dump-mirror watcher); the slim
    // slice rows must match the batch kernel row-for-row — indexSlices
    // is the same pure flatMap on both sides
    val srcs = (1L to 4L).map { id =>
      val pages = (0 until (3 + id % 3).toInt).map(i =>
        (s"S $id:$i", 0, id * 50 + i, "", s"t $id $i"))
      val (dump, index) = Wiki.syntheticMultistreamIndexed(pages, 2 + (id % 2).toInt)
      Wiki.WikiIndexSrc(id, index, dump.length.toLong)
    }
    val batch = Wiki.indexSlices(srcs.toDS()).collect().toSet
    assert(batch.nonEmpty && batch.forall(_.n_pages > 0), "batch premise")
    val in = MemoryStream[Wiki.WikiIndexSrc](spark)
    val q = Wiki.indexSlices(in.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("wiki_slices").start()
    try {
      in.addData(srcs.take(2): _*)
      q.processAllAvailable()
      in.addData(srcs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("wiki_slices").as[Wiki.WikiSlice].collect().toSet
      assert(got == batch, "slice stream == batch")
    } finally q.stop()
  }

  test("streaming audio VAD + ASR chunks: stream rows equal the batch kernels (r14)") {
    import spark.implicits._
    import graft.llm.{AudioStats, Multimodal}
    val medias = (0L until 6L).map { id =>
      val nf = (10 + id % 4).toInt
      val samples = Array.tabulate(nf * 8) { j =>
        val f = j / 8
        if ((f + id) % 4 == 0) 0 else 300
      }
      Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
    }
    val batchDs = spark.createDataset(medias)
    val batchVad = AudioStats.vadSegments(batchDs, frameLen = 8).collect().toSet
    val batchChunks = AudioStats.asrChunks(batchDs, frameLen = 8,
      gapSplit = 0, maxFrames = 2).collect().toSet
    assert(batchVad.nonEmpty && batchChunks.nonEmpty, "batch premise")
    val in = MemoryStream[Multimodal.Media](spark)
    val q1 = AudioStats.vadSegments(in.toDS(), frameLen = 8).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("vad_out").start()
    val q2 = AudioStats.asrChunks(in.toDS(), frameLen = 8,
        gapSplit = 0, maxFrames = 2).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("chunk_out").start()
    try {
      in.addData(medias.take(3): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      in.addData(medias.drop(3): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      assert(spark.table("vad_out").as[AudioStats.VadSegment].collect().toSet
        == batchVad, "vad stream == batch")
      assert(spark.table("chunk_out").as[AudioStats.AsrChunk].collect().toSet
        == batchChunks, "chunks stream == batch")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming WARC ingestion: stream records equal the batch walk") {
    // the archive reader is a flatMap kernel, so a live crawl feed runs
    // the identical code path — records fan out per input blob
    import spark.implicits._
    import graft.llm.{Multimodal, Warc}
    val medias = (0L until 6L).map { id =>
      Multimodal.Media(id, Warc.syntheticWarc(
        (1 + id % 3).toInt, i => s"https://s/$id/$i",
        i => if ((id + i) % 2 == 0) (200, "OK") else (404, "Not Found"),
        i => s"<html><body>d$id-$i &amp; x</body></html>",
        gzipped = id % 2 == 1, withRequests = id % 3 == 2,
        lowerCaseHeaders = false, infoLen = (5 + id).toInt), "application/warc")
    }
    val batch = Warc.readWarc(spark.createDataset(medias)).collect().toSet
    assert(batch.count(_.warc_type == "response") == medias.indices.map(1 + _ % 3).sum,
      "batch premise: every response parsed")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val st = in.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/warc") }
    val q = Warc.readWarc(st).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_warc").start()
    try {
      in.addData(medias.take(3).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      in.addData(medias.drop(3).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      val got = spark.table("cm_warc").as[Warc.WarcRecord].collect().toSet
      assert(got == batch, "warc stream == batch")
    } finally q.stop()
  }

  test("streaming PDF extraction: stream pages equal the batch walk") {
    // the document walk is the same flatMap kernel shape — a live
    // document feed extracts identically, encrypted refusal included
    import spark.implicits._
    import graft.llm.{Multimodal, Pdf}
    val medias = (0L until 6L).map { id =>
      Multimodal.Media(id, Pdf.syntheticPdf(
        "1.6", p => (0 until (1 + (id + p) % 3).toInt).map(j => s"s$id $p $j (q)"),
        (1 + id % 2).toInt, formSeed = (id % 4).toInt, octalAll = id % 3 == 0,
        flate = p => (id + p) % 2 == 0, filterArray = id % 5 == 1,
        twoStreams = p => (id + p) % 4 == 0, indirectLength = id % 5 == 2,
        outOfOrder = id % 2 == 1, nested = id % 3 == 1,
        encrypted = id == 4L), "application/pdf")
    }
    val batch = Pdf.pdfPages(spark.createDataset(medias)).collect().toSet
    assert(batch.nonEmpty && !batch.exists(_.doc_id == 4L),
      "batch premise: pages extracted, encrypted doc refused")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val st = in.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/pdf") }
    val q = Pdf.pdfPages(st).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_pdf").start()
    try {
      in.addData(medias.take(3).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      in.addData(medias.drop(3).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      val got = spark.table("cm_pdf").as[Pdf.PdfPage].collect().toSet
      assert(got == batch, "pdf stream == batch")
    } finally q.stop()
  }

  test("streaming round-15 kernels: CID/ObjStm/filter PDFs and charset WARC equal batch") {
    // same flatMap shape as the r13 twins — the new decode layers
    // (CMap fonts, ObjStm expansion, filter chains, charset resolution)
    // ride the identical kernel in a live feed
    import spark.implicits._
    import graft.llm.{Multimodal, Pdf, Warc}
    val medias = (0L until 9L).map { id =>
      val bytes = (id % 3) match {
        case 0 => Pdf.syntheticCidPdf("1.6", s"Hi $id (x)", Seq(0x0001, 0x0010),
          s"a=$id".getBytes("ISO-8859-1"), splitTj = id % 2 == 0, flateCmap = id % 2 == 1)
        case 1 => Pdf.syntheticObjStmPdf("1.7", Seq(s"o$id", s"p$id (y)"),
          flateObjStm = id % 2 == 0, flateContent = id % 2 == 1)
        case _ => Pdf.syntheticFilterPdf("1.4", Seq(s"f$id", "zzzzzz run"), (id / 3 % 6).toInt)
      }
      Multimodal.Media(id, bytes, "application/pdf")
    }
    val batch = Pdf.pdfPages(spark.createDataset(medias)).collect().toSet
    assert(batch.exists(_.text.contains("😀")) || batch.exists(_.text.contains("é")),
      "batch premise: CMap-decoded text present")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val st = in.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/pdf") }
    val q = Pdf.pdfPages(st).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_pdf15").start()
    try {
      in.addData(medias.take(4).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      in.addData(medias.drop(4).map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      assert(spark.table("cm_pdf15").as[Pdf.PdfPage].collect().toSet == batch,
        "r15 pdf stream == batch")
    } finally q.stop()
    // charset WARC: the resolved charset column survives the stream
    val warcs = (0L until 6L).map { id =>
      Multimodal.Media(id, Warc.syntheticWarcRaw(Seq(
        (s"http://a/$id", "text/html; charset=windows-1252",
          Array[Byte]('q', 0x93.toByte)),
        (s"http://b/$id", "text/html",
          Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ s"x$id é".getBytes("UTF-8"))),
        gzipped = id % 2 == 0), "application/warc")
    }
    val wBatch = Warc.readWarc(spark.createDataset(warcs)).collect().toSet
    assert(wBatch.exists(_.charset == "windows-1252") && wBatch.exists(_.charset == "utf-8"),
      "batch premise: both resolution paths present")
    val win = MemoryStream[(Long, Array[Byte])](spark)
    val wst = win.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/warc") }
    val wq = Warc.readWarc(wst).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_warc15").start()
    try {
      win.addData(warcs.map(m => (m.doc_id, m.media)): _*)
      wq.processAllAvailable()
      assert(spark.table("cm_warc15").as[Warc.WarcRecord].collect().toSet == wBatch,
        "r15 warc stream == batch")
    } finally wq.stop()
  }

  test("streaming document extraction: docx and epub parts equal the batch walk") {
    import spark.implicits._
    import graft.llm.{Docs, Multimodal}
    val medias = (0L until 6L).map { id =>
      if (id % 2 == 0)
        Multimodal.Media(id, Docs.syntheticDocx(
          (0 until (1 + id % 3).toInt).map(k => Seq(s"p$id", s"-$k & x")),
          storedParts = id % 4 == 0), "application/docx")
      else
        Multimodal.Media(id, Docs.syntheticEpub(
          (0 until (1 + id % 3).toInt).map(k =>
            (s"c$k.xhtml", s"<html><body><p>e$id $k</p></body></html>")),
          (0 until (1 + id % 3).toInt).reverse,
          if (id % 3 == 1) Some("d.xhtml") else None), "application/epub+zip")
    }
    val docxIn = spark.createDataset(medias.filter(_.doc_id % 2 == 0))
    val epubIn = spark.createDataset(medias.filter(_.doc_id % 2 == 1))
    val batchDocx = Docs.docxTexts(docxIn).collect().toSet
    val batchEpub = Docs.epubTexts(epubIn).collect().toSet
    assert(batchDocx.size == 3 && batchEpub.nonEmpty, "batch premise")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val st = in.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/x") }
    val q1 = Docs.docxTexts(st.filter(_.doc_id % 2 == 0)).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_docx").start()
    val q2 = Docs.epubTexts(st.filter(_.doc_id % 2 == 1)).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_epub").start()
    try {
      in.addData(medias.map(m => (m.doc_id, m.media)): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("cm_docx").as[Docs.DocPart].collect().toSet == batchDocx,
        "docx stream == batch")
      assert(spark.table("cm_epub").as[Docs.DocPart].collect().toSet == batchEpub,
        "epub stream == batch")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming mail ingestion: stream messages equal the batch walk") {
    import spark.implicits._
    import graft.llm.{Mail, Multimodal}
    val medias = (0L until 6L).map { id =>
      Multimodal.Media(id, Mail.syntheticMbox(
        (0 until (1 + id % 2).toInt).map(i => Mail.syntheticMessage(
          s"u$id$i@x", s"a@x b$i@x", s"S $id $i", s"t $id\nu = $i",
          ((id + i) % 5).toInt, ((id + i) % 3).toInt, (id + i) % 4 == 0))),
        "application/mbox")
    }
    val batch = Mail.readMbox(spark.createDataset(medias)).collect().toSet
    assert(batch.size == medias.map(m => 1 + (m.doc_id % 2).toInt).sum, "batch premise")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val st = in.toDS().map { case (id, b) => Multimodal.Media(id, b, "application/mbox") }
    val q = Mail.readMbox(st).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_mail").start()
    try {
      in.addData(medias.map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      val got = spark.table("cm_mail").as[Mail.MailMessage].collect().toSet
      assert(got == batch, "mail stream == batch")
    } finally q.stop()
  }

  test("streaming text-format extraction: latex, markdown, ipynb equal the batch paths") {
    // the three string-input extractors are a typed map (latex/md) and
    // a from_json+posexplode plan (ipynb) — all streaming-legal
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.{Latex, Markdown, Notebooks}
    import graft.queries.LlmQueries
    val rows = (0L until 8L).map(id =>
      (id, LlmQueries.latexSrc(id), LlmQueries.mdSrc(id), LlmQueries.ipynbJson(id)))
    val batchDf = rows.toDF("doc_id", "latex", "md", "json")
    val bLatex = Latex.latexTexts(batchDf.select("doc_id", "latex"), "doc_id", "latex")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bMd = Markdown.mdTexts(batchDf.select("doc_id", "md"), "doc_id", "md")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bNb = Notebooks.cells(batchDf, "doc_id", col("json"))
      .select("doc_id", "cell_idx", "source")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val in = MemoryStream[(Long, String, String, String)](spark)
    val st = in.toDF().toDF("doc_id", "latex", "md", "json")
    val q1 = Latex.latexTexts(st.select("doc_id", "latex"), "doc_id", "latex")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_lx").start()
    val q2 = Markdown.mdTexts(st.select("doc_id", "md"), "doc_id", "md")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_md").start()
    val q3 = Notebooks.cells(st, "doc_id", col("json"))
      .select("doc_id", "cell_idx", "source")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_nb").start()
    try {
      in.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      assert(spark.table("cm_lx").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == bLatex, "latex stream == batch")
      assert(spark.table("cm_md").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == bMd, "markdown stream == batch")
      assert(spark.table("cm_nb").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet == bNb,
        "ipynb stream == batch")
    } finally { q1.stop(); q2.stop(); q3.stop() }
  }

  test("streaming crawl/feed/code kernels equal the batch paths") {
    import spark.implicits._
    import graft.llm.{Code, Crawl, Feeds, Multimodal, Rtf}
    val robots = (0L until 3L).map(id => Multimodal.Media(id,
      s"User-agent: a\nDisallow: /x$id/\nAllow: /x$id/ok/\n".getBytes("UTF-8"), "r"))
    val feeds = (0L until 3L).map(id => Multimodal.Media(id, Feeds.syntheticFeed(
      atom = id % 2 == 1, Seq((s"t $id", s"https://l/$id", s"<p>b $id &amp; x</p>")),
      i => (id + i) % 2 == 0), "f"))
    val code = (0L until 4L).map(id => Multimodal.Media(id,
      s"// c $id\nint v = ${id / 2}; /* b */\n".getBytes("UTF-8"), "c"))
    val rtfs = (0L until 3L).map(id => Multimodal.Media(id,
      Rtf.syntheticRtf(Seq(s"p $id"), if (id == 1) Some("é — u") else None), "x"))
    val bRobots = Crawl.robotsDecisions(spark.createDataset(robots), "a",
      id => Seq(s"/x$id/q", s"/x$id/ok/q")).collect().toSet
    val bFeeds = Feeds.feedItems(spark.createDataset(feeds)).collect().toSet
    val bCode = Code.strippedCode(spark.createDataset(code), f => f).collect().toSet
    val bRtf = Rtf.rtfTexts(spark.createDataset(rtfs)).collect().toSet
    assert(bRobots.exists(!_._4) && bRobots.exists(_._4) && bFeeds.size == 3 &&
      bCode.size == 4 && bRtf.size == 3, "batch premise")
    val in = MemoryStream[(Long, Array[Byte], String)](spark)
    val st = in.toDS().map { case (id, b, m) => Multimodal.Media(id, b, m) }
    val q1 = Crawl.robotsDecisions(st.filter(_.mime == "r"), "a",
        id => Seq(s"/x$id/q", s"/x$id/ok/q")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_rb").start()
    val q2 = Feeds.feedItems(st.filter(_.mime == "f")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_fd").start()
    val q3 = Code.strippedCode(st.filter(_.mime == "c"), f => f).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_cd").start()
    val q4 = Rtf.rtfTexts(st.filter(_.mime == "x")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_rt").start()
    try {
      in.addData((robots ++ feeds ++ code ++ rtfs).map(m => (m.doc_id, m.media, m.mime)): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      q3.processAllAvailable(); q4.processAllAvailable()
      assert(spark.table("cm_rb").as[(Long, Int, String, Boolean)].collect().toSet == bRobots)
      assert(spark.table("cm_fd").as[graft.llm.Feeds.FeedItem].collect().toSet == bFeeds)
      assert(spark.table("cm_cd").as[(Long, String, String)].collect().toSet == bCode)
      assert(spark.table("cm_rt").as[(Long, String)].collect().toSet == bRtf)
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop() }
  }

  test("streaming wiki dump ingestion equals the batch walk") {
    import spark.implicits._
    import graft.llm.{Multimodal, Wiki}
    val dumps = (0L until 4L).map(id => Multimodal.Media(id, Wiki.syntheticDump(
      (0 until (1 + id % 2).toInt).map(j =>
        (s"P $id/$j", (j % 2), id * 10 + j, if (j == 1) s"R $id" else "",
          s"'''w''' [[a|$id-$j]]")), (id % 3).toInt), "application/xml"))
    val batch = Wiki.wikiPages(spark.createDataset(dumps)).collect().toSet
    assert(batch.size == 6 && batch.exists(_.redirect.nonEmpty), "batch premise")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = Wiki.wikiPages(in.toDS().map { case (id, b) =>
        Multimodal.Media(id, b, "application/xml") }).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("wk_pg").start()
    try {
      in.addData(dumps.map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      assert(spark.table("wk_pg").as[graft.llm.Wiki.WikiPage].collect().toSet == batch)
    } finally { q.stop() }
  }

  test("streaming jsonl/boilerplate/stackexchange kernels equal the batch paths") {
    import spark.implicits._
    import graft.llm.{Archives, Boilerplate, Multimodal, StackExchange}
    val shards = (0L until 5L).map(id => Multimodal.Media(id, Archives.syntheticJsonl(
      (0 until (1 + id % 2).toInt).map(j => s"""{"id":${id * 10 + j}}"""),
      (id % 5).toInt), "j"))
    val pages = (0L until 3L).map(id => Multimodal.Media(id,
      (s"<nav><a>h$id</a></nav><p>content $id long enough to pass the length gate</p>")
        .getBytes("UTF-8"), "h"))
    val dumps = (0L until 3L).map(id => Multimodal.Media(id,
      StackExchange.syntheticPosts(Seq(
        (id, 1, id.toInt, s"t $id", Seq("x"), s"<p>b $id</p>")), (id % 3).toInt), "s"))
    val bJ = Archives.jsonlLines(spark.createDataset(shards)).collect().toSet
    val bB = Boilerplate.htmlBlocks(spark.createDataset(pages)).collect().toSet
    val bS = StackExchange.posts(spark.createDataset(dumps)).collect().toSet
    assert(bJ.size == 7 && bB.exists(_.is_content) && bS.size == 3, "batch premise")
    val in = MemoryStream[(Long, Array[Byte], String)](spark)
    val st = in.toDS().map { case (id, b, m) => Multimodal.Media(id, b, m) }
    val q1 = Archives.jsonlLines(st.filter(_.mime == "j")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nj_jl").start()
    val q2 = Boilerplate.htmlBlocks(st.filter(_.mime == "h")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nj_bp").start()
    val q3 = StackExchange.posts(st.filter(_.mime == "s")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nj_se").start()
    try {
      in.addData((shards ++ pages ++ dumps).map(m => (m.doc_id, m.media, m.mime)): _*)
      q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      assert(spark.table("nj_jl").as[graft.llm.Archives.JsonlLine].collect().toSet == bJ)
      assert(spark.table("nj_bp").as[graft.llm.Boilerplate.Block].collect().toSet == bB)
      assert(spark.table("nj_se").as[graft.llm.StackExchange.SePost].collect().toSet == bS)
    } finally { q1.stop(); q2.stop(); q3.stop() }
  }

  test("streaming sentences/script/diff/unigram kernels equal the batch paths") {
    import spark.implicits._
    import graft.llm.{Diff, Multimodal, TextAnalysis, Unigram}
    val texts = (0L until 4L).map(id =>
      (id, s"One $id here. Ask Dr. Who? Done. абв 中 $id"))
    val diffs = (0L until 3L).map(id => Multimodal.Media(id, Diff.syntheticDiff(Seq(
      (s"f$id", Seq((2, Seq(s"c $id"), Seq("o"), Seq(s"n $id"), Seq.empty))))), "d"))
    val tDf = texts.toDF("doc_id", "text")
    // unigram: train on a static corpus, tokenize the stream with the
    // broadcast model — the Bpe streaming posture
    val corpus = (0 until 30).map(i => (i.toLong, "ab" * (1 + i % 3))).toDF("id", "text")
    val model = Unigram.train(corpus, "text", vocabSize = 8, maxPieceLen = 2, iters = 3)
    val streamTexts = (0L until 4L).map(id => (id, "ab" * (1 + id % 3).toInt))
    val bSent = TextAnalysis.sentences(tDf, "doc_id", "text").collect().toSet
    val bScript = TextAnalysis.scriptProfile(tDf, "doc_id", "text").collect().toSet
    val bDiff = Diff.diffHunks(spark.createDataset(diffs)).collect().toSet
    val bUni = Unigram.encode(streamTexts.toDF("doc_id", "text"), "doc_id", "text", model,
      maxPieceLen = 2).collect().toSet
    assert(bSent.size == 12 && bScript.size == 4 && bDiff.size == 3 && bUni.size == 4,
      "batch premise")
    val inT = MemoryStream[(Long, String)](spark)
    val inD = MemoryStream[(Long, Array[Byte])](spark)
    val q1 = TextAnalysis.sentences(inT.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("tk_sn").start()
    val q2 = TextAnalysis.scriptProfile(inT.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("tk_sc").start()
    val q3 = Diff.diffHunks(inD.toDS().map { case (id, b) => Multimodal.Media(id, b, "d") })
      .toDF().writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("tk_df").start()
    val inU = MemoryStream[(Long, String)](spark)
    val q4 = Unigram.encode(inU.toDF().toDF("doc_id", "text"), "doc_id", "text", model,
        maxPieceLen = 2)
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("tk_un").start()
    try {
      inT.addData(texts: _*)
      inD.addData(diffs.map(m => (m.doc_id, m.media)): _*)
      inU.addData(streamTexts: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      q3.processAllAvailable(); q4.processAllAvailable()
      assert(spark.table("tk_sn").collect().toSet == bSent)
      assert(spark.table("tk_sc").collect().toSet == bScript)
      assert(spark.table("tk_df").as[graft.llm.Diff.DiffHunk].collect().toSet == bDiff)
      assert(spark.table("tk_un").collect().toSet == bUni)
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop() }
  }

  test("streaming normalize/readability/tables/frontmatter equal the batch paths") {
    import spark.implicits._
    import graft.llm.{Markdown, Multimodal, Tables, TextAnalysis, UrlOps}
    val texts = (0L until 4L).map(id =>
      (id, s"“q $id” — it’s fine. Ask Dr. Who $id."))
    val pages = (0L until 3L).map(id => Multimodal.Media(id,
      s"<table><tr><th>H</th></tr><tr><td>c$id</td><td colspan='2'>w</td></tr></table>"
        .getBytes("UTF-8"), "h"))
    val mds = (0L until 3L).map(id => (id, s"---\ntitle: T $id\n---\nbody"))
    val tDf = texts.toDF("doc_id", "text")
    val bNorm = TextAnalysis.normalizeText(tDf, "doc_id", "text").collect().toSet
    val bFk = TextAnalysis.fleschKincaid(tDf, "doc_id", "text").collect().toSet
    val bTab = Tables.tableCells(spark.createDataset(pages)).collect().toSet
    val bFm = Markdown.mdFrontMatter(mds.toDF("doc_id", "src"), "doc_id", "src")
      .collect().toSet
    val bUrl = (0L until 3L).map(id => (id, s"https://x.foo$id.co.uk/p")).toDF("doc_id", "url")
      .select(col("doc_id"), UrlOps.registeredDomainCc(col("url")).as("d")).collect().toSet
    assert(bNorm.size == 4 && bFk.size == 4 && bTab.size == 9 && bFm.size == 3 &&
      bUrl.size == 3, "batch premise")
    val inT = MemoryStream[(Long, String)](spark)
    val inP = MemoryStream[(Long, Array[Byte])](spark)
    val inM = MemoryStream[(Long, String)](spark)
    val inU = MemoryStream[(Long, String)](spark)
    val q1 = TextAnalysis.normalizeText(inT.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nw_nm").start()
    val q2 = TextAnalysis.fleschKincaid(inT.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nw_fk").start()
    val q3 = Tables.tableCells(inP.toDS().map { case (id, b) => Multimodal.Media(id, b, "h") })
      .toDF().writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("nw_tb").start()
    val q4 = Markdown.mdFrontMatter(inM.toDF().toDF("doc_id", "src"), "doc_id", "src")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nw_fm").start()
    val q5 = inU.toDF().toDF("doc_id", "url")
      .select(col("doc_id"), UrlOps.registeredDomainCc(col("url")).as("d"))
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("nw_ur").start()
    try {
      inT.addData(texts: _*)
      inP.addData(pages.map(m => (m.doc_id, m.media)): _*)
      inM.addData(mds: _*)
      inU.addData((0L until 3L).map(id => (id, s"https://x.foo$id.co.uk/p")): _*)
      Seq(q1, q2, q3, q4, q5).foreach(_.processAllAvailable())
      assert(spark.table("nw_nm").collect().toSet == bNorm)
      assert(spark.table("nw_fk").collect().toSet == bFk)
      assert(spark.table("nw_tb").as[graft.llm.Tables.TableCell].collect().toSet == bTab)
      assert(spark.table("nw_fm").collect().toSet == bFm)
      assert(spark.table("nw_ur").collect().toSet == bUrl)
    } finally Seq(q1, q2, q3, q4, q5).foreach(_.stop())
  }

  test("streaming archive ingestion: tar entries and zip entries equal the batch walk") {
    import spark.implicits._
    import graft.llm.{Archives, Multimodal}
    val medias = (0L until 6L).map { id =>
      if (id % 2 == 0)
        Multimodal.Media(id, Archives.syntheticTar(
          (0 until (1 + id % 3).toInt).map(i =>
            (s"f${id}_$i.txt", '0', s"body $id $i".getBytes("UTF-8"))),
          gzipped = id % 4 == 0), "application/x-tar")
      else
        Multimodal.Media(id, Archives.syntheticZip(
          (0 until (1 + id % 3).toInt).map(i =>
            (s"e${id}_$i.txt", s"zip $id $i".getBytes("UTF-8"), i % 2 == 0))),
          "application/zip")
    }
    val batchDs = spark.createDataset(medias)
    val batchTar = Archives.tarEntries(batchDs.filter(_.mime == "application/x-tar"))
      .collect().toSet
    val batchZip = Archives.zipEntries(batchDs.filter(_.mime == "application/zip"))
      .collect().toSet
    assert(batchTar.nonEmpty && batchZip.nonEmpty && batchZip.forall(_.crc_ok),
      "batch premise: every fixture parses")
    val in = MemoryStream[(Long, Array[Byte], String)](spark)
    val st = in.toDS().map(t => Multimodal.Media(t._1, t._2, t._3))
    val q1 = Archives.tarEntries(st.filter(_.mime == "application/x-tar")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_tar").start()
    val q2 = Archives.zipEntries(st.filter(_.mime == "application/zip")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_zip").start()
    try {
      in.addData(medias.take(3).map(m => (m.doc_id, m.media, m.mime)): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      in.addData(medias.drop(3).map(m => (m.doc_id, m.media, m.mime)): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      val gotTar = spark.table("cm_tar").as[Archives.TarEntry].collect().toSet
      val gotZip = spark.table("cm_zip").as[Archives.ZipEntry].collect().toSet
      assert(gotTar == batchTar, "tar stream == batch")
      assert(gotZip == batchZip, "zip stream == batch")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming subtitle cues and audio stats equal the batch kernels") {
    import spark.implicits._
    import graft.llm.{AudioStats, Multimodal, Subtitles}
    val medias = (0L until 6L).map { id =>
      if (id % 2 == 0)
        Multimodal.Media(id, Subtitles.synthetic(
          (0 until (1 + id % 3).toInt).map(i =>
            (1000L * i, 1000L * i + 400L + id, Seq(s"cue $id $i"))),
          vtt = id % 4 == 0).getBytes("UTF-8"), "text/vtt")
      else
        Multimodal.Media(id, Multimodal.syntheticWavPcm(8000,
          Array.tabulate(240)(j => ((j * 17 + id.toInt * 5) % 1601) - 800)), "audio/wav")
    }
    val batchDs = spark.createDataset(medias)
    val batchCues = Subtitles.cues(batchDs.filter(_.mime == "text/vtt")).collect().toSet
    val batchStats = AudioStats.stats(batchDs.filter(_.mime == "audio/wav")).collect().toSet
    assert(batchCues.nonEmpty && batchStats.forall(_.n_samples == 240))
    val in = MemoryStream[(Long, Array[Byte], String)](spark)
    val st = in.toDS().map(t => Multimodal.Media(t._1, t._2, t._3))
    val q1 = Subtitles.cues(st.filter(_.mime == "text/vtt")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_cues").start()
    val q2 = AudioStats.stats(st.filter(_.mime == "audio/wav")).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cm_astats").start()
    try {
      in.addData(medias.map(m => (m.doc_id, m.media, m.mime)): _*)
      Seq(q1, q2).foreach(_.processAllAvailable())
      assert(spark.table("cm_cues").as[Subtitles.Cue].collect().toSet == batchCues)
      assert(spark.table("cm_astats").as[AudioStats.Stats].collect().toSet == batchStats)
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming audio tags: stream rows equal the batch walk (id3 + ogg comments)") {
    import spark.implicits._
    import graft.llm.{Containers, Multimodal}
    val medias = (0L until 8L).map { id =>
      if (id % 2 == 0)
        Multimodal.Media(id, Multimodal.syntheticMp3(version1 = true, srIdx = 0,
          Seq((5, 0)), Multimodal.id3FramesPayload(
            if (id % 4 == 0) 4 else 3,
            Seq(("TIT2", s"t$id"), ("TPE1", s"a$id")), encoding = (id % 3).toInt.min(1)),
          id3Version = if (id % 4 == 0) 4 else 3), "audio/mpeg")
      else
        Multimodal.Media(id, Containers.syntheticOgg(vorbis = id % 4 == 1, 8000, 1,
          3, 1, _ => 40, 128L, comments = Seq(("TITLE", s"t$id"), ("ARTIST", s"a$id"))),
          "audio/ogg")
    }
    val batch = Multimodal.audioTags(spark.createDataset(medias)).collect().toSet
    assert(batch.forall(t => t.title == s"t${t.doc_id}" && t.artist == s"a${t.doc_id}"),
      s"batch premise: $batch")
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = Multimodal.audioTags(
        in.toDS().map { case (id, b) => medias(id.toInt) }).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("tag_out").start()
    try {
      in.addData(medias.map(m => (m.doc_id, m.media)): _*)
      q.processAllAvailable()
      val got = spark.table("tag_out").as[Multimodal.AudioTags].collect().toSet
      assert(got == batch, "tags stream == batch")
    } finally q.stop()
  }

  test("streaming CDX / spectral fingerprint / wHash equal the batch kernels (r15)") {
    import spark.implicits._
    import graft.llm.{AudioStats, Multimodal, Warc}
    val warcs = (0L until 6L).map { id =>
      Multimodal.Media(id, Warc.syntheticWarcDated(
        (0 until (1 + id % 2).toInt).map(i =>
          (s"http://h$id.net/p$i", f"2026-08-${1 + (id + i) % 28}%02dT00:00:00Z",
            s"<p>s $id $i</p>")), gzipped = id % 2 == 0), "application/warc")
    }
    val wavs = (0L until 6L).map { id =>
      val k = (1 + id % 33).toInt
      val samples = Array.tabulate(192)(j =>
        if (java.lang.Integer.bitCount(k & (j % 64)) % 2 == 0) 40 else -40)
      Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
    }
    val bmps = (0L until 6L).map { id =>
      Multimodal.Media(id, Multimodal.syntheticBmp8(32, 32,
        Array.tabulate(1024)(i => ((i * 11 + id.toInt * 7) % 200))), "image/bmp")
    }
    val batchCdx = Warc.cdxRecords(spark.createDataset(warcs)).collect().toSet
    val batchSpec = AudioStats.spectralFingerprint(spark.createDataset(wavs)).collect().toSet
    val batchWh = Multimodal.imageWHash(spark.createDataset(bmps)).collect().toSet
    assert(batchCdx.nonEmpty && batchSpec.nonEmpty && batchWh.forall(_.ok), "batch premise")
    val in1 = MemoryStream[Multimodal.Media](spark)
    val in2 = MemoryStream[Multimodal.Media](spark)
    val in3 = MemoryStream[Multimodal.Media](spark)
    val q1 = Warc.cdxRecords(in1.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("cdx_out").start()
    val q2 = AudioStats.spectralFingerprint(in2.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("spec_out").start()
    val q3 = Multimodal.imageWHash(in3.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName("wh_out").start()
    try {
      in1.addData(warcs.take(3): _*); in2.addData(wavs.take(3): _*)
      in3.addData(bmps.take(3): _*)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      in1.addData(warcs.drop(3): _*); in2.addData(wavs.drop(3): _*)
      in3.addData(bmps.drop(3): _*)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      assert(spark.table("cdx_out").as[Warc.CdxRow].collect().toSet == batchCdx,
        "cdx stream == batch")
      assert(spark.table("spec_out").as[AudioStats.SpectralFrame].collect().toSet
        == batchSpec, "spectral stream == batch")
      assert(spark.table("wh_out").as[Multimodal.ImageHash].collect().toSet == batchWh,
        "whash stream == batch")
    } finally Seq(q1, q2, q3).foreach(_.stop())
  }

  test("streaming CDX ranged fetch equals the batch seek path (r15)") {
    import spark.implicits._
    import graft.llm.{Multimodal, Warc}
    val recs = (0 until 8).map(i =>
      (s"http://st.net/p$i", "2026-08-01T00:00:00Z", s"<p>st $i</p>"))
    val arc = Warc.syntheticWarcDated(recs, gzipped = true)
    val f = java.io.File.createTempFile("graft_stream_fetch", ".warc.gz")
    try {
      java.nio.file.Files.write(f.toPath, arc)
      val wanted = Warc.cdxIndex(arc).filter(_.rec_type == "response")
        .map(r => (r, f.getAbsolutePath))
      val batch = Warc.fetchRecords(spark.createDataset(wanted)).collect().toSet
      assert(batch.size == 8, "batch premise")
      val in = MemoryStream[(Warc.CdxRow, String)](spark)
      val q = Warc.fetchRecords(in.toDS()).toDF()
        .writeStream.outputMode(OutputMode.Append()).format("memory")
        .queryName("fetch_out").start()
      try {
        in.addData(wanted.take(4): _*)
        q.processAllAvailable()
        in.addData(wanted.drop(4): _*)
        q.processAllAvailable()
        assert(spark.table("fetch_out").as[Warc.WarcRecord].collect().toSet == batch,
          "fetch stream == batch")
      } finally q.stop()
    } finally f.delete()
  }

  test("streaming RRF fusion state equals the batch fusion (r15)") {
    // retrieval lists arrive as an unbounded feed (one row per (query,
    // candidate, rank)); the fusion STATE (rrfScores — the one stateful
    // stage) accumulates under Complete mode and must converge to the
    // batch scores once both lists have arrived; ranking the final state
    // through the batch layering reproduces rrfFuse exactly
    val listA = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (2L, 9L, 1L))
    val listB = Seq((1L, 3L, 1L), (1L, 1L, 2L))
    val batchScores = graft.llm.Retrieval.rrfScores(
        Seq(listA.toDF("q_id", "nn_id", "rank"), listB.toDF("q_id", "nn_id", "rank")),
        "q_id", "nn_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val in = MemoryStream[(Long, Long, Long)](spark)
    val scores = graft.llm.Retrieval.rrfScores(
      Seq(in.toDF().toDF("q_id", "nn_id", "rank")), "q_id", "nn_id", "rank")
    val q = scores.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("rrf_out").start()
    try {
      in.addData(listA: _*)
      q.processAllAvailable()
      in.addData(listB: _*)
      q.processAllAvailable()
      val streamScores = spark.table("rrf_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamScores == batchScores, "rrf state stream == batch")
      // the consumer-side ranking of the streamed state = the batch fusion
      val fusedFromStream = graft.llm.Ann.topKPerQuery(
          spark.table("rrf_out").select(col("q_id"), col("nn_id"),
            col("score_micro").cast("double").as("cosine")), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val fusedBatch = graft.llm.Retrieval.rrfFuse(
          Seq(listA.toDF("q_id", "nn_id", "rank"), listB.toDF("q_id", "nn_id", "rank")),
          "q_id", "nn_id", "rank", topK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fusedFromStream == fusedBatch, "ranked stream state == rrfFuse")
    } finally q.stop()
  }

  test("streaming query feed against a prebuilt NSW index equals batch (r15)") {
    // the serving shape: the graph index builds ONCE (a persisted
    // DataFrame), query batches arrive as an unbounded feed, each
    // micro-batch searches the same index — per-query results are
    // independent, so the union over micro-batches must equal one batch
    // search over all queries
    import graft.llm.Nsw
    def v(id: Long): Array[Float] = Array.tabulate(8)(d =>
      (graft.llm.Hashing.splitmix64(id * 31 + d).toDouble / Long.MaxValue.toDouble).toFloat)
    val corpus = (0L until 60L).map(i => (i, v(i))).toDF("vec_id", "embedding")
      .repartition(3).persist()
    try {
      corpus.count()
      val idx = Nsw.index(corpus, "vec_id", "embedding", m = 4, efConstruction = 16).persist()
      idx.count()
      val queries = (0L until 6L).map(i => (i, v(i)))
      val batch = Nsw.searchIndex(idx, queries.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 5, ef = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      val in = MemoryStream[(Long, Array[Float])](spark)
      val q = in.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= Nsw.searchIndex(idx, b, "vec_id", "embedding", k = 5, ef = 16)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          ()
        }.start()
      try {
        in.addData(queries.take(3): _*)
        q.processAllAvailable()
        in.addData(queries.drop(3): _*)
        q.processAllAvailable()
        assert(got.toSet == batch, "nsw stream == batch")
      } finally q.stop()
      idx.unpersist(blocking = false)
    } finally corpus.unpersist(blocking = false)
  }
}
