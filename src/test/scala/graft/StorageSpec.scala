package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.ops.{AddOns, Shell}
import graft.storage.FileStorage

/** Contract suite for the storage layer (the SURVEY §5 per-backend pattern:
  * the same body would run against a KafkaStorage with a broker present —
  * the trait boundary is graft.storage.Storage). */
class StorageSpec extends SparkSpec {

  private def freshStorage(): FileStorage =
    new FileStorage(spark, Files.createTempDirectory("graft_fs").toString)

  import spark.implicits._

  private def sampleBatch(n: Int) = {
    (0 until n).map(i =>
      (s"k${i % 7}", s"v$i", new java.sql.Timestamp(1700000000000L + i * 1000L)))
      .toDF("key", "value", "timestamp")
  }

  test("admin: create / exists / partitions / glob list / delete / recreate") {
    val fs = freshStorage()
    fs.createTopic("snacks", 3)
    fs.createTopic("drinks", 2)
    assert(fs.exists("snacks") && !fs.exists("nope"))
    assert(fs.partitions("snacks") == 3)
    assert(fs.listTopics("*") == Seq("drinks", "snacks"))
    assert(fs.listTopics("sn*") == Seq("snacks"))
    fs.recreate("snacks")
    assert(fs.partitions("snacks") == 3 && fs.read("snacks").count() == 0)
    fs.deleteTopic("drinks")
    assert(!fs.exists("drinks"))
  }

  test("topic ignore patterns hide topics from listings, not from reads") {
    // mirrors test_single_storage_base.py:448-474
    val fs = freshStorage()
    fs.createTopic("snacks", 1)
    fs.createTopic("_snacks", 1)
    fs.topicIgnorePatterns(Seq("snacks", "_snacks"))
    assert(fs.listTopics("*").isEmpty)
    fs.topicIgnorePatterns(Seq("snacks"))
    assert(fs.listTopics("*") == Seq("_snacks"))
    fs.topicIgnorePatterns(Seq("_*")) // the internal-topic convention
    assert(fs.listTopics("*") == Seq("snacks"))
    assert(fs.ls("*").map(_._1) == Seq("snacks"))
    // explicit-name access is unaffected
    assert(fs.exists("_snacks") && fs.read("_snacks").count() == 0)
    fs.topicIgnorePatterns(Nil)
    assert(fs.listTopics("*") == Seq("_snacks", "snacks"))
  }

  test("ls lists topics with partitions, message counts and byte sizes") {
    val fs = freshStorage()
    fs.createTopic("alpha", 2)
    fs.createTopic("beta", 3)
    fs.produce("alpha", sampleBatch(10))
    val ls = fs.ls("*").map { case (t, p, n, b) => (t, p, n, b > 0) }
    assert(ls == Seq(("alpha", 2, 10L, true), ("beta", 3, 0L, false)))
    assert(fs.ls("al*").map(_._1) == Seq("alpha"))
  }

  test("chunked produce: all chunks of one message land on one partition (dechunk roundtrip)") {
    // the reference's chunk-key partition-affinity contract
    // (test_single_storage_base.py:1898-1945): the chunk rows keep the
    // original key, so the hash-of-key partitioner co-locates every chunk
    // of a message — dechunking after a per-partition read needs no
    // cross-partition repair
    import graft.serde.Chunker
    val fs = freshStorage()
    fs.createTopic("chunky", 6)
    val big = (0 until 8).map(i => (s"k$i", ("x" * 25) + s"payload$i",
      new java.sql.Timestamp(1700000000000L + i * 1000L))).toDF("key", "value", "timestamp")
    fs.produce("chunky", Chunker.chunkEnvelope(big, chunkChars = 10, idCols = Seq("key")))
    val read = fs.read("chunky")
    // per-chunk keys are distinct (compaction-safe) yet each ORIGINAL key's
    // chunks sit on exactly one partition
    assert(read.select("key").distinct().count() == read.count())
    val partsPerKey = read
      .select(expr("substring(key, 1, length(key) - 7)").as("k"), col("partition"))
      .distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).toSet)
    assert(partsPerKey.size == 8 && partsPerKey.values.forall(_.size == 1),
      partsPerKey.toMap.toString)
    // and the chunks reassemble to the original messages
    val back = Chunker.dechunkEnvelope(read)
      .select("key", "value").as[(String, String)].collect().toMap
    val orig = big.select("key", "value").as[(String, String)].collect().toMap
    assert(back == orig)
  }

  test("readFrom: per-partition start offsets with negative high-watermark resolution") {
    // mirrors test_single_storage_base.py:750-792 (consume_from_offsets):
    // messages 1-3 on partition 0, 4-6 on partition 2
    val fs = freshStorage()
    fs.createTopic("seek", 3)
    val rows = (1 to 6).map { i =>
      (null.asInstanceOf[String], s"message $i", if (i <= 3) 0 else 2,
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value", "partition", "timestamp")
    fs.produce("seek", rows)
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("partition", "offset").select("value").as[String].collect().toSeq
    // positive offsets: {0: 2, 2: 3} -> only "message 3"
    assert(vals(fs.readFrom("seek", Map(0 -> 2L, 2 -> 3L))) == Seq("message 3"))
    // negative: {0: -2, 2: 3} -> last two of partition 0
    assert(vals(fs.readFrom("seek", Map(0 -> -2L, 2 -> 3L))) == Seq("message 2", "message 3"))
    // unlisted partitions read from the beginning; large negative clamps
    assert(vals(fs.readFrom("seek", Map(2 -> -99L))) ==
      (1 to 6).map(i => s"message $i"))
    // partition-subset assignment (the consumer partitions= restriction)
    assert(vals(fs.readPartitions("seek", Seq(2))) ==
      Seq("message 4", "message 5", "message 6"))
  }

  test("readFrom: a large negative offset after deleteRecords starts at the new log start") {
    val fs = freshStorage()
    fs.createTopic("t", 1)
    fs.produce("t", sampleBatch(10).withColumn("partition", lit(0)))
    fs.deleteRecords("t", 4L)
    def offs(df: org.apache.spark.sql.DataFrame) =
      df.select("offset").as[Long].collect().sorted.toSeq
    assert(offs(fs.readFrom("t", Map(0 -> -99L))) == (4L until 10L))
    assert(offs(fs.readFrom("t", Map(0 -> -2L))) == Seq(8L, 9L))
  }

  test("readFrom: a requested partition that holds no messages reads empty") {
    val fs = freshStorage()
    fs.createTopic("t", 3)
    fs.produce("t", sampleBatch(5).withColumn("partition", lit(0)))
    assert(fs.readFrom("t", Map(1 -> -3L)).filter(col("partition") === 1).count() == 0)
    assert(fs.readFrom("t", Map(2 -> 0L)).filter(col("partition") === 2).count() == 0)
    // the other partitions still read from the beginning
    assert(fs.readFrom("t", Map(1 -> -3L, 2 -> 0L)).count() == 5)
  }

  test("produce: hash partitioner, dense offsets, watermarks, append continues") {
    val fs = freshStorage()
    fs.createTopic("t", 4)
    fs.produce("t", sampleBatch(40))
    val log = fs.read("t")
    assert(log.count() == 40)
    // every key lands in exactly one partition (partitioner is a key function)
    assert(log.groupBy("key").agg(countDistinct("partition").as("n"))
      .filter(col("n") > 1).count() == 0)
    // offsets dense from 0 per partition
    val wm = fs.watermarks("t").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(wm.forall(_._2 == 0L))
    assert(wm.map(_._3).sum == 40L)
    // append continues past the high watermark
    fs.produce("t", sampleBatch(40))
    val wm2 = fs.watermarks("t").collect().map(r => r.getLong(2)).sum
    assert(wm2 == 80L)
    val dense = fs.read("t").groupBy("partition")
      .agg(count(lit(1)).as("n"), (max("offset") - min("offset") + 1).as("span"))
      .filter(col("n") =!= col("span")).count()
    assert(dense == 0, "offsets must be dense per partition")
  }

  test("offset-range read pushes the predicate into the parquet scan") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    val ranged = fs.readRange("t", 2, 5)
    assert(ranged.agg(min("offset"), max("offset")).head() ==
      org.apache.spark.sql.Row(2L, 4L))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(offset"),
      s"offset predicate not pushed:\n$plan")
  }

  test("timestamp seek and last-n fair share") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    val oft = fs.offsetsForTimes("t", 1700000010000L) // first 10 records excluded
    assert(oft.count() > 0)
    // every returned offset's record has ts >= seek point
    val joined = fs.read("t").join(oft.withColumnRenamed("offset", "o"), "partition")
      .filter(col("offset") === col("o"))
    assert(joined.filter(Envelope.tsMs(col("timestamp")) < 1700000010000L).count() == 0)
    val lastn = fs.readLastN("t", 3)
    assert(lastn.groupBy("partition").count().filter(col("count") > 3).count() == 0)
  }

  test("groups: commit / committed / lags / consume-from-committed") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    assert(fs.committed("g1", "t").isEmpty)
    fs.commit("g1", "t", Map(0 -> 3L, 1 -> 5L))
    assert(fs.committed("g1", "t") == Map(0 -> 3L, 1 -> 5L))
    val lag = fs.lags("g1", "t").agg(sum("lag")).head().getLong(0)
    assert(lag == 20L - 3L - 5L)
    val fs2 = freshStorage()
    fs2.createTopic("t", 2)
    fs.cpGroupOffsets("g1", "t", fs2)
    assert(fs2.committed("g1", "t") == Map(0 -> 3L, 1 -> 5L))
  }

  test("cp: topic copy via one read->write plan") {
    val fs = freshStorage()
    fs.createTopic("a", 2)
    fs.createTopic("b", 2)
    fs.produce("a", sampleBatch(12))
    fs.produce("b", Shell.cp(fs.read("a"), df => df.withColumn("value", upper(col("value")))))
    assert(fs.read("b").count() == 12)
    assert(fs.read("b").filter(col("value").rlike("^V")).count() == 12)
  }

  test("compact over a storage topic honors tombstones") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    val batch = Seq(
      ("k1", "v1", ts(1)), ("k1", "v2", ts(2)),
      ("k2", "v3", ts(3)), ("k2", null, ts(4)),
      ("k3", null, ts(5)), ("k3", "v4", ts(6)))
      .toDF("key", "value", "timestamp")
    fs.produce("t", batch)
    val compacted = AddOns.compact(fs.read("t"))
      .select("key", "value").as[(String, String)].collect().toSet
    assert(compacted == Set(("k1", "v2"), ("k3", "v4"))) // k2 deleted by tombstone
  }

  test("deleteRecords truncates the log prefix") {
    val fs = freshStorage()
    fs.createTopic("t", 1)
    fs.produce("t", sampleBatch(10).withColumn("partition", lit(0)))
    fs.deleteRecords("t", 4L)
    assert(fs.read("t").agg(min("offset")).head().getLong(0) == 4L)
    assert(fs.read("t").count() == 6)
  }

  test("topic config: create-with, glob merge-set, recreate preserves") {
    val fs = freshStorage()
    fs.createTopic("snacks", 2, Map("retention.ms" -> "604800000"))
    fs.createTopic("drinks", 1)
    assert(fs.getConfig("snacks") == Map("retention.ms" -> "604800000"))
    assert(fs.getConfig("drinks").isEmpty)
    // glob set merges onto every match
    fs.config("s*", Map("cleanup.policy" -> "compact", "retention.ms" -> "1000"))
    assert(fs.getConfig("snacks") ==
      Map("retention.ms" -> "1000", "cleanup.policy" -> "compact"))
    assert(fs.getConfig("drinks").isEmpty)
    // glob get returns per-topic maps
    val all = fs.config("*")
    assert(all("drinks").isEmpty && all("snacks").size == 2)
    // escaping survives the JSON roundtrip
    fs.config("drinks", Map("note" -> """quo"te\back"""))
    assert(fs.getConfig("drinks")("note") == """quo"te\back""")
    // recreate keeps partitions AND config
    fs.recreate("snacks")
    assert(fs.partitions("snacks") == 2)
    assert(fs.getConfig("snacks")("cleanup.policy") == "compact")
  }

  test("topic config: values with control characters survive create, merge-set and recreate") {
    val fs = freshStorage()
    val cfg = Map("a" -> "x", "note" -> "l1\nl2\ttab")
    fs.createTopic("t", 1, cfg)
    assert(fs.getConfig("t") == cfg)
    fs.config("t", Map("b" -> "y"))
    assert(fs.getConfig("t") == cfg + ("b" -> "y"))
    fs.recreate("t")
    assert(fs.getConfig("t") == cfg + ("b" -> "y"))
  }

  test("concurrent producers serialize on the writer lock: no duplicate offsets") {
    val fs = freshStorage()
    fs.createTopic("locked", 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val writes = (0 until 4).map(_ => Future(fs.produce("locked", sampleBatch(50))))
      Await.result(Future.sequence(writes), 3.minutes)
    } finally pool.shutdown()
    val log = fs.read("locked")
    assert(log.count() == 200L)
    assert(log.select("partition", "offset").distinct().count() == 200L,
      "duplicate (partition, offset) coordinates: writer lock failed")
  }

  test("a stale writer lock (dead holder, no heartbeat) is reclaimed") {
    val fs = freshStorage()
    fs.createTopic("stale", 1)
    // simulate a crashed holder: lock exists with an mtime past the stale bar
    val lock = java.nio.file.Paths.get(s"${fs.root}/topics/stale/.writer.lock")
    java.nio.file.Files.writeString(lock, "dead-holder-token")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 11 * 60 * 1000))
    fs.produce("stale", sampleBatch(10)) // must reclaim, not wait out the deadline
    assert(fs.read("stale").count() == 10L)
    assert(!java.nio.file.Files.exists(lock), "lock released after reclaim+produce")
  }

  test("a fresh foreign writer lock blocks until timeout rather than being stolen") {
    val fs = new FileStorage(spark,
      java.nio.file.Files.createTempDirectory("graft_fs").toString,
      lockWaitMs = 1500) // short deadline so the suite doesn't wait 30s
    fs.createTopic("held", 1)
    val lock = java.nio.file.Paths.get(s"${fs.root}/topics/held/.writer.lock")
    java.nio.file.Files.writeString(lock, "live-holder-token")
    val t0 = System.currentTimeMillis()
    intercept[IllegalStateException](fs.produce("held", sampleBatch(1)))
    assert(System.currentTimeMillis() - t0 >= 1500)
    assert(java.nio.file.Files.readString(lock) == "live-holder-token",
      "foreign lock content must be untouched")
  }

  // ---- the offset index (index.json) ----

  private def dataFiles(fs: FileStorage, t: String): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(s"${fs.root}/topics/$t/data"))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  private def wm(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
    df.as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)

  /** Watermarks equal the full-log aggregate, and a further produce
    * continues every partition's offsets densely, with no duplicate. */
  private def assertConsistent(fs: FileStorage, t: String): Unit = {
    assert(wm(fs.watermarks(t)) == wm(AddOns.watermarks(fs.read(t)).select("partition", "low", "high")))
    val before = fs.read(t).count()
    fs.produce(t, sampleBatch(30))
    val log = fs.read(t)
    assert(log.count() == before + 30)
    assert(log.select("partition", "offset").distinct().count() == before + 30,
      "duplicate (partition, offset) coordinates")
    assert(wm(fs.watermarks(t)) == wm(AddOns.watermarks(log).select("partition", "low", "high")))
  }

  test("an empty produce appends no file and leaves the watermarks unchanged") {
    val fs = freshStorage()
    fs.createTopic("t", 3)
    fs.produce("t", sampleBatch(20))
    val files = dataFiles(fs, "t")
    val marks = wm(fs.watermarks("t"))
    fs.produce("t", sampleBatch(20).limit(0))
    fs.produce("t", spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      sampleBatch(1).schema))
    assert(dataFiles(fs, "t") == files)
    assert(wm(fs.watermarks("t")) == marks)
    assert(!Files.exists(java.nio.file.Paths.get(s"${fs.root}/topics/t/.staging")))
    // an empty produce on a fresh topic leaves it empty
    fs.createTopic("e", 2)
    fs.produce("e", sampleBatch(5).limit(0))
    assert(dataFiles(fs, "e").isEmpty && fs.watermarks("e").isEmpty)
  }

  test("index recovery: deleted index, unlisted files and missing listed files") {
    val fs = freshStorage()
    fs.createTopic("t", 3)
    fs.produce("t", sampleBatch(20))
    val index = java.nio.file.Paths.get(s"${fs.root}/topics/t/index.json")
    // a crash between a produce's move into data/ and its index commit:
    // the second produce's files are on disk but not in the index
    val committed = Files.readString(index)
    fs.produce("t", sampleBatch(25))
    Files.writeString(index, committed)
    assertConsistent(fs, "t")
    assert(fs.readRange("t", 0, 100).count() == 75)
    // a topic written before the index existed
    Files.delete(index)
    assertConsistent(fs, "t")
    // an index that lists a file no longer on disk is rebuilt from the data
    Files.writeString(index, Files.readString(index).replace("\n]}",
      ",\n  {\"file\": \"part-gone.parquet\", \"ranges\": {\"0\": [0, 999]}}\n]}"))
    assertConsistent(fs, "t")
    assert(!Files.readString(index).contains("part-gone"))
  }

  test("metadata files in the established text layout read back: partitions, config, watermarks, offsets") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    fs.produce("t", sampleBatch(10))
    val dir = java.nio.file.Paths.get(s"${fs.root}/topics/t")
    // one entry per data file with its own offset ranges, in reverse name
    // order: a rebuilt index would list the files sorted
    val ranges = fs.read("t").groupBy(col("_metadata.file_name"), col("partition"))
      .agg(min("offset"), max("offset") + 1).as[(String, Int, Long, Long)].collect().toSeq
    assert(ranges.map(_._1).distinct.size > 1)
    val index = ranges.groupBy(_._1).toSeq.sortBy(_._1).reverse.map { case (f, rs) =>
      rs.sortBy(_._2).map { case (_, p, lo, hi) => s""""$p": [$lo, $hi]""" }
        .mkString(s"""  {"file": "$f", "ranges": {""", ", ", "}}")
    }.mkString("{\"files\": [\n", ",\n", "\n]}\n")
    Files.writeString(dir.resolve("index.json"), index)
    Files.writeString(dir.resolve("meta.json"),
      """{"partitions": 2, "config": {"cleanup.policy": "compact", "note": "quo\"te\\back"}}""")
    Files.createDirectories(java.nio.file.Paths.get(s"${fs.root}/groups/g"))
    Files.writeString(java.nio.file.Paths.get(s"${fs.root}/groups/g/t.json"), """{"0": 5, "1": 7}""")
    val again = new FileStorage(spark, fs.root)
    assert(again.partitions("t") == 2)
    assert(again.getConfig("t") == Map("cleanup.policy" -> "compact", "note" -> "quo\"te\\back"))
    assert(again.committed("g", "t") == Map(0 -> 5L, 1 -> 7L))
    assert(wm(again.watermarks("t")) == ranges.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (p, rs) => (p, rs.map(_._3).min, rs.map(_._4).max) })
    // the index was read, not rebuilt: an empty produce leaves it as written
    again.produce("t", sampleBatch(5).limit(0))
    assert(Files.readString(dir.resolve("index.json")) == index)
    assertConsistent(again, "t")
  }

  test("unparseable metadata: the index is rebuilt, a meta or group file fails naming the file") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    val dir = java.nio.file.Paths.get(s"${fs.root}/topics/t")
    val index = dir.resolve("index.json")
    Files.writeString(index, Files.readString(index).dropRight(5)) // a torn write
    assertConsistent(fs, "t")
    assert(Files.readString(index).endsWith("\n]}\n"))
    fs.commit("g", "t", Map(0 -> 3L, 1 -> 4L))
    val group = java.nio.file.Paths.get(s"${fs.root}/groups/g/t.json")
    Files.writeString(group, """{"0": 3, "1"""")
    assert(intercept[IllegalStateException](fs.committed("g", "t")).getMessage.contains(group.toString))
    Files.writeString(dir.resolve("meta.json"), """{"partitions": 2, "config": {"a": "x"""")
    assert(intercept[IllegalStateException](fs.partitions("t")).getMessage
      .contains(dir.resolve("meta.json").toString))
  }

  test("metadata with trailing content: the index is rebuilt, a meta or group file fails naming the file") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    fs.commit("g", "t", Map(0 -> 3L, 1 -> 4L))
    val dir = java.nio.file.Paths.get(s"${fs.root}/topics/t")
    val index = dir.resolve("index.json")
    val meta = dir.resolve("meta.json")
    val group = java.nio.file.Paths.get(s"${fs.root}/groups/g/t.json")
    // what produce, createTopic and commit write parses under the strict reader
    Seq(index, meta, group).foreach(p => graft.serde.Json.parse(Files.readString(p)))
    val tampered = Files.readString(index) + "{\"files\": []}\n"
    Files.writeString(index, tampered)
    fs.produce("t", sampleBatch(5).limit(0)) // rewrites the index only when it was rebuilt
    assert(Files.readString(index) != tampered, "an index with trailing content must be rebuilt")
    assert(Files.readString(index).endsWith("\n]}\n"))
    assertConsistent(fs, "t")
    Files.writeString(group, Files.readString(group) + " garbage")
    assert(intercept[IllegalStateException](fs.committed("g", "t")).getMessage.contains(group.toString))
    Files.writeString(meta, Files.readString(meta) + "}")
    assert(intercept[IllegalStateException](fs.partitions("t")).getMessage.contains(meta.toString))
  }

  test("deleteRecords drops the index; produce continues the offsets") {
    val fs = freshStorage()
    fs.createTopic("t", 2)
    fs.produce("t", sampleBatch(20))
    fs.produce("t", sampleBatch(20))
    fs.deleteRecords("t", 6L)
    assert(fs.read("t").agg(min("offset")).head().getLong(0) == 6L)
    assertConsistent(fs, "t")
    assert(wm(fs.watermarks("t")).forall(_._2 == 6L))
  }

  test("readRange equals the offset filter over the full log and opens only overlapping files") {
    val fs = freshStorage()
    fs.createTopic("t", 3)
    (0 until 5).foreach(_ => fs.produce("t", sampleBatch(30)))
    val log = fs.read("t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("partition", "offset", "key", "value").as[(Int, Long, String, String)].collect().sorted.toSeq
    for ((from, until) <- Seq((0L, 1L), (0L, 10L), (7L, 23L), (20L, 21L), (49L, 60L), (60L, 99L), (5L, 5L)))
      assert(rows(fs.readRange("t", from, until)) ==
        rows(log.filter(col("offset") >= from && col("offset") < until)), s"[$from, $until)")
    assert(fs.readRange("t", 0, 1).inputFiles.length < log.inputFiles.length)
  }

  private def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
}
