package graft.storage

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal
import org.json4s._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.model.Envelope
import graft.serde.Json
import graft.serde.Json.formats

/** File-backed storage: a topic is a parquet table with the envelope columns
  * — the reference's miniature Kafka-log-on-files (fs/fs_producer.py:53-70,
  * fs_admin.py:206-261) re-expressed as what it actually is: a partitioned
  * columnar table with (partition, offset, timestamp) columns.
  *
  * The reference encodes offsets/timestamps in batch-file NAMES and derives
  * watermarks from them (fs_admin.py:156-183); here a per-topic offset index
  * records each data file's per-partition `[lo, hi)` range, so produce,
  * watermarks and lags read no data, and `readRange` opens only the files
  * whose range overlaps. Within a file, an offset/ts predicate reaches the
  * scan as a PushedFilter, so a seek reads only the overlapping row groups.
  *
  * `root` is a LOCAL filesystem path: the metadata plane (meta.json,
  * index.json, group offsets, the writer lock) uses java.nio precisely for
  * its atomic CREATE_NEW / ATOMIC_MOVE guarantees, which object stores do
  * not offer. Its files are JSON through [[Json]]: an index that does not
  * parse is rebuilt from the data files, and a meta or group file that does
  * not parse is an error naming the file.
  *
  * Layout: `<root>/topics/<name>/data/` (parquet) + `meta.json` (partition
  * count, fs_admin.py:349-369) + `index.json` (the offset index) +
  * `.staging/` (a produce's files before they move into `data/`);
  * `<root>/groups/<g>/<topic>.json` (committed offsets, fs_admin.py:371-415).
  *
  * Scale notes: offset assignment on produce is a row_number window keyed by
  * `partition` — per-partition sequencing is the log's own semantics (Kafka
  * brokers serialize the same way); everything else is append-only parquet
  * with no global coordination. The index grows by one entry per produced
  * file (log compaction, which would bound it, is not implemented).
  */
class FileStorage(spark: SparkSession, val root: String,
    lockWaitMs: Long = 30000, lockStaleMs: Long = 600000) extends Storage {
  import FileStorage.{deleteTree, writeAtomic}

  private def topicDir(t: String) = s"$root/topics/$t"
  private def dataDir(t: String) = s"${topicDir(t)}/data"
  private def metaPath(t: String) = Paths.get(s"${topicDir(t)}/meta.json")
  private def groupPath(g: String, t: String) = Paths.get(s"$root/groups/$g/$t.json")

  override def createTopic(topic: String, partitions: Int = 1): Unit =
    createTopic(topic, partitions, Map.empty[String, String])

  /** create with topic config entries (fs_admin.py:57-66: metadata carries
    * {topic, partitions, config}). */
  def createTopic(topic: String, partitions: Int, config: Map[String, String]): Unit = {
    require(!exists(topic), s"topic exists: $topic")
    JFiles.createDirectories(Paths.get(dataDir(topic)))
    writeMeta(topic, partitions, config)
  }

  private def writeMeta(topic: String, partitions: Int, config: Map[String, String]): Unit = {
    val entries = config.toSeq.sorted.map { case (k, v) => k -> Json.quote(v) }
    writeAtomic(metaPath(topic),
      Json.obj(Seq("partitions" -> partitions.toString, "config" -> Json.obj(entries))).getBytes("UTF-8"))
  }

  /** Decode a meta or group file; one that does not parse, or has another
    * shape, is an error naming the file. */
  private def readJson[A](p: Path)(decode: JValue => A): A = {
    val text = JFiles.readString(p)
    try decode(Json.parse(text))
    catch { case NonFatal(e) => throw new IllegalStateException(s"unreadable metadata file $p: ${e.getMessage}", e) }
  }

  /** Topic config entries (fs_admin.py:361-365). */
  def getConfig(topic: String): Map[String, String] =
    readJson(metaPath(topic))(m => (m \ "config").extract[Map[String, String]])

  /** Get (entries == empty) or merge-set config on every topic matching the
    * glob pattern (fs_admin.py:40-53). Returns topic -> config after the
    * operation. */
  def config(pattern: String, entries: Map[String, String] = Map.empty): Map[String, Map[String, String]] =
    listTopics(pattern).map { t =>
      if (entries.nonEmpty) withWriterLock(t) { // read-modify-write races producers
        writeMeta(t, partitions(t), getConfig(t) ++ entries)
      }
      t -> getConfig(t)
    }.toMap

  private def usingStream[A](s: java.util.stream.Stream[java.nio.file.Path])(f: Iterator[java.nio.file.Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  override def deleteTopic(topic: String): Unit = deleteTree(Paths.get(topicDir(topic)))

  override def exists(topic: String): Boolean = JFiles.exists(metaPath(topic))

  /** Glob patterns hidden from listTopics/ls (the reference's
    * topic_ignore_patterns, kafi/storage.py; exercised by
    * test_single_storage_base.py:448-474 — e.g. Seq("_*") hides internal
    * topics). Reads/produces by explicit topic name are unaffected. */
  @volatile private var ignorePatterns: Seq[String] = Nil

  def topicIgnorePatterns(patterns: Seq[String]): Unit =
    ignorePatterns = patterns

  override def listTopics(pattern: String = "*"): Seq[String] = {
    val base = Paths.get(s"$root/topics")
    if (!JFiles.exists(base)) return Nil
    val re = graft.functions.Helpers.globToRegex(pattern).r
    val ignores = ignorePatterns.map(p => graft.functions.Helpers.globToRegex(p).r)
    usingStream(JFiles.list(base))(
      _.map(_.getFileName.toString)
        .filter(n => re.matches(n) && !ignores.exists(_.matches(n)))
        .toSeq.sorted)
  }

  override def partitions(topic: String): Int =
    readJson(metaPath(topic))(m => (m \ "partitions").extract[Int])

  /** ls/ll — topic listing with partition counts and message/byte sizes
    * (kafi/storage_admin.py:11-53): one aggregation per topic, driver
    * receives |topics| rows. */
  def ls(pattern: String = "*"): Seq[(String, Int, Long, Long)] =
    listTopics(pattern).map { t =>
      val stats = read(t).agg(
        count(lit(1)),
        coalesce(sum(coalesce(octet_length(col("key")), lit(0)) +
          coalesce(octet_length(col("value")), lit(0))), lit(0L))).head
      (t, partitions(t), stats.getLong(0), stats.getLong(1))
    }

  /** recreate/retouch (kafi/addons.py:69-108): delete + create preserving
    * the partition count and topic config. */
  def recreate(topic: String): Unit = {
    val p = partitions(topic)
    val c = getConfig(topic)
    deleteTopic(topic)
    createTopic(topic, p, c)
  }

  /** Advisory per-topic writer lock backing Storage.produce's single-writer
    * contract: atomically created lock file carrying a holder token;
    * contenders wait up to 30 s. Guards both produce
    * (read-watermark-then-append) and deleteRecords (delete-then-move),
    * whose windows race each other.
    *
    * A stale lock (no heartbeat for >10 min) is reclaimed via ATOMIC_MOVE
    * to a contender-unique grave name — only one contender can win the
    * rename, so two waiters can't both "reclaim" and run concurrently
    * (delete+recreate had exactly that TOCTOU). While the critical section
    * runs, a daemon thread heartbeats the lock mtime every 60 s so a
    * legitimately long produce (plausible at 100 TB) is never stolen
    * mid-append; release deletes the lock only if it still carries our
    * token. */
  private def withWriterLock[A](topic: String)(f: => A): A = {
    val lock = Paths.get(s"${topicDir(topic)}/.writer.lock")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + lockWaitMs
    var acquired = false
    while (!acquired) {
      try {
        JFiles.write(lock, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW, java.nio.file.StandardOpenOption.WRITE)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale = try {
            System.currentTimeMillis() - JFiles.getLastModifiedTime(lock).toMillis > lockStaleMs
          } catch { case _: java.nio.file.NoSuchFileException => false }
          val reclaimed = stale && {
            val grave = Paths.get(s"${topicDir(topic)}/.writer.lock.reclaim.$token")
            try {
              JFiles.move(lock, grave, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              JFiles.deleteIfExists(grave)
              true
            } catch { case _: java.io.IOException => false } // another contender won the rename
          }
          // the stale branch must also respect the deadline and back off: a
          // filesystem where the rename fails persistently (e.g. no atomic
          // move) must time out, not busy-spin at 100% CPU
          if (!reclaimed) {
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"writer lock for topic '$topic' held by another producer ($lock)")
            Thread.sleep(100)
          }
      }
    }
    val hb = new Thread(() => {
      try {
        while (true) {
          Thread.sleep(60000)
          try JFiles.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-$topic")
    hb.setDaemon(true)
    hb.start()
    try f finally {
      hb.interrupt()
      try {
        if (new String(JFiles.readAllBytes(lock), "UTF-8") == token) JFiles.delete(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  private def emptyLog(topic: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Envelope.schema)

  override def read(topic: String): DataFrame = {
    require(exists(topic), s"no such topic: $topic")
    val d = Paths.get(dataDir(topic))
    val hasData = usingStream(JFiles.list(d))(_.exists(_.getFileName.toString.endsWith(".parquet")))
    if (!hasData) emptyLog(topic)
    else spark.read.schema(Envelope.schema).parquet(dataDir(topic))
  }

  override def produce(topic: String, df: DataFrame): Unit = {
    // checked before lock acquisition: creating the lock file inside a
    // missing topic directory would throw a raw NoSuchFileException and mask
    // the intended error message
    require(exists(topic), s"no such topic: $topic")
    produceLocked(topic, df)
  }

  /** Assign offsets past the indexed high watermarks, write the batch to
    * `.staging/` (an Observation on the same write counts its rows per
    * partition), move the files into `data/`, then commit the index. An
    * empty batch appends nothing. A crash between the move and the commit
    * leaves unlisted files, which the next `index` call recovers. */
  private def produceLocked(topic: String, df: DataFrame): Unit = withWriterLock(topic) {
    val (files, recovered) = index(topic)
    val base = bounds(files).map { case (p, (_, hi)) => p -> hi }
    val staging = Paths.get(s"${topicDir(topic)}/.staging")
    deleteTree(staging) // residue of a crashed produce
    val nParts = partitions(topic)
    val obs = Observation()
    val counts = (0 until nParts).map(p => count(when(col("partition") === p, 1)).as(p.toString))
    LogProduce.assign(topic, df, nParts, base)
      .observe(obs, counts.head, counts.tail: _*)
      .write.parquet(staging.toString)
    val written = obs.get.collect { case (p, n: Long) if n > 0 => p.toInt -> n }
    val added =
      if (written.isEmpty) Nil
      else {
        val ranges = written.map { case (p, n) => val lo = base.getOrElse(p, 0L); p -> (lo, lo + n) }
        usingStream(JFiles.list(staging))(_.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
          .map { f =>
            JFiles.move(f, Paths.get(dataDir(topic)).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
            // every file of one produce gets the produce's ranges: a
            // superset of its own rows' offsets, exact at one file
            LogFile(f.getFileName.toString, ranges)
          }
      }
    if (added.nonEmpty || recovered) writeIndex(topic, files ++ added)
    deleteTree(staging)
  }

  // ---- offset index (fs_admin.py:156-183: watermarks from metadata) ----

  /** One data file and the `[lo, hi)` offset range it covers per partition. */
  private case class LogFile(name: String, ranges: Map[Int, (Long, Long)])

  private def indexPath(t: String) = Paths.get(s"${topicDir(t)}/index.json")

  /** One entry per line, closed by `\n]}`. */
  private def writeIndex(topic: String, files: Seq[LogFile]): Unit =
    writeAtomic(indexPath(topic), files.map { f =>
      val ranges = f.ranges.toSeq.sortBy(_._1).map { case (p, (lo, hi)) => p.toString -> s"[$lo, $hi]" }
      "  " + Json.obj(Seq("file" -> Json.quote(f.name), "ranges" -> Json.obj(ranges)))
    }.mkString("{\"files\": [\n", ",\n", "\n]}\n").getBytes("UTF-8"))

  /** The indexed files; None when the index is missing or does not parse. */
  private def readIndex(topic: String): Option[Seq[LogFile]] =
    if (!JFiles.exists(indexPath(topic))) None
    else Try((Json.parse(JFiles.readString(indexPath(topic))) \ "files").extract[Seq[JValue]].map { f =>
      LogFile((f \ "file").extract[String], (f \ "ranges").extract[Map[String, Seq[Long]]]
        .map { case (p, Seq(lo, hi)) => p.toInt -> (lo, hi) })
    }).toOption

  /** The topic's data files with their ranges, and whether any had to be
    * recovered from the data. Files the index does not list (a crash
    * between a produce's move and its index commit, or a topic written
    * before the index existed) are aggregated, and only those; a listed
    * file that is missing, or an index that does not parse, discards the
    * index and aggregates every file. */
  private def index(topic: String): (Seq[LogFile], Boolean) = {
    val onDisk = usingStream(JFiles.list(Paths.get(dataDir(topic))))(
      _.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
    val listed = readIndex(topic).filter(_.forall(f => onDisk(f.name))).getOrElse(Nil)
    val unlisted = (onDisk -- listed.map(_.name)).toSeq.sorted
    if (unlisted.isEmpty) (listed, false)
    else {
      val found = spark.read.schema(Envelope.schema).parquet(unlisted.map(f => s"${dataDir(topic)}/$f"): _*)
        .groupBy(col("_metadata.file_name"), col("partition"))
        .agg(min("offset"), max("offset") + 1).collect()
        .groupMap(_.getString(0))(r => r.getInt(1) -> (r.getLong(2), r.getLong(3)))
      (listed ++ unlisted.map(f => LogFile(f, found.get(f).fold(Map.empty[Int, (Long, Long)])(_.toMap))), true)
    }
  }

  /** (low, high) per partition that holds at least one message. */
  private def bounds(files: Seq[LogFile]): Map[Int, (Long, Long)] =
    files.flatMap(_.ranges).groupMapReduce(_._1)(_._2) { case ((l1, h1), (l2, h2)) =>
      (math.min(l1, l2), math.max(h1, h2)) }

  /** Streaming read of the topic log (streams source,
    * topologynode.py:977-989): each appended batch file becomes a
    * micro-batch; pairs with Runner.demux for multi-sink topologies. */
  def readStream(topic: String): DataFrame = {
    require(exists(topic), s"no such topic: $topic")
    spark.readStream.schema(Envelope.schema).parquet(dataDir(topic))
  }

  /** (partition, low, high) from the index: a local relation, no scan. */
  override def watermarks(topic: String): DataFrame = {
    require(exists(topic), s"no such topic: $topic")
    val rows = bounds(index(topic)._1).toSeq.sortBy(_._1).map { case (p, (lo, hi)) => Row(p, lo, hi) }
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("partition", IntegerType),
      StructField("low", LongType), StructField("high", LongType))))
  }

  // ---- offset / timestamp seeks (fs_admin.py:206-261) ----

  /** Messages with offset in [from, until) per partition: reads only the
    * files whose indexed range overlaps, and the predicate is pushed to the
    * parquet scan (row-group pruning). */
  def readRange(topic: String, fromOffset: Long, untilOffset: Long): DataFrame = {
    require(exists(topic), s"no such topic: $topic")
    val files = index(topic)._1
      .filter(_.ranges.values.exists { case (lo, hi) => lo < untilOffset && hi > fromOffset })
      .map(f => s"${dataDir(topic)}/${f.name}")
    val log = if (files.isEmpty) emptyLog(topic) else spark.read.schema(Envelope.schema).parquet(files: _*)
    log.filter(col("offset") >= fromOffset && col("offset") < untilOffset)
  }

  /** offsets_for_times: first offset with timestamp >= ts per partition
    * (cluster_admin.py:210-238). */
  def offsetsForTimes(topic: String, tsMs: Long): DataFrame =
    read(topic)
      .filter(Envelope.tsMs(col("timestamp")) >= tsMs)
      .groupBy("partition")
      .agg(min("offset").cast("long").as("offset"))

  /** last-n fair share per partition (storage_consumer.py:212-231). */
  def readLastN(topic: String, nPerPartition: Int): DataFrame =
    graft.ops.Shell.tail(read(topic), nPerPartition)

  /** Restrict a read to a partition subset — the consumer `partitions=`
    * assignment (test_single_storage_base.py:893-931). The isin predicate
    * pushes to the parquet scan. */
  def readPartitions(topic: String, parts: Seq[Int]): DataFrame =
    read(topic).filter(col("partition").isin(parts: _*))

  /** Per-partition start offsets — the consumer `offsets={p: o}` seek
    * (storage_consumer.py:83-117; exercised by
    * test_single_storage_base.py:750-792): a NEGATIVE o resolves against
    * the partition's high watermark from the index (o = −2 ⇒ the last 2
    * messages, clamped at the log start); partitions absent from the map
    * read from the beginning. The resolved starts are a map literal, as in
    * [[LogProduce.assign]]: no join and no scan to find the watermarks. */
  def readFrom(topic: String, offsets: Map[Int, Long]): DataFrame = {
    val env = read(topic)
    val b = bounds(index(topic)._1)
    val starts = offsets.flatMap { case (p, o) =>
      if (o >= 0) Some(p -> o) else b.get(p).map { case (lo, hi) => p -> math.max(hi + o, lo) }
    }
    val start = typedLit(starts).getItem(col("partition"))
    env.filter(start.isNull || col("offset") >= start)
  }

  // ---- groups (fs_admin.py:371-415) ----

  override def commit(group: String, topic: String, offsets: Map[Int, Long]): Unit = {
    JFiles.createDirectories(groupPath(group, topic).getParent)
    // atomic like meta.json: a crash mid-write must not leave a torn file
    writeAtomic(groupPath(group, topic), Json.obj(offsets.toSeq.sortBy(_._1)
      .map { case (p, o) => p.toString -> o.toString }).getBytes("UTF-8"))
  }

  override def committed(group: String, topic: String): Map[Int, Long] = {
    val p = groupPath(group, topic)
    if (!JFiles.exists(p)) Map.empty
    else readJson(p)(_.extract[Map[String, Long]]).map { case (k, o) => k.toInt -> o }
  }

  /** cp_group_offsets (kafi/addons.py:112-129). */
  def cpGroupOffsets(group: String, topic: String, target: FileStorage): Unit =
    target.commit(group, topic, committed(group, topic))

  /** lags (kafi/storage.py:245-255): high watermark − committed (the low
    * watermark where nothing is committed), from the index: a local
    * relation, no scan. */
  def lags(group: String, topic: String): DataFrame = {
    require(exists(topic), s"no such topic: $topic")
    val cm = committed(group, topic)
    val rows = bounds(index(topic)._1).toSeq.sortBy(_._1).map { case (p, (lo, hi)) =>
      Row(p, hi, cm.get(p).map(Long.box).orNull, hi - cm.getOrElse(p, lo))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("partition", IntegerType),
      StructField("high", LongType), StructField("committed", LongType), StructField("lag", LongType))))
  }

  /** delete_records up to the given offset per partition
    * (cluster_admin.py:292-315): compaction-style rewrite. */
  def deleteRecords(topic: String, upToOffset: Long): Unit = withWriterLock(topic) {
    val keep = read(topic).filter(col("offset") >= upToOffset)
    val tmp = s"${topicDir(topic)}/data_tmp"
    keep.write.mode("overwrite").parquet(tmp)
    val dataP = Paths.get(dataDir(topic))
    deleteTree(dataP)
    JFiles.move(Paths.get(tmp), dataP)
    JFiles.deleteIfExists(indexPath(topic)) // rebuilt from the rewritten files
  }
}

object FileStorage {

  /** Crash-safe small-file write: temp file in the same directory +
    * ATOMIC_MOVE, so a reader never observes a torn file and a crash
    * mid-write leaves the old content. */
  private[graft] def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp.${java.util.UUID.randomUUID()}")
    JFiles.write(tmp, bytes)
    JFiles.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive delete; closes its directory stream (an unclosed walk leaks
    * a file descriptor per call). */
  private[graft] def deleteTree(p: Path): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(JFiles.delete) finally s.close()
    }
}

/** Kafka-backed storage: the same surface over Spark's Kafka source/sink.
  * Wiring only — this container has no Kafka connector jar or broker, so
  * the class is compile-checked via string-based format options and the
  * admin plane documents its AdminClient mapping (SURVEY §2.4: Spark has no
  * admin surface; a deployment adds spark-sql-kafka + kafka-clients and the
  * marked methods below become AdminClient one-liners).
  */
class KafkaStorage(spark: SparkSession, bootstrap: String) {

  /** Batch read with offset-range seek — Spark pushes these straight to the
    * consumer; ts-seek via startingOffsetsByTimestamp. */
  def read(topic: String, startingOffsets: String = "earliest", endingOffsets: String = "latest"): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("endingOffsets", endingOffsets)
      .option("includeHeaders", "true")
      .load()

  def readStream(topic: String, startingOffsets: String = "latest", maxOffsetsPerTrigger: Long = 10000): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .option("includeHeaders", "true")
      .load()

  /** Producer: df needs key/value (binary or string) + optional partition/
    * headers (cluster_producer.py:53-77 passthrough semantics). */
  def write(topic: String, df: DataFrame): Unit =
    df.write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("includeHeaders", "true")
      .save()

  // Admin surface → org.apache.kafka.clients.admin.AdminClient:
  //   create/delete topics, partitions get/set, watermarks (listOffsets),
  //   groups (listConsumerGroupOffsets/alterConsumerGroupOffsets), configs,
  //   ACLs, delete_records — all direct AdminClient calls; not compilable
  //   here without kafka-clients on the classpath.
  def admin: Nothing =
    throw new UnsupportedOperationException(
      "AdminClient wrapper requires kafka-clients on the classpath (not shipped in this container)")
}
