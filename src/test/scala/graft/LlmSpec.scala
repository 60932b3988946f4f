package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, TextAnalysis}

/** Accuracy/recall checks for the LSH-based LLM ops that have no SQL oracle:
  * planted exact duplicates MUST be found (their signatures are identical by
  * construction), and LSH candidate generation must stay far below
  * all-pairs.
  */
class LlmSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** 10 planted clones: doc i copied to id 10000+i. */
  private lazy val withClones = docs.select("doc_id", "text").unionByName(
    docs.filter(col("doc_id") < 10).select((col("doc_id") + 10000).as("doc_id"), col("text")))

  test("exact dedup finds planted clones") {
    val res = Dedup.exact(withClones, "doc_id", "text")
      .filter(col("n_copies") > 1)
    assert(res.count() == 10)
    assert(res.agg(max("keep_id")).head.getLong(0) < 10) // representative = original
  }

  test("minhash LSH finds planted clones with est_jaccard 1.0") {
    val pairs = Dedup.minhashPairs(withClones, "doc_id", "text", threshold = 0.9)
      .filter(col("id_b") >= 10000 && col("id_a") === col("id_b") - 10000)
    assert(pairs.count() == 10)
    assert(pairs.filter(col("est_jaccard") === 1.0).count() == 10)
  }

  test("ngram jaccard verification reports 1.0 for clones") {
    val pairs = Dedup.ngramJaccardPairs(withClones, "doc_id", "text", threshold = 0.99)
      .filter(col("id_b") >= 10000)
    assert(pairs.count() >= 10)
  }

  test("containment hits 1.0 for a doc quoted inside a larger one, where jaccard is low") {
    import spark.implicits._
    // B = A ++ filler: shingles(A) ⊂ shingles(B), so containment = 1.0
    // exactly while Jaccard ~ 0.7 — below the 0.9 Jaccard cut (missed
    // there by construction) yet high enough that the shared banding
    // path still surfaces the candidate pair
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val filler = (100 to 119).map(i => s"pad$i").mkString(" ")
    val df = Seq((1L, a), (2L, s"$a $filler")).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9,
        cacheSignatures = false).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_inter") == r.getAs[Long]("n_a"))
    assert(r.getAs[Double]("containment") == 1.0)
    // and the jaccard path at the same threshold indeed misses it
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.9,
      cacheSignatures = false).count() == 0)
  }

  test("simhash finds planted clones at hamming 0") {
    val pairs = Dedup.simhashPairs(withClones, "doc_id", "text", maxHamming = 0)
    assert(pairs.filter(col("id_b") >= 10000 && col("id_a") === col("id_b") - 10000).count() == 10)
  }

  test("embedding LSH finds planted clone vectors at cosine ~1") {
    val withCloneVecs = emb.select("vec_id", "embedding").unionByName(
      emb.filter(col("vec_id") < 10).select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val pairs = Dedup.embeddingPairs(withCloneVecs, "vec_id", "embedding", threshold = 0.999)
      .filter(col("id_b") >= 10000 && col("id_a") === col("id_b") - 10000)
    assert(pairs.count() == 10)
  }

  test("LSH ANN ranks a planted clone as nearest neighbor") {
    val clones = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(clones)
    val res = Ann.lshTopK(corpus, clones, "vec_id", "embedding", k = 1)
    val hits = res.filter(col("rank") === 1 && col("nn_id") === col("q_id") - 10000).count()
    assert(hits == 5) // identical signature → same buckets → cosine 1 wins
  }

  test("LSH ANN candidate set is far below all-pairs") {
    val q = emb.filter(col("vec_id") < 10)
    val cands = Ann.bandBuckets(Ann.withNormSig(emb, "vec_id", "embedding"), "vec_id")
      .select(col("band"), col("bh"), col("vec_id"))
    val n = emb.count()
    val candPairs = cands.join(
      Ann.bandBuckets(Ann.withNormSig(q, "vec_id", "embedding"), "vec_id")
        .select(col("band"), col("bh"), col("vec_id").as("q_id")),
      Seq("band", "bh"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct().count()
    assert(candPairs < 10 * n / 2, s"candidates $candPairs not selective vs all-pairs ${10 * n}")
  }

  test("brute-force ANN recall of LSH >= measured floor") {
    val q = emb.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select("q_id", "nn_id")
    val lsh = Ann.lshTopK(emb, q, "vec_id", "embedding", 10)
      .select("q_id", "nn_id")
    val overlap = brute.intersect(lsh).count().toDouble / brute.count()
    assert(overlap >= 0.15, s"recall@10 $overlap") // random embeddings: band-collision baseline
  }

  test("bounded-agg top-k is row-identical to the window form and window-free") {
    val q = emb.filter(col("vec_id") < 10)
    val win = Ann.lshTopK(emb, q, "vec_id", "embedding", 10)
    val agg = Ann.lshTopKAgg(emb, q, "vec_id", "embedding", 10)
    val w = win.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val a = agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == w, "agg and window rankings diverge")
    // the scale property: ranking must not collapse parallelism to a
    // per-q_id window sort (partial aggregation bounds state to k per task)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"agg form still windows:\n$plan")
  }

  test("topKPerQuery matches window ranking on NaN / signed-zero cosines") {
    import spark.implicits._
    // NaN (from Inf-component embeddings) and -0.0 vs 0.0 are where a naive
    // `>` comparator diverges from Spark's sort (NaN greatest, -0.0 == 0.0)
    val sims = Seq(
      (1L, 10L, Double.NaN), (1L, 11L, 2.0), (1L, 12L, -0.0), (1L, 13L, 0.0),
      (2L, 20L, -1.0), (2L, 21L, Double.NaN))
      .toDF("q_id", "nn_id", "cosine")
    val agg = Ann.topKPerQuery(sims, 3)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    val win = sims.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("nn_id"))))
      .filter(col("rank") <= 3)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(agg == win, s"agg=$agg win=$win")
  }

  test("IVF searchAgg is row-identical to the window search") {
    import graft.llm.Ivf
    val base = emb.select("vec_id", "embedding")
    val cents = Ivf.train(base, k = 8, iters = 1)
    val indexed = Ivf.index(base, cents)
    val q = base.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(rows(Ivf.searchAgg(indexed, cents, q, k = 5, nprobe = 2)) ==
      rows(Ivf.search(indexed, cents, q, k = 5, nprobe = 2)))
  }

  test("IVF searchAgg survives NaN query embeddings (probes, never crashes)") {
    import spark.implicits._
    import graft.llm.Ivf
    val base = emb.select("vec_id", "embedding")
    val cents = Ivf.train(base, k = 4, iters = 1)
    val indexed = Ivf.index(base, cents)
    // all centroid sims degenerate to NaN → normalized to +∞: the query
    // must still probe the nprobe LOWEST list ids (the window form's
    // NaN-sorts-largest order), not throw from an argmax that never fires
    val q = Seq((777777L, Array(Float.NaN, 1.0f))).toDF("vec_id", "embedding")
    val got = Ivf.searchAgg(indexed, cents, q, k = 3, nprobe = 2)
      .select("q_id").distinct().as[Long].collect().toSeq
    assert(got == Seq(777777L), s"NaN query must return ranked rows, got $got")
  }

  test("IVF assignment handles null embeddings deterministically") {
    import spark.implicits._
    import graft.llm.Ivf
    val base = emb.select("vec_id", "embedding")
    val withNull = base.unionByName(
      Seq((999999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val cents = Ivf.train(base, k = 4, iters = 1)
    val assigned = Ivf.index(withNull, cents)
    val nullRow = assigned.filter(col("vec_id") === 999999L).select("list_id")
      .as[Long].collect()
    // lowest list id — the same list a zero vector lands in (all sims 0)
    assert(nullRow.toSeq == Seq(0L))
  }

  test("IVF ANN: planted clone is rank-1; recall beats a random baseline") {
    import graft.llm.Ivf
    val clones = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(clones)
    val centroids = Ivf.train(corpus, k = 8, iters = 2)
    assert(centroids.count() == 8)
    val indexed = Ivf.index(corpus, centroids)
    // clone and original share the embedding -> same list -> always found
    val res = Ivf.search(indexed, centroids, clones, k = 1, nprobe = 2)
    assert(res.filter(col("rank") === 1 && col("nn_id") === col("q_id") - 10000).count() == 5)
    // recall@10 vs brute force with nprobe=4 of 8 lists
    val q = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
    val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10).select("q_id", "nn_id")
    val ivf = Ivf.search(Ivf.index(emb.select("vec_id", "embedding"), centroids), centroids, q, 10, nprobe = 4)
      .select("q_id", "nn_id")
    val recall = brute.intersect(ivf).count().toDouble / brute.count()
    assert(recall >= 0.3, s"ivf recall@10 $recall")
  }

  test("fingerprints: clones share all fingerprints, distinct docs don't") {
    val fp = TextAnalysis.fingerprintDocs(withClones, "doc_id", "text")
      .select(col("doc_id"), col("fingerprints"))
    val a = fp.filter(col("doc_id") === 0).head.getSeq[Long](1).toSet
    val clone = fp.filter(col("doc_id") === 10000).head.getSeq[Long](1).toSet
    val other = fp.filter(col("doc_id") === 5).head.getSeq[Long](1).toSet
    assert(a == clone)
    assert(a != other)
  }

  test("langId is deterministic and scores en text as en") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat and it was good"),
      (2L, "el gato se sentó en la alfombra y no era un problema")).toDF("doc_id", "text")
    val res = TextAnalysis.langId(df, col("text")).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res(1L) == "en")
    assert(res(2L) == "es")
  }

  test("hashString folds Unicode code points (surrogate pairs as one value)") {
    import graft.llm.Hashing
    def fnv1aOverCodePoints(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.codePoints().forEach { cp => h ^= cp; h *= 0x100000001b3L }
      h
    }
    // supplementary-plane text: each emoji is a surrogate pair in UTF-16
    // but must fold as its single code point (what DuckDB's unicode() sees)
    for (s <- Seq("hello 😀 world", "🍕🍕", "plain ascii", "café"))
      assert(Hashing.hashString(s) == fnv1aOverCodePoints(s), s"mismatch for '$s'")
  }

  test("tokenization keeps trailing empty tokens (matches DuckDB str_split)") {
    import spark.implicits._
    // 'a b' vs 'a b ' differ by a trailing empty token; DuckDB's str_split
    // keeps it, so the signature kernels must too or the oracles diverge
    val df = Seq((1L, "a b"), (2L, "a b ")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) != sigs(2L))
  }

  test("hash split: deterministic, partitioning-invariant, fractions near target") {
    import spark.implicits._
    import graft.llm.Sampling
    val fracs = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    def splits(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSplit(df, "doc_id", fracs)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val a = splits(docs)
    // same rows, different physical partitioning: routing must not move
    assert(a == splits(docs.repartition(13)))
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("val") > 20 && counts("test") > 20,
      s"implausible split sizes: $counts") // 500 docs; hash noise tolerated
    // sampling is a prefix property: the 1% sample is inside the 5% sample
    val s1 = Sampling.hashSample(docs, "doc_id", 0.01).select("doc_id").as[Long].collect().toSet
    val s5 = Sampling.hashSample(docs, "doc_id", 0.05).select("doc_id").as[Long].collect().toSet
    assert(s1.subsetOf(s5) && s5.size > s1.size)
  }

  test("int8 quantization: bounded reconstruction error, exact zero vectors, null passthrough") {
    import spark.implicits._
    import graft.llm.Quantize
    val withEdge = emb.select("vec_id", "embedding").unionByName(
      Seq((900001L, Array.fill(4)(0.0f)), (900002L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val out = Quantize.dequantize(Quantize.quantize(withEdge, "embedding"), "scale", "q", "deq")
      .select("vec_id", "embedding", "scale", "deq")
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val e = r.getAs[scala.collection.Seq[Float]](1)
      if (e == null) assert(r.isNullAt(2) && r.isNullAt(3), s"null must pass through at $id")
      else {
        val scale = r.getDouble(2)
        val d = r.getAs[scala.collection.Seq[Float]](3)
        assert(d.length == e.length)
        // symmetric int8: worst-case error is half a step (+ float eps)
        val tol = scale / 2 + 1e-4
        e.zip(d).foreach { case (x, y) =>
          assert(math.abs(x - y) <= tol, s"vec $id: |$x - $y| > $tol") }
        if (e.forall(_ == 0.0f)) assert(scale == 0.0 && d.forall(_ == 0.0f))
      }
    }
  }

  test("round-half-away is boundary-exact where floor(r+0.5) is not") {
    import graft.llm.Quantize.roundHalfAway
    // one ulp below 0.5: r+0.5 rounds UP to 1.0 in double; C round() gives 0
    assert(roundHalfAway(0.49999999999999994) == 0.0)
    assert(roundHalfAway(-0.49999999999999994) == 0.0)
    assert(roundHalfAway(0.5) == 1.0 && roundHalfAway(-0.5) == -1.0)
    assert(roundHalfAway(2.5) == 3.0 && roundHalfAway(-2.5) == -3.0)
    assert(roundHalfAway(1.4999999999999998) == 1.0)
    assert(roundHalfAway(126.5) == 127.0 && roundHalfAway(-126.5) == -127.0)
  }

  test("quantize: a null ELEMENT stays a null code, not a silent 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq[Any](1.0f, null, -2.0f)),
        Row(2L, Seq[Any](null, null))), // no non-null element -> null scale
      schema)
    val out = graft.llm.Quantize.dequantize(
        graft.llm.Quantize.quantize(df, "embedding"), "scale", "q", "deq")
      .select("vec_id", "scale", "q", "deq").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getDouble(1) == 2.0 / 127.0)
    val q1 = r1.getAs[scala.collection.Seq[java.lang.Byte]](2)
    val d1 = r1.getAs[scala.collection.Seq[java.lang.Float]](3)
    assert(q1(1) == null && d1(1) == null, "null element must propagate")
    assert(q1(0) != null && q1(2) == -127.toByte)
    assert(out(2L).isNullAt(1), "all-null vector has no scale (list_max semantics)")
  }

  test("hash sample/split: exact 1/10000 cuts and deterministic null-id routing") {
    import spark.implicits._
    import graft.llm.Sampling
    // 0.0003*10000 is 2.9999999999999996 in double: truncation would keep
    // buckets {0,1} only; the cut must be exactly 3
    val kept = Sampling.hashSample(docs, "doc_id", 0.0003)
      .select("doc_id").as[Long].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect()
      .filter(id => math.floorMod(graft.llm.Hashing.splitmix64(id), 10000L) < 3L).toSet
    assert(kept == expected)
    // null and non-castable ids: split routes them to the LAST split,
    // sample drops them, and the caller's id column type is untouched
    val strIds = Seq("7", "doc-x", null).toDF("doc_id")
    val routed = Sampling.hashSplit(strIds, "doc_id",
        Seq(("train", 0.5), ("rest", 0.5)))
    assert(routed.schema("doc_id").dataType == org.apache.spark.sql.types.StringType)
    val m = routed.collect().map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(m(Some("doc-x")) == "rest" && m(None) == "rest")
    val sampled = Sampling.hashSample(strIds, "doc_id", 1.0).collect().map(_.getString(0)).toSet
    assert(sampled == Set("7"), s"only the castable id survives: $sampled")
  }

  test("repetition metrics: hand-computed fractions on crafted docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a"),            // 4 tokens, 1 distinct; top2 "a a" 3/3
      (2L, "a b a b a"),          // 5 tokens, 2 distinct; "a b" 2/4; "a b a" 2/3
      (3L, "x y z w"),            // all distinct; every 2-gram unique: 1/3
      (4L, "q"),                  // shorter than every n: single whole-text gram
      (5L, null.asInstanceOf[String]) // null text: zeroed row, no NPE
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m(1L) == ((4L, 3.0 / 4, 1.0, 1.0, 1.0)))
    assert(m(2L) == ((5L, 3.0 / 5, 2.0 / 4, 2.0 / 3, 1.0 / 2)))
    assert(m(3L) == ((4L, 0.0, 1.0 / 3, 1.0 / 2, 1.0)))
    assert(m(4L) == ((1L, 0.0, 1.0, 1.0, 1.0)))
    assert(m(5L) == ((0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("perplexity buckets: all-unscorable corpus yields all-NULL buckets (no crash)") {
    import spark.implicits._
    val shorts = Seq((1L, "one"), (2L, "two"), (3L, "")).toDF("doc_id", "text")
    val ref = Seq((0L, "a reference corpus of words")).toDF("doc_id", "text")
    val r = TextAnalysis.perplexityBuckets(shorts, "doc_id", "text", ref, "text", 3).collect()
    assert(r.length == 3 && r.forall(_.isNullAt(4)))
  }

  test("compression ratio: repetition compresses below prose, noise above; deterministic") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over the lazy dog and keeps going " * 20
    val repeated = "spam " * 240
    val noise = (0 until 1200).map(i => (graft.llm.Hashing.splitmix64(i.toLong) % 94 + 33 + 94) % 94 + 33)
      .map(_.toChar).mkString
    val d = Seq((1L, prose), (2L, repeated), (3L, noise), (4L, null.asInstanceOf[String]),
      (5L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.compressionRatio(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x).toMap
    val ratio = (id: Long) => r(id).getDouble(3)
    assert(ratio(2L) < ratio(1L) && ratio(1L) < ratio(3L))
    assert(ratio(3L) > 0.8) // hash noise is near-incompressible
    assert(r(4L).isNullAt(1) && r(4L).isNullAt(3)) // null text
    assert(r(5L).getLong(1) == 0L && r(5L).isNullAt(3)) // empty text
    val again = TextAnalysis.compressionRatio(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.toSeq).toMap
    assert(r.view.mapValues(_.toSeq).toMap == again)
    // the invariant audit (the query's oracle-able face): roundtrip shas
    // and lengths equal the original's, compressBound holds, nulls drop,
    // and the emitted original_len agrees with compressionRatio's
    // raw_bytes on the same rows — multi-byte UTF-8 included
    val d2 = d.unionByName(Seq((6L, "héllo wörld ↯ " * 40)).toDF("doc_id", "text"))
    val a = TextAnalysis.compressionAudit(d2, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!a.contains(4L), "null text must drop from the audit")
    assert(a.keySet == Set(1L, 2L, 3L, 5L, 6L))
    a.values.foreach { row =>
      assert(row.getLong(1) == row.getLong(3), s"len roundtrip: $row")
      assert(row.getString(2) == row.getString(4), s"sha roundtrip: $row")
      assert(row.getBoolean(5), s"compressBound must hold: $row")
    }
    assert(a(6L).getLong(1) == "héllo wörld ↯ ".getBytes("UTF-8").length * 40L)
    assert(a(1L).getLong(1) == r(1L).getLong(1), "audit len == operator raw_bytes")
  }

  test("leakage-safe split: every duplicate cluster lands wholly in one split") {
    import graft.llm.{Dedup, Sampling}
    val cl = Dedup.clusters(withClones, "doc_id",
      Dedup.minhashPairs(withClones, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b"))
    val split = Sampling.hashSplit(cl, "cluster_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val violations = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n"), count(lit(1)).as("m"))
      .filter(col("n") > 1)
    assert(violations.count() == 0L)
    // the planted clones form non-singleton clusters, so the property is
    // exercised on real multi-member clusters, not just singletons
    assert(split.groupBy("cluster_id").count().filter(col("count") > 1).count() >= 10L)
  }

  test("url canonicalization: ports, params, fragments, and malformed inputs") {
    import spark.implicits._
    import graft.llm.UrlOps
    val in = Seq(
      "https://Host.COM",                             // bare host, no path
      "http://a.com:8080/x",                          // non-default port kept
      "https://www.b.org/x/?UTM_Campaign=1&gclid=2",  // case-insensitive scrub
      "http://c.net/P?z=1&a=2&ref=feed",              // sort + scrub mix
      "not-a-url", "", "http//missing.scheme/x"
    ).toDF("url")
    val got = in.select(UrlOps.canonicalize(col("url")).as("c"),
        UrlOps.registeredDomain(col("url")).as("d"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))))
    assert(got(0) == ((Some("https://host.com"), Some("host.com"))))
    assert(got(1) == ((Some("http://a.com:8080/x"), Some("a.com"))))
    assert(got(2) == ((Some("https://b.org/x"), Some("b.org"))))
    assert(got(3) == ((Some("http://c.net/P?a=2&z=1"), Some("c.net"))))
    assert(got.drop(4).forall(_ == ((None, None))))
    // ccSLD-aware variant: registry suffixes key at the third label
    val cc = Seq(
      "https://a.b.foo.co.uk/x", "http://bar.com/x", "https://deep.x.y.baz.ac.jp/",
      "https://co.uk/", "http://site.info/x", "https://x.gov.br/p", "nope")
      .toDF("url")
      .select(UrlOps.registeredDomainCc(col("url")).as("d"))
      .collect().map(r => Option(r.getString(0)))
    assert(cc.toSeq == Seq(Some("foo.co.uk"), Some("bar.com"), Some("baz.ac.jp"),
      Some("co.uk"), Some("site.info"), Some("x.gov.br"), None))
  }

  test("bm25 maxDf pruning: high-df terms stop generating candidates") {
    import spark.implicits._
    val d = Seq((1L, "common rare1"), (2L, "common rare2"), (3L, "common filler"))
      .toDF("doc_id", "text")
    val q = Seq((9L, "common rare1")).toDF("q_id", "q_text")
    // "common" has df=3 > maxDf=1: only "rare1" may generate candidates,
    // so doc 1 is the single hit (unpruned, all three docs would score)
    val pruned = TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text",
      topK = 5, maxDf = Some(1L)).collect()
    assert(pruned.map(_.getLong(1)).toSeq == Seq(1L))
    assert(TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", 5)
      .count() == 3L)
  }

  test("bm25: disjoint-vocab query set returns zero rows, not an error") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val q = Seq((9L, "omega psi")).toDF("q_id", "q_text")
    assert(TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", 5).count() == 0L)
  }

  test("bm25TopKTerms with the query's own terms equals the text form (r15)") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "alpha alpha delta"))
      .toDF("doc_id", "text")
    val q = Seq((9L, "alpha beta"), (8L, "gamma")).toDF("q_id", "q_text")
    val viaText = TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val terms = Seq((9L, "alpha"), (9L, "beta"), (9L, "beta"), (8L, "gamma"))
      .toDF("q_id", "term")
    val viaTerms = TextAnalysis.bm25TopKTerms(d, "doc_id", "text", terms, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaText == viaTerms, "term-table seam == text form (dup terms collapse)")
  }

  test("PRF expansion pulls a co-occurring term the query never said (r15)") {
    import spark.implicits._
    // "anchor" always travels with "satellite"; the query only says
    // anchor, so satellite must arrive via feedback and promote doc 4
    // (satellite-only, unreachable by the original query) into the
    // second-pass results
    // satellite needs enough mass (tf 3 per feedback doc) to outscore the
    // singleton noise terms' high idf — the idf-vs-mass tension is real
    // RM3 behavior, so the fixture makes the co-occurrence emphatic
    val d = Seq(
      (1L, "anchor satellite satellite satellite noise1"),
      (2L, "anchor satellite satellite satellite noise2"),
      (3L, "anchor satellite satellite satellite noise3"),
      (4L, "satellite only here"),
      (5L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val q = Seq((9L, "anchor")).toDF("q_id", "q_text")
    val terms = TextAnalysis.prfExpandTerms(d, "doc_id", "text", q, "q_id", "q_text",
      fbDocs = 3, fbTerms = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(terms.contains((9L, "anchor")), "originals always survive")
    assert(terms.contains((9L, "satellite")), "feedback finds the co-occurring term")
    val second = TextAnalysis.bm25TopKTerms(d, "doc_id", "text",
        TextAnalysis.prfExpandTerms(d, "doc_id", "text", q, "q_id", "q_text",
          fbDocs = 3, fbTerms = 2), 5)
      .collect().map(_.getLong(1)).toSet
    assert(second.contains(4L), "expanded query reaches the satellite-only doc")
    // fbTerms = 0 degrades to the original ranking
    val zero = TextAnalysis.prfExpandTerms(d, "doc_id", "text", q, "q_id", "q_text",
      fbDocs = 3, fbTerms = 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(zero == Set((9L, "anchor")))
    // r15 optimization pin: the one-plan shared-postings composition is
    // row-identical to the prfExpandTerms → bm25TopKTerms two-call form
    val composed = TextAnalysis.bm25TopKTerms(d, "doc_id", "text",
        TextAnalysis.prfExpandTerms(d, "doc_id", "text", q, "q_id", "q_text",
          fbDocs = 3, fbTerms = 2), 5)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val onePlan = TextAnalysis.bm25PrfTopK(d, "doc_id", "text", q, "q_id", "q_text",
        topK = 5, fbDocs = 3, fbTerms = 2)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(onePlan == composed, "bm25PrfTopK must equal the two-call composition")
  }

  test("nb quality filter: separates pos-like from neg-like, score in range, high score keeps") {
    import spark.implicits._
    import graft.llm.QualityClassifier
    val pos = Seq((101L, "well written careful prose with substance"),
      (102L, "careful substance and well written prose")).toDF("doc_id", "text")
    val neg = Seq((201L, "buy now click here spam spam"),
      (202L, "click spam buy buy now here")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "careful prose with substance"),
      (2L, "click here buy spam now")).toDF("doc_id", "text")
    val r = QualityClassifier.nbQualityFilter(corpus, "doc_id", "text",
        pos, "text", neg, "text", buckets = 256)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L)._1 > r(2L)._1) // pos-like logit above neg-like
    assert(r.values.forall(v => v._2 >= 0L && v._2 <= 1000000L))
    // a saturated-positive doc (t <= 0 is impossible; score near 1e6 makes
    // t^9 tiny) must keep; determinism across reruns
    val again = QualityClassifier.nbQualityFilter(corpus, "doc_id", "text",
        pos, "text", neg, "text", buckets = 256)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r == again)
  }

  test("dsir: target-like docs outweigh off-target docs; gumbel select is deterministic") {
    import spark.implicits._
    import graft.llm.Sampling
    val corpus = Seq(
      (1L, "alpha beta gamma delta alpha beta"),
      (2L, "zeta eta theta iota kappa lambda"),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "mu nu xi omicron pi rho")
    ).toDF("doc_id", "text")
    val target = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val w = Sampling.dsirWeights(corpus, "doc_id", "text", target, "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs sharing the target's n-grams must outweigh disjoint-vocab docs
    assert(w(1L) > w(2L) && w(3L) > w(4L))
    val s1 = Sampling.dsirSelect(
      Sampling.dsirWeights(corpus, "doc_id", "text", target, "text", 64), "doc_id", 3).collect()
    val s2 = Sampling.dsirSelect(
      Sampling.dsirWeights(corpus, "doc_id", "text", target, "text", 64), "doc_id", 3).collect()
    assert(s1.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ==
      s2.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    assert(s1.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("perplexity buckets: monotone in mean surprisal, equal-count terciles, null for short docs") {
    val d = docs.limit(60).select(col("doc_id"), col("text"))
    val withShort = d.unionByName(
      spark.range(1).select(lit(999999L).as("doc_id"), lit("solo").as("text")))
    val r = TextAnalysis.perplexityBuckets(withShort, "doc_id", "text",
        d.filter(col("doc_id") % 5 === 0), "text", nBuckets = 3).collect()
    val scored = r.filter(!_.isNullAt(4)).map(x => (x.getLong(3), x.getInt(4)))
    // buckets partition the mean-key axis monotonically
    val byBucket = scored.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet.subsetOf(Set(0, 1, 2)))
    for (b <- 0 until 2 if byBucket.contains(b) && byBucket.contains(b + 1))
      assert(byBucket(b).max <= byBucket(b + 1).min)
    // tercile counts balance within one tie-group (keys here are distinct)
    assert(byBucket.values.map(_.length).max - byBucket.values.map(_.length).min <= 1)
    // the 1-token doc is unscorable -> NULL bucket
    assert(r.find(_.getLong(0) == 999999L).exists(_.isNullAt(4)))
  }

  test("bm25: self-retrieval rank 1, rarer terms dominate, null text skipped") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick red fox runs"),
      (3L, "a completely different document about spark engines"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val q = Seq((1L, "quick brown fox"), (3L, "spark engines")).toDF("q_id", "q_text")
    val r = TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", topK = 3)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(3)))
    // query 1 contains "brown" (only doc 1) -> doc 1 must outrank doc 2
    assert(r.contains((1L, 1L, 1L)))
    assert(r.contains((1L, 2L, 2L)))
    // query 3's terms appear only in doc 3; no other doc may surface
    assert(r.filter(_._1 == 3L).map(_._2).toSeq == Seq(3L))
    // the null-text doc never scores
    assert(!r.exists(_._2 == 4L))
  }

  test("PII redaction: counts and placeholders for email / ip / phone") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a.b+c@sub.ex.org and 192.168.0.1 or +1 (415) 555-0100 end"),
      (2L, "no pii here 1.2 only 999 words"),
      (3L, "two mails x@y.co z@w.io")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d, "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3), x.getLong(4), x.getString(5))).toMap
    assert(r(1L) == ((1L, 1L, 1L, "mail <EMAIL> and <IP> or <PHONE> end")))
    assert(r(2L) == ((0L, 0L, 0L, "no pii here 1.2 only 999 words")))
    assert(r(3L) == ((2L, 0L, 0L, "two mails <EMAIL> <EMAIL>")))
  }

  test("KMV sketch: below-k exactness, merge law, estimate within KMV error bounds") {
    import graft.llm.{Hashing, Sketches}
    import spark.implicits._
    // below k distinct values the sketch IS the exact count
    val tiny = (1 to 10).map(i => s"doc $i").toDF("text")
    val t = Sketches.kmvDistinct(tiny, "text", k = 64).head()
    assert(t.getLong(0) == 10L && t.getLong(2) == 10L)
    // merge law: the k smallest of a union are computable from each part's
    // k smallest — the property that makes the sketch a shard accumulator
    val all = docs.select("text").as[String].collect().map(Hashing.hashString).distinct
    val (p1, p2) = all.splitAt(all.length / 2)
    def bottom(xs: Array[Long], k: Int) = xs.sortBy(_ ^ Long.MinValue).take(k)
    assert(bottom(bottom(p1, 64) ++ bottom(p2, 64), 64).toSeq == bottom(all, 64).toSeq)
    // estimate sanity on the real corpus: within the ~1/sqrt(k) KMV bound
    val r = Sketches.kmvDistinct(docs, "text", k = 64).head()
    val (exact, est) = (r.getLong(0).toDouble, r.getLong(2).toDouble)
    assert(math.abs(est - exact) / exact < 0.5, s"estimate $est vs exact $exact")
    // the estimate derives from the k-th hash by exact integer division
    assert(r.getLong(2) == Sketches.estimateFromKth(64, r.getLong(1)))
  }

  test("stratified sampling: per-stratum cuts, stratum independence, default keep-all") {
    import graft.llm.{Hashing, Sampling}
    import spark.implicits._
    val kept = Sampling.hashSampleStratified(docs, "doc_id", "lang",
        Map("en" -> 0.2), default = 1.0)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val all = docs.select("doc_id", "lang").as[(Long, String)].collect()
    def bucket(id: Long) = math.floorMod(Hashing.splitmix64(id), 10000L)
    val expected = all.filter { case (id, lang) =>
      if (lang == "en") bucket(id) < 2000 else true
    }
    assert(kept.toSet == expected.toSet)
    // changing one stratum's fraction must not re-route another stratum
    val kept2 = Sampling.hashSampleStratified(docs, "doc_id", "lang",
        Map("en" -> 0.2, "de" -> 0.5)).select("doc_id", "lang")
      .as[(Long, String)].collect()
    assert(kept.filter(_._2 != "de").toSet == kept2.filter(_._2 != "de").toSet)
  }

  test("BPE: hand-computed merges, greedy left-to-right, unseen-word generalization") {
    import graft.llm.Bpe
    import spark.implicits._
    val corpus = Seq((1L, "ab ab ab abc")).toDF("doc_id", "text")
    val (merges, dict) = Bpe.train(corpus, "text", numMerges = 4)
    // (a,b) count 4 merges first; then (ab,c) count 1; then no pairs remain
    assert(merges.map(m => (m.lhs, m.rhs)) == Seq(("a", "b"), ("ab", "c")))
    assert(dict("ab") == "ab" && dict("abc") == "abc")
    // unseen word: merges apply in rank order, unknown tail stays split
    val out = Bpe.encode(Seq((7L, "abc abd zz")).toDF("doc_id", "text"),
        "doc_id", "text", merges, dict)
      .as[(Long, Long, String)].collect().head
    // abc→1 token, abd→(ab, d)=2, zz→(z, z)=2
    assert(out._2 == 5L, s"token count: $out")
    assert(out._3 == "abc" + " " + "ab" + Bpe.Sep + "d" + " " + "z" + Bpe.Sep + "z")
    // greedy left-to-right: aaa + merge (a,a) tokenizes as (aa, a), then (aa,a) merges
    val (m2, d2) = Bpe.train(Seq((1L, "aaa aaa")).toDF("doc_id", "text"), "text", 4)
    assert(m2.map(m => (m.lhs, m.rhs)) == Seq(("a", "a"), ("aa", "a")))
    assert(d2("aaa") == "aaa")
  }

  test("repeated fraction: span budget per doc, zero for unique docs") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("s", 15)
    val fixture = Seq(
      (1L, words("a", 10) + " " + shared),  // 25 toks, [10, 25) repeated
      (2L, shared + " " + words("b", 5)),   // 20 toks, [0, 15) repeated
      (3L, words("c", 12))                  // unique → 0
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedFraction(fixture, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 25L, 15L, 15.0 / 25)))
    assert(out(1) == ((2L, 20L, 15L, 15.0 / 20)))
    assert(out(2) == ((3L, 12L, 0L, 0.0)))
  }

  test("noveltyJoin is row-identical to the broadcast novelty form") {
    import spark.implicits._
    val ref = docs.filter(col("doc_id") % 7 === 0)
    val a = Dedup.novelty(docs, "doc_id", "text", ref, "text", k = 13)
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = Dedup.noveltyJoin(docs, "doc_id", "text", ref, "text", k = 13)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("novelty: reference docs score 0, disjoint docs score 1, partial overlap exact") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val ref = Seq((0L, words("r", 20))).toDF("doc_id", "text")
    val score = Seq(
      (1L, words("r", 20)),                       // identical to reference → 0
      (2L, words("x", 20)),                       // disjoint → 1
      (3L, words("r", 20) + " " + words("y", 8))  // ref prefix + 8 novel tokens
    ).toDF("doc_id", "text")
    val out = Dedup.novelty(score, "doc_id", "text", ref, "text", k = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 13L, 0L, 0.0)))  // 20 - 8 + 1 = 13 shingles
    assert(out(1) == ((2L, 13L, 13L, 1.0)))
    // doc 3: 28 toks → 21 shingles; positions 0..12 purely in r-prefix are
    // seen; 13..20 cross into y-tokens → 8 novel
    assert(out(2) == ((3L, 21L, 8L, 8.0 / 21)))
  }

  test("tf-idf: hand-computed integer scores, rank order, ubiquitous terms score zero") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "cherry cherry cherry common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(fixture, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._6).toList).toMap
    def idf(df: Long) = math.floor(math.log(3.0 / df) * 1000000.0 + 0.5).toLong
    // doc 1: apple tf=2 df=1 → 2·idf(1); banana tf=1 df=2 → idf(2);
    // common appears in all docs → idf(3) = ln(1) = 0 exactly
    assert(out(1L).map(r => (r._2, r._5)) ==
      List(("apple", 2 * idf(1)), ("banana", idf(2))))
    assert(out(3L).head._2 == "cherry" && out(3L).head._5 == 3 * idf(2))
    // ties on score=0 order alphabetically: doc 2's tail picks between
    // banana/cherry (idf(2) each) then common (0)
    assert(out(2L).map(_._2) == List("banana", "cherry"))
    assert(idf(3) == 0L)
  }

  test("LM score: hand-computed micro-nat surprisal, edge docs, gibberish ranks worse") {
    import spark.implicits._
    val ref = Seq((100L, "a b a c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b x"), // pairs: (a,b) seen once, (b,x) unseen
      (2L, "a"),     // single token — no pairs, NULL mean
      (3L, "a b a c a b a c"), // pure reference prose
      (4L, "z q w v u t s r")  // gibberish: all unseen
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(score, "doc_id", "text", ref, "text")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    // V = |{a,b,c}| = 3; term = floor(ln((cu+V)/(cb+1))*1e6 + 0.5)
    def t(cu: Long, cb: Long): Long =
      math.floor(math.log((cu + 3).toDouble / (cb + 1).toDouble) * 1000000.0 + 0.5).toLong
    assert(out(0) == ((1L, 2L, t(2, 1) + t(1, 0),
      Some((t(2, 1) + t(1, 0)).toDouble / 1000000.0 / 2))))
    assert(out(1) == ((2L, 0L, 0L, None)))
    // fluent reference prose must score strictly below all-unseen gibberish
    assert(out(2)._4.get < out(3)._4.get)
    // all-unseen: every term is ln((0+3)/1)
    assert(out(3)._3 == 7 * t(0, 0))
  }

  test("trigram LM: context counts sum trigram counts, hand-computed terms") {
    import spark.implicits._
    val ref = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    // trigrams: (a,b,c), (b,c,a), (c,a,b), (a,b,d); contexts: (a,b)->2, (b,c)->1, (c,a)->1
    val score = Seq((1L, "a b c"), (2L, "a b"), (3L, "x y z w")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreTrigram(score, "doc_id", "text", ref, "text")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    // V = |{a,b,c,d}| = 4
    def t(cc: Long, ct: Long): Long =
      math.floor(math.log((cc + 4).toDouble / (ct + 1).toDouble) * 1000000.0 + 0.5).toLong
    assert(out(0) == ((1L, 1L, t(2, 1), Some(t(2, 1).toDouble / 1000000.0))))
    assert(out(1) == ((2L, 0L, 0L, None))) // 2 tokens: no trigram
    assert(out(2)._3 == 2 * t(0, 0))       // all-unseen: both terms ln((0+4)/1)
  }

  test("backoff LM: longest-context selection, α per level, hand terms") {
    import spark.implicits._
    val ref = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    // N=6, V=4; uni a2 b2 c1 d1; bi ab2 bc1 ca1 bd1 (prefix ctx a2 b2 c1);
    // tri abc/bca/cab/abd x1 (prefix ctx ab2 bc1 ca1)
    val score = Seq(
      (1L, "a b c"),     // uni, bi hit, tri hit — no backoff anywhere
      (2L, "a b x"),     // "x": tri miss -> bi miss -> uni at L=2 (·25/·4)
      (3L, "x a b"),     // "b": tri miss -> BI HIT at L=1 (·5/·2)
      (4L, "a"),         // single token IS scorable in the backoff form
      (5L, "b c a b d")  // deep-context prose: three trigram hits
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreBackoff(score, "doc_id", "text", ref, "text")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toList
    def tm(num: Long, den: Long, l: Int): Long = {
      val p5 = Array(1L, 5L, 25L); val p2 = Array(1L, 2L, 4L)
      math.floor(math.log((den * p5(l)).toDouble / (num * p2(l)).toDouble)
        * 1000000.0 + 0.5).toLong
    }
    assert(out.map(_._2) === List(3L, 3L, 3L, 1L, 5L), "every token is a term")
    assert(out(0)._3 === tm(3, 10, 0) + tm(2, 2, 0) + tm(1, 2, 0))
    assert(out(1)._3 === tm(3, 10, 0) + tm(2, 2, 0) + tm(1, 10, 2))
    assert(out(2)._3 === tm(1, 10, 0) + tm(3, 10, 1) + tm(2, 2, 1))
    assert(out(3) === ((4L, 1L, tm(3, 10, 0), Some(tm(3, 10, 0).toDouble / 1000000.0))))
    assert(out(4)._3 ===
      tm(3, 10, 0) + tm(1, 2, 0) + tm(1, 1, 0) + tm(1, 1, 0) + tm(1, 2, 0))
    // fluent prose under the model scores strictly below the backoff path
    assert(out(4)._4.get < out(1)._4.get)
  }

  test("repeated spans: cross-doc and within-doc repeats, merging, clamping") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("s", 15) // 15-word verbatim block shared by docs 1, 2
    val fixture = Seq(
      (1L, words("a", 10) + " " + shared + " " + words("b", 10)),
      (2L, words("c", 4) + " " + shared + " " + words("d", 20)),
      (3L, words("e", 30)),                     // unique — no spans
      (4L, words("r", 8) + " " + words("r", 8)), // within-doc repeat, 16 toks
      (5L, "tiny little doc"),
      (6L, "tiny little doc")                   // whole-doc clone of 5, < k toks
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(fixture, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: shared block at tokens 10..24 → shingles at 10..17 → [10, 25)
    // doc 2: shared block at tokens 4..18  → shingles at 4..11  → [4, 19)
    // doc 4: "r0..r7 r0..r7" — EVERY 8-shingle of the 16-token doc repeats
    //        corpus-wide? no — only the two aligned "r0..r7" shingles match
    //        (hash multiset: positions 0 and 8 share a hash) → [0, 16)
    // docs 5/6: whole-text shingle at pos 0, clamped to n=3 → [0, 3)
    assert(spans == Set((1L, 10L, 25L), (2L, 4L, 19L), (4L, 0L, 16L),
      (5L, 0L, 3L), (6L, 0L, 3L)))

    // the spans APPLIED: covered tokens cut, originals (with case) kept.
    // Mixed-case doc 1 shares the hash (folded) but keeps its own casing.
    val cased = fixture.withColumn("text",
      when(col("doc_id") === 1L, upper(col("text"))).otherwise(col("text")))
    val clean = Dedup.scrubRepeatedSpans(cased, "doc_id", "text", k = 8)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: 35 tokens, [10,25) removed → A0..A9 then B0..B9 (uppercased)
    assert(clean(1L)._2 == ((0 until 10).map(i => s"A$i") ++ (0 until 10).map(i => s"B$i"))
      .mkString(" ").toUpperCase)
    assert((clean(1L)._3, clean(1L)._4) == (35L, 15L))
    // doc 3 untouched; docs 5/6 fully covered → empty string, not null
    assert(clean(3L)._2 == words("e", 30) && clean(3L)._4 == 0L)
    assert(clean(5L)._2 == "" && (clean(5L)._3, clean(5L)._4) == (3L, 3L))
    // null text passes through as (null, 0, 0)
    val withNull = fixture.unionByName(Seq((9L, null: String)).toDF("doc_id", "text"))
    val nr = Dedup.scrubRepeatedSpans(withNull, "doc_id", "text", k = 8)
      .filter(col("doc_id") === 9L).as[(Long, String, Long, Long)].head()
    assert(nr == ((9L, null, 0L, 0L)))

    // keep-FIRST (Lee et al. verbatim): the globally first (id, pos)
    // occurrence survives, every other occurrence is cut
    val kf = Dedup.scrubRepeatedSpansKeepFirst(fixture, "doc_id", "text", k = 8)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 wins every shared-block hash → untouched
    assert(kf(1L)._2 == words("a", 10) + " " + shared + " " + words("b", 10))
    assert(kf(1L)._4 == 0L)
    // doc 2 loses the block → [4, 19) cut
    assert(kf(2L)._2 == words("c", 4) + " " + words("d", 20) && kf(2L)._4 == 15L)
    // within-doc repeat: first "r0..r7" kept, second cut
    assert(kf(4L)._2 == words("r", 8) && kf(4L)._4 == 8L)
    // whole-doc clones: doc 5 (smaller id) survives intact, doc 6 empties
    assert(kf(5L)._2 == "tiny little doc" && kf(5L)._4 == 0L)
    assert(kf(6L)._2 == "" && kf(6L)._4 == 3L)
  }

  test("salted dup join: planted mega-shingle spreads across reducers, join stays exact") {
    import spark.implicits._
    // The 100 TB failure mode this guards: ONE boilerplate shingle hash
    // with 10⁷–10⁸ occurrences lands every row on ONE reducer of the
    // rows⋈dup shuffle. Plant the hot hash, force the shuffle-shaped plan
    // (no broadcast, no AQE coalesce — at corpus scale the dup side is
    // far past any broadcast threshold), and assert the salt spreads it.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 100000L
      // hot hash 1 at consecutive positions (a block repeated corpus-wide),
      // one cold duplicated hash 2, one non-duplicated hash 3
      val rows = spark.range(n).select(
          (col("id") % 1000L).as("__id"), col("id").as("__pos"),
          lit(1L).as("__sh"), lit(1000L).as("__n"))
        .unionByName(Seq((5000L, 0L, 2L, 10L), (5001L, 3L, 3L, 10L))
          .toDF("__id", "__pos", "__sh", "__n"))
      val dup = Seq(1L, 2L).toDF("__sh")
      val joined = Dedup.saltedDupJoin(rows, dup)
      // exact equi-join semantics survive the salt: every occurrence of a
      // duplicated hash exactly once, non-duplicated hash dropped
      assert(joined.count() == n + 1)
      assert(joined.filter(col("__sh") === 3L).count() == 0)
      // the hot hash occupies (nearly) every post-shuffle partition — 16
      // salt keys hashed over the suite's 4 shuffle partitions; without
      // the salt it would occupy exactly 1
      val parts = joined.filter(col("__sh") === 1L)
        .select(spark_partition_id()).distinct().count()
      assert(parts >= 3, s"hot shingle occupies only $parts of 4 partitions")
      // and the salt really is a join key in the physical plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), "salt column absent from the physical join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("temperature sampling: smallest stratum keeps all, cuts follow pow(c, alpha-1)") {
    import graft.llm.{Hashing, Sampling}
    import spark.implicits._
    val kept = Sampling.temperatureSample(docs, "doc_id", "lang", alpha = 0.3)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val all = docs.select("doc_id", "lang").as[(Long, String)].collect()
    val counts = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val rmax = counts.values.map(c => math.pow(c.toDouble, -0.7)).max
    val cuts = counts.map { case (l, c) =>
      l -> math.floor(math.pow(c.toDouble, -0.7) / rmax * 10000.0 + 0.5).toLong
    }
    // smallest language's cut is exactly 10000 (keeps everything)
    val smallest = counts.minBy(_._2)._1
    assert(cuts(smallest) == 10000L)
    // membership is exactly bucket < cut per stratum
    def bucket(id: Long) = math.floorMod(Hashing.splitmix64(id), 10000L)
    val expected = all.filter { case (id, l) => bucket(id) < cuts(l) }.toSet
    assert(kept.toSet == expected)
    // alpha = 1 is a no-op
    val noop = Sampling.temperatureSample(docs, "doc_id", "lang", alpha = 1.0).count()
    assert(noop == all.length)
  }

  test("domain caps: bounded per domain, hash-ranked, partitioning-invariant") {
    import graft.llm.{Hashing, Sampling}
    import spark.implicits._
    val kept = Sampling.capPerDomain(docs, "doc_id", "source", maxPerDomain = 7)
      .select("doc_id", "source", "domain_rank").as[(Long, String, Long)].collect()
    // cap respected, ranks contiguous 1..n per domain
    kept.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.length <= 7)
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // the kept set is exactly the 7 hash-smallest ids of each domain
    val all = docs.select("doc_id", "source").as[(Long, String)].collect()
    val expected = all.groupBy(_._2).iterator.flatMap { case (dom, rows) =>
      rows.map(_._1).sortBy(id => (Hashing.splitmix64(id), id)).take(7)
        .zipWithIndex.map { case (id, i) => (id, dom, (i + 1).toLong) }
    }.toSet
    assert(kept.toSet == expected)
    // membership must not depend on the input partitioning
    val kept2 = Sampling.capPerDomain(docs.repartition(13), "doc_id", "source", 7)
      .select("doc_id", "source", "domain_rank").as[(Long, String, Long)].collect()
    assert(kept2.toSet == expected)
  }

  test("domain caps: null ids dropped, null domain is its own group, string ids cast") {
    import graft.llm.{Hashing, Sampling}
    import spark.implicits._
    val fixture = Seq(
      (Some("1"), Some("a")), (Some("2"), Some("a")), (Some("3"), Some("a")),
      (Some("4"), None), (Some("5"), None),      // null domain: a real group
      (None, Some("a")), (Some("junk"), Some("a")) // unrankable ids: dropped
    ).toDF("id", "dom")
    val kept = Sampling.capPerDomain(fixture, "id", "dom", maxPerDomain = 2)
      .select("id", "dom").as[(String, Option[String])].collect().toSet
    val expectA = Seq(1L, 2L, 3L)
      .sortBy(id => (Hashing.splitmix64(id), id)).take(2).map(_.toString).toSet
    assert(kept.collect { case (id, Some("a")) => id }.toSet == expectA)
    assert(kept.collect { case (id, None) => id } == Set("4", "5"))
    assert(!kept.exists(_._1 == null) && !kept.exists(_._1 == "junk"))
  }

  test("domain caps: shard-local ids do not leak rows across domains") {
    import graft.llm.Sampling
    import spark.implicits._
    // the same id appears in two domains (shard-local numbering)
    val fixture = Seq((1L, "a"), (2L, "a"), (1L, "b"), (2L, "b"), (3L, "b"))
      .toDF("id", "dom")
    val kept = Sampling.capPerDomain(fixture, "id", "dom", maxPerDomain = 1)
      .select("id", "dom").as[(Long, String)].collect()
    // exactly one row per domain, no duplicates from cross-domain id matches
    assert(kept.length == 2, s"cap violated or rows duplicated: ${kept.toSeq}")
    assert(kept.map(_._2).toSet == Set("a", "b"))
  }

  test("PQ: deterministic training, in-range codes, recall floor vs brute force") {
    import graft.llm.Pq
    val e = emb.select("vec_id", "embedding")
    val cb1 = Pq.train(e, m = 8, ksub = 8, iters = 2)
    val cb2 = Pq.train(e, m = 8, ksub = 8, iters = 2)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Long]](2).toList, r.getLong(3))).toSet
    assert(key(cb1) == key(cb2), "training must be deterministic (no RNG)")
    val enc = Pq.encode(e, cb1, 8, 8)
    val codes = enc.collect().map(r => r.getAs[scala.collection.Seq[Long]](1))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 8)))
    assert(codes.length == e.count())
    // planted clones (identical vectors) must get identical codes — the
    // deterministic equivalence the codec guarantees regardless of data
    val clones = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val encAll = Pq.encode(e.unionByName(clones), cb1, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toList).toMap
    (0L until 10L).foreach(i => assert(encAll(i) == encAll(i + 10000)))
    // recall@10 of the 32×-compressed scan against exact cosine top-10.
    // These embeddings are near-random (no cluster structure — PQ's worst
    // case); the bar is the random-selection baseline k/N = 0.05, measured
    // recall ~0.13 ≈ 2.6×.
    val qs = e.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(e, qs, "vec_id", "embedding", 10)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Pq.searchAdc(enc, cb1, qs, 8, 8, 10)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect adc).size.toDouble / exact.size
    val randomBaseline = 10.0 / e.count()
    assert(recall >= 2 * randomBaseline, s"ADC recall@10 at random level: $recall")
  }

  test("PQ: null embeddings encode deterministically (zero-vector path, no NPE)") {
    import graft.llm.Pq
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val e = emb.select("vec_id", "embedding")
    val cb = Pq.train(e, m = 8, ksub = 8, iters = 1)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val withNull = e.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(Row(999999L, null)), schema))
    val enc = Pq.encode(withNull, cb, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1)).toMap
    assert(enc.contains(999999L) && enc(999999L).length == 8)
    // a second run routes the null row to the same codes
    val enc2 = Pq.encode(withNull, cb, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1)).toMap
    assert(enc(999999L) == enc2(999999L))
  }

  test("PQ bounded-agg ranking is row-identical to the window form and window-free") {
    import graft.llm.Pq
    val e = emb.select("vec_id", "embedding")
    val cb = Pq.train(e, m = 8, ksub = 8, iters = 1)
    val enc = Pq.encode(e, cb, 8, 8)
    val qs = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "nn_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val win = rows(Pq.searchAdc(enc, cb, qs, 8, 8, 10))
    val aggD = Pq.searchAdcAgg(enc, cb, qs, 8, 8, 10)
    assert(rows(aggD) == win)
    assert(!aggD.queryExecution.executedPlan.toString.contains("Window"))
    // positional consumers see ONE schema across the two paths
    assert(aggD.columns.toSeq == Pq.searchAdc(enc, cb, qs, 8, 8, 10).columns.toSeq)
  }

  test("PQ: training survives null embeddings (padded sub-vectors, max-dim)") {
    import graft.llm.Pq
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val e = emb.select("vec_id", "embedding")
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    // vec_id 0 hashes early enough to matter and null rows must neither
    // crash SumSubVec (order-dependent AIOOBE pre-fix) nor pick dim = 0
    val withNull = e.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(Row(999999L, null), Row(999998L, null)), schema))
    val cb = Pq.train(withNull, m = 8, ksub = 8, iters = 2)
    val rows = cb.collect()
    assert(rows.length == 64)
    // every centroid sum has the true sub-dimension, not zero-length
    val dsub = emb.select("embedding").head().getAs[scala.collection.Seq[Float]](0).length / 8
    assert(rows.forall(_.getAs[scala.collection.Seq[Long]](2).length == dsub))
    // and the codebook ignores-or-absorbs the nulls deterministically
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Long]](2).toList, r.getLong(3))).toSet
    assert(key(cb) == key(Pq.train(withNull, m = 8, ksub = 8, iters = 2)))
  }

  test("IVF-PQ many-queries form (per-task LUTs) is row-identical to the window form") {
    import graft.llm.{Ivf, Pq}
    val e = emb.select("vec_id", "embedding")
    val cents = Ivf.train(e, k = 8, iters = 1)
    val lists = Ivf.index(e, cents).select("vec_id", "list_id")
    val cb = Pq.train(e, m = 8, ksub = 8, iters = 1)
    val encLists = Pq.encode(e, cb, 8, 8).join(lists, Seq("vec_id"))
    val qs = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "nn_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val win = Pq.searchIvfAdc(encLists, cents, cb, qs, 8, 8, 10, nprobe = 4)
    val agg = Pq.searchIvfAdcAgg(encLists, cents, cb, qs, 8, 8, 10, nprobe = 4)
    assert(rows(agg) == rows(win), "per-task LUT scoring must match driver-LUT scoring")
    assert(agg.columns.toSeq == win.columns.toSeq)
    // adc scores themselves are bit-identical (same lutFor kernel)
    def scores(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "nn_id", "adc")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scores(agg) == scores(win))
  }

  test("IVF-PQ at-rest layout: probe filter becomes partition pruning") {
    import graft.llm.{Ivf, Pq}
    val e = emb.select("vec_id", "embedding")
    val cents = Ivf.train(e, k = 8, iters = 1)
    val lists = Ivf.index(e, cents).select("vec_id", "list_id")
    val cb = Pq.train(e, m = 8, ksub = 8, iters = 1)
    val encLists = Pq.encode(e, cb, 8, 8).join(lists, Seq("vec_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    Pq.writeIndex(encLists, dir)
    // the on-disk layout is one directory per list
    val sub = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(sub.nonEmpty && sub.forall(_.startsWith("list_id=")), sub.mkString(","))
    val back = Pq.readIndex(spark, dir)
    val probed = back.filter(col("list_id").isin(0L, 3L))
    // the filter must reach the scan as a PARTITION filter (pruned read),
    // not a post-scan predicate over all lists
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan)
    val kept = probed.select("list_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(Set(0L, 3L)))
    // and the index roundtrips codes losslessly
    val orig = encLists.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toList).toMap
    val rt = back.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toList).toMap
    assert(rt == orig)
  }

  test("IVF-PQ with nprobe = k is row-identical to the full ADC scan") {
    import graft.llm.{Ivf, Pq}
    val e = emb.select("vec_id", "embedding")
    val cents = Ivf.train(e, k = 8, iters = 1)
    val lists = Ivf.index(e, cents).select("vec_id", "list_id")
    val cb = Pq.train(e, m = 8, ksub = 8, iters = 1)
    val enc = Pq.encode(e, cb, 8, 8)
    val qs = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "nn_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = rows(Pq.searchAdc(enc, cb, qs, 8, 8, 10))
    val ivfpq = rows(Pq.searchIvfAdc(enc.join(lists, Seq("vec_id")), cents, cb, qs,
      8, 8, 10, nprobe = 8))
    assert(ivfpq == full, "probing every list must degrade to the exhaustive ADC scan")
  }

  test("token chunking: window count, overlap content, short-doc passthrough") {
    import spark.implicits._
    import graft.llm.Packing
    val d = Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens
      (2L, "a b c")                               // shorter than maxTokens
    ).toDF("doc_id", "text")
    val ch = Packing.chunkTokens(d, "doc_id", "text", maxTokens = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    // doc 1: windows start at 0,3,6 then (10-4+2)/3+1 = 3 → starts 0,3,6
    assert(ch((1L, 0L)) == ((4L, "t1 t2 t3 t4")))
    assert(ch((1L, 1L)) == ((4L, "t4 t5 t6 t7")))
    assert(ch((1L, 2L)) == ((4L, "t7 t8 t9 t10")))
    assert(ch((2L, 0L)) == ((3L, "a b c")))
    assert(ch.size == 4)
    // every token of doc 1 is covered by at least one window
    val covered = ch.collect { case ((1L, _), (_, c)) => c.split(" ") }.flatten.toSet
    assert(covered == (1 to 10).map("t" + _).toSet)
  }

  test("chunking properties over random docs: exact reconstruction at stride=max, coverage always") {
    import spark.implicits._
    import graft.llm.Packing
    val rnd = new scala.util.Random(7L)
    val d = (0L until 20L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(s"w${rnd.nextInt(9)}").mkString(" "))
    }.toDF("doc_id", "text")
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // stride == maxTokens: disjoint windows — concatenation IS the document
    val disjoint = Packing.chunkTokens(d, "doc_id", "text", maxTokens = 7, stride = 7)
      .collect().groupBy(_.getLong(0))
    disjoint.foreach { case (id, rows) =>
      val rebuilt = rows.sortBy(_.getLong(1)).map(_.getString(3)).mkString(" ")
      assert(rebuilt == texts(id), s"doc $id reconstruction")
    }
    // any stride < maxTokens: every token position covered, sizes bounded
    val overlapped = Packing.chunkTokens(d, "doc_id", "text", maxTokens = 7, stride = 4)
      .collect().groupBy(_.getLong(0))
    overlapped.foreach { case (id, rows) =>
      val n = texts(id).split(" ", -1).length
      val covered = rows.flatMap { r =>
        val from = r.getLong(1).toInt * 4
        from until math.min(from + 7, n)
      }.toSet
      assert(covered == (0 until n).toSet, s"doc $id coverage")
      assert(rows.forall(_.getLong(2) <= 7), s"doc $id chunk size bound")
    }
  }

  test("sequence packing: per-shard prefix sums cut at the budget") {
    import spark.implicits._
    import graft.llm.Packing
    // one shard: docs of 300+300+300 tokens at budget 512:
    // cum-before = 0, 300, 600 → windows 0,0,1; offsets 0,300,88
    val d = Seq((1L, 0L, 300L), (2L, 0L, 300L), (3L, 0L, 300L), (4L, 1L, 600L))
      .toDF("doc_id", "shard", "n_tokens")
    val p = Packing.packSequences(d, "doc_id", "shard", "n_tokens", budget = 512)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(p(1L) == ((0L, 0L)))
    assert(p(2L) == ((0L, 300L)))
    assert(p(3L) == ((1L, 88L)))
    assert(p(4L) == ((0L, 0L)), "shards pack independently")
  }

  test("connected components: a 30-node chain collapses to one root in log rounds") {
    import spark.implicits._
    // worst case for label propagation (diameter 30); star-contraction must
    // converge well inside maxIter and label every node with the chain min
    val chain = (0L until 30L).sliding(2).map(w => (w(1), w(0))).toSeq.toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L until 30L).forall(cc(_) == 0L), s"chain roots wrong: $cc")
    assert(!cc.contains(0L), "the root itself carries no edge in the final star")
  }

  test("clusters: transitive closure, singletons, and canonical selection") {
    import spark.implicits._
    // components {1,2,3} (via 1-2, 2-3), {10,11}; 99 is isolated
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(ids, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(cl == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false), 99L -> (99L, true)))
    val kept = Dedup.dropDuplicateClusters(ids, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("clusters: empty pair set leaves every doc a canonical singleton") {
    import spark.implicits._
    val ids = Seq(5L, 6L).toDF("doc_id")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cl = Dedup.clusters(ids, "doc_id", none).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(cl == Set((5L, 5L, true), (6L, 6L, true)))
  }

  test("connected components agree with a brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    // driver-side union-find ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = (0 until n).map(i => i.toLong -> {
      // min id in the component of i
      val r = find(i)
      (0 until n).filter(j => find(j) == r).min.toLong
    }).toMap
    val ids = (0L until n.toLong).toDF("doc_id")
    val cl = Dedup.clusters(ids, "doc_id", edges.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == truth)
  }

  test("semantic dedup: planted clones land in their source's cluster") {
    import graft.llm.Dedup
    val e = emb.select("vec_id", "embedding")
    val clones = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val out = Dedup.semanticDedup(e.unionByName(clones), "vec_id", "embedding",
        threshold = 0.999, k = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // identical vectors: same IVF list, cosine 1.0 -> clone clusters to its
    // source (the min id), and the source is canonical
    (0L until 5L).foreach { i =>
      assert(out(i + 10000)._1 == out(i)._1, s"clone $i split from source")
      assert(out(i)._1 <= i, "canonical must be the min id of the cluster")
    }
    // near-random embeddings at threshold 0.999: non-clones stay singleton
    val nonClone = out.filter { case (id, (cid, _)) => id >= 5 && id < 10000 }
    assert(nonClone.forall { case (id, (cid, can)) => cid == id && can },
      "unexpected non-clone merges at threshold 0.999")
  }

  test("line repetition: dup-line and dup-char fractions from verbatim lines") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "aa\nbb\naa\naa\ncc"),  // 5 lines, 'aa' x3 -> 2 dups, dupChars 4 of 10
      (2L, "unique one\nunique two"),
      (3L, "x\nX")                   // verbatim compare: no case folding
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionLines(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == ((5L, 2.0 / 5, 4.0 / 10)))
    assert(got(2L) == ((2L, 0.0, 0.0)))
    assert(got(3L) == ((2L, 0.0, 0.0)))
  }

  test("decontamination: only docs sharing a 13-gram with the bench set flag") {
    import spark.implicits._
    import graft.llm.Dedup
    val span = (1 to 13).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"prefix words here $span suffix words"),       // contains the span
      (2L, "a completely unrelated document with plenty of its own words going on and on"),
      (3L, span),                                          // exactly the span
      (4L, s"tok1 tok2 tok3 only a partial overlap here nothing shared at thirteen grams today")
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1(s"eval question mentions $span verbatim")).toDF("text")
    val got = Dedup.decontaminate(train, "doc_id", "text", bench, "text", k = 13)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false), got.toString)
    // all original columns survive with the flag appended
    val cols = Dedup.decontaminate(train, "doc_id", "text", bench, "text").columns.toSeq
    assert(cols == Seq("doc_id", "text", "contaminated"))
  }

  test("Gopher gates: each published threshold rejects on its own axis") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val good = ((1 to 60).map(i => s"word$i") ++ Seq("the", "and")).mkString(" ")
    val docs = Seq(
      (1L, good),                                       // passes all gates
      (2L, "the and only five words here"),             // < 50 words
      (3L, good + " " + Seq.fill(20)("#").mkString(" ")), // hash ratio 20/82 > 0.1
      (4L, (Seq.fill(40)("• item x the and") ++ Seq("plain line the and")).mkString("\n")), // 40/41 bullets > 0.9
      (5L, good + "\nmore..." + "\nagain..." + "\nplain the and"), // 2/4 ellipsis lines > 0.3
      (6L, ((1 to 60).map(i => s"word$i") ++ Seq.fill(20)("123")).mkString(" ") + " the and"), // alpha 62/82 < 0.8... wait 62/82=0.756 < 0.8
      (7L, (1 to 60).map(i => s"word$i").mkString(" ")) // no required stopwords
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(9), got(1L).toString)
    assert(!got(2L).getBoolean(9) && got(2L).getLong(1) == 6L)
    assert(!got(3L).getBoolean(9) && got(3L).getDouble(3) > 0.1)
    assert(!got(4L).getBoolean(9) && got(4L).getDouble(5) > 0.9)
    assert(!got(5L).getBoolean(9) && got(5L).getDouble(6) > 0.3)
    assert(!got(6L).getBoolean(9) && got(6L).getDouble(7) < 0.8)
    assert(!got(7L).getBoolean(9) && got(7L).getLong(8) == 0L)
  }

  test("gopherFilter text passthrough: withText keeps the column, default drops it") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq((1L, "the be to of and that have with " +
      (1 to 48).map(i => s"w${i}x").mkString(" "))).toDF("doc_id", "text")
    val without = TextAnalysis.gopherFilter(docs, "doc_id", "text")
    assert(!without.columns.contains("text"))
    val withT = TextAnalysis.gopherFilter(docs, "doc_id", "text", withText = true)
    assert(withT.columns.contains("text"))
    val r = withT.collect().head
    assert(r.getAs[String]("text").startsWith("the be to") && r.getAs[Boolean]("keep"))
  }

  test("script profile: block ranges, astral code points, dominance ties, empties") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "abcÀд中あ한ش7 !"),        // one of everything: À is Latin-Extended
      (2L, "😀x"),          // astral emoji = ONE other, not two
      (3L, ""),                        // empty → main none
      (4L, "дa"),                      // tie latin=cyr=1 → fixed order: latin
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getLong(1) == 4L, "latin: abc + À")          // n_latin
    assert(r1.getLong(2) == 1L && r1.getLong(4) == 1L)     // cyrillic, arabic
    assert(r1.getLong(5) == 3L, "cjk: ideograph + kana + hangul")
    assert(r1.getLong(6) == 1L && r1.getLong(7) == 1L && r1.getLong(8) == 1L)
    assert(r1.getString(9) == "latin")
    assert(got(2L).getLong(8) == 1L && got(2L).getLong(1) == 1L)
    assert(got(3L).getString(9) == "none")
    assert(got(4L).getString(9) == "latin")
    assert(got(5L).getString(9) == "none")
  }

  test("sentence splitting: abbrevs, initials, decimals, runs, remainders") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    def split(t: String): Seq[String] =
      TextAnalysis.sentences(Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("sent_idx").collect().map(_.getString(2)).toSeq
    assert(split("One here. Two there.") == Seq("One here.", "Two there."))
    assert(split("Ask Dr. Smith. He knows.") == Seq("Ask Dr. Smith.", "He knows."))
    assert(split("J. K. Rowling wrote. Then stopped.") ==
      Seq("J. K. Rowling wrote.", "Then stopped."))
    assert(split("Pi is 3.14 always. Next.") == Seq("Pi is 3.14 always.", "Next."))
    assert(split("What?! Really. yes") == Seq("What?!", "Really. yes"))
    // lowercase continuation never splits; terminator at end = remainder
    assert(split("it ran. and ran. Done") == Seq("it ran. and ran.", "Done"))
    assert(split("No terminator at all") == Seq("No terminator at all"))
    assert(split("") == Seq.empty && split("   ") == Seq.empty)
    // e.g. guard: the inner dot never splits, the trailing one is guarded
    assert(split("Use e.g. Spark. It scales.") == Seq("Use e.g. Spark.", "It scales."))
    assert(split("Quote next. \"Hi\" she said.") == Seq("Quote next.", "\"Hi\" she said."))
  }

  test("syllables and readability: vowel groups, silent e, -le, floors") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    assert(TextAnalysis.syllables("cat") == 1)
    assert(TextAnalysis.syllables("data") == 2)
    assert(TextAnalysis.syllables("banana") == 3)
    assert(TextAnalysis.syllables("name") == 1)   // silent e
    assert(TextAnalysis.syllables("table") == 2)  // -le keeps its e
    assert(TextAnalysis.syllables("rhythm") == 1) // y as vowel
    assert(TextAnalysis.syllables("e") == 1)      // floor
    assert(TextAnalysis.syllables("123") == 0)    // no letters
    assert(TextAnalysis.syllables("queue") == 1)  // one vowel group
    val fk = TextAnalysis.fleschKincaid(
      Seq((1L, "One two. Three four."), (2L, ""), (3L, null.asInstanceOf[String]))
        .toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fk(1L) == ((2L, 4L, 4L)))
    assert(fk(2L) == ((1L, 1L, 0L)) && fk(3L) == ((1L, 1L, 0L))) // floors, finite grade
  }

  test("text normalization: mojibake repair is exact and never corrupts") {
    import graft.llm.TextAnalysis.fixMojibake
    // UTF-8 "\u00e9" (C3 A9) seen through Latin-1 = U+00C3 U+00A9
    assert(fixMojibake("Caf\u00c3\u00a9") == "Caf\u00e9")
    // U+2019 (E2 80 99) through Latin-1 = U+00E2 U+0080 U+0099
    assert(fixMojibake("it\u00e2\u0080\u0099s") == "it\u2019s")
    // clean text has no marker: untouched
    assert(fixMojibake("plain caf\u00e9 text") == "plain caf\u00e9 text")
    // marker present but NOT valid UTF-8 when re-encoded: untouched
    assert(fixMojibake("\u00c3\u00a9 then lone \u00c3\u00a0\u00c3.") ==
      "\u00c3\u00a9 then lone \u00c3\u00a0\u00c3.")
    // marker present but text has chars outside Latin-1: untouched
    assert(fixMojibake("\u00c3\u00a9 with \u4e2d") == "\u00c3\u00a9 with \u4e2d")
  }

  test("text normalization: NFKC, punctuation folding, zero-width strip") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    def n(s: String): String = TextAnalysis.normalizeText(
      Seq((1L, s)).toDF("id", "text"), "id", "text").collect().head.getString(1)
    assert(n("\u201cq\u201d \u2014 it\u2019s \u2026 ok\u00a0now") ==
      "\"q\" - it's ... ok now")
    assert(n("A\u200bb \uff21\uff22 \u2460") == "Ab AB 1")
    assert(n("keep\nlines\tand\u0007bell") == "keep\nlines\tandbell")
    assert(n("ls\u2028ps\u2029end") == "ls\nps\nend")
    assert(n("\ufeffbom gone") == "bom gone")
    assert(n(null.asInstanceOf[String]) == "" && n("") == "")
    // ligature and fullwidth digits through NFKC
    assert(n("\ufb01le \uff12\uff10") == "file 20")
  }

  test("C4 cleaning: line rules, sentence floor, lorem/brace rejection") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      // 6 good lines -> kept, >= 5 sentences, keep = true
      (1L, (1 to 6).map(i => s"alpha beta gamma $i.").mkString("\n")),
      // mixed: unpunctuated, too-short, javascript, blank, good with quote
      (2L, Seq(
        "no terminal punctuation here",    // dropped (a)
        "two words.",                      // dropped (b): "two" "words." = 2
        "uses javascript on this line.",   // dropped (c)
        "",                                // dropped (a)
        "  padded but quite fine.  ",      // kept, trimmed
        "she said \"stop right there\"",   // dropped: ends with " but... wait
        "ends with a question?",           // kept
        "really good line here!").mkString("\n")), // kept
      // lorem marker kills the doc even with clean lines
      (3L, (1 to 6).map(i => s"delta epsilon zeta $i.").mkString("\n") + "\nLorem Ipsum."),
      // brace marker
      (4L, (1 to 6).map(i => s"eta theta iota $i.").mkString("\n") + "\nval x = { 1 }.")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L) == (((1 to 6).map(i => s"alpha beta gamma $i.").mkString("\n"), 6L, 6L, 6L, true)))
    // doc 2: kept = quote-ended line? "she said \"stop right there\"" ends
    // with '"' -> rule (a) passes, 4+ words -> kept. So kept lines are:
    // padded, she-said, question, good  -> 4 lines; sentences = '.'+'?'+'!'
    // = 3 (quote line adds none) -> keep = false (< 5)
    val (clean2, kept2, total2, sent2, keepFlag2) = got(2L)
    assert(total2 == 8L && kept2 == 4L, s"$clean2")
    assert(clean2.linesIterator.toSeq == Seq(
      "padded but quite fine.", "she said \"stop right there\"",
      "ends with a question?", "really good line here!"))
    assert(sent2 == 3L && !keepFlag2)
    // the lorem line itself ("Lorem Ipsum." = 2 words) is line-dropped too
    assert(got(3L)._2 == 6L && got(3L)._3 == 7L && !got(3L)._5,
      "lorem ipsum must reject the doc")
    assert(!got(4L)._5, "brace must reject the doc")
    assert(got(4L)._4 >= 5L) // sentence floor passed; rejection came from '{'
  }

  test("multimodal: PNG/GIF/JPEG header parsers walk real structures, reject corrupt bytes") {
    import graft.llm.Multimodal
    // PNG IHDR roundtrip; the fixture writes a real CRC32
    assert(Multimodal.parsePng(Multimodal.syntheticPng(1920, 1080)).contains((1920, 1080)))
    // GIF87a is as valid as 89a
    val gif87 = Multimodal.syntheticGif(320, 200)
    gif87(4) = '7'
    assert(Multimodal.parseGif(Multimodal.syntheticGif(320, 200)).contains((320, 200)))
    assert(Multimodal.parseGif(gif87).contains((320, 200)))
    // JPEG: SOF0 behind APP0 must be found by the marker walk; a padded
    // fill byte (FF FF C0) and a restart marker must both be stepped over
    val jpg = Multimodal.syntheticJpeg(800, 600)
    assert(Multimodal.parseJpeg(jpg).contains((800, 600)))
    val withRst = jpg.slice(0, 2) ++ Array[Byte](0xFF.toByte, 0xD0.toByte) ++ jpg.drop(2)
    assert(Multimodal.parseJpeg(withRst).contains((800, 600)))
    // progressive (SOF2) reads the same frame fields
    val prog = jpg.clone(); prog(21) = 0xC2.toByte
    assert(Multimodal.parseJpeg(prog).contains((800, 600)))
    // corruption: truncation, scan-before-SOF, zero segment length, wrong
    // magic — all None, never a throw or a hang
    assert(Multimodal.parsePng(Multimodal.syntheticPng(9, 9).slice(0, 20)).isEmpty)
    assert(Multimodal.parseGif("GIF88a1234".getBytes("US-ASCII")).isEmpty)
    val sosFirst = jpg.clone(); sosFirst(3) = 0xDA.toByte
    assert(Multimodal.parseJpeg(sosFirst).isEmpty)
    val zeroLen = jpg.clone(); zeroLen(4) = 0; zeroLen(5) = 0
    assert(Multimodal.parseJpeg(zeroLen).isEmpty)
    assert(Multimodal.parseJpeg(Multimodal.syntheticGif(3, 3)).isEmpty)
    assert(Multimodal.parsePng(null).isEmpty)
    assert(Multimodal.parseGif(null).isEmpty)
    assert(Multimodal.parseJpeg(null).isEmpty)
  }

  test("multimodal: BMP/PNM/WAV header parsers read real files, stub only off-family") {
    import spark.implicits._
    import graft.llm.Multimodal
    // BMP roundtrip incl. negative height (top-down row order -> |h|)
    val bmp = Multimodal.syntheticBmp(640, 480)
    val bb = java.nio.ByteBuffer.wrap(bmp.clone()).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -480)
    assert(Multimodal.parseBmp(bmp).contains((640, 480)))
    assert(Multimodal.parseBmp(bb.array()).contains((640, 480)))
    // PNM with comment lines; P3 ASCII form too
    assert(Multimodal.parsePnm(Multimodal.syntheticPpm(12, 34)).contains((12, 34)))
    assert(Multimodal.parsePnm("P3\n# c1\n# c2\n 7\n9\n255\n".getBytes("US-ASCII")).contains((7, 9)))
    // WAV chunk walk: an extra chunk before fmt/data must be skipped
    val wav = Multimodal.syntheticWav(44100, 2, 16, 44100L)
    assert(Multimodal.parseWav(wav).contains((44100, 2, 16, 44100L)))
    val extra = wav.slice(0, 12) ++
      ("LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")) ++
      wav.drop(12)
    assert(Multimodal.parseWav(extra).contains((44100, 2, 16, 44100L)))
    // garbage and truncation: None, never a crash
    assert(Multimodal.parseBmp("nope".getBytes).isEmpty)
    assert(Multimodal.parsePnm(Array[Byte]('P')).isEmpty)
    assert(Multimodal.parseWav(bmp).isEmpty)
    assert(Multimodal.parseWav(wav.slice(0, 10)).isEmpty)
    // malformed chunk sizes: 0xFFFFFFF8 makes the naive step 0 (infinite
    // loop) and 0x7FFFFFF0 overflows int position arithmetic — both must
    // terminate with None, not hang or throw
    val evil = wav.slice(0, 12) ++
      ("JUNK".getBytes("US-ASCII") ++ Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)) ++
      wav.drop(12)
    assert(Multimodal.parseWav(evil).isEmpty)
    val huge = wav.slice(0, 12) ++
      ("JUNK".getBytes("US-ASCII") ++ Array[Byte](0xF0.toByte, 0xFF.toByte, 0xFF.toByte, 0x7F.toByte)) ++
      wav.drop(12)
    assert(Multimodal.parseWav(huge).isEmpty)
    // decodeMeta dispatch: bmp mime -> real dims; unknown mime -> stub dims
    val ds = Seq(
      Multimodal.Media(1L, Multimodal.syntheticBmp(100, 50), "image/bmp"),
      Multimodal.Media(2L, Multimodal.syntheticPpm(8, 4), "image/x-portable-pixmap"),
      Multimodal.Media(3L, Array.fill[Byte](10)(7), "application/octet-stream"),
      Multimodal.Media(4L, null, "image/bmp")).toDS()
    val got = Multimodal.decodeMeta(ds).collect().map(m => m.doc_id -> m).toMap
    assert(got(1L).width == 100 && got(1L).height == 50 && got(1L).n_frames == 1)
    assert(got(2L).width == 8 && got(2L).height == 4)
    assert(got(3L).width == 11 && got(3L).height == 11) // 1 + 10 % 640/480
    // null/corrupt media on a PARSER-family mime: an honest zeroed failure
    // row (never fabricated stub dims), and sampleFrames emits nothing
    assert(got(4L).byte_len == 0L && got(4L).width == 0 && got(4L).n_frames == 0)
    // audio: duration is integer ms of declared samples
    val a = Multimodal.decodeAudioMeta(Seq(
      Multimodal.Media(1L, Multimodal.syntheticWav(8000, 1, 16, 12000L), "audio/wav"),
      Multimodal.Media(2L, "not-audio".getBytes, "audio/wav")).toDS())
      .collect().map(m => m.doc_id -> m).toMap
    assert(a(1L).sample_rate == 8000 && a(1L).channels == 1 &&
      a(1L).n_samples == 12000L && a(1L).duration_ms == 1500L)
    assert(a(2L).sample_rate == 0 && a(2L).n_samples == 0L)
  }

  test("multimodal video: Y4M decode walks the container, frame hashes drive near-dup") {
    import spark.implicits._
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(17)
    val frames = (0 until 5).map(_ => Array.fill(18 * 16)(rnd.nextInt(256)))
    // container roundtrip: luma planes come back verbatim, chroma skipped
    val y4m = Multimodal.syntheticY4m(18, 16, frames)
    val dec = Multimodal.decodeY4mGray(y4m)
    assert(dec.exists(d => d._1 == 18 && d._2 == 16 && d._3.size == 5))
    assert(dec.get._3.map(_.toSeq) == frames.map(_.toSeq), "luma roundtrip")
    // a truncated tail drops the partial frame, keeps the whole ones
    val cut = Multimodal.decodeY4mGray(y4m.dropRight(100)).get._3
    assert(cut.size == 4 && cut.map(_.toSeq) == frames.take(4).map(_.toSeq), "truncation")
    // mono colourspace: no chroma to skip
    val mono = ("YUV4MPEG2 W4 H2 F30:1 Cmono\n" + "FRAME\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](8)(i => (i * 10).toByte)
    assert(Multimodal.decodeY4mGray(mono).get._3.head.toSeq == (0 until 8).map(_ * 10))
    // garbage, unsupported colourspace, missing dims: None
    assert(Multimodal.decodeY4mGray("not a stream".getBytes).isEmpty)
    // C422 decodes (r11): luma 8 + half-width chroma 2*2*2=8 per frame;
    // a truncated frame (14 of 16 bytes) yields no frames, a full one
    // returns the luma with the chroma strided over
    assert(Multimodal.decodeY4mGray(
      "YUV4MPEG2 W4 H2 C422\nFRAME\n12345678901234".getBytes("US-ASCII")).isEmpty,
      "truncated C422 frame")
    val c422 = ("YUV4MPEG2 W4 H2 C422\nFRAME\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](16)(i => (i * 5).toByte)
    assert(Multimodal.decodeY4mGray(c422).get._3.head.toSeq == (0 until 8).map(_ * 5),
      "C422 luma")
    val c440 = ("YUV4MPEG2 W4 H2 C440\nFRAME\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](8 + 8)(i => (i * 3).toByte)
    assert(Multimodal.decodeY4mGray(c440).get._3.head.toSeq == (0 until 8).map(_ * 3),
      "C440 luma")
    assert(Multimodal.decodeY4mGray(
      "YUV4MPEG2 W4 H2 C411\nFRAME\n12345678901234".getBytes("US-ASCII")).isEmpty,
      "C411 stays scoped out")
    // declared dims that overflow int (65536x65536) must reject cleanly,
    // not crash downstream hashing with empty frames for a huge grid
    assert(Multimodal.decodeY4mGray(
      ("YUV4MPEG2 W65536 H65536 C420\nFRAME\n" + "x" * 64).getBytes("US-ASCII")).isEmpty)
    // high-bit-depth 420 (two-byte samples) must reject, not mis-stride
    assert(Multimodal.decodeY4mGray(
      ("YUV4MPEG2 W4 H2 C420p10\nFRAME\n" + "x" * 24).getBytes("US-ASCII")).isEmpty)
    // the 8-bit 420 alias tags decode like plain C420
    val jtag = ("YUV4MPEG2 W4 H2 C420jpeg\nFRAME\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](8 + 4)(i => (i * 3).toByte)
    assert(Multimodal.decodeY4mGray(jtag).get._3.head.toSeq == (0 until 8).map(_ * 3))
    assert(Multimodal.decodeY4mGray("YUV4MPEG2 F30:1\nFRAME\n".getBytes("US-ASCII")).isEmpty)
    // frame sampling: 12-frame video at sampleFrames=4 picks 0,3,6,9
    val twelve = (0 until 12).map(f => Array.fill(18 * 16)(f * 20))
    val v12 = Multimodal.syntheticY4m(18, 16, twelve)
    val sampled = Multimodal.videoFrameHashes(
        Seq(Multimodal.Media(1L, v12, "video/x-yuv4mpeg")).toDS(), sampleFrames = 4)
      .select("frame_idx").as[Long].collect().toSet
    assert(sampled == Set(0L, 3L, 6L, 9L), s"even sampling: $sampled")
    // the striding sampled decoder materializes ONLY the sampled frames
    // and they are byte-identical to the full decode's frames at the
    // same indices (many frames, sparse sampling — the r10 watch item)
    val many = (0 until 40).map(f => Array.fill(18 * 16)((f * 7 + 3) % 256))
    val vMany = Multimodal.syntheticY4m(18, 16, many)
    val sp = Multimodal.decodeY4mGraySampled(vMany, 4).get
    assert(sp._1 == 18 && sp._2 == 16 && sp._3.map(_._1) == Seq(0, 10, 20, 30))
    val full = Multimodal.decodeY4mGray(vMany).get._3
    assert(sp._3.forall { case (fi, luma) => luma.toSeq == full(fi).toSeq },
      "sampled planes must equal the full decode's at the same indices")
    assert(Multimodal.decodeY4mGraySampled(vMany, 100).get._3.size == 40,
      "sampleFrames beyond length decodes every frame once")
    // near-dup pairs: a copy with one replaced frame pairs (11/12 shared),
    // unrelated footage doesn't, garbage pairs with nothing
    val base12 = (0 until 12).map(_ => Array.fill(18 * 16)(rnd.nextInt(256)))
    val oneOff = base12.updated(5, Array.fill(18 * 16)(rnd.nextInt(256)))
    val other12 = (0 until 12).map(_ => Array.fill(18 * 16)(rnd.nextInt(256)))
    val ds = Seq(
      Multimodal.Media(1L, Multimodal.syntheticY4m(18, 16, base12), "video/x-yuv4mpeg"),
      Multimodal.Media(2L, Multimodal.syntheticY4m(18, 16, oneOff), "video/x-yuv4mpeg"),
      Multimodal.Media(3L, Multimodal.syntheticY4m(18, 16, other12), "video/x-yuv4mpeg"),
      Multimodal.Media(4L, "garbage bytes".getBytes, "video/mp4")).toDS()
    val pairs = Multimodal.videoNearDupPairs(ds, sampleFrames = 12, minShared = 8)
      .select("id_a", "id_b", "shared_frames").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((1L, 2L)).exists(_ >= 11L), s"one-frame-off copy must pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated must not pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"garbage pairs with nothing: $pairs")
  }

  test("multimodal audio: PCM decode is sample-lossless, envelope hash tracks the waveform") {
    import spark.implicits._
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(13)
    val mono = Array.fill(1950)(rnd.nextInt(4001) - 2000)
    // mono roundtrip: decode(build(s)) == s exactly
    val wav = Multimodal.syntheticWavPcm(8000, mono)
    val dec = Multimodal.decodeWavPcm(wav)
    assert(dec.map(_._3.toSeq).contains(mono.toSeq), "mono roundtrip")
    assert(dec.exists(d => d._1 == 8000 && d._2 == 1))
    // stereo downmix: interleaved L/R averages per frame (int division)
    val stereo = new Array[Byte](44 + mono.length * 4)
    val monoWav = Multimodal.syntheticWavPcm(8000, mono)
    System.arraycopy(monoWav, 0, stereo, 0, 44)
    val sb = java.nio.ByteBuffer.wrap(stereo).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    sb.putInt(4, 36 + mono.length * 4) // RIFF size
    sb.putShort(22, 2)                 // channels
    sb.putInt(28, 8000 * 4)            // byte rate
    sb.putShort(32, 4)                 // block align
    sb.putInt(40, mono.length * 4)     // data size
    mono.zipWithIndex.foreach { case (s, i) =>
      sb.putShort(44 + i * 4, s.toShort)
      sb.putShort(44 + i * 4 + 2, (s + 2).toShort)
    }
    val downs = Multimodal.decodeWavPcm(stereo).get._3
    assert(downs.toSeq === mono.map(s => (s + (s + 2)) / 2).toSeq, "stereo downmix")
    // truncated payload decodes the samples actually present
    val cut = Multimodal.decodeWavPcm(wav.take(44 + 200)).get._3
    assert(cut.length == 100 && cut.toSeq == mono.take(100).toSeq, "truncation")
    // non-PCM (format 2) and non-16-bit reject
    val adpcm = wav.clone()
    java.nio.ByteBuffer.wrap(adpcm).order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(20, 2)
    assert(Multimodal.decodeWavPcm(adpcm).isEmpty, "non-PCM must reject")
    // envelope hash: boosting ONE frame flips at most one bit; too-short
    // audio refuses; a reversed waveform is far
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h0 = Multimodal.audioHash64(mono).get
    val boosted = mono.zipWithIndex.map { case (s, j) => if (j < 30) s + 900 else s }
    assert(ham(h0, Multimodal.audioHash64(boosted).get) <= 1, "one frame is one bit")
    assert(Multimodal.audioHash64(Array.fill(64)(5)).isEmpty, "sub-frame must refuse")
    // end-to-end pairs: near copy pairs, distinct doesn't, garbage passes nothing
    val other = Array.fill(1950)(rnd.nextInt(4001) - 2000)
    val ds = Seq(
      Multimodal.Media(1L, Multimodal.syntheticWavPcm(8000, mono), "audio/wav"),
      Multimodal.Media(2L, Multimodal.syntheticWavPcm(8000, boosted), "audio/wav"),
      Multimodal.Media(3L, Multimodal.syntheticWavPcm(8000, other), "audio/wav"),
      Multimodal.Media(4L, "definitely not audio".getBytes, "audio/wav")).toDS()
    val pairs = Multimodal.audioNearDupPairs(ds, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"boosted copy must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"garbage pairs with nothing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"unrelated waveform must not pair: $pairs")
  }

  test("warc ranged fetch: CDX frames drive positioned reads; corrupt/missing skip") {
    import spark.implicits._
    import graft.llm.Warc
    for (gz <- Seq(true, false)) {
      val recs = (0 until 9).map(i =>
        (s"http://t.net/p$i", "2026-08-01T00:00:00Z", s"<p>t $i</p>"))
      val arc = Warc.syntheticWarcDated(recs, gzipped = gz)
      val f = java.io.File.createTempFile("graft_fetch_spec", ".warc")
      try {
        java.nio.file.Files.write(f.toPath, arc)
        // ground truth: the full in-memory parse, narrowed to the subset
        val full = Warc.parseWarc(arc)
        val wanted = Warc.cdxIndex(arc)
          .filter(r => r.rec_type == "response" && r.rec_idx % 2 == 1)
          .map(r => (r.copy(doc_id = 7L), f.getAbsolutePath))
        val got = Warc.fetchRecords(spark.createDataset(wanted).repartition(3))
          .collect().sortBy(_.rec_idx)
        val expect = wanted.map { case (r, _) =>
          full(r.rec_idx).copy(doc_id = 7L, rec_idx = r.rec_idx)
        }.sortBy(_.rec_idx)
        assert(got.toSeq == expect.toSeq, s"gz=$gz: fetched == scanned subset")
        // a frame into a MISSING file skips, never a task failure
        val gone = wanted.map { case (r, _) => (r, f.getAbsolutePath + ".nope") }
        assert(Warc.fetchRecords(spark.createDataset(gone)).collect().isEmpty)
      } finally f.delete()
    }
    // multi-record MEMBER (regression): the whole archive as ONE gzip
    // member means every index row shares one frame — fetching a row
    // must return exactly ITS record (identity-matched inside the
    // frame), and fetching all rows exactly one record each, never the
    // member's full contents per row
    val recs = (0 until 5).map(i =>
      (s"http://m.net/p$i", f"2026-08-0${1 + i}%dT00:00:00Z", s"<p>m $i</p>"))
    val plain = Warc.syntheticWarcDated(recs, gzipped = false)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    val oneMember = bos.toByteArray
    val f2 = java.io.File.createTempFile("graft_fetch_member", ".warc.gz")
    try {
      java.nio.file.Files.write(f2.toPath, oneMember)
      val idx = Warc.cdxIndex(oneMember)
      assert(idx.length == 6 && idx.map(_.offset).distinct.length == 1,
        "premise: six records share the single member frame")
      val one = idx.filter(_.rec_idx == 3).map(r => (r, f2.getAbsolutePath))
      val got1 = Warc.fetchRecords(spark.createDataset(one)).collect()
      assert(got1.length == 1 && got1.head.target_uri == "http://m.net/p2" &&
        got1.head.rec_idx == 3, "one row -> exactly its record")
      val all = idx.filter(_.rec_type == "response").map(r => (r, f2.getAbsolutePath))
      val gotAll = Warc.fetchRecords(spark.createDataset(all)).collect().sortBy(_.rec_idx)
      assert(gotAll.length == 5 && gotAll.map(_.target_uri).toSeq ==
        (0 until 5).map(i => s"http://m.net/p$i"), "N rows -> N records, not N*N")
    } finally f2.delete()
  }

  test("multimodal wHash: sequency concentration, exposure/scale invariance, refusal") {
    import spark.implicits._
    import graft.llm.Multimodal
    def walsh(k: Int, amp: Int, base: Int): Array[Int] = Array.tabulate(1024) { i =>
      val x = i % 32; val y = i / 32
      val s = java.lang.Integer.bitCount((k & 7) & x) +
        java.lang.Integer.bitCount(((k >> 3) & 7) & y)
      base + (if (s % 2 == 0) amp else -amp)
    }
    // one Walsh tile -> exactly its bit (the median of 62 zeros + one
    // positive coefficient is zero)
    for (k <- Seq(1, 8, 33, 63))
      assert(Multimodal.wHash64(32, 32, walsh(k, 20, 128)) === Some(1L << (k - 1)), s"k=$k")
    // brightness offset lives in DC only; positive contrast scaling
    // preserves every median comparison
    val img = walsh(11, 20, 128).zip(walsh(29, 10, 0)).map { case (a, b) => a + b }
    val h0 = Multimodal.wHash64(32, 32, img).get
    assert(h0 === ((1L << 10) | (1L << 28)))
    assert(Multimodal.wHash64(32, 32, img.map(_ + 30)) === Some(h0), "brightness")
    assert(Multimodal.wHash64(32, 32, img.map(v => 128 + 2 * (v - 128))) === Some(h0),
      "contrast")
    // nearest-neighbor upscales resample back to the identical hash —
    // the floor-map cells average equal pixels exactly
    val up = Array.tabulate(64 * 64)(i => img((i / 64 / 2) * 32 + (i % 64) / 2))
    assert(Multimodal.wHash64(64, 64, up) === Some(h0), "2x upscale invariant")
    assert(Multimodal.wHash64(7, 32, Array.fill(7 * 32)(9)).isEmpty, "sub-8 refuses")
    // dimensions in [8, 32) leave floor-map cells empty — the gather
    // fill must keep the kernel total (regression: division by zero)
    for ((w, h) <- Seq((16, 16), (9, 40), (31, 8))) {
      val small = Array.tabulate(w * h)(i => (i * 13 + 5) % 200)
      assert(Multimodal.wHash64(w, h, small).isDefined, s"$w x $h is total")
    }
    assert(Multimodal.wHash64(16, 16, Array.fill(256)(77)) === Some(0L),
      "constant image: every non-DC coefficient is zero -> empty hash")
    // kernel posture: BMP round-trip ok, junk rows stay with ok = false
    val rows = Multimodal.imageWHash(spark.createDataset(Seq(
      Multimodal.Media(1L, Multimodal.syntheticBmp8(32, 32, img), "image/bmp"),
      Multimodal.Media(2L, "junk".getBytes, "image/bmp")))).collect().sortBy(_.doc_id)
    assert(rows(0) === Multimodal.ImageHash(1L, h0, ok = true))
    assert(rows(1) === Multimodal.ImageHash(2L, 0L, ok = false))
  }

  test("multimodal pixels: BMP encode-decode is lossless, dHash is a real perceptual hash") {
    import spark.implicits._
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(11)
    // pixel roundtrip at a width whose 3-byte rows need stride padding
    // (5*3=15 -> 16) and one that doesn't (8*3=24): decode must undo the
    // bottom-up row order and skip the pad bytes exactly
    for ((w, h) <- Seq((5, 9), (8, 8), (18, 16))) {
      val px = Array.fill(w * h)(rnd.nextInt(256))
      val decoded = Multimodal.decodeBmpGray(Multimodal.syntheticBmpPixels(w, h, px))
      assert(decoded.map(_._3.toSeq).contains(px.toSeq), s"roundtrip $w x $h")
    }
    // top-down BMP (negative height): same logical image as bottom-up
    val px = Array.tabulate(18 * 16)(i => (i * 37) % 256)
    val bu = Multimodal.syntheticBmpPixels(18, 16, px)
    val td = bu.clone()
    val bb = java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -16)
    // flipping the height sign ALSO flips which raster row is first, so
    // rewrite the pixel rows in top-down order
    val stride = ((18 * 3 + 3) / 4) * 4
    for (y <- 0 until 16; b <- 0 until stride)
      td(54 + y * stride + b) = bu(54 + (15 - y) * stride + b)
    assert(Multimodal.decodeBmpGray(td).map(_._3.toSeq).contains(px.toSeq), "top-down")
    // crafted-header hardening: corrupt input must return None, never
    // OOM/crash the task. (1) a width whose `w*3` WRAPS Int to a tiny
    // stride (1431655767*3 ≡ 5 mod 2^32 -> stride 8) would let this
    // 62-byte file pass an Int bounds check and then attempt a ~5.3 GB
    // allocation; (2) rawH = Int.MinValue survives math.abs unchanged
    // and would pass an `h == 0` guard into a negative-size allocation
    val evil = new Array[Byte](62)
    evil(0) = 'B'; evil(1) = 'M'
    val eb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    eb.putInt(10, 54); eb.putInt(18, 1431655767); eb.putInt(22, 1)
    eb.putShort(28, 24); eb.putInt(30, 0)
    assert(Multimodal.decodeBmpGray(evil).isEmpty, "overflowing stride must reject")
    eb.putInt(18, 4); eb.putInt(22, Int.MinValue)
    assert(Multimodal.decodeBmpGray(evil).isEmpty, "rawH = Int.MinValue must reject")
    // PNM P5 (gray bytes verbatim) and P6 (r=g=b triplets -> same luma)
    val p5 = s"P5\n18 16\n255\n".getBytes("US-ASCII") ++ px.map(_.toByte)
    assert(Multimodal.decodePnmGray(p5).map(_._3.toSeq).contains(px.toSeq), "P5")
    val p6 = s"P6\n# c\n18 16\n255\n".getBytes("US-ASCII") ++
      px.flatMap(v => Array(v.toByte, v.toByte, v.toByte))
    assert(Multimodal.decodePnmGray(p6).map(_._3.toSeq).contains(px.toSeq), "P6")
    // the ASCII family (r11): P2 decimal samples, P3 decimal triplets
    val p2 = (s"P2\n# c\n18 16\n255\n" + px.mkString(" ")).getBytes("US-ASCII")
    assert(Multimodal.decodePnmGray(p2).map(_._3.toSeq).contains(px.toSeq), "P2")
    val p3 = (s"P3\n18 16\n255\n" + px.flatMap(v => Seq(v, v, v)).mkString(" "))
      .getBytes("US-ASCII")
    assert(Multimodal.decodePnmGray(p3).map(_._3.toSeq).contains(px.toSeq), "P3")
    // bitmaps: P4 MSB-first packed with byte-padded rows (w=18 -> 3
    // bytes/row, 6 pad bits), P1 with ADJACENT digits (spec-legal)
    val bits = px.map(v => if (v >= 128) 1 else 0)
    val bw = (18 + 7) / 8
    val p4 = s"P4\n18 16\n".getBytes("US-ASCII") ++
      Array.tabulate[Byte](bw * 16) { bi =>
        val y = bi / bw
        var acc = 0
        for (k <- 0 until 8) {
          val x = (bi % bw) * 8 + k
          if (x < 18 && bits(y * 18 + x) == 1) acc |= 1 << (7 - k)
        }
        acc.toByte
      }
    val expBits = bits.map(v => if (v == 1) 0 else 255)
    assert(Multimodal.decodePnmGray(p4).map(_._3.toSeq).contains(expBits.toSeq), "P4")
    val p1 = (s"P1\n18 16\n" + bits.grouped(18).map(_.mkString).mkString("\n"))
      .getBytes("US-ASCII")
    assert(Multimodal.decodePnmGray(p1).map(_._3.toSeq).contains(expBits.toSeq), "P1")
    // short ASCII raster and 16-bit maxval still reject
    assert(Multimodal.decodePnmGray("P2\n4 4\n255\n1 2 3".getBytes).isEmpty, "short P2")
    assert(Multimodal.decodePnmGray(("P2\n2 2\n65535\n1 2 3 4").getBytes).isEmpty, "16-bit")
    // BMP family widened (r11): 8-bit palettized (grayscale table ->
    // luma == index), 32-bpp BGRX, 32-bpp BI_BITFIELDS with swapped
    // masks, 1-bit packed — all land on the same luma
    assert(Multimodal.decodeBmpGray(Multimodal.syntheticBmp8(18, 16, px))
      .map(_._3.toSeq).contains(px.toSeq), "8-bit palettized")
    def bmp32(masks: Option[(Int, Int, Int)]): Array[Byte] = {
      val dataOff = 54 + (if (masks.isDefined) 12 else 0)
      val bb = java.nio.ByteBuffer.allocate(dataOff + 18 * 16 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(bb.capacity).putInt(0).putInt(dataOff)
      bb.putInt(40).putInt(18).putInt(16).putShort(1).putShort(32)
      bb.putInt(if (masks.isDefined) 3 else 0).putInt(18 * 16 * 4)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)
      masks.foreach { case (r, g, b2) => bb.putInt(r).putInt(g).putInt(b2) }
      for (y <- 15 to 0 by -1; x <- 0 until 18) {
        val v = px(y * 18 + x)
        masks match {
          case None => bb.put(v.toByte).put(v.toByte).put(v.toByte).put(0.toByte) // BGRX
          case Some(_) => bb.putInt(v | (v << 8) | (v << 16) | (v << 24)) // any masks read v
        }
      }
      bb.array()
    }
    assert(Multimodal.decodeBmpGray(bmp32(None)).map(_._3.toSeq).contains(px.toSeq), "32 BGRX")
    assert(Multimodal.decodeBmpGray(bmp32(Some((0x000000FF, 0x00FF0000, 0xFF000000.toInt))))
      .map(_._3.toSeq).contains(px.toSeq), "32 BI_BITFIELDS swapped masks")
    val bits2 = px.map(v => if (v >= 128) 1 else 0)
    val oneBit = {
      val stride = ((18 + 31) / 32) * 4
      val dataOff = 54 + 2 * 4
      val bb = java.nio.ByteBuffer.allocate(dataOff + stride * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(bb.capacity).putInt(0).putInt(dataOff)
      bb.putInt(40).putInt(18).putInt(16).putShort(1).putShort(1)
      bb.putInt(0).putInt(stride * 16).putInt(0).putInt(0).putInt(2).putInt(0)
      // palette: index 0 = white, 1 = black (matching the PNM bitmap luma)
      bb.put(255.toByte).put(255.toByte).put(255.toByte).put(0.toByte)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      for (y <- 15 to 0 by -1) {
        val row = new Array[Byte](stride)
        for (x <- 0 until 18 if bits2(y * 18 + x) == 1)
          row(x >> 3) = (row(x >> 3) | (1 << (7 - (x & 7)))).toByte
        bb.put(row)
      }
      bb.array()
    }
    assert(Multimodal.decodeBmpGray(oneBit).map(_._3.toSeq)
      .contains(bits2.map(v => if (v == 1) 0 else 255).toSeq), "1-bit packed")
    // BI_RLE8 (r11): re-encode the palettized image as one absolute run
    // per row (bottom-up) and it must decode identically
    val rle8 = {
      val head = Multimodal.syntheticBmp8(18, 16, px).take(54 + 256 * 4)
      java.nio.ByteBuffer.wrap(head).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1)
      val body = (15 to 0 by -1).flatMap { y =>
        Array[Byte](0, 18) ++ (0 until 18).map(x => px(y * 18 + x).toByte) ++
          Array[Byte](0, 0) // EOL
      } ++ Seq[Byte](0, 1) // EOB
      head ++ body
    }
    assert(Multimodal.decodeBmpGray(rle8).map(_._3.toSeq).contains(px.toSeq), "RLE8 absolute")
    // repeat runs + a delta skip: 6x2, bottom row = 4x index 9 then
    // delta(2,0) leaves two background cells; top row one repeat run
    val rleSmall = {
      val head = Multimodal.syntheticBmp8(6, 2, Array.fill(12)(0)).take(54 + 256 * 4)
      java.nio.ByteBuffer.wrap(head).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1)
      head ++ Seq[Byte](4, 9, 0, 2, 2, 0, 0, 0, 6, 5, 0, 1)
      // (4,9) repeat, delta +2, EOL, (6,5) repeat, EOB
    }
    val smallPx = Multimodal.decodeBmpGray(rleSmall).get._3
    assert(smallPx.slice(6, 10).forall(_ == 9) && smallPx(10) == 0 && smallPx(11) == 0,
      s"RLE8 repeat+delta bottom row: ${smallPx.toSeq}")
    assert(smallPx.take(6).forall(_ == 5), s"RLE8 top row: ${smallPx.toSeq}")
    // RLE4 (r11): nibble-alternating repeat runs and packed absolute runs
    val rle4 = {
      val head = Multimodal.syntheticBmp8(6, 2, Array.fill(12)(0)).take(54 + 256 * 4)
      java.nio.ByteBuffer.wrap(head).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(28, 4).putInt(30, 2)
      // bottom row: repeat 5 of 0x9A (9,10,9,10,9) + absolute 3 nibbles
      // (0xBC, 0xD0) -> 11,12,13 would overflow w=6... use x: 5+1 run
      head ++ Seq[Byte](5, 0x9A.toByte, 1, 0xB0.toByte, 0, 0, // row 0 + EOL
        0, 3, 0xBC.toByte, 0xD0.toByte, // top row: absolute 11,12,13 (padded to word)
        3, 0x21, 0, 1) // repeat 2,1,2; EOB
    }
    val small4 = Multimodal.decodeBmpGray(rle4).get._3
    assert(small4.slice(6, 12).toSeq == Seq(9, 10, 9, 10, 9, 11), s"RLE4 bottom: ${small4.toSeq}")
    assert(small4.take(6).toSeq == Seq(11, 12, 13, 2, 1, 2), s"RLE4 top: ${small4.toSeq}")
    // 16-bpp: BI_RGB defaults to X1R5G5B5; BITFIELDS 565 masks rescale.
    // gray g maps to 5-bit g>>3 (and 6-bit g>>2), so luma = rescaled value
    def bmp16(masks: Option[(Int, Int, Int)]): Array[Byte] = {
      val dataOff = 54 + (if (masks.isDefined) 12 else 0)
      val stride = (18 * 2 + 3) / 4 * 4
      val bb = java.nio.ByteBuffer.allocate(dataOff + stride * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(bb.capacity).putInt(0).putInt(dataOff)
      bb.putInt(40).putInt(18).putInt(16).putShort(1).putShort(16)
      bb.putInt(if (masks.isDefined) 3 else 0).putInt(stride * 16)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)
      masks.foreach { case (r, g, b2) => bb.putInt(r).putInt(g).putInt(b2) }
      for (y <- 15 to 0 by -1) {
        for (x <- 0 until 18) {
          val v = px(y * 18 + x)
          val pix = masks match {
            case None => ((v >> 3) << 10) | ((v >> 3) << 5) | (v >> 3) // 555
            case Some(_) => ((v >> 3) << 11) | ((v >> 2) << 5) | (v >> 3) // 565
          }
          bb.putShort(pix.toShort)
        }
        for (_ <- 18 * 2 until stride) bb.put(0.toByte)
      }
      bb.array()
    }
    def exp555(v: Int) = { val c = (v >> 3) * 255 / 31; c } // all three channels equal
    assert(Multimodal.decodeBmpGray(bmp16(None)).map(_._3.toSeq)
      .contains(px.map(exp555).toSeq), "16-bpp 555")
    def exp565(v: Int) =
      (299 * ((v >> 3) * 255 / 31) + 587 * ((v >> 2) * 255 / 63) + 114 * ((v >> 3) * 255 / 31)) / 1000
    assert(Multimodal.decodeBmpGray(bmp16(Some((0xF800, 0x07E0, 0x001F))))
      .map(_._3.toSeq).contains(px.map(exp565).toSeq), "16-bpp 565 bitfields")
    // dHash properties: brightness-shift invariant (gradient SIGNS are the
    // fingerprint), pixel-replication upscale invariant (box averages are
    // unchanged), one perturbed corner cell flips at most one bit, and
    // sub-grid images refuse to hash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h0 = Multimodal.dHash64(18, 16, px).get
    assert(Multimodal.dHash64(18, 16, px.map(v => math.min(v + 9, 255))).exists(h =>
      ham(h0, h) <= 4), "brightness shift moved the hash") // clamp at 255 can flip near-tie cells
    assert(Multimodal.dHash64(18, 16, px.map(_ + 9)).contains(h0), "pure shift must be exact")
    val up = Array.tabulate(36 * 32)(i => px((i / 36 / 2) * 18 + (i % 36) / 2))
    assert(Multimodal.dHash64(36, 32, up).contains(h0), "2x pixel replication changed the hash")
    val corner = px.clone()
    for (y <- 0 until 2; x <- 0 until 2) corner(y * 18 + x) = math.min(corner(y * 18 + x) + 120, 255)
    assert(ham(h0, Multimodal.dHash64(18, 16, corner).get) <= 1, "corner block is one cell")
    assert(Multimodal.dHash64(8, 8, Array.fill(64)(1)).isEmpty, "sub-grid must refuse")
    // end-to-end near-dup pairs: planted near-identical images pair, the
    // distinct image doesn't, and undecodable blobs pair with NOTHING
    // (their zero hashes would otherwise all collide)
    val base = Array.tabulate(18 * 16)(i => ((i % 18) * 14 + (i / 18) * 3) % 256)
    val ds = Seq(
      Multimodal.Media(1L, Multimodal.syntheticBmpPixels(18, 16, base), "image/bmp"),
      Multimodal.Media(2L, Multimodal.syntheticBmpPixels(18, 16, corner), "x"),
      Multimodal.Media(3L, Multimodal.syntheticBmpPixels(18, 16, px), "image/bmp"),
      Multimodal.Media(4L, Multimodal.syntheticBmpPixels(18, 16, px.map(v => 255 - v)), "image/bmp"),
      Multimodal.Media(5L, "garbage not an image".getBytes, "image/bmp"),
      Multimodal.Media(6L, "more garbage also not".getBytes, "image/bmp")).toDS()
    val pairs = Multimodal.imageNearDupPairs(ds, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 3L)), s"perturbed copy must pair: $pairs") // corner ~ px
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L),
      s"undecodable blobs must pair with nothing: $pairs")
    assert(!pairs.contains((3L, 4L)), s"inverted image must NOT pair: $pairs")
  }

  test("multimodal PNG: real inflate, all five unfilter paths, corruption rejects") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(23)
    val (w, h) = (18, 16)
    val px = Array.fill(w * h)(rnd.nextInt(256))
    // every filter type round-trips losslessly, gray AND RGB
    for (ft <- 0 to 4; ct <- Seq(0, 2)) {
      val png = Multimodal.syntheticPngPixels(w, h, px, colorType = ct, rowFilters = Seq(ft))
      assert(Multimodal.decodePngGray(png).map(_._3.toSeq).contains(px.toSeq),
        s"filter $ft colorType $ct")
    }
    val png = Multimodal.syntheticPngPixels(w, h, px, colorType = 2,
      rowFilters = Seq(1, 4, 2, 3, 0))
    assert(Multimodal.decodePngGray(png).map(_._3.toSeq).contains(px.toSeq), "cycling filters")
    // the container is invisible to the perceptual hash: PNG == BMP
    assert(Multimodal.imageHashOf(png) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, px)), "PNG vs BMP hash")
    // gray+alpha (4) and RGBA (6) decode paths, hand-assembled: filter-0
    // rows, real zlib stream, real CRCs — alpha must be ignored for luma
    def chunkedPng(wd: Int, ht: Int, colorType: Int, raw: Array[Byte]): Array[Byte] = {
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val cb = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!defl.finished()) cb.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      val comp = cb.toByteArray
      val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + comp.length + 12)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      def chunk(tpe: String, data: Array[Byte]): Unit = {
        out.putInt(data.length)
        val to = out.position()
        out.put(tpe.getBytes("US-ASCII")).put(data)
        val crc = new java.util.zip.CRC32
        crc.update(out.array(), to, 4 + data.length)
        out.putInt(crc.getValue.toInt)
      }
      val ihdr = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.BIG_ENDIAN)
      ihdr.putInt(wd).putInt(ht)
      ihdr.put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      chunk("IHDR", ihdr.array()); chunk("IDAT", comp); chunk("IEND", Array.emptyByteArray)
      out.array()
    }
    val ga = (0 until h).flatMap(y =>
      0.toByte +: (0 until w).flatMap(x =>
        Seq(px(y * w + x).toByte, 0x80.toByte))).toArray // gray, alpha
    assert(Multimodal.decodePngGray(chunkedPng(w, h, 4, ga)).map(_._3.toSeq)
      .contains(px.toSeq), "gray+alpha")
    val rgba = (0 until h).flatMap(y =>
      0.toByte +: (0 until w).flatMap(x =>
        Seq(px(y * w + x).toByte, px(y * w + x).toByte, px(y * w + x).toByte, 0x33.toByte))).toArray
    assert(Multimodal.decodePngGray(chunkedPng(w, h, 6, rgba)).map(_._3.toSeq)
      .contains(px.toSeq), "RGBA")
    // corruption: a flipped IDAT byte fails the chunk CRC, truncation
    // fails the chunk walk — both None, never a crash
    val bad = png.clone()
    val idatPos = bad.indices.find(i => i + 4 <= bad.length &&
      bad(i) == 'I' && bad(i + 1) == 'D' && bad(i + 2) == 'A' && bad(i + 3) == 'T').get
    bad(idatPos + 6) = (bad(idatPos + 6) ^ 0x40).toByte
    assert(Multimodal.decodePngGray(bad).isEmpty, "corrupt IDAT must reject")
    assert(Multimodal.decodePngGray(png.dropRight(30)).isEmpty, "truncation must reject")
    assert(Multimodal.decodePngGray("not a png at all".getBytes).isEmpty)
    // unsupported-variant rejects via a patched (re-CRC'd) IHDR: palette,
    // Adam7 interlace, 16-bit depth — scoped, not silently wrong
    def patchIhdr(orig: Array[Byte])(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val c = orig.clone()
      val bb = java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.BIG_ENDIAN)
      f(bb)
      val crc = new java.util.zip.CRC32
      crc.update(c, 12, 17)
      bb.putInt(29, crc.getValue.toInt)
      c
    }
    // structurally-inconsistent variants still reject: a type-3 claim
    // with no PLTE, an Adam7/16-bit claim whose stream length no longer
    // matches the declared layout
    assert(Multimodal.decodePngGray(patchIhdr(png)(_.put(25, 3.toByte))).isEmpty,
      "palette claim without PLTE")
    assert(Multimodal.decodePngGray(patchIhdr(png)(_.put(28, 1.toByte))).isEmpty,
      "Adam7 claim over a non-interlaced stream")
    assert(Multimodal.decodePngGray(patchIhdr(png)(_.put(24, 16.toByte))).isEmpty,
      "16-bit claim over an 8-bit stream")
    // a crafted header declaring huge dims is rejected by the DEFLATE
    // expansion bound BEFORE any allocation matching the claimed size
    assert(Multimodal.decodePngGray(patchIhdr(png)(_.putInt(16, 1 << 20))).isEmpty, "huge dims")
    // round 12 — the full legal layout space round-trips: palette
    // (permuted, so a lookup shortcut fails), 16-bit gray/RGB (high-byte
    // reduction), Adam7 over every colour form, and their compositions
    for (ct <- Seq(0, 2, 3); il <- Seq(false, true)) {
      val p2 = Multimodal.syntheticPngPixels(w, h, px, colorType = ct,
        rowFilters = Seq(4, 1, 3, 0, 2), interlaced = il)
      assert(Multimodal.decodePngGray(p2).map(_._3.toSeq).contains(px.toSeq),
        s"colorType $ct interlaced $il")
    }
    for (ct <- Seq(0, 2); il <- Seq(false, true)) {
      val p16 = Multimodal.syntheticPngPixels(w, h, px, colorType = ct,
        rowFilters = Seq(2, 4), interlaced = il, bitDepth = 16)
      assert(Multimodal.decodePngGray(p16).map(_._3.toSeq).contains(px.toSeq),
        s"16-bit colorType $ct interlaced $il")
    }
    // Adam7 on tiny images: passes with zero width/height must be
    // skipped, not mis-walked (1x1 has only pass 1; 3x3 skips pass 2)
    for ((tw, th) <- Seq((1, 1), (3, 3), (5, 2), (2, 5), (8, 1))) {
      val tp = Array.tabulate(tw * th)(i => (i * 53 + 11) % 256)
      val tiny = Multimodal.syntheticPngPixels(tw, th, tp, colorType = 3,
        rowFilters = Seq(1, 0), interlaced = true)
      assert(Multimodal.decodePngGray(tiny).map(_._3.toSeq).contains(tp.toSeq),
        s"Adam7 ${tw}x$th")
    }
    // the container stays invisible to the hash across the new layouts
    assert(Multimodal.imageHashOf(Multimodal.syntheticPngPixels(w, h, px,
      colorType = 3, interlaced = true)) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, px)),
      "interlaced palette PNG vs BMP hash")
  }

  test("multimodal GIF: real LZW both directions, interlace, dictionary edge cases") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(31)
    val (w, h) = (18, 16)
    val px = Array.fill(w * h)(rnd.nextInt(256))
    // lossless roundtrip: pseudorandom pixels force heavy literal traffic
    val gif = Multimodal.syntheticGifPixels(w, h, px)
    assert(Multimodal.decodeGifGray(gif).map(_._3.toSeq).contains(px.toSeq), "roundtrip")
    // interlaced: four-pass row order on disk, decoder must restore it
    val gifI = Multimodal.syntheticGifPixels(w, h, px, interlaced = true)
    assert(Multimodal.decodeGifGray(gifI).map(_._3.toSeq).contains(px.toSeq), "interlace")
    assert(!gifI.sameElements(gif), "interlaced bytes must differ")
    // KwKwK: long runs of one value emit codes the decoder receives one
    // slot before defining them — the classic LZW first-use case
    val runs = Array.tabulate(w * h)(i => if (i < 200) 7 else i % 256)
    val gifR = Multimodal.syntheticGifPixels(w, h, runs)
    assert(Multimodal.decodeGifGray(gifR).map(_._3.toSeq).contains(runs.toSeq), "KwKwK runs")
    // a larger structured image pushes the dictionary past 512 entries so
    // the 9->10+ bit width growth is exercised on both sides
    val big = Array.tabulate(64 * 64)(i => (i * 31 + (i / 64) * 7) % 256)
    val gifB = Multimodal.syntheticGifPixels(64, 64, big)
    assert(Multimodal.decodeGifGray(gifB).map(_._3.toSeq).contains(big.toSeq), "width growth")
    // the grayscale palette makes luma == index, so the hash matches the
    // same pixels through every other real container
    assert(Multimodal.imageHashOf(gif) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, px)), "GIF vs BMP hash")
    // corruption: truncated sub-block chain, garbage codes, no trailer
    assert(Multimodal.decodeGifGray(gif.dropRight(20)).isEmpty, "truncation")
    assert(Multimodal.decodeGifGray("GIF89a then nonsense".getBytes).isEmpty)
    assert(Multimodal.decodeGifGray(Multimodal.syntheticGif(4, 4)).isEmpty,
      "header-only fixture has no image data")
    val bad = gif.clone()
    // flip a byte in the LZW stream (past the 13+768+10+1 header+table):
    // decode must fail cleanly or produce a full-length decode — never throw
    bad(800) = (bad(800) ^ 0x55).toByte
    Multimodal.decodeGifGray(bad) // no exception is the assertion
    // an extension block before the image descriptor is skipped correctly
    val withExt = {
      val comment = Array[Byte](0x21, 0xFE.toByte, 3, 'h', 'i', '!', 0)
      val core = gif
      core.take(13 + 768) ++ comment ++ core.drop(13 + 768)
    }
    assert(Multimodal.decodeGifGray(withExt).map(_._3.toSeq).contains(px.toSeq),
      "extension blocks must be skipped")
  }

  test("multimodal animated GIF compositor: sub-rect deltas, transparency, disposal 2/3, chain skips") {
    import graft.llm.Multimodal
    val sw = 10; val sh = 8
    val bgIdx = 200
    def grad(seed: Int) = Array.tabulate(sw * sh)(i => (i * 3 + seed) % 255)
    val f0 = grad(5)
    val f4 = grad(90)
    // rect pixels: frame 1 opaque-with-holes (disposal 2), frame 2 opaque
    // (disposal 3), frame 3 fully transparent (a no-op delta)
    val px1 = Array.tabulate(4 * 3)(i => if (i % 5 == 2) -1 else 50 + i)
    val px2 = Array.fill(3 * 2)(77)
    val px3 = Array.fill(2 * 2)(-1)
    val px5 = Array.tabulate(3 * 3)(i => 10 + i)
    val frames = Seq(
      (0, 0, sw, sh, f0.map(identity), 0),
      (2, 1, 4, 3, px1, 2),
      (5, 4, 3, 2, px2, 3),
      (0, 0, 2, 2, px3, 0),
      (0, 0, sw, sh, f4.map(identity), 0),
      (6, 5, 3, 3, px5, 1))
    val bytes = Multimodal.syntheticGifAnimatedDeltas(sw, sh, frames, bgIndex = bgIdx)
    // independent reference compositor (the hand computation, generalized)
    val expect = {
      var canvas = Array.fill(sw * sh)(bgIdx)
      frames.map { case (l, t, w, h, p, d) =>
        val before = canvas.clone()
        for (y <- 0 until h; x <- 0 until w; if p(y * w + x) != -1)
          canvas((t + y) * sw + (l + x)) = p(y * w + x)
        val shown = canvas.clone()
        d match {
          case 2 => for (y <- 0 until h; x <- 0 until w) canvas((t + y) * sw + (l + x)) = bgIdx
          case 3 => canvas = before
          case _ => ()
        }
        shown
      }
    }
    val Some((w6, h6, all)) = Multimodal.decodeGifFramesSampled(bytes, 6)
    assert((w6, h6) == (sw, sh) && all.map(_._1) == Seq(0, 1, 2, 3, 4, 5))
    all.foreach { case (fi, luma) =>
      assert(luma.sameElements(expect(fi)), s"frame $fi composited wrong")
    }
    // targeted semantics, independently of the reference compositor:
    // transparency keeps the underlying pixel; disposal 2 restored frame
    // 1's rect to background before frame 3's view; disposal 3 restored
    // frame 2's rect before frame 3's view; frame 3 is a pure no-op
    val v1 = all(1)._2
    assert(v1(1 * sw + 2 + 2) == f0(1 * sw + 4), "transparent hole shows frame 0")
    assert(v1(1 * sw + 2) == 50, "opaque delta pixel overwrites")
    val v3 = all(3)._2
    assert(v3(1 * sw + 2) == bgIdx, "disposal 2 restored frame 1's rect to background")
    assert(v3(4 * sw + 5) == f0(4 * sw + 5), "disposal 3 restored frame 2's rect")
    assert(v3.sameElements(all.find(_._1 == 3).get._2))
    // sparse sampling must composite through the chain: k=2 samples
    // frames 0 and 3, and frame 3's plane must equal the full-run one
    val Some((_, _, two)) = Multimodal.decodeGifFramesSampled(bytes, 2)
    assert(two.map(_._1) == Seq(0, 3))
    assert(two(1)._2.sameElements(expect(3)), "chained composite under sampling")
    // a self-contained frame starts its own chain: k=3 samples 0/2/4 and
    // frame 4 (full-screen, opaque) must come out as exactly its pixels
    // even though frame 3 was never decoded
    val Some((_, _, three)) = Multimodal.decodeGifFramesSampled(bytes, 3)
    assert(three.map(_._1) == Seq(0, 2, 4))
    assert(three(2)._2.sameElements(f4), "self-contained frame resets the chain")
    assert(three(1)._2.sameElements(expect(2)))
  }

  test("multimodal animated GIF: a disposal-3 full-screen frame must NOT anchor a chain") {
    import graft.llm.Multimodal
    // Round-13 regression (advisor finding): a full-screen OPAQUE frame
    // with disposal 3 (restore-to-previous) looks self-contained at
    // composite time, but its post-frame restore copies back the
    // PRE-frame canvas — which, when the chain skipped the prefix, is
    // the background fill rather than the true prior content. Every
    // later frame in the chain then composites over wrong pixels.
    // Construction: frame 1 (full-screen B) is skipped under k=2
    // sampling, frame 2 (full-screen C, disposal 3) was the old anchor,
    // frame 3 is a small delta — its plane must show B outside the
    // delta rect, not A or background.
    val sw = 9; val sh = 7
    def fill(seed: Int) = Array.tabulate(sw * sh)(i => (i * 97 + seed) % 251)
    val a = fill(3); val b = fill(60); val c = fill(130)
    val delta = Array.fill(2 * 2)(240)
    val frames = Seq(
      (0, 0, sw, sh, a, 0), // sampled (frame 0 always is)
      (0, 0, sw, sh, b, 0), // skipped under sparse sampling
      (0, 0, sw, sh, c, 3), // restore-to-previous: NOT a legal anchor
      (2, 3, 2, 2, delta, 0), // sampled; composites over restored B
      (0, 0, 1, 1, Array(7), 0),
      (0, 0, 1, 1, Array(8), 0))
    val bytes = Multimodal.syntheticGifAnimatedDeltas(sw, sh, frames)
    // ground truth: the all-frames decode has no skipping at all
    val Some((_, _, full)) = Multimodal.decodeGifFramesSampled(bytes, 6)
    val truth3 = full.find(_._1 == 3).get._2
    // frame 3's true view = B with the delta rect overwritten
    for (y <- 0 until sh; x <- 0 until sw) {
      val inRect = x >= 2 && x < 4 && y >= 3 && y < 5
      assert(truth3(y * sw + x) == (if (inRect) 240 else b(y * sw + x)))
    }
    val Some((_, _, sparse)) = Multimodal.decodeGifFramesSampled(bytes, 2)
    assert(sparse.map(_._1) == Seq(0, 3))
    assert(sparse(1)._2.sameElements(truth3),
      "disposal-3 anchor leaked a stale canvas into the sampled chain")
  }

  test("multimodal EXIF orientation: transform algebra, APP1/tag-274 walks, hash invariance") {
    import graft.llm.{Multimodal, Tiff}
    // hand-pinned semantics on an asymmetric 3x2 image: values
    //   0 1 2
    //   3 4 5
    val src = Array(0, 1, 2, 3, 4, 5)
    def ap(o: Int) = Multimodal.applyOrientation(3, 2, src, o)
    assert(ap(1)._3.toSeq == Seq(0, 1, 2, 3, 4, 5))
    assert(ap(2)._3.toSeq == Seq(2, 1, 0, 5, 4, 3), "mirror H")
    assert(ap(3)._3.toSeq == Seq(5, 4, 3, 2, 1, 0), "rot180")
    assert(ap(4)._3.toSeq == Seq(3, 4, 5, 0, 1, 2), "mirror V")
    assert((ap(5)._1, ap(5)._2) == (2, 3) && ap(5)._3.toSeq == Seq(0, 3, 1, 4, 2, 5), "transpose")
    assert((ap(6)._1, ap(6)._2) == (2, 3) && ap(6)._3.toSeq == Seq(3, 0, 4, 1, 5, 2), "rot90CW")
    assert(ap(7)._3.toSeq == Seq(5, 2, 4, 1, 3, 0), "transverse")
    assert(ap(8)._3.toSeq == Seq(2, 5, 1, 4, 0, 3), "rot270CW")
    // group property: f_o ∘ f_inv(o) = identity for every orientation
    val canon = Array.tabulate(24 * 16)(i => (i * 97 + 5) % 251)
    for (o <- 1 to 8) {
      val inv = o match { case 6 => 8; case 8 => 6; case x => x }
      val (sw, sh, stored) = Multimodal.applyOrientation(24, 16, canon, inv)
      val (bw, bh, back) = Multimodal.applyOrientation(sw, sh, stored, o)
      assert((bw, bh) == (24, 16) && back.sameElements(canon), s"o=$o")
    }
    // APP1 walk: both byte orders, absent -> 1, corrupt -> 1, and the
    // spliced segment must not disturb pixel decode
    val blocks = Array.tabulate(24 * 16)(i => (((i % 24) / 8) * 50 + (i / 24 / 8) * 30) % 200)
    val plain = Multimodal.syntheticJpegPixels(24, 16, blocks)
    assert(Multimodal.exifOrientationJpeg(plain) == 1, "absent APP1 -> 1")
    for (o <- 1 to 8; be <- Seq(false, true)) {
      val tagged = Multimodal.withExifOrientation(plain, o, bigEndian = be)
      assert(Multimodal.exifOrientationJpeg(tagged) == o, s"o=$o be=$be")
      assert(Multimodal.decodeJpegGray(tagged).map(_._3.toSeq) ==
        Multimodal.decodeJpegGray(plain).map(_._3.toSeq), "APP1 must not disturb decode")
    }
    val corrupt = Multimodal.withExifOrientation(plain, 6)
    corrupt(10) = 'X' // break the Exif magic
    assert(Multimodal.exifOrientationJpeg(corrupt) == 1, "corrupt APP1 -> 1 (advisory)")
    // TIFF tag 274 roundtrip
    val t = Tiff.syntheticTiffPixels(24, 16, blocks, orientation = 7, bigEndian = true)
    assert(Tiff.orientationOf(t) == 7)
    assert(Tiff.orientationOf(Tiff.syntheticTiffPixels(24, 16, blocks)) == 1)
    // hash invariance: all 8 stored orientations, both containers, land
    // on the canonical hash
    val canonHash = Multimodal.imageHashOf(plain)
    assert(canonHash.isDefined)
    for (o <- 1 to 8) {
      val inv = o match { case 6 => 8; case 8 => 6; case x => x }
      val (sw, sh, stored) = Multimodal.applyOrientation(24, 16, blocks, inv)
      val viaJpeg = Multimodal.imageHashOf(
        Multimodal.withExifOrientation(Multimodal.syntheticJpegPixels(sw, sh, stored), o))
      val viaTiff = Multimodal.imageHashOf(
        Tiff.syntheticTiffPixels(sw, sh, stored, compression = 5, orientation = o))
      assert(viaJpeg == canonHash, s"jpeg o=$o must hash as canonical")
      assert(viaTiff == canonHash, s"tiff o=$o must hash as canonical")
    }
  }

  test("multimodal JPEG: baseline decode, DC-exactness, AC path, restarts, color") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(41)
    // DC-only fixtures (constant 8x8 blocks) decode BIT-EXACTLY — the
    // property the oracle query rests on
    val (w, h) = (24, 16)
    val blocks = Array.fill(3 * 2)(rnd.nextInt(256))
    val flat = Array.tabulate(w * h)(i => blocks((i / w / 8) * 3 + (i % w) / 8))
    val jpg = Multimodal.syntheticJpegPixels(w, h, flat)
    assert(Multimodal.decodeJpegGray(jpg).map(_._3.toSeq).contains(flat.toSeq),
      "DC-only must round-trip exactly")
    // general content exercises the AC run-length/zigzag/IDCT path: with
    // all-ones quant tables the DCT round-trip is within +-2 everywhere
    val smooth = Array.tabulate(32 * 32)(i => ((i % 32) * 5 + (i / 32) * 3) % 256)
    val jpgS = Multimodal.syntheticJpegPixels(32, 32, smooth)
    val decS = Multimodal.decodeJpegGray(jpgS).get._3
    val maxErr = decS.zip(smooth).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 2, s"AC path error too large: $maxErr")
    val noisy = Array.fill(16 * 16)(rnd.nextInt(256))
    val decN = Multimodal.decodeJpegGray(Multimodal.syntheticJpegPixels(16, 16, noisy)).get._3
    assert(decN.zip(noisy).map { case (a, b) => math.abs(a - b) }.max <= 2, "noisy AC")
    // YCbCr 4:4:4 with neutral chroma: the decoder must entropy-walk the
    // interleaved chroma blocks and still return the exact luma
    val jpgC = Multimodal.syntheticJpegPixels(w, h, flat, color = true)
    assert(Multimodal.decodeJpegGray(jpgC).map(_._3.toSeq).contains(flat.toSeq), "4:4:4 luma")
    // restart markers: byte-aligned RSTn + DC-predictor reset
    val jpgR = Multimodal.syntheticJpegPixels(w, h, flat, restartInterval = 2)
    assert(Multimodal.decodeJpegGray(jpgR).map(_._3.toSeq).contains(flat.toSeq), "RSTn")
    // the hash sees pixels, not containers: JPEG(DC-only) == BMP
    assert(Multimodal.imageHashOf(jpg) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, flat)), "JPEG vs BMP hash")
    // rejects: truncation mid-entropy, a frame marked SOF2 whose scan is
    // sequential (T.81 B.2.3: Se=0 when Ss=0 in a progressive scan), the
    // header-only stub fixture (no scan), garbage
    assert(Multimodal.decodeJpegGray(jpg.dropRight(10)).isEmpty, "truncation")
    val prog = jpg.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sofAt + 1) = 0xC2.toByte
    assert(Multimodal.decodeJpegGray(prog).isEmpty, "SOF2 with an Ss=0, Se=63 scan must reject")
    assert(Multimodal.decodeJpegGray(Multimodal.syntheticJpeg(8, 8)).isEmpty, "header-only")
    assert(Multimodal.decodeJpegGray("not a jpeg".getBytes).isEmpty)
  }

  test("multimodal QOI: hand-assembled spec vectors, every op class, corrupt rejects") {
    import graft.llm.Multimodal
    // SPEC-ANCHORED vector, assembled BY HAND from qoiformat.org (not by
    // our encoder — this is the external anchor a format without a JDK
    // codec gets): 4x2 RGB image exercising literal, DIFF, LUMA, RUN,
    // and INDEX ops.
    //   px0: QOI_OP_RGB (10,20,30)
    //   px1: DIFF dr=+1 dg=0 db=-1      -> (11,20,29)
    //   px2: LUMA dg=+10, dr-dg=-3, db-dg=+2 -> (18,30,41)
    //   px3: RUN 2 (repeats px2)        -> (18,30,41) x2 ... wait RUN covers px3,px4
    //   px5: INDEX of (10,20,30): hash = (30+100+210+2805)%64 = 3145%64 = 9
    //   px6,7: RUN 2 (repeats (10,20,30))
    val hdr = Array[Byte]('q', 'o', 'i', 'f', 0, 0, 0, 4, 0, 0, 0, 2, 3, 0)
    val ops = Array[Int](
      0xFE, 10, 20, 30, // RGB literal
      0x40 | (3 << 4) | (2 << 2) | 1, // DIFF +1,0,-1
      0x80 | (10 + 32), ((-3 + 8) << 4) | (2 + 8), // LUMA
      0xC0 | (2 - 1), // RUN 2
      (3 * 10 + 5 * 20 + 7 * 30 + 11 * 255) % 64, // INDEX -> (10,20,30)
      0xC0 | (2 - 1), // RUN 2
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    val vec = hdr ++ ops
    def lum(r: Int, g: Int, b: Int) = (299 * r + 587 * g + 114 * b) / 1000
    val expect = Seq(
      lum(10, 20, 30), lum(11, 20, 29), lum(18, 30, 41), lum(18, 30, 41),
      lum(18, 30, 41), lum(10, 20, 30), lum(10, 20, 30), lum(10, 20, 30))
    assert(Multimodal.decodeQoiGray(vec).map(_._3.toSeq).contains(expect),
      "hand-assembled spec vector")
    // encoder roundtrip on content hitting all op classes
    val rnd = new scala.util.Random(47)
    val (w, h) = (18, 16)
    val structured = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (y < 4) 77 // runs
      else if (y < 8) (x * 2 + y) % 256 // small diffs
      else if (y < 12) (x * 9 + y * 5) % 256 // luma-range steps
      else rnd.nextInt(256) // literals + index hits
    }
    val qoi = Multimodal.syntheticQoi(w, h, structured)
    assert(Multimodal.decodeQoiGray(qoi).map(_._3.toSeq).contains(structured.toSeq),
      "structured roundtrip")
    val noise = Array.fill(w * h)(rnd.nextInt(256))
    assert(Multimodal.decodeQoiGray(Multimodal.syntheticQoi(w, h, noise))
      .map(_._3.toSeq).contains(noise.toSeq), "noise roundtrip")
    // container-blind hash via the dispatch
    assert(Multimodal.imageHashOf(qoi) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, structured)),
      "QOI vs BMP hash")
    // corrupt: truncation mid-stream, bad channels, over-long run
    assert(Multimodal.decodeQoiGray(qoi.dropRight(30)).isEmpty, "truncation")
    val badCh = qoi.clone(); badCh(12) = 7
    assert(Multimodal.decodeQoiGray(badCh).isEmpty, "bad channels")
    // note 0xC0|62 and 0xC0|63 ARE the literal tags 0xFE/0xFF — the spec
    // caps runs at 62 precisely for this; the longest legal run byte is
    // 0xC0|61 (a run of 62), which here overruns the 8-pixel image
    val overRun = hdr ++ Array[Int](0xFE, 1, 2, 3, 0xC0 | 61,
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(Multimodal.decodeQoiGray(overRun).isEmpty, "run past the pixel count")
    assert(Multimodal.decodeQoiGray("qoif but nonsense".getBytes).isEmpty)
    // RGBA literals (0xFF) + 4-channel header + an alpha change that
    // relocates the index slot: hash of (10,20,30) moves from 9 (a=255)
    // to (3*10+5*20+7*30+11*128)%64 = (340+1408)%64 = 1748%64 = 20 at
    // a=128 — the follow-up INDEX op must hit the NEW slot
    val hdr4 = Array[Byte]('q', 'o', 'i', 'f', 0, 0, 0, 2, 0, 0, 0, 2, 4, 0)
    val ops4 = Array[Int](
      0xFF, 10, 20, 30, 128, // RGBA literal, alpha 128
      0xFE, 50, 60, 70, // RGB literal keeps alpha 128
      (3 * 10 + 5 * 20 + 7 * 30 + 11 * 128) % 64, // INDEX -> (10,20,30,128)
      0xC0 | 0, // RUN 1
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    val got4 = Multimodal.decodeQoiGray(hdr4 ++ ops4)
    assert(got4.map(_._3.toSeq).contains(Seq(
      lum(10, 20, 30), lum(50, 60, 70), lum(10, 20, 30), lum(10, 20, 30))),
      s"RGBA + alpha-keyed index: $got4")
  }

  test("multimodal ICO: largest-entry selection, DIB and PNG payloads, corrupt rejects") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(41)
    val (w, h) = (18, 16)
    val px = Array.fill(w * h)(rnd.nextInt(256))
    // DIB payload: doubled-height header + AND mask; the 4x4 decoy entry
    // must lose the largest-entry selection
    val ico = Multimodal.syntheticIco(w, h, px)
    assert(Multimodal.decodeIcoGray(ico).map(_._3.toSeq).contains(px.toSeq), "DIB payload")
    // PNG payload (the modern favicon form) goes through the PNG decoder
    val icoPng = Multimodal.syntheticIco(w, h, px, png = true)
    assert(Multimodal.decodeIcoGray(icoPng).map(_._3.toSeq).contains(px.toSeq), "PNG payload")
    // the container is invisible to the perceptual hash, via the dispatch
    assert(Multimodal.imageHashOf(ico) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, px)), "ICO vs BMP hash")
    assert(Multimodal.imageHashOf(icoPng) == Multimodal.imageHashOf(ico))
    // header-only dims: PNG payload via IHDR, DIB via halved biHeight
    assert(Multimodal.parseIco(ico).contains((w, h)))
    assert(Multimodal.parseIco(icoPng).contains((w, h)))
    // CUR (type 2) parses identically
    val cur = ico.clone(); cur(2) = 2
    assert(Multimodal.decodeIcoGray(cur).map(_._3.toSeq).contains(px.toSeq), "CUR")
    // corrupt: bad type, zero entries, out-of-range offsets, truncation
    val badType = ico.clone(); badType(2) = 9
    assert(Multimodal.decodeIcoGray(badType).isEmpty)
    val noEntries = ico.clone(); noEntries(4) = 0; noEntries(5) = 0
    assert(Multimodal.decodeIcoGray(noEntries).isEmpty)
    assert(Multimodal.decodeIcoGray(ico.take(40)).isEmpty)
    assert(Multimodal.decodeIcoGray("not an icon".getBytes).isEmpty)
  }

  test("multimodal MP3 metadata: ID3 skip, VBR frame walk, junk resync, scoped rejections") {
    import graft.llm.Multimodal
    // MPEG-1, VBR (bitrate + padding vary per frame), ID3v2 + ID3v1
    val frames = (0 until 25).map(j => (1 + j % 14, j % 2))
    val id3 = Array.tabulate[Byte](77)(j => ((j * 31) % 256).toByte)
    val bytes = Multimodal.syntheticMp3(version1 = true, srIdx = 1, frames, id3,
      channels = 2, trailingTag = true)
    assert(Multimodal.parseMp3(bytes).contains((48000, 2, 25L * 1152)))
    // byte_len accounting: tag(10+77) + frames + TAG(128)
    val frameSum = frames.map { case (br, pad) =>
      144 * Multimodal.Mp3BitrateV1L3(br) * 1000 / 48000 + pad }.sum
    assert(bytes.length == 10 + 77 + frameSum + 128, "builder length accounting")
    // MPEG-2: 576-sample frames, the LSF bitrate column, the LSF rates
    val v2 = Multimodal.syntheticMp3(version1 = false, srIdx = 2, frames, Array.emptyByteArray)
    assert(Multimodal.parseMp3(v2).contains((16000, 1, 25L * 576)))
    // junk between the ID3 tag and the first frame: the scan resyncs
    val junked = bytes.take(10 + 77) ++ Array[Byte](0, 0x7F, -1, 0) ++ bytes.drop(10 + 77)
    assert(Multimodal.parseMp3(junked).contains((48000, 2, 25L * 1152)),
      "junk before the first frame must scan forward")
    // truncation: a frame whose HEADER survives still counts (header-only
    // metadata, the duration-estimate stance); cutting the whole last
    // frame drops exactly one from the walk
    val lastLen = 144 * Multimodal.Mp3BitrateV1L3(1 + 24 % 14) * 1000 / 48000 + (24 % 2)
    val cut = Multimodal.parseMp3(bytes.dropRight(128 + lastLen))
    assert(cut.contains((48000, 2, 24L * 1152)), s"prefix: $cut")
    // a corrupted FIRST frame header (layer bits flipped to Layer II) is
    // scanned past — the walk resyncs at frame 2 and counts 24 frames
    val l2 = bytes.clone()
    l2(10 + 77 + 1) = (l2(10 + 77 + 1) ^ 0x06).toByte // layer 01 -> 10
    assert(Multimodal.parseMp3(l2).contains((48000, 2, 24L * 1152)),
      "scan must resync past a corrupt first header")
    // a stream that is ONLY Layer II rejects (scoped, not silently wrong)
    val pureL2 = Array[Byte](0xFF.toByte, 0xFD.toByte, 0x92.toByte, 0xC0.toByte) ++
      Array.fill[Byte](400)(0)
    assert(Multimodal.parseMp3(pureL2).isEmpty, "Layer II is out of scope")
    // free-format first frame rejects (length not derivable)
    val free = bytes.clone()
    free(10 + 77 + 2) = (free(10 + 77 + 2) & 0x0F).toByte // bitrate idx 0
    val f = Multimodal.parseMp3(free)
    assert(f.isEmpty || f.exists(_._3 < 25L * 1152), "free format cannot be walked")
    assert(Multimodal.parseMp3("garbage, not audio".getBytes).isEmpty)
    assert(Multimodal.parseMp3(Array[Byte]('I', 'D', '3')).isEmpty)
  }

  test("multimodal WAV encodings: 8/24/32-bit PCM, float32, extensible — normalized decode") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(47)
    val samples = Array.fill(1950)(rnd.nextInt(4001) - 2000)
    val ref = Multimodal.decodeWavPcm(Multimodal.syntheticWavPcm(8000, samples)).get._3
    assert(ref.toSeq == samples.toSeq, "int16 baseline")
    // exact re-encodings: 24-bit, 32-bit, float32, extensible-wrapped 16
    for (enc <- Seq("pcm24", "pcm32", "float32", "ext16")) {
      val dec = Multimodal.decodeWavPcm(Multimodal.syntheticWav(8000, samples, enc))
      assert(dec.map(_._3.toSeq).contains(samples.toSeq), s"$enc must decode exactly")
    }
    // 8-bit is lossy (top byte survives): samples round to their 256-wide
    // bucket, and on audio with REAL envelope structure (adjacent frame
    // energies well separated — here by ≥ 480, far above the ±128
    // quantization noise) the gradient-sign hash is UNCHANGED. iid noise
    // with near-tie frames can flip ties — that is envelope semantics,
    // not a decode defect, and the near-dup operators budget for it via
    // maxHamming.
    val dec8n = Multimodal.decodeWavPcm(Multimodal.syntheticWav(8000, samples, "pcm8")).get._3
    assert(dec8n.zip(samples).forall { case (a, b) => math.abs(a - b) < 256 }, "8-bit rounding")
    val shaped = Array.tabulate(1950) { j =>
      val amp = 200 + ((j / 30) * 37 % 29) * 60
      if (j % 2 == 0) amp else -amp
    }
    val hS = Multimodal.audioHash64(
      Multimodal.decodeWavPcm(Multimodal.syntheticWavPcm(8000, shaped)).get._3).get
    val hS8 = Multimodal.audioHash64(
      Multimodal.decodeWavPcm(Multimodal.syntheticWav(8000, shaped, "pcm8")).get._3).get
    assert(hS == hS8, "8-bit must preserve a structured envelope's hash exactly")
    // ADPCM (format 2) still rejects; float NaN samples clamp to 0 not crash
    val adpcm = Multimodal.syntheticWavPcm(8000, samples)
    val ab = java.nio.ByteBuffer.wrap(adpcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ab.putShort(20, 2)
    assert(Multimodal.decodeWavPcm(adpcm).isEmpty, "ADPCM must reject")
    val nanWav = Multimodal.syntheticWav(8000, samples.take(100), "float32")
    val nb = java.nio.ByteBuffer.wrap(nanWav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    nb.putFloat(44, Float.NaN)
    assert(Multimodal.decodeWavPcm(nanWav).get._3.head == 0, "NaN clamps to 0")
  }

  test("multimodal IMA ADPCM: stateful block decode, encoder tracks, truncation-safe") {
    import graft.llm.Multimodal
    // hand-walked vector straight from the IMA tables, seed pred 0 / idx 0
    // (step 7): nibble 5 -> diff 7+1=8, idx->4 (step 11); nibble 0 ->
    // diff 1, idx->3 (step 10); nibble 15 -> diff 1+10+5+2=18 SIGNED,
    // idx->11 (step 21); nibble 2 -> diff 2+10=12, idx->10.
    // Low nibble first: bytes = [0x05, 0x2F].
    val vec = Multimodal.syntheticWavAdpcmCoded(8000, 0, 0, Array[Byte](0x05, 0x2F))
    val (rate, ch, got) = Multimodal.decodeWavPcm(vec).get
    assert((rate, ch) == (8000, 1))
    assert(got.toSeq == Seq(0, 8, 9, -9, 3), s"hand vector: ${got.toSeq}")
    // seed clamping: a header index byte past 88 clamps, not crashes
    val wild = Multimodal.syntheticWavAdpcmCoded(8000, -30000, 200, Array[Byte](0x77, 0x11))
    assert(Multimodal.decodeWavPcm(wild).get._3.head == -30000)
    // encoder->decoder tracking on a smooth waveform across MULTIPLE
    // blocks: after the per-block seed resync the quantization error is
    // bounded by the local step size, far under the signal swing
    val smooth = Array.tabulate(1950) { j =>
      val period = j % 400
      val tri = if (period < 200) period * 16 - 1600 else (400 - period) * 16 - 1600
      tri
    }
    val enc = Multimodal.syntheticWavAdpcm(8000, 1, smooth, blockAlign = 256)
    val dec = Multimodal.decodeWavPcm(enc).get._3
    assert(dec.length >= 1950, s"padded blocks: ${dec.length}")
    val err = smooth.indices.map(j => math.abs(dec(j) - smooth(j)))
    assert(err.max <= 512, s"tracking error ${err.max}")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hOrig = Multimodal.audioHash64(smooth).get
    val hDec = Multimodal.audioHash64(dec.take(1950)).get
    assert(ham(hOrig, hDec) <= 2, "lossy but envelope-preserving")
    // stereo: L = R = x decodes (via the interleaved 4-byte lanes) to a
    // downmix that tracks x the same way
    val stereoIn = Array.tabulate(3900)(j => smooth(j / 2))
    val encS = Multimodal.syntheticWavAdpcm(8000, 2, stereoIn, blockAlign = 256)
    val decS = Multimodal.decodeWavPcm(encS).get
    assert(decS._2 == 2)
    val errS = smooth.indices.map(j => math.abs(decS._3(j) - smooth(j)))
    assert(errS.max <= 512, s"stereo tracking error ${errS.max}")
    // truncation mid-block: decodes the nibbles actually present, and the
    // decoded prefix is IDENTICAL to the full stream's prefix
    val cut = Multimodal.decodeWavPcm(enc.take(60 + 150)).get._3
    assert(cut.nonEmpty && cut.length < dec.length)
    assert(cut.toSeq == dec.take(cut.length).toSeq, "prefix-stable truncation")
  }

  test("multimodal MS-ADPCM: tracking encoder bounds delta, decode never drifts, hostile bytes clamp") {
    import graft.llm.Multimodal
    // the q_multimodal_msadpcm_audiohash fixture space, every predictor
    // pair: the tracking encoder's delta must stay bounded (raw formula
    // nibbles provably overflow Int here — delta grows ~1.35x/step under
    // uniform codes), and the DECODER's chain must equal the encoder's
    // own predicted chain bit for bit (state never drifts)
    for (id <- 0L until 500L by 7L) {
      val bPred = (id % 7).toInt
      val seedDelta = (16 + (id % 50) * 7).toInt
      val samp1 = ((id % 89) * 73 - 3200).toInt
      val samp2 = ((id % 97) * 61 - 2900).toInt
      val targets = Array.tabulate(1950)(k =>
        (((id % 71) * 43 + k * 37) % 24001 - 12000).toInt)
      val (data, chain, deltas) =
        Multimodal.msAdpcmTrackingNibbles(bPred, seedDelta, samp1, samp2, targets)
      assert(deltas.max <= Multimodal.MsDeltaMax, s"id=$id delta ${deltas.max}")
      assert(deltas.max < 65536, s"id=$id delta tracks the ~12k signal: ${deltas.max}")
      val wav = Multimodal.syntheticWavAdpcmMsCoded(8000, bPred, seedDelta, samp1, samp2, data)
      val (rate, ch, got) = Multimodal.decodeWavPcm(wav).get
      assert((rate, ch) == (8000, 1))
      assert(got.length == 1952, s"2 priming + 1950 chain: ${got.length}")
      assert(got(0) == samp2 && got(1) == samp1, "priming samples oldest first")
      assert(got.drop(2).toSeq == chain.toSeq, s"id=$id decoder drifted from encoder")
    }
    // the real multi-block encoder tracks a smooth waveform within the
    // local quantizer step, like the IMA twin above
    val smooth = Array.tabulate(1950) { j =>
      val period = j % 400
      if (period < 200) period * 16 - 1600 else (400 - period) * 16 - 1600
    }
    val enc = Multimodal.syntheticWavAdpcmMs(8000, 1, smooth)
    val dec = Multimodal.decodeWavPcm(enc).get._3
    assert(dec.length >= 1950, s"padded blocks: ${dec.length}")
    val err = smooth.indices.map(j => math.abs(dec(j) - smooth(j)))
    assert(err.max <= 512, s"tracking error ${err.max}")
    // HOSTILE uniform nibbles — the stream no real encoder emits — must
    // now clamp at MsDeltaMax instead of wrapping Int: every decoded
    // sample stays int16 and the decode does not throw
    val raw = Array.tabulate[Byte](975)(j => ((j * 111) % 256).toByte)
    val hostile = Multimodal.syntheticWavAdpcmMsCoded(8000, 0, 16, 0, 0, raw)
    val hdec = Multimodal.decodeWavPcm(hostile).get._3
    assert(hdec.length == 1952)
    assert(hdec.forall(s => s >= -32768 && s <= 32767), "clamped, no silent wrap")
  }

  test("multimodal progressive JPEG: multi-scan refinement decodes, DC-exact") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(53)
    // DC-only blocks decode BIT-EXACTLY through the full five-scan script
    // (DC first/refine carry everything; AC scans are pure EOBRUN)
    val (w, h) = (24, 16)
    val blocks = Array.fill(3 * 2)(rnd.nextInt(256))
    val flat = Array.tabulate(w * h)(i => blocks((i / w / 8) * 3 + (i % w) / 8))
    val prog = Multimodal.syntheticJpegProgressive(w, h, flat)
    assert(Multimodal.decodeJpegGray(prog).map(_._3.toSeq).contains(flat.toSeq),
      "progressive DC-only must round-trip exactly")
    // the one decoder takes SOF2 as it takes SOF0, and so does the shared
    // dispatch — same hash as the BMP render
    assert(Multimodal.imageGrayOf(prog).map(_._3.toSeq).contains(flat.toSeq),
      "the one decoder must decode SOF2")
    assert(Multimodal.imageHashOf(prog) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w, h, flat)),
      "dispatch must reach the progressive decoder")
    // general content drives the AC first passes, EOBRUN batching across
    // blank blocks, ZRL gaps, and the refinement correction walk; with
    // all-ones quant the reconstruction stays within the IDCT rounding
    val smooth = Array.tabulate(32 * 32)(i => ((i % 32) * 5 + (i / 32) * 3) % 256)
    val decS = Multimodal.decodeJpegGray(
      Multimodal.syntheticJpegProgressive(32, 32, smooth)).get._3
    assert(decS.zip(smooth).map { case (a, b) => math.abs(a - b) }.max <= 2,
      "smooth progressive error")
    val noisy = Array.fill(16 * 16)(rnd.nextInt(256))
    val decN = Multimodal.decodeJpegGray(
      Multimodal.syntheticJpegProgressive(16, 16, noisy)).get._3
    assert(decN.zip(noisy).map { case (a, b) => math.abs(a - b) }.max <= 2,
      "noisy progressive error")
    // a mostly-flat image with sparse spikes forces long zero runs (ZRL)
    // and blank-band blocks (EOBRUN > 1) in the AC scans
    val sparse = Array.tabulate(32 * 32) { i =>
      if (i % 97 == 0) 255 else 128
    }
    val decSp = Multimodal.decodeJpegGray(
      Multimodal.syntheticJpegProgressive(32, 32, sparse)).get._3
    assert(decSp.zip(sparse).map { case (a, b) => math.abs(a - b) }.max <= 2,
      "sparse progressive error")
    // equality with the baseline render of the SAME pixels (both are
    // lossless-modulo-IDCT at quant 1, and the rounding chain matches)
    val base = Multimodal.decodeJpegGray(Multimodal.syntheticJpegPixels(32, 32, smooth)).get._3
    assert(base.toSeq == decS.toSeq, "progressive must equal baseline reconstruction")
    // corruption: truncation mid-scan rejects
    assert(Multimodal.decodeJpegGray(prog.dropRight(8)).isEmpty, "truncation")
    assert(Multimodal.decodeJpegGray("garbage".getBytes).isEmpty)
    // 4:2:0 (round 12): interleaved DC MCUs (4 luma + Cb + Cr, luma
    // blocks MCU-major), chroma AC scans walking the QUARTER-size chroma
    // raster — the luma plane must be identical to the grayscale form.
    // DC-only blocks stay bit-exact through the subsampled layout
    val (w4, h4) = (32, 16)
    val blocks4 = Array.fill((w4 / 8) * (h4 / 8))(rnd.nextInt(256))
    val flat4 = Array.tabulate(w4 * h4)(i =>
      blocks4((i / w4 / 8) * (w4 / 8) + (i % w4) / 8))
    val prog4 = Multimodal.syntheticJpegProgressive(w4, h4, flat4, color420 = true)
    assert(Multimodal.decodeJpegGray(prog4).map(_._3.toSeq).contains(flat4.toSeq),
      "progressive 4:2:0 DC-only must round-trip exactly")
    assert(Multimodal.imageHashOf(prog4) ==
      Multimodal.imageHashOf(Multimodal.syntheticBmpPixels(w4, h4, flat4)),
      "dispatch must reach the 4:2:0 progressive path")
    // general content through 4:2:0: luma AC scans + MCU DC order
    val smooth4 = Array.tabulate(32 * 32)(i => ((i % 32) * 5 + (i / 32) * 3) % 256)
    val decS4 = Multimodal.decodeJpegGray(
      Multimodal.syntheticJpegProgressive(32, 32, smooth4, color420 = true)).get._3
    assert(decS4.zip(smooth4).map { case (a, b) => math.abs(a - b) }.max <= 2,
      "smooth 4:2:0 progressive error")
    assert(decS4.toSeq == Multimodal.decodeJpegGray(
      Multimodal.syntheticJpegProgressive(32, 32, smooth4)).get._3.toSeq,
      "4:2:0 luma must equal the grayscale progressive render")
  }

  test("HLL registers obey the merge law and match a local recompute") {
    import graft.llm.{Hashing, Sketches}
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    def regMap(df: org.apache.spark.sql.DataFrame): Map[Int, Int] = {
      import spark.implicits._
      Sketches.hllRegisters(df, "text", p = 8).as[(Int, Int)].collect().toMap
    }
    val (rAll, r1, r2) = (regMap(docs), regMap(half1), regMap(half2))
    // merge = element-wise max: the sketch of a union is computable from
    // the parts without re-reading the data
    val merged = (r1.keySet ++ r2.keySet).map(k =>
      k -> math.max(r1.getOrElse(k, 0), r2.getOrElse(k, 0))).toMap
    assert(merged == rAll)
    // registers match a driver-side recompute of the same hash stream
    val local = scala.collection.mutable.Map.empty[Int, Int]
    docs.select("text").collect().foreach { row =>
      val h = Hashing.hashString(row.getString(0))
      val b = (h >>> 56).toInt
      val w = h << 8
      val rho = if (w == 0L) 57 else java.lang.Long.numberOfLeadingZeros(w) + 1
      local(b) = math.max(local.getOrElse(b, 0), rho)
    }
    assert(local.toMap == rAll)
    // estimate lands within the standard ~1.04/sqrt(m) error band (3 sigma)
    val est = Sketches.hllDistinct(docs, "text", p = 8).head()
    val (nExact, e) = (est.getLong(0), est.getLong(3))
    assert(math.abs(e - nExact).toDouble / nExact < 3 * 1.04 / math.sqrt(256.0))
  }

  test("nearDupAgainst matches the in-corpus pair set restricted across the split") {
    import spark.implicits._
    import graft.llm.Dedup
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val ref = docs.filter(col("doc_id") % 4 === 0)
    val got = Dedup.nearDupAgainst(train, "doc_id", "text", ref, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    // the un-split pair set (id_a < id_b), restricted to cross-split pairs
    // in either orientation, must coincide (caps don't bind at this size)
    val all = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        cacheSignatures = false)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val want = all.flatMap { case (a, b) =>
      val (aRef, bRef) = (a % 4 == 0, b % 4 == 0)
      if (!aRef && bRef) Some((a, b))
      else if (aRef && !bRef) Some((b, a))
      else None
    }.toSet
    assert(got == want)
    // never a train×train or ref×ref pair
    assert(got.forall { case (id, refId) => id % 4 != 0 && refId % 4 == 0 })
  }

  test("scrubSpans cuts covered islands, keeps the rest, counts exactly") {
    import spark.implicits._
    import graft.llm.Dedup
    val bench = Seq("a b c", "q r s").toDF("text")
    val train = Seq(
      (1L, "x a b c y"),            // one interior match: covers [1,4)
      (2L, "a b c d a b c"),        // matches at 0 and 4: two islands
      (3L, "clean doc stays put"),  // no match: identity
      (4L, "A B C tail here"),      // case-insensitive match at 0
      (5L, "q r"),                  // shorter than k, no whole-text match
      (6L, "a b c")                 // shorter-than-k... exactly k: full cover
    ).toDF("doc_id", "text")
    val got = Dedup.scrubSpans(train, "doc_id", "text", bench, "text", k = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "x y", 3L, 1L)))
    assert(got(1) == ((2L, "d", 6L, 2L)))
    assert(got(2) == ((3L, "clean doc stays put", 0L, 0L)))
    assert(got(3) == ((4L, "tail here", 3L, 1L)))
    assert(got(4) == ((5L, "q r", 0L, 0L))) // "q r" != "q r s": no match
    assert(got(5) == ((6L, "", 3L, 1L)))
    // whole-doc cover for sub-k docs that ARE a bench shingle
    val short = Seq((7L, "q r s")).toDF("doc_id", "text")
    val s7 = Dedup.scrubSpans(short, "doc_id", "text", bench, "text", k = 13)
      .as[(Long, String, Long, Long)].head()
    assert(s7 == ((7L, "", 3L, 1L)))
    // pure map stage: no exchange
    val plan = Dedup.scrubSpans(train, "doc_id", "text", bench, "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scrubSpans is not a map stage:\n$plan")
  }

  test("CMS counters: merge law, one-sided estimates, exact heavy hitters") {
    import spark.implicits._
    import graft.llm.{Hashing, Sketches}
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    def regMap(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Long] =
      Sketches.cmsRegisters(df, "text", depth = 4, width = 64)
        .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val (rAll, r1, r2) = (regMap(docs), regMap(half1), regMap(half2))
    // merge = element-wise SUM: the sketch of a union is the sum of parts
    val merged = (r1.keySet ++ r2.keySet).map(k =>
      k -> (r1.getOrElse(k, 0L) + r2.getOrElse(k, 0L))).toMap
    assert(merged == rAll)
    // one-sidedness: estimate >= exact count for EVERY value, == with a
    // comfortably wide table (no collisions at 500 distinct texts)
    val exact = docs.select("text").as[String].collect()
      .groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val narrow = Sketches.collectCms(
      Sketches.cmsRegisters(docs, "text", depth = 4, width = 64), 4, 64)
    val wide = Sketches.collectCms(
      Sketches.cmsRegisters(docs, "text", depth = 6, width = 1 << 16), 6, 1 << 16)
    exact.foreach { case (t, c) =>
      val h = Hashing.hashString(t)
      assert(Sketches.cmsEstimate(narrow, h) >= c)
      assert(Sketches.cmsEstimate(wide, h) == c)
    }
    // heavy hitters: identical rows to the exact group-count under a
    // collision-saturated width (the verify stage kills CMS overestimates)
    val terms = docs.select(explode(split(lower(col("text")), " ")).as("term"))
    val got = Sketches.heavyHitters(terms, "term", threshold = 50L,
        depth = 4, width = 16)
      .as[(String, Long)].collect().toMap
    val want = terms.groupBy("term").count().filter(col("count") >= 50)
      .as[(String, Long)].collect().toMap
    assert(got == want)
    assert(want.nonEmpty, "fixture should have heavy hitters at threshold 50")
  }

  test("Bloom filter: no false negatives, deterministic, FP rate bounded") {
    import graft.llm.Bloom
    val en = docs.filter(col("lang") === "en")
    val filter = Bloom.build(en, "text", bits = 1 << 12, k = 3)
    val filter2 = Bloom.build(en.repartition(7), "text", bits = 1 << 12, k = 3)
    assert(filter.sameElements(filter2)) // partitioning-invariant build
    val probed = Bloom.probe(docs, "doc_id", "text", filter, k = 3)
      .join(docs.select("doc_id", "lang"), "doc_id")
    // every inserted value must probe true
    assert(probed.filter(col("lang") === "en" && !col("maybe_member")).count() == 0)
    // non-inserted probes: false positives allowed but bounded well below
    // certainty (4096 bits for ~250 inserts keeps the rate tiny)
    val nonEn = probed.filter(col("lang") =!= "en")
    val fpRate = nonEn.filter(col("maybe_member")).count().toDouble /
      math.max(nonEn.count(), 1L)
    assert(fpRate < 0.2, s"fp rate $fpRate")
    // a probe with no inserted values at all: definite miss on empty filter
    val empty = Bloom.build(en.limit(0), "text", bits = 1 << 12, k = 3)
    assert(Bloom.probe(docs, "doc_id", "text", empty, k = 3)
      .filter(col("maybe_member")).count() == 0)
  }

  test("shuffleShards is a permutation, balanced, and partition-invariant") {
    import graft.llm.Sampling
    val n = docs.count()
    val out = Sampling.shuffleShards(docs, "doc_id", nShards = 8).cache()
    try {
      assert(out.count() == n) // nothing dropped (ids are all long here)
      // positions within each shard are exactly 1..count(shard)
      val bad = out.groupBy("shard")
        .agg(count(lit(1)).as("c"), max("pos").as("mx"), min("pos").as("mn"),
          countDistinct("pos").as("d"))
        .filter(col("mx") =!= col("c") || col("mn") =!= 1 || col("d") =!= col("c"))
      assert(bad.count() == 0)
      // hash sharding is roughly balanced (no shard 3x the mean)
      val counts = out.groupBy("shard").count().collect().map(_.getLong(1))
      assert(counts.length == 8 && counts.max < 3 * n / 8)
      // same assignment regardless of input partitioning
      val again = Sampling.shuffleShards(docs.repartition(13), "doc_id", nShards = 8)
      assert(out.select("doc_id", "shard", "pos")
        .except(again.select("doc_id", "shard", "pos")).count() == 0)
    } finally out.unpersist()
  }

  test("dedupParagraphs keeps first occurrence and reassembles in order") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "aa\n\nbb\n\ncc"), // all first occurrences
      (2L, "bb\n\ndd"), // bb seen in doc 1 -> only dd survives
      (3L, "aa\n\nbb"), // nothing new -> empty doc
      (4L, "dd\n\naa\n\nee") // dd,aa seen -> ee survives alone
    ).toDF("doc_id", "text")
    val got = graft.llm.Dedup.dedupParagraphs(fixture, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, "aa\n\nbb\n\ncc", 3L, 3L)))
    assert(got(1) == ((2L, "dd", 2L, 1L)))
    assert(got(2) == ((3L, "", 2L, 0L)))
    assert(got(3) == ((4L, "ee", 3L, 1L)))
    // duplicate paragraph WITHIN one doc: second copy is cut too
    val within = Seq((7L, "xx\n\nxx\n\nyy")).toDF("doc_id", "text")
    val w = graft.llm.Dedup.dedupParagraphs(within, "doc_id", "text").head()
    assert(w.getString(1) == "xx\n\nyy" && w.getLong(2) == 3L && w.getLong(3) == 2L)
  }

  test("upsampleEpochs replicates floor+coin deterministically, pure map") {
    import spark.implicits._
    import graft.llm.{Hashing, Sampling}
    val fixture = (1L to 400L).map(id => (id, s"d${id % 4}")).toDF("id", "dom")
    val weights = Map("d0" -> 2.5, "d1" -> 0.25, "d2" -> 0.0)
    val got = Sampling.upsampleEpochs(fixture, "id", "dom", weights, defaultEpochs = 1.0)
      .select("id", "dom", "epoch").as[(Long, String, Long)].collect()
    // driver recompute of every copy decision
    val want = (1L to 400L).flatMap { id =>
      val e = weights.getOrElse(s"d${id % 4}", 1.0)
      val frac32 = math.floor((e - math.floor(e)) * 4294967296.0).toLong
      val copies = math.floor(e).toLong +
        (if ((Hashing.splitmix64(id) >>> 32) < frac32 ) 1L else 0L)
      (0L until copies).map(ep => (id, s"d${id % 4}", ep))
    }
    assert(got.sortBy(r => (r._1, r._3)).toSeq == want.sortBy(r => (r._1, r._3)))
    // e=0 drops the domain entirely; e=1 keeps exactly one copy of each
    assert(!got.exists(_._2 == "d2"))
    assert(got.count(_._2 == "d3") == 100)
    // d0 at 2.5 epochs: every doc 2 or 3 copies; d1 at 0.25: 0 or 1
    val perDoc = got.filter(_._2 == "d0").groupBy(_._1).view.mapValues(_.length)
    assert(perDoc.values.forall(c => c == 2 || c == 3))
    // partition-invariance: the decision is a function of the id only
    val re = Sampling.upsampleEpochs(fixture.repartition(13), "id", "dom",
        weights, defaultEpochs = 1.0)
      .select("id", "dom", "epoch").as[(Long, String, Long)].collect()
    assert(re.sortBy(r => (r._1, r._3)).toSeq == want.sortBy(r => (r._1, r._3)))
    // scale shape: a pure flatMap — no exchange in the plan
    val plan = Sampling.upsampleEpochs(fixture, "id", "dom", weights, 1.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"upsampleEpochs is not a map stage:\n$plan")
  }

  test("capPerDomainTokens admits the budget prefix in deterministic order") {
    import spark.implicits._
    import graft.llm.{Hashing, Sampling}
    // one domain, uniform 10-token docs, budget 25: exactly the first 3 in
    // (splitmix64(id), id) order are admitted (pre-sums 0, 10, 20 < 25)
    val ids = (1L to 5L)
    val fixture = ids.map(id => (id, "d", 10L)).toDF("id", "dom", "tok")
    val got = Sampling.capPerDomainTokens(fixture, "id", "dom", "tok", budget = 25)
      .select("id", "tokens_before").as[(Long, Long)].collect().toMap
    val order = ids.sortBy(id => (Hashing.splitmix64(id), id))
    assert(got.keySet == order.take(3).toSet)
    assert(order.take(3).zipWithIndex.forall { case (id, i) => got(id) == 10L * i })
    // crossing doc admitted: budget 15 -> pre-sums 0 and 10 admitted, 10 < 15
    val cross = Sampling.capPerDomainTokens(fixture, "id", "dom", "tok", budget = 15)
      .select("id").as[Long].collect().toSet
    assert(cross == order.take(2).toSet)
    // zero/null token docs cost 1, not 0 (state boundedness guard)
    val zeros = ids.map(id => (id, "d", 0L)).toDF("id", "dom", "tok")
    val z = Sampling.capPerDomainTokens(zeros, "id", "dom", "tok", budget = 3)
      .select("id").as[Long].collect().toSet
    assert(z == order.take(3).toSet)
    // partitioning invariance
    val big = docs.withColumn("tok", size(split(col("text"), " ")).cast("long"))
    val a = Sampling.capPerDomainTokens(big, "doc_id", "source", "tok", 300)
      .select("doc_id", "tokens_before")
    val b = Sampling.capPerDomainTokens(big.repartition(11), "doc_id", "source", "tok", 300)
      .select("doc_id", "tokens_before")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("decontaminateBloom row-identical to the exact form, even FP-saturated") {
    val bench = docs.filter(col("doc_id") % 37 === 0)
      .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
    val exact = Dedup.decontaminate(docs, "doc_id", "text", bench, "text", k = 13)
      .select("doc_id", "contaminated")
    // a deliberately tiny 256-bit filter: almost every shingle probes
    // maybe — the exact verify stage must kill every false positive
    val bloom = Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text",
        k = 13, bloomBits = 256, bloomK = 2)
      .select("doc_id", "contaminated")
    assert(bloom.count() == docs.count())
    assert(exact.except(bloom).count() == 0 && bloom.except(exact).count() == 0)
  }

  test("corpusDiff classifies all four statuses; null content compares null-safe") {
    import spark.implicits._
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("id", "text")
    val neu = Seq((1L, Some("a")), (3L, None), (4L, Some("D")), (5L, Some("e")))
      .toDF("id", "text")
    val got = graft.llm.Snapshot.corpusDiff(old, neu, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "removed"), (3L, "unchanged"),
      (4L, "changed"), (5L, "added")))
    // refresh set = the full NEW rows for added|changed only
    val rs = graft.llm.Snapshot.refreshSet(old, neu, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rs == Seq((4L, "D"), (5L, "e")))
  }

  test("BPE: minCount/maxVocab truncate the driver dict, not any word's repr") {
    import graft.llm.Bpe
    import spark.implicits._
    // 'ab' ×4, 'abc' ×2, 'zq' ×1 — floor 2 drops zq from the dict and its
    // vote from the pair statistics, but encode must still tokenize it
    val corpus = Seq((1L, "ab ab ab ab abc abc zq")).toDF("doc_id", "text")
    val (m, dict) = Bpe.train(corpus, "text", numMerges = 4, minCount = 2)
    assert(!dict.contains("zq") && dict.contains("ab") && dict.contains("abc"))
    assert(m.map(x => (x.lhs, x.rhs)) == Seq(("a", "b"), ("ab", "c")))
    val enc = Bpe.encode(corpus, "doc_id", "text", m, dict)
      .as[(Long, Long, String)].collect().head
    // zq is unseen: merges replay, none hit → z␟q stays split
    assert(enc._3.endsWith("z" + Bpe.Sep + "q"), enc)
    // maxVocab=1 keeps only the top word; pair stats see just 'ab'
    val (m2, d2) = Bpe.train(corpus, "text", numMerges = 4, maxVocab = 1)
    assert(d2.keySet == Set("ab"))
    assert(m2.map(x => (x.lhs, x.rhs)) == Seq(("a", "b")))
    // the dict is purely a cache: encode with NO dict (every word through
    // the MergeApplier) must equal encode with the trained dict
    val full = Bpe.encode(corpus, "doc_id", "text", m, dict)
      .as[(Long, Long, String)].collect().toSeq
    val noDict = Bpe.encode(corpus, "doc_id", "text", m, Map.empty)
      .as[(Long, Long, String)].collect().toSeq
    assert(full == noDict)
  }

  test("null text: text/dedup/tokenizer ops zero-score it, never NPE") {
    import graft.llm.Bpe
    import spark.implicits._
    val withNull = Seq((1L, "a b c d e f g h"), (2L, null: String))
      .toDF("doc_id", "text")
    val refNull = Seq((9L, "a b c"), (10L, null: String)).toDF("doc_id", "text")
    // novelty: null doc scores (0, 0, 0.0); null in the REFERENCE is skipped
    val nov = Dedup.novelty(withNull, "doc_id", "text", refNull, "text", k = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(nov(1) == ((2L, 0L, 0L, 0.0)))
    // repeated spans/fraction: null doc contributes no spans, 0 tokens
    assert(Dedup.repeatedSpans(withNull, "doc_id", "text", k = 3)
      .filter(col("doc_id") === 2L).count() == 0)
    val rf = Dedup.repeatedFraction(withNull, "doc_id", "text", k = 3)
      .filter(col("doc_id") === 2L)
      .select("n_tokens", "repeated_tokens").as[(Long, Long)].collect()
    assert(rf.toSeq == Seq((0L, 0L)))
    // tf-idf: null doc emits no terms
    assert(TextAnalysis.tfidfTopTerms(withNull, "doc_id", "text", k = 3)
      .filter(col("doc_id") === 2L).count() == 0)
    // BPE: null doc trains on nothing and encodes to the empty row
    val (m, dict) = Bpe.train(withNull, "text", numMerges = 2)
    val enc = Bpe.encode(withNull, "doc_id", "text", m, dict)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(enc(1) == ((2L, 0L, "")))
    // temperature sampling: a null stratum is counted and matched null-safe
    val strat = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, null: String))
      .toDF("doc_id", "lang")
    val kept = graft.llm.Sampling.temperatureSample(strat, "doc_id", "lang", alpha = 1.0)
    assert(kept.count() == 4) // alpha=1 keeps everything, null stratum included
  }

  test("priority sample: PPS selection rate follows weight, deterministic, TakeOrdered plan") {
    import spark.implicits._
    // 10k rows, odd ids weigh 100x even ids: a PPS draw of 1000 must be
    // dominated by odd ids (inclusion ~ proportional to weight) without
    // being ONLY odd ids — both extremes (uniform, strict top-by-weight)
    // fail one of the two assertions
    val rows = spark.range(10000).select(col("id"),
      when(col("id") % 2 === 1, 100L).otherwise(1L).as("w"))
    val picked = graft.llm.Sampling.prioritySample(rows, "id", "w", k = 1000)
    val sel = picked.select("id").as[Long].collect().toSet
    assert(sel.size == 1000)
    val odd = sel.count(_ % 2 == 1)
    assert(odd > 930 && odd < 1000, s"odd share $odd not PPS-shaped")
    // determinism: an independent run over a different partitioning picks
    // the identical set (the rank key is a pure function of the row)
    val sel2 = graft.llm.Sampling.prioritySample(rows.repartition(7), "id", "w", k = 1000)
      .select("id").as[Long].collect().toSet
    assert(sel2 == sel)
    // null/non-castable ids drop rather than sample nondeterministically
    val withNull = Seq((java.lang.Long.valueOf(1L), 5L),
      (null.asInstanceOf[java.lang.Long], 5L)).toDF("id", "w")
    assert(graft.llm.Sampling.prioritySample(withNull, "id", "w", k = 10).count() == 1)
    // scale shape: bounded top-k, never a global sort
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("semantic decontamination: planted eval clone flagged at 1.0, orthogonal vector clean") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),  // exact clone of eval 100
      (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to every eval vector
      (3L, Array(0.9f, 0.0f, 0.1f))   // near eval 100, below 0.999
    ).toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        eval, "vec_id", "embedding", threshold = 0.999)
      .orderBy("vec_id")
      .select("vec_id", "near_eval_id", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 100L, true), (2L, 100L, false), (3L, 100L, false)))
    // corpus id 2 ties at cos 0.0 across both eval vectors -> lowest id wins
  }

  test("stratified priority sample: per-stratum k, stratum independence, window-free plan") {
    import spark.implicits._
    val rows = spark.range(2000).select(col("id"),
      when(col("id") % 4 === 0, "small").otherwise("big").as("s"),
      (col("id") % 7 + 1).as("w"))
    val picked = graft.llm.Sampling.prioritySampleByStratum(rows, "id", "w", "s", kPerStratum = 50)
    val byStratum = picked.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(byStratum == Map("small" -> 50L, "big" -> 50L))
    // independence: dropping the OTHER stratum's rows leaves this one's
    // selection untouched (priorities are stratum-free functions of the row)
    val onlySmall = graft.llm.Sampling.prioritySampleByStratum(
      rows.filter(col("s") === "small"), "id", "w", "s", kPerStratum = 50)
      .select("id").as[Long].collect().toSet
    assert(onlySmall ==
      picked.filter(col("s") === "small").select("id").as[Long].collect().toSet)
    // rank agrees with the (priority, id) total order inside the stratum
    val ranked = picked.filter(col("s") === "small")
      .select("priority", "id", "stratum_rank")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(ranked.map(_._3).toSeq == (1L to 50L))
    // scale shape: bounded aggregator, never a per-stratum window
    assert(!picked.queryExecution.executedPlan.toString.contains("Window"))
  }
}
