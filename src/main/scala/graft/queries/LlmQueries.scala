package graft.queries

import graft.model.TableCache
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Archives, AudioStats, Bibtex, Bitext, Code, Containers, Crawl, Dedup, Docs, Feeds, ImageStats, Latex, Mail, Markdown, Multimodal, Notebooks, Packing, Pdf, Pq, Quantize, Retrieval, Rtf, Sampling, Stopwords, Subtitles, TextAnalysis, VideoStats, Warc, Wiki}

/** Correctness wiring for the LLM-pipeline operators (dedup / ANN / text
  * analysis / multimodal). EVERY operator here carries a DuckDB oracle —
  * including the LSH ones: the signature kernels are deterministic
  * (FNV-1a / splitmix64, graft.llm.Hashing), so [[HashOracle]] replicates
  * them bit-for-bit in DuckDB SQL and the oracle recomputes the full
  * bucket→candidate→verify pipeline, not just a rows count.
  */
object LlmQueries extends Registry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    TableCache.parquet(s, s"$dir/documents.parquet")

  /** The media fixtures' id feed: the slim doc_id column REPARTITIONED
    * across the session's parallelism BEFORE any media bytes are
    * rendered. A real corpus scan has real partitions, but the sf
    * fixtures' id column arrives as one small parquet split — without
    * this, every render+decode of a 5000-doc media query serializes
    * onto ONE core (measured: the FLAC query at 7 s single-threaded vs
    * sub-second spread). Only 8-byte ids cross the wire; media bytes
    * are still born, decoded, and hashed inside a single task — the
    * decode-never-shuffles contract is about the BYTES, not the ids. */
  private def mediaIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
  }

  /** Each doc's `family` fixture, memoized across queries by cachedMedia. */
  private def fixtureMedia(s: SparkSession, dir: String, family: String,
      build: Long => Multimodal.Media): Dataset[Multimodal.Media] = {
    import s.implicits._
    mediaIds(s, dir).map(cachedMedia(family)(build))
  }

  /** A hash kernel's 64-bit `dhash` as the two 32-bit words
    * `<prefix>_hi`, `<prefix>_lo` that the oracles' `hashWords` sum. */
  private def hashWordCols(prefix: String): Seq[Column] = Seq(
    shiftrightunsigned(col("dhash"), 32).as(s"${prefix}_hi"),
    col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as(s"${prefix}_lo"))

  /** Shared 20-word suffix q_text_spans appends to every 9th doc — one
    * definition for the Spark fixture and the DuckDB replay. */
  private val SpanSuffix =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"

  /** BPE training replay: `wc` (word, c) → `w0` (code points joined by
    * chr(31)) → n merge steps, each counting weighted adjacent pairs,
    * picking the (count DESC, lhs, rhs) argmax `b$i`, and rewriting every
    * word via literal replace — DuckDB `replace` shares String.replace's
    * left-to-right non-overlapping semantics, which IS the BPE merge rule.
    * Mechanically generated per step, the [[HashOracle.lloydStep]] trick. */
  private def bpeCtes(n: Int, minCount: Long = 1L): String = {
    // AS MATERIALIZED everywhere: each w(i+1) references w(i) and b(i)
    // several times, and DuckDB's default CTE inlining would expand the
    // chain 4^n-fold ("too many open files" on the documents scan).
    // The minCount floor matches Bpe.train's truncated-vocab contract:
    // sub-floor words don't VOTE in the pair statistics (the p$i filter)
    // but the w chain still carries them, because encode applies the
    // merges to every word — dict membership never changes a repr.
    val steps = (0 until n).map { i =>
      s"""p$i AS MATERIALIZED (SELECT u.a AS a, u.b AS b, sum(c) AS c FROM
         |  (SELECT c, unnest(list_transform(range(1, len(syms)), j -> {'a': syms[j], 'b': syms[j+1]})) AS u
         |   FROM (SELECT str_split(repr, chr(31)) AS syms, c FROM w$i WHERE c >= $minCount) s$i) x$i GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT word, CASE WHEN EXISTS (SELECT 1 FROM b$i)
         |  THEN replace(repr, (SELECT a FROM b$i) || chr(31) || (SELECT b FROM b$i),
         |               (SELECT a FROM b$i) || (SELECT b FROM b$i)) ELSE repr END AS repr, c
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (SELECT w AS word, count(*) AS c FROM
       |  (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents) ww
       |  WHERE w != '' GROUP BY w),
       |w0 AS MATERIALIZED (SELECT word, array_to_string(list_transform(range(1, length(word) + 1),
       |  i -> word[i]), chr(31)) AS repr, c FROM wc),
       |$steps""".stripMargin
  }

  /** The synthetic link graph the PageRank/HITS queries rank: 3 arithmetic
    * link families per doc, so edges are predictable in SQL. */
  private def linkGraph(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    Seq((7L, 1L), (13L, 5L), (3L, 11L)).map { case (a, b) =>
      d.select(col("doc_id").as("src"), ((col("doc_id") * a + b) % n).as("dst"))
    }.reduce(_ unionByName _)
  }

  /** The [[linkGraph]] edges replayed arithmetically in SQL: same three
    * (a·doc_id + b) mod n families, deduplicated, self-loops dropped, plus
    * the node set — the shared CTE prefix of both graph oracles. */
  private val linkGraphCtes =
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
       |  UNION ALL SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
       |  UNION ALL SELECT doc_id, (doc_id * 3 + 11) % nn.n FROM documents, nn),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nodes AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))""".stripMargin

  /** PageRank oracle at `iters` mechanical integer iterations — the
    * [[graft.ops.Graphs.pageRank]] micro-rank update (share = r // outdeg,
    * damped = (850000·share) // 1e6, next = 150000 + Σ) replayed per step.
    * AS MATERIALIZED per step: each CTE is referenced once so inlining is
    * linear, but at iters = 10 the inlined chain still re-plans the whole
    * prefix per level — materialization keeps the oracle O(iters). */
  private def pagerankSql(iters: Int, dampMicro: Long = 850000L): String = {
    // dampMicro mirrors Graphs.pageRank's parameter (teleport = 1e6 - damp)
    // so oracle and implementation share one constant; a wiring that passes
    // a non-default damping must pass the same value here.
    val teleport = 1000000L - dampMicro
    val iterCtes = (0 until iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.dst, ($dampMicro * (r$i.r // dg.d)) // 1000000 AS c
         |  FROM e JOIN r$i ON r$i.id = e.src JOIN dg ON dg.src = e.src),
         |r${i + 1} AS MATERIALIZED (SELECT n.id, $teleport + coalesce(sum(s$i.c), 0) AS r
         |  FROM nodes n LEFT JOIN s$i ON s$i.dst = n.id GROUP BY n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkGraphCtes,
       |dg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r$iters ORDER BY id""".stripMargin
  }

  /** HITS oracle at `iters` iterations: auth = Σ in-edge hubs then
    * (1e6·v) // max, hub = Σ out-edge auths then the same max-normalization
    * — exact integers end to end. AS MATERIALIZED is load-bearing here:
    * ar/hr are each referenced twice (by the max CTE and the normalize
    * CTE), so default inlining would expand the chain 2^(2·iters)-fold. */
  private def hitsSql(iters: Int): String = {
    val iterCtes = (0 until iters).map { i =>
      s"""ain$i AS (SELECT e.dst AS id, sum(h$i.h) AS v FROM e JOIN h$i ON h$i.id = e.src GROUP BY e.dst),
         |ar$i AS MATERIALIZED (SELECT n.id, coalesce(ain$i.v, 0) AS v FROM nodes n LEFT JOIN ain$i USING (id)),
         |am$i AS (SELECT max(v) AS mx FROM ar$i),
         |a${i + 1} AS MATERIALIZED (SELECT id, CASE WHEN mx > 0 THEN (1000000 * v) // mx ELSE 0 END AS a FROM ar$i, am$i),
         |hin$i AS (SELECT e.src AS id, sum(a${i + 1}.a) AS v FROM e JOIN a${i + 1} ON a${i + 1}.id = e.dst GROUP BY e.src),
         |hr$i AS MATERIALIZED (SELECT n.id, coalesce(hin$i.v, 0) AS v FROM nodes n LEFT JOIN hin$i USING (id)),
         |hm$i AS (SELECT max(v) AS mx FROM hr$i),
         |h${i + 1} AS MATERIALIZED (SELECT id, CASE WHEN mx > 0 THEN (1000000 * v) // mx ELSE 0 END AS h FROM hr$i, hm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkGraphCtes,
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |$iterCtes
       |SELECT id, CAST(h$iters.h AS BIGINT) AS hub_micro, CAST(a$iters.a AS BIGINT) AS auth_micro
       |FROM h$iters JOIN a$iters USING (id) ORDER BY id""".stripMargin
  }

  /** The "new snapshot" fixture for the corpus-diff queries: every 7th doc
    * removed, every 11th rewritten, the first 20 re-added under new ids. */
  private def diffFixture(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 7 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 100000))

  /** Shared oracle for the exact-broadcast and Bloom-pre-filtered
    * decontamination forms — the verify stage makes them row-identical. */
  private lazy val decontaminateOracleSql: String = {
    val concat13 = (0 until 13).map(t => s"toks[i+$t]").mkString(" || ' ' || ")
    s"""${HashOracle.macros}
       |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM d),
       |b0 AS (SELECT array_to_string(list_slice(str_split(text, ' '), 11, 40), ' ') AS btext
       |  FROM documents WHERE doc_id % 37 = 0),
       |bt AS (SELECT str_split(lower(btext), ' ') AS toks FROM b0),
       |bsh0 AS (SELECT unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM bt),
       |bsh AS (SELECT DISTINCT fnv1a(shingle) AS h FROM bsh0),
       |hits AS (SELECT DISTINCT doc_id FROM sh WHERE fnv1a(shingle) IN (SELECT h FROM bsh))
       |SELECT doc_id, (doc_id IN (SELECT doc_id FROM hits)) AS contaminated
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Shared CTEs for the corpus-diff oracles — the same fixture in SQL. */
  private val diffCtes: String =
    """oldd AS (SELECT doc_id, text FROM documents),
      |newd AS (
      |  SELECT doc_id, CASE WHEN doc_id % 11 = 5 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 3
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20)""".stripMargin

  /** Shared oracle for the broadcast and join novelty forms — the
    * semantics are identical by construction. */
  private lazy val noveltyOracleSql: String =
    s"""${HashOracle.macros}
       |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
       |$noveltyCtes
       |SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, CAST(novel AS BIGINT) AS n_novel,
       |  CAST(novel AS DOUBLE) / n AS novelty_frac
       |FROM novagg ORDER BY doc_id""".stripMargin

  /** Novelty CTE chain (expects `d` = (doc_id, toks)): distinct 13-gram
    * FNV hashes per doc, the %5 reference hash set, per-doc novel counts.
    * Yields `novagg` (doc_id, n, novel). Shared by q_text_novelty and the
    * curation pipeline. */
  private lazy val noveltyCtes: String = {
    val concat13 = (0 until 13).map(t => s"toks[i+$t]").mkString(" || ' ' || ")
    s"""sh0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM d),
       |sh AS (SELECT DISTINCT doc_id, fnv1a(shingle) AS h FROM sh0),
       |ref AS (SELECT DISTINCT h FROM sh WHERE doc_id % 5 = 0),
       |novagg AS (SELECT doc_id, count(*) AS n,
       |  sum(CASE WHEN h IN (SELECT h FROM ref) THEN 0 ELSE 1 END) AS novel
       |  FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** Bigram-LM CTE chain (expects `d` = (doc_id, toks)): unigram/bigram
    * counts over the %5 slice, micro-nat surprisal terms, per-doc sums.
    * Yields `lmagg` (doc_id, n, s). Shared by q_text_lm_score and the
    * curation pipeline. */
  private lazy val lmCtes: String =
    """uni AS (SELECT t AS w, count(*) AS c FROM
      |  (SELECT unnest(toks) AS t FROM d WHERE doc_id % 5 = 0) GROUP BY t),
      |vv AS (SELECT count(*) AS v FROM uni),
      |pb0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u FROM d),
      |pb AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM pb0),
      |bi AS (SELECT w1, w2, count(*) AS c FROM pb WHERE doc_id % 5 = 0 GROUP BY w1, w2),
      |terms AS (SELECT pb.doc_id,
      |  CAST(floor(ln(CAST(coalesce(u.c, 0) + (SELECT v FROM vv) AS DOUBLE)
      |    / (coalesce(b.c, 0) + 1)) * 1000000.0 + 0.5) AS BIGINT) AS t
      |  FROM pb LEFT JOIN bi b USING (w1, w2) LEFT JOIN uni u ON pb.w1 = u.w),
      |lmagg AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY doc_id)""".stripMargin

  /** CTE chain shared by q_text_lm_backoff / q_text_ppl_buckets_backoff:
    * stupid-backoff order-3 replay. 1/2/3-gram counts over the %5
    * reference, context counts as PREFIX SUMS of the k-gram counts (the
    * Scala consistency rule), every token joined against its longest
    * available context; each term is one ln of an integer ratio with
    * the α=0.4 backoff folded in as ·5^L / ·2^L. Yields `lmagg`
    * (doc_id, n, s). */
  private lazy val lmBackoffCtes: String =
    """uni AS (SELECT t AS w, count(*) AS c FROM
      |  (SELECT unnest(toks) AS t FROM d WHERE doc_id % 5 = 0) GROUP BY t),
      |vv AS (SELECT count(*) AS v, sum(c) AS n FROM uni),
      |bg0 AS (SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'w2': toks[i], 'w3': toks[i+1]})) AS u FROM d WHERE doc_id % 5 = 0),
      |bg AS (SELECT u.w2 AS w2, u.w3 AS w3, count(*) AS c FROM bg0 GROUP BY 1, 2),
      |bgc AS (SELECT w2, sum(c) AS c FROM bg GROUP BY w2),
      |tg0 AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
      |    i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS u
      |  FROM d WHERE doc_id % 5 = 0),
      |tg AS (SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, count(*) AS c FROM tg0 GROUP BY 1, 2, 3),
      |tgc AS (SELECT w1, w2, sum(c) AS c FROM tg GROUP BY w1, w2),
      |tok AS (SELECT doc_id, toks[i] AS w3,
      |    CASE WHEN i >= 2 THEN toks[i-1] END AS w2,
      |    CASE WHEN i >= 3 THEN toks[i-2] END AS w1
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM d)),
      |terms AS (SELECT tok.doc_id,
      |  CASE
      |    WHEN jt.c IS NOT NULL THEN
      |      CAST(floor(ln(CAST(jtc.c AS DOUBLE) / jt.c) * 1000000.0 + 0.5) AS BIGINT)
      |    WHEN jb.c IS NOT NULL THEN
      |      CAST(floor(ln(CAST(jbc.c * (CASE WHEN tok.w1 IS NOT NULL THEN 5 ELSE 1 END) AS DOUBLE)
      |        / (jb.c * (CASE WHEN tok.w1 IS NOT NULL THEN 2 ELSE 1 END))) * 1000000.0 + 0.5) AS BIGINT)
      |    ELSE
      |      CAST(floor(ln(CAST((vv.n + vv.v)
      |          * (CASE WHEN tok.w1 IS NOT NULL THEN 25 WHEN tok.w2 IS NOT NULL THEN 5 ELSE 1 END) AS DOUBLE)
      |        / ((coalesce(ju.c, 0) + 1)
      |          * (CASE WHEN tok.w1 IS NOT NULL THEN 4 WHEN tok.w2 IS NOT NULL THEN 2 ELSE 1 END)))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |  END AS t
      |  FROM tok
      |  LEFT JOIN tg jt ON tok.w1 = jt.w1 AND tok.w2 = jt.w2 AND tok.w3 = jt.w3
      |  LEFT JOIN tgc jtc ON tok.w1 = jtc.w1 AND tok.w2 = jtc.w2
      |  LEFT JOIN bg jb ON tok.w2 = jb.w2 AND tok.w3 = jb.w3
      |  LEFT JOIN bgc jbc ON tok.w2 = jbc.w2
      |  LEFT JOIN uni ju ON tok.w3 = ju.w, vv),
      |lmagg AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY doc_id)""".stripMargin

  /** CTE chain shared by q_dsir_weights / q_dsir_select: tokenized docs →
    * unigram+bigram feature buckets → source/target histograms → integer
    * micro-nat λ per bucket → per-doc summed log weight `w` (doc_id,
    * logw). Mirrors Sampling.dsirWeights with B = 1024 and the doc_id%7
    * target slice. */
  private lazy val dsirCtes: String =
    """d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
      |gr AS (SELECT doc_id, unnest(toks) AS g FROM d
      |       UNION ALL
      |       SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |         i -> toks[i] || ' ' || toks[i+1])) AS g FROM d),
      |fb AS (SELECT doc_id, ((tosigned(fnv1a(g)) % 1024) + 1024) % 1024 AS b FROM gr),
      |sc AS (SELECT b, count(*) AS c FROM fb GROUP BY b),
      |tc AS (SELECT b, count(*) AS c FROM fb WHERE doc_id % 7 = 0 GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM fb) AS stot,
      |               (SELECT count(*) FROM fb WHERE doc_id % 7 = 0) AS ttot),
      |lam AS (SELECT sc.b,
      |    CAST(floor(ln((CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) * CAST(tot.stot + 1024 AS DOUBLE))
      |      / (CAST(sc.c + 1 AS DOUBLE) * CAST(tot.ttot + 1024 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS lam
      |  FROM sc LEFT JOIN tc ON sc.b = tc.b, tot),
      |w AS (SELECT fb.doc_id, sum(lam.lam) AS logw FROM fb JOIN lam USING (b) GROUP BY fb.doc_id)""".stripMargin

  /** CTE chain shared by q_text_spans / q_text_span_stats: injected
    * fixture → positional 13-gram FNV hashes → corpus-duplicated hashes →
    * covered positions → island ids (the gaps-and-islands merge state).
    * Yields `d` (doc_id, toks) and `isl` (doc_id, n, pos, island). */
  private lazy val spanIslandCtes: String = {
    val concat13 = (0 until 13).map(t => s"toks[i+$t]").mkString(" || ' ' || ")
    s"""d AS (SELECT doc_id, str_split(lower(CASE WHEN doc_id % 9 = 0
       |    THEN text || ' $SpanSuffix' ELSE text END), ' ') AS toks FROM documents),
       |pos0 AS (SELECT doc_id, len(toks) AS n,
       |  unnest(CASE WHEN len(toks) < 13 THEN [{'p': 0, 'g': array_to_string(toks, ' ')}]
       |    ELSE list_transform(range(1, len(toks) - 11), i -> {'p': i - 1, 'g': $concat13}) END) AS u
       |  FROM d),
       |pos AS (SELECT doc_id, n, u.p AS pos, fnv1a(u.g) AS sh FROM pos0),
       |dup AS (SELECT sh FROM pos GROUP BY sh HAVING count(*) > 1),
       |hits AS (SELECT doc_id, n, pos FROM pos JOIN dup USING (sh)),
       |marked AS (SELECT doc_id, n, pos,
       |  CASE WHEN pos > coalesce(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -100) + 13 THEN 1 ELSE 0 END AS ni
       |  FROM hits),
       |isl AS (SELECT doc_id, n, pos,
       |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM marked)""".stripMargin
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    TableCache.parquet(s, s"$dir/embeddings.parquet")

  /** The q_multimodal_dhash/neardup pixels: an 18×16 grayscale whose
    * value at (x, y) is pure integer arithmetic on (doc_id, x, y) — base
    * pattern keyed by doc_id % 40, plus a corner-block perturbation keyed
    * by (doc_id / 40) % 3 that moves exactly one dHash cell, so docs
    * sharing a base pattern sit at Hamming 0–1. Max value 175 + 80 = 255
    * (fits a byte with no clamp the oracle would have to model). The
    * oracles replay it as `dhashPx`. */
  private def dhashGray(id: Long): Array[Int] = Array.tabulate(18 * 16) { i =>
    val x = i % 18
    val y = i / 18
    val base = (((id % 40) * 31 + x * 7 + y * 13) % 176).toInt
    val delta = if (x < 2 && y < 2) (((id / 40) % 3) * 40).toInt else 0
    base + delta
  }

  /** The JPEG fixtures' pixels: w×16 of constant 8×8 blocks, value =
    * ((id%40)·31 + bx·29 + by·41) % 200 (replayed as `jpegGrid(w)`). */
  private def blockGray(id: Long, w: Int): Array[Int] = Array.tabulate(w * 16) { i =>
    val bx = (i % w) / 8
    val by = i / w / 8
    (((id % 40) * 31 + bx * 29 + by * 41) % 200).toInt
  }

  /** The q_multimodal_video_* frames: 12 frames of the [[dhashGray]]
    * grid, frame f's base offset by f·53, and the variant
    * ((doc_id / 40) % 3) perturbing the corner block of FRAME v only —
    * so same-group videos share ≥ 10 of 12 frame hashes while unrelated
    * groups share only mod-arithmetic accidents (replayed as `videoPx`). */
  private def videoFrames(id: Long): Seq[Array[Int]] = (0 until 12).map { f =>
    Array.tabulate(18 * 16) { i =>
      val x = i % 18
      val y = i / 18
      val base = (((id % 40) * 31 + f * 53 + x * 7 + y * 13) % 176).toInt
      val delta = if (f == ((id / 40) % 3) && x < 2 && y < 2) 40 else 0
      base + delta
    }
  }

  /** [[dhashGray]] rendered through a REAL 24-bpp BMP so the decoder is
    * load-bearing. */
  private def dhashMedia(id: Long): Multimodal.Media =
    Multimodal.Media(id, Multimodal.syntheticBmpPixels(18, 16, dhashGray(id)), "image/bmp")

  /** [[dhashMedia]]'s pixels rendered through a REAL PNG: RGB triplets
    * behind a genuine zlib stream, row filters cycling Sub/Up/Average/
    * Paeth/None keyed by doc_id so every unfilter path carries pixels
    * somewhere in the corpus. Same arithmetic → same oracle replay. */
  private def pngMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    val filters = Seq(((id % 5) + 1) % 5, (id % 5), ((id % 5) + 2) % 5).map(_.toInt)
    // round 12: the layout knobs cycle the WHOLE legal space across the
    // corpus — colour type RGB / permuted-palette / gray by id % 3, bit
    // depth 16 on a gray slice, Adam7 interlace on every 4th doc — while
    // the pixel arithmetic (and therefore the oracle) stays identical
    val ct = (id % 3) match { case 0 => 2; case 1 => 3; case _ => 0 }
    val depth = if (ct == 0 && id % 6 == 2) 16 else 8
    Multimodal.Media(id,
      Multimodal.syntheticPngPixels(w, h, gray, colorType = ct,
        rowFilters = filters, interlaced = id % 4 == 1, bitDepth = depth),
      "image/png")
  }

  /** [[dhashMedia]]'s pixels through QOI: same arithmetic, same oracle —
    * the byte-oriented op stream (runs/index/diff/luma/literals) is what
    * must be invisible. */
  private def qoiMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    Multimodal.Media(id, Multimodal.syntheticQoi(w, h, gray), "image/qoi")
  }

  /** The same pixels through a REAL WebP-lossless (VP8L) file (round
    * 14): id%6 cycles the encoder variant — flat literal codes, color
    * cache, LZ77 at direct distances, subtract-green, color-indexing
    * palette, predictor transform — so all six bitstream shapes are
    * load-bearing across the corpus while the oracle replays pixels
    * only ([[graft.llm.Vp8l.syntheticWebpGray]]). */
  private def webpLosslessMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    Multimodal.Media(id, graft.llm.Vp8l.syntheticWebpGray(w, h, gray, (id % 6).toInt),
      "image/webp")
  }

  /** [[dhashMedia]]'s pixels rendered through a REAL GIF (LZW stream,
    * grayscale palette so luma == index), interlaced for even ids so both
    * row orders appear in the corpus. Same arithmetic → same replay. */
  private def gifMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    Multimodal.Media(id,
      Multimodal.syntheticGifPixels(w, h, gray, interlaced = id % 2 == 0), "image/gif")
  }

  /** The q_multimodal_jpeg_dhash fixture: 24×16 of constant 8×8 blocks,
    * value = ((id%40)·31 + bx·29 + by·41) % 200, rendered through a real
    * baseline JPEG (all-ones quant, canonical DHT, full entropy coding)
    * — DC-only blocks make the lossy codec bit-exact, so the pixel
    * replay oracle stays valid. Restart intervals for every third doc
    * exercise the RSTn path corpus-wide. */
  private[graft] def jpegMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (24, 16, blockGray(id, 24))
    Multimodal.Media(id,
      Multimodal.syntheticJpegPixels(w, h, gray,
        restartInterval = if (id % 3 == 0) 2 else 0),
      "image/jpeg")
  }

  /** The q_multimodal_exif_dhash fixture (round 13): ONE canonical
    * 24×16 block image per id (the [[jpegMedia]] formula), STORED in
    * the inverse of EXIF orientation (id%8)+1 — dims swap for 5–8 — so
    * only a decoder that reads the orientation metadata (JPEG APP1 on
    * even ids, both Exif byte orders; TIFF tag 274 on odd ids) AND
    * applies the correct transform lands back on the canonical hash
    * the oracle replays. A wrong transpose direction or a skipped
    * mirror produces a different hash on ~7/8 of the corpus. */
  private[graft] def exifMedia(id: Long): Multimodal.Media = {
    val (w, h, canonical) = (24, 16, blockGray(id, 24))
    val o = (id % 8 + 1).toInt
    val inv = o match { case 6 => 8; case 8 => 6; case other => other }
    val (sw, sh, stored) = Multimodal.applyOrientation(w, h, canonical, inv)
    if (id % 2 == 0)
      Multimodal.Media(id,
        Multimodal.withExifOrientation(
          Multimodal.syntheticJpegPixels(sw, sh, stored), o, bigEndian = id % 4 == 0),
        "image/jpeg")
    else
      Multimodal.Media(id,
        graft.llm.Tiff.syntheticTiffPixels(sw, sh, stored,
          compression = if (id % 4 == 1) 5 else 1,
          bigEndian = id % 3 == 0, orientation = o),
        "image/tiff")
  }

  /** [[dhashMedia]]'s pixels through the palettized 8-bit BMP form. */
  private def bmp8Media(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    Multimodal.Media(id, Multimodal.syntheticBmp8(w, h, gray), "image/bmp")
  }

  /** [[jpegMedia]]'s DC-block pixels through the PROGRESSIVE encoder. */
  private[graft] def jpegProgMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (24, 16, blockGray(id, 24))
    Multimodal.Media(id, Multimodal.syntheticJpegProgressive(w, h, gray), "image/jpeg")
  }

  /** [[jpegProgMedia]] re-laid-out as 4:2:0 COLOR (luma 2×2, chroma 1×1,
    * neutral chroma): 32×16 = two MCUs, so the interleaved DC walk, the
    * MCU-major luma block order, and the chroma components' quarter-size
    * AC rasters are all load-bearing; the luma plane — and therefore the
    * replayed hash — is identical arithmetic to the grayscale form. */
  private[graft] def jpegProg420Media(id: Long): Multimodal.Media = {
    val (w, h, gray) = (32, 16, blockGray(id, 32))
    Multimodal.Media(id,
      Multimodal.syntheticJpegProgressive(w, h, gray, color420 = true), "image/jpeg")
  }

  /** [[dhashMedia]]'s pixels through a REAL TIFF, the container knobs
    * cycling across the corpus: compression none/LZW/PackBits by id % 3,
    * the LZW slice alternating the horizontal predictor, byte order
    * II/MM by id % 5, gray vs equal-channel RGB by parity, strip heights
    * varying, and every 7th doc stored WhiteIsZero (inverse bytes whose
    * decode must invert back). Same arithmetic → same replay. */
  private[graft] def tiffMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (18, 16, dhashGray(id))
    val comp = (id % 4) match { case 0 => 1; case 1 => 5; case 2 => 32773; case _ => 8 }
    val photoZero = id % 7 == 0 && id % 2 == 0
    Multimodal.Media(id,
      graft.llm.Tiff.syntheticTiffPixels(w, h, gray,
        compression = comp,
        rgb = id % 2 == 1 && !photoZero,
        predictor = if ((comp == 5 || comp == 8) && id % 4 == 1) 2 else 1,
        rowsPerStrip = 4 + (id % 3).toInt * 5,
        bigEndian = id % 5 == 0,
        photoZero = photoZero,
        // round 13: the 18x16 image through 8x8 TILES (padded partial
        // tiles on both edges) on the id%6=2 slice, and 16-BIT samples
        // (high-byte reduction load-bearing) on the even id%9=0 slice —
        // the pixel oracle is container-blind, so both layouts must be
        // invisible to the hash
        tileSize = if (id % 6 == 2) 8 else 0,
        bits16 = id % 9 == 0 && id % 2 == 0),
      "image/tiff")
  }

  /** The q_multimodal_cross_container fixture: [[jpegMedia]]'s 24×16
    * constant-block pixels (the dims every container here supports and
    * JPEG decodes bit-exactly) rendered through a container chosen by
    * id % 6 — BMP, PNG (cycled filters), GIF (interlaced on parity),
    * baseline JPEG, TIFF (LZW + predictor, big-endian on parity), or
    * an OS/2 core-header BMP. Identical pixels through six real
    * container/codec forms. */
  private[graft] def crossContainerMedia(id: Long): Multimodal.Media = {
    val (w, h, gray) = (24, 16, blockGray(id, 24))
    (id % 7) match {
      case 0 => Multimodal.Media(id, Multimodal.syntheticBmpPixels(w, h, gray), "image/bmp")
      case 1 => Multimodal.Media(id,
        Multimodal.syntheticPngPixels(w, h, gray, colorType = 2,
          rowFilters = Seq(((id % 5) + 1).toInt % 5, (id % 5).toInt)), "image/png")
      case 2 => Multimodal.Media(id,
        Multimodal.syntheticGifPixels(w, h, gray, interlaced = id % 8 == 2), "image/gif")
      case 3 => Multimodal.Media(id, Multimodal.syntheticJpegPixels(w, h, gray), "image/jpeg")
      case 4 => Multimodal.Media(id,
        graft.llm.Tiff.syntheticTiffPixels(w, h, gray, compression = 5,
          predictor = if (id % 2 == 0) 2 else 1, rowsPerStrip = 6,
          bigEndian = id % 10 == 4), "image/tiff")
      case 5 => Multimodal.Media(id,
        Multimodal.syntheticBmpCore(w, h, gray, palettized = id % 2 == 1), "image/bmp")
      case _ => Multimodal.Media(id, // round 12: ICO, DIB or PNG payload
        Multimodal.syntheticIco(w, h, gray, png = id % 2 == 1), "image/x-icon")
    }
  }

  /** The q_multimodal_mp3_meta fixture: MPEG-1/2 by parity, sample-rate
    * index by id%3, 40–59 frames whose (bitrateIdx, padding) vary per
    * frame by formula — a real VBR stream shape — behind an ID3v2 tag of
    * formula length, with an ID3v1 trailer on the id%4=1 slice and
    * stereo on the id%5=0 slice. Every field the oracle replays depends
    * on the parser walking each frame's own header length. */
  /** The q_multimodal_mp4_meta fixture (round 13): a structurally
    * complete ISO-BMFF tree whose every knob is a formula of doc_id —
    * ftyp brand count, mvhd VERSION (v0 32-bit vs v1 64-bit fields by
    * parity), timescale/duration chosen so duration_ms replays exactly
    * in integer SQL, 16.16 fixed tkhd dims, stsz sample count, an
    * audio trak on the id%4=0 slice (n_tracks 2, and the parser must
    * pick the vide-handler trak's dims/samples, not the last trak's),
    * unknown udta junk on id%6=0 (skipped by size), a free box on
    * id%5=0, and a formula-length mdat. byte_len replays the builder's
    * closed form; ContainerSpec pins that form against the bytes. */
  private def mp4Media(id: Long): Multimodal.Media = {
    val durMs = (5 + id % 7) * 1000 + (id % 10) * 100
    val ts = 1000 * (1 + id % 3)
    Multimodal.Media(id,
      Containers.syntheticMp4(
        brands = (1 + id % 3).toInt,
        mvhdV1 = id % 2 == 1,
        timescale = ts.toInt,
        duration = durMs * ts / 1000,
        w = (160 + id % 64).toInt, h = (120 + id % 32).toInt,
        nVideoSamples = (24 + id % 10).toInt,
        audioTrack = id % 4 == 0,
        mdatLen = (50 + id % 40).toInt,
        freeLen = if (id % 5 == 0) (12 + id % 9).toInt else 0,
        junkLen = if (id % 6 == 0) (5 + id % 11).toInt else 0,
        videoCodec = Seq("avc1", "hev1", "av01", "vp09")((id % 4).toInt)),
      "video/mp4")
  }

  /** The q_multimodal_ogg_meta fixture (round 13): real Ogg pages —
    * Vorbis/Opus ident by parity (the Opus BOS carries a 24 kHz INPUT
    * rate precisely so the parser must report the 48 kHz granule clock
    * instead of copying the field), 2–5 data pages whose payload
    * lengths are id-formulas with a ≥510-byte page on the id%3=0 slice
    * (multi-segment lacing is load-bearing), EOS granule = step·pages.
    * byte_len replays page framing: Σ 27 + (len/255 + 1) + len. */
  private def oggMedia(id: Long): Multimodal.Media = {
    val vorbis = id % 2 == 0
    Multimodal.Media(id,
      Containers.syntheticOgg(
        vorbis = vorbis,
        rate = if (vorbis) Seq(8000, 22050, 44100)((id % 3).toInt) else 24000,
        channels = if (id % 5 == 0) 2 else 1,
        serial = (id % 7 + 1).toInt,
        dataPages = (2 + id % 4).toInt,
        pageLen = i => if (i == 0 && id % 3 == 0) (510 + id % 100).toInt
          else (100 + (id + i * 13) % 155).toInt,
        granuleStep = 256 * (1 + id % 5)),
      "audio/ogg")
  }

  /** The q_multimodal_webp_meta fixture (round 13): format cycles
    * lossy/lossless/extended by id%3, shared dim formulas across all
    * three (so the extended rows prove the CANVAS dims were read — the
    * builder's inner still is w/2×h/2), VP8L alpha bit and VP8X alpha
    * flag on the even slice, animation (1 + (id/4)%3 ANMF frames) on
    * the id%4=2 extended slice, an odd-capable EXIF chunk on id%5=0,
    * and odd codec-payload lengths throughout so RIFF pad bytes are
    * load-bearing in byte_len. */
  private def webpMedia(id: Long): Multimodal.Media = {
    val fmt = Seq("lossy", "lossless", "extended")((id % 3).toInt)
    val alpha = id % 2 == 0 && fmt != "lossy"
    val anim = fmt == "extended" && id % 4 == 2
    Multimodal.Media(id,
      Containers.syntheticWebp(
        format = fmt,
        w = (48 + id % 500).toInt, h = (32 + id % 300).toInt,
        alpha = alpha,
        animFrames = if (anim) (1 + (id / 4) % 3).toInt else 0,
        frameLen = i => (20 + (id + 7 * i) % 33).toInt,
        fillLen = (19 + id % 31).toInt,
        alphaLen = if (fmt == "extended" && alpha) (11 + id % 14).toInt else 0,
        exifLen = if (fmt == "extended" && id % 5 == 0) (9 + id % 6).toInt else 0),
      "image/webp")
  }

  /** The q_multimodal_avif_meta fixture (round 13): brand cycles
    * avif/heic/mif1, a THUMBNAIL ispe (w/8 × h/8) on the even slice so
    * largest-extent selection is load-bearing, an opaque codec-config
    * property and ipma/mdat junk by formula — byte_len replays the box
    * arithmetic, n_props the ipco count. */
  private def avifMedia(id: Long): Multimodal.Media = {
    Multimodal.Media(id,
      Containers.syntheticAvif(
        brand = Seq("avif", "heic", "mif1")((id % 3).toInt),
        compat = (id % 3).toInt,
        w = (320 + id % 1000).toInt, h = (200 + id % 700).toInt,
        thumbnail = id % 2 == 0,
        propLen = if (id % 4 != 3) (9 + id % 12).toInt else 0,
        ipmaLen = (5 + id % 9).toInt,
        mdatLen = (40 + id % 77).toInt),
      "image/avif")
  }

  /** The q_multimodal_mkv_meta fixture (round 13): Segment size
    * encoding cycles minimal-2-byte / unknown-to-EOF (id%5=2) /
    * non-minimal-8-byte (id%5=3); TimestampScale = (1 + id%3) µs-ticks
    * but OMITTED on id%7=0 (the 1 000 000 default is load-bearing);
    * audio track on id%3=0 with the track ORDER AND NUMBERS swapped on
    * id%6=3 (selection by TrackType, block routing by number); clusters
    * and blocks by formula with video/audio blocks interleaved, so
    * n_samples counts only the blocks whose leading VINT routes to the
    * video track. */
  private def mkvMedia(id: Long): Multimodal.Media = {
    Multimodal.Media(id,
      Containers.syntheticMkv(
        w = (320 + id % 640).toInt, h = (180 + id % 360).toInt,
        durationTicks = (200 + id % 500).toDouble,
        timestampScale = 1000000L * (1 + id % 3),
        writeScale = id % 7 != 0,
        audioTrack = id % 3 == 0,
        swapOrder = id % 6 == 3,
        nClusters = (1 + (id / 3) % 3).toInt,
        blocksPerCluster = ci => (1 + (id + ci) % 3).toInt,
        blockLen = (ci, j) => (10 + (id + ci * 5 + j * 3) % 40).toInt,
        videoCodec = Seq("V_VP8", "V_VP9", "V_AV1")((id % 3).toInt),
        segSizeMode = if (id % 5 == 2) 1 else if (id % 5 == 3) 2 else 0),
      "video/webm")
  }

  /** The q_warc_records / q_warc_html fixture (round 13): a warcinfo
    * record, then 2 + id%3 HTTP response records (with a request record
    * before each on the id%4=2 slice — rec_idx accounting), status
    * cycling 200/404/301 by (id+i)%3, per-record gzip members on the
    * odd slice, lower-cased header names on id%5=0. The HTML bodies
    * embed the known text in script/style/comment/entity traps; the
    * oracle replays both the byte accounting (content_length =
    * 42 + reason + LENGTH(html)) and the extracted strings. */
  private[graft] def warcHtml(id: Long, i: Int): String =
    s"""<html><head><title>T$id-$i</title><script>var a="<p>x</p>";</script>""" +
      s"""<style>p{color:red}</style></head><body><h1 id="h">H ${(id + i) % 50}</h1>""" +
      s"""<p>W&amp;b ${(id * 3 + i) % 97}</p><!-- c -->""" +
      s"""<div>Tail&nbsp;${(id + 7 * i) % 89}</div></body></html>"""

  private def warcMedia(id: Long): Multimodal.Media = {
    Multimodal.Media(id,
      Warc.syntheticWarc(
        nResponses = (2 + id % 3).toInt,
        uri = i => s"https://ex.org/$id/$i",
        status = i => ((id + i) % 3) match {
          case 0 => (200, "OK")
          case 1 => (404, "Not Found")
          case _ => (301, "Moved")
        },
        htmlBody = i => warcHtml(id, i),
        gzipped = id % 2 == 1,
        withRequests = id % 4 == 2,
        lowerCaseHeaders = id % 5 == 0,
        infoLen = (15 + id % 20).toInt),
      "application/warc")
  }

  /** The q_warc_charset fixture (round 15): seven responses per doc,
    * one per resolution path, bodies planted byte-exact (cp1252 curly
    * quotes 0x93/0x94, Shift_JIS multibyte, BOMs, the undefined-in-
    * latin1 0x80/0x99/0x85 cp1252 range); per-record gzip members on
    * even ids. */
  private def warcCharsetMedia(id: Long): Multimodal.Media = {
    def iso(s: String) = s.getBytes("ISO-8859-1")
    def b(xs: Int*) = xs.map(_.toByte).toArray
    val recs = Seq(
      (s"http://cs.example/$id/cp1252", "text/html; charset=windows-1252",
        iso(s"w$id ") ++ b(0x93, 0xE9, 0x94)),
      (s"http://cs.example/$id/sjis", "text/html",
        iso("<meta charset=shift_jis>") ++ "日本語".getBytes("Shift_JIS")),
      (s"http://cs.example/$id/bom8", "text/html",
        b(0xEF, 0xBB, 0xBF) ++ s"b$id é…".getBytes("UTF-8")),
      (s"http://cs.example/$id/fallback", "text/html",
        iso(s"f$id ") ++ b(0x80, 0x99)),
      (s"http://cs.example/$id/sniff8", "text/html",
        s"u$id é€".getBytes("UTF-8")),
      (s"http://cs.example/$id/bom16", "text/html",
        b(0xFF, 0xFE) ++ s"s$id".getBytes("UTF-16LE")),
      (s"http://cs.example/$id/latin1label", "text/html; charset=iso-8859-1",
        iso(s"l$id ") ++ b(0x85)))
    Multimodal.Media(id, Warc.syntheticWarcRaw(recs, gzipped = id % 2 == 0),
      "application/warc")
  }

  /** The q_warc_http_enc fixture (round 15): six responses per doc —
    * chunked, gzip, zlib deflate, chunked+gzip, unknown-coding br kept
    * raw, and a lying chunked header falling back raw. */
  private def warcHttpEncMedia(id: Long): Multimodal.Media = {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    def zlib(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    def u8(s: String) = s.getBytes("UTF-8")
    val recs = Seq(
      (s"http://he/$id/chunked",
        Seq("Content-Type" -> "text/plain; charset=utf-8",
          "Transfer-Encoding" -> "chunked"),
        Warc.chunkEncode(u8(s"ch$id alpha beta"), Seq(4, 5))),
      (s"http://he/$id/gzip",
        Seq("Content-Type" -> "text/html; charset=utf-8",
          "Content-Encoding" -> "gzip"),
        gz(u8(s"gz$id é…"))),
      (s"http://he/$id/deflate",
        Seq("Content-Type" -> "text/plain",
          "Content-Encoding" -> "deflate"),
        zlib(u8(s"df$id data"))),
      (s"http://he/$id/both",
        Seq("Content-Type" -> "text/plain; charset=utf-8",
          "Transfer-Encoding" -> "chunked", "Content-Encoding" -> "gzip"),
        Warc.chunkEncode(gz(u8(s"cg$id mix")), Seq(7))),
      (s"http://he/$id/br",
        Seq("Content-Type" -> "text/plain; charset=utf-8",
          "Content-Encoding" -> "br"),
        u8(s"br$id raw")),
      (s"http://he/$id/liar",
        Seq("Content-Type" -> "text/plain; charset=utf-8",
          "Transfer-Encoding" -> "chunked"),
        u8(s"nochunk$id")))
    Multimodal.Media(id, Warc.syntheticWarcHttp(recs, gzipped = id % 2 == 1),
      "application/warc")
  }

  /** The q_warc_cdx fixture (round 15): 2 + id%2 dated responses per
    * doc with SURT-trap URIs (mixed case, www label, :80 vs :8080,
    * unsorted query params, a fragment) and closed-form WARC-Dates;
    * per-record gzip members on the even slice so both offset layouts
    * (member frames vs record spans) run. Bodies collide on (id+i)%4 —
    * the digest column proves equal payloads hash equal. */
  private def warcCdxMedia(id: Long): Multimodal.Media = {
    val bytes = cachedFixture("warcCdx", id) {
      val recs = (0 until (2 + id % 2).toInt).map { i =>
        val port = if (i % 2 == 0) ":80" else ":8080"
        val uri = s"HTTP://WwW.Ex$id.ORG$port/P$id/$i?b=2&a=$id#f"
        val date = f"2026-08-${1 + (id + i) % 28}%02dT${id % 24}%02d:${(i * 7) % 60}%02d:${(id + i) % 60}%02dZ"
        (uri, date, s"<p>cdx ${(id + i) % 4}</p>")
      }
      Warc.syntheticWarcDated(recs, gzipped = id % 2 == 0)
    }
    Multimodal.Media(id, bytes, "application/warc")
  }

  /** The q_warc_revisit fixture (round 15): three responses per doc
    * whose (urlkey, digest) pairs are shared ACROSS docs — host keyed
    * on id%5, body on i alone — so revisit dedup has real cross-
    * archive collisions; capture time orders by id%28 with doc_id
    * breaking the ties. */
  private def warcRevisitMedia(id: Long): Multimodal.Media = {
    val bytes = cachedFixture("warcRevisit", id) {
      val recs = (0 until 3).map { i =>
        (s"http://h${id % 5}.net/page$i",
          f"2026-08-${1 + id % 28}%02dT00:00:00Z",
          s"<p>rv $i</p>")
      }
      Warc.syntheticWarcDated(recs, gzipped = id % 2 == 1)
    }
    Multimodal.Media(id, bytes, "application/warc")
  }

  /** The q_multimodal_whash_neardup fixture (round 15): group
    * doc%20 fixes two Walsh tiles (3g, 3g+7 mod 63, amps 40/20); the
    * (doc//20)%2 variant superposes a third weak tile (3g+29, amp 15)
    * — one extra hash bit, Hamming 1 to the group's base docs. */
  private def whashGroupMedia(id: Long): Multimodal.Media = {
    val g = (id % 20).toInt
    val v = ((id / 20) % 2).toInt
    def sgn(k: Int, x: Int, y: Int): Int =
      if ((java.lang.Integer.bitCount((k & 7) & x)
        + java.lang.Integer.bitCount(((k >> 3) & 7) & y)) % 2 == 0) 1 else -1
    val k1 = 1 + (g * 3) % 63
    val k2 = 1 + (g * 3 + 7) % 63
    val k3 = 1 + (g * 3 + 29) % 63
    val px = Array.tabulate(1024) { i =>
      val x = i % 32; val y = i / 32
      128 + 40 * sgn(k1, x, y) + 20 * sgn(k2, x, y) +
        (if (v == 1) 15 * sgn(k3, x, y) else 0)
    }
    Multimodal.Media(id, Multimodal.syntheticBmp8(32, 32, px), "image/bmp")
  }

  /** The q_pdf_* fixture (round 13): 1 + id%3 pages of 2 + (id+p)%3
    * text lines, every line carrying parentheses (escape path always
    * load-bearing); show forms rotate by (id + j) % 4 across literal/
    * TJ-split/hex/' — with the id%5=0 slice writing literals ALL-octal;
    * flate on (id+p) even pages (JDK Deflater — independent
    * compressor), /Filter array form on id%7=3; /Contents arrays on
    * (id+p)%5=0; indirect /Length (forward refs, plain streams) on
    * id%6=2; body objects out of order on id%4=1; a nested /Pages node
    * on id%3=0; trailer /Encrypt on id%11=7 (meta admits, text must
    * refuse). */
  private[graft] def pdfLine(id: Long, p: Int, j: Int): String =
    s"L$j P$p D$id (k=${(id + 3 * p + 7 * j) % 53})"

  private def pdfMedia(id: Long): Multimodal.Media = {
    val nPages = (1 + id % 3).toInt
    Multimodal.Media(id,
      Pdf.syntheticPdf(
        version = s"1.${4 + id % 4}",
        lines = p => (0 until (2 + (id + p) % 3).toInt).map(j => pdfLine(id, p, j)),
        nPages = nPages,
        formSeed = (id % 4).toInt,
        octalAll = id % 5 == 0,
        flate = p => (id + p) % 2 == 0,
        filterArray = id % 7 == 3,
        twoStreams = p => (id + p) % 5 == 0,
        indirectLength = id % 6 == 2,
        outOfOrder = id % 4 == 1,
        nested = id % 3 == 0,
        encrypted = id % 11 == 7),
      "application/pdf")
  }

  /** The q_pdf_text_cid fixture (round 15): composite-font page 0 shows
    * "Cid D<id> k=<(7id+3)%29>" as char+0x100 codes (the CMap's
    * bfrange shifts them back), then an id%3-selected special show —
    * bfchar é + an UNMAPPED code (→U+FFFD), bfchar … + the
    * array-bfrange ΑΒΓ, or the surrogate-pair 😀; simple-font page 1
    * shows "a=<id%13> ¥" through /Differences
    * (aacute/uni20AC/bullet). Split-TJ on odd ids, flate CMap on even. */
  private def cidPdfMedia(id: Long): Multimodal.Media = {
    val specials = (id % 3) match {
      case 0 => Seq(0x0001, 0x0099)
      case 1 => Seq(0x0002, 0x0010, 0x0011, 0x0012)
      case _ => Seq(0x0003)
    }
    Multimodal.Media(id,
      Pdf.syntheticCidPdf(
        version = s"1.${5 + id % 3}",
        asciiLine = s"Cid D$id k=${(id * 7 + 3) % 29}",
        specials = specials,
        simpleBytes = s"a=${id % 13} \u0080\u00A5".getBytes("ISO-8859-1"),
        splitTj = id % 2 == 1,
        flateCmap = id % 2 == 0),
      "application/pdf")
  }

  /** The q_pdf_text_objstm fixture (round 15): 1 + id%3 paren-carrying
    * lines through the modern layout; ObjStm flate on odd ids, content
    * flate on id%4<2. */
  private def objStmPdfMedia(id: Long): Multimodal.Media = {
    val lines = (0 until (1 + id % 3).toInt)
      .map(j => s"OS D$id L$j (v=${(id + 5 * j) % 43})")
    Multimodal.Media(id,
      Pdf.syntheticObjStmPdf(s"1.${5 + id % 3}", lines,
        flateObjStm = id % 2 == 1, flateContent = id % 4 < 2),
      "application/pdf")
  }

  /** The q_pdf_text_filters fixture (round 15): 2 + id%2 lines — the
    * middle one carrying a same-char run for RunLength's repeat branch
    * — through filter mode id%6. */
  private[graft] def filterPdfMedia(id: Long): Multimodal.Media = {
    val lines = (0 until (2 + id % 2).toInt).map { j =>
      if (j == 1) s"r${"z" * (3 + (id % 5).toInt)} D$id"
      else s"FL D$id L$j (q=${(id + 11 * j) % 37})"
    }
    Multimodal.Media(id,
      Pdf.syntheticFilterPdf(s"1.${4 + id % 4}", lines, (id % 6).toInt),
      "application/pdf")
  }

  /** The q_docx_text fixture (round 13): 2 + id%3 paragraphs, each
    * split mid-word into three runs at id-dependent cut points
    * (concatenation semantics load-bearing), a real tab via <w:tab/>
    * on the (id+k)%4=0 slice, '&' through entity escape everywhere,
    * stored-vs-deflate zip parts by id parity. */
  private def docxMedia(id: Long): Multimodal.Media = {
    val nP = (2 + id % 3).toInt
    val paras = (0 until nP).map { k =>
      val sep = if ((id + k) % 4 == 0) "\t" else " "
      val t = s"P$k${sep}D$id & t=${(id * 5 + 3 * k) % 71}"
      val c1 = math.min(3, t.length)
      val c2 = math.min(c1 + 1 + ((id + k) % 5).toInt, t.length)
      Seq(t.substring(0, c1), t.substring(c1, c2), t.substring(c2))
    }
    Multimodal.Media(id, Docs.syntheticDocx(paras, storedParts = id % 2 == 0),
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document")
  }

  /** The q_epub_text fixture (round 13): 1 + id%3 chapters written in
    * natural ARCHIVE order but spined REVERSED on id%3=1 (a reader that
    * walks the archive misorders exactly there), plus an off-spine
    * decoy .xhtml on id%4=0 that must not emit. */
  private def epubMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val chapters = (0 until n).map { k =>
      (s"ch$k.xhtml",
        s"<html><body><h1>C$k</h1><p>E$id &amp; ${(id + 11 * k) % 59}</p></body></html>")
    }
    val spine = if (id % 3 == 1) (0 until n).reverse else (0 until n)
    Multimodal.Media(id, Docs.syntheticEpub(chapters, spine,
      if (id % 4 == 0) Some("decoy.xhtml") else None), "application/epub+zip")
  }

  /** The q_ipynb_* fixture (round 13): 2 + id%3 cells alternating
    * code/markdown by (id+k)%2; cell text = 1 + (id+k)%3 lines; source
    * written in nbformat's ARRAY-of-lines form except the (id+k)%5=0
    * slice which uses the equally-legal plain-string form (the
    * dual-schema coalesce is load-bearing there); execution_count/
    * outputs/metadata noise present on every code cell. */
  private[graft] def ipynbJson(id: Long): String = {
    val specs = (0 until (2 + id % 3).toInt).map { k =>
      val tpe = if ((id + k) % 2 == 0) "code" else "markdown"
      val nL = (1 + (id + k) % 3).toInt
      val text = (0 until nL).map(j => s"x$k$j d$id").mkString("\n")
      (tpe, text, (id + k) % 5 != 0)
    }
    Notebooks.syntheticIpynb(specs)
  }

  /** The q_latex_text fixture (round 13): a realistic article skeleton
    * where every rule is a trap — the comment line carries fake math
    * and a fake \emph, inline/display math carry id-dependent garbage,
    * the equation environment wraps a \label, itemize must keep its
    * prose while losing its markers, and the escapes (\%, \&, \_) sit
    * inside kept prose. The oracle replays the exact extracted
    * string. */
  private[graft] def latexSrc(id: Long): String = {
    val a = id % 50; val b = id * 3 % 97; val d = id % 41
    val e = id * 11 % 73; val f = id * 13 % 61
    s"""\\documentclass[11pt]{article}
       |% preamble comment with $$fake$$ and \\emph{trap}
       |\\usepackage[utf8]{inputenc}
       |\\title{T $id}
       |\\begin{document}
       |\\maketitle
       |\\section{S $a}
       |Body \\emph{em $b} with math $$x^2_{$id} + 1$$ dropped. % tail
       |\\begin{equation}
       |  E = mc^2 \\label{eq:$id}
       |\\end{equation}
       |Cite~\\cite{k$id} and pct 100\\% amp \\& und x\\_y.
       |\\begin{itemize}
       |  \\item First $d
       |  \\item Second \\textbf{bold $e}
       |\\end{itemize}
       |Line one\\\\line two \\[ disp + $id \\] tail $f.
       |\\end{document}""".stripMargin
  }

  /** The q_mail_* fixture (round 13): 1 + id%3 messages; per message i
    * the subject encoding cycles raw/B-word/split-Q-word by (id+i)%3,
    * the To header folds at its space on (id+i)%4=0, and the body kind
    * cycles by (id+i)%5: plain-7bit / soft-wrapped QP / base64 /
    * multipart-with-html-decoy-first / html-only. Body text carries a
    * literal '=' (the QP escape is load-bearing) and two lines (the
    * html slice collapses them — the oracle's CASE). */
  private def mboxMedia(id: Long): Multimodal.Media = {
    val msgs = (0 until (1 + id % 3).toInt).map { i =>
      Mail.syntheticMessage(
        from = s"u$id$i@ex.org",
        to = s"team${(id + i) % 9}@ex.org list$i@ex.org",
        subject = s"Re: topic $id ${(id * 3 + i) % 31}",
        bodyText = s"Body $id.$i one\nsecond = ${(id * 7 + i) % 43} end",
        bodyKind = ((id + i) % 5).toInt,
        subjEnc = ((id + i) % 3).toInt,
        foldTo = (id + i) % 4 == 0)
    }
    Multimodal.Media(id, Mail.syntheticMbox(msgs), "application/mbox")
  }

  /** The q_doc_router fixture (round 13): ONE canonical text rendered
    * into seven containers by id%7 — pdf, docx, epub, mbox, html,
    * latex, gzip-wrapped html (the router must peel the compression
    * layer before detecting). */
  /** The q_bibtex_entries fixture (round 13): a @string macro, a
    * @comment with nested braces, then 1 + id%3 entries with braced
    * nested-group titles, hard-wrapped quoted authors, a
    * concatenation+macro journal field, bare-number years, and an
    * upper-cased entry type on the (id+k)%4=0 slice. */
  private def bibMedia(id: Long): Multimodal.Media = {
    val sb = new StringBuilder
    sb ++= s"@string{jrnl = {Journal of $id}}\n"
    sb ++= s"@comment{ignore {nested} stuff $id}\n"
    (0 until (1 + id % 3).toInt).foreach { k =>
      val t0 = Seq("article", "book", "inproceedings")(((id + k) % 3).toInt)
      val typ = if ((id + k) % 4 == 0) t0.toUpperCase else t0
      sb ++= s"@$typ{k$id-$k,\n"
      sb ++= s"  title = {The {B$k} Title ${(id * 3 + k) % 53}},\n"
      sb ++= "  author = \"A. Name and\n        B. N" + k + "\",\n"
      sb ++= "  journal = \"Proc. \" # jrnl,\n"
      sb ++= s"  year = ${1970 + (id + k) % 50}\n}\n"
    }
    Multimodal.Media(id, sb.toString.getBytes("UTF-8"), "text/x-bibtex")
  }

  /** The q_robots_* fixture (round 13): a gruntbot group (plus a
    * second agent on id%3=0 — one group, two tokens), three rules
    * incl. a wildcard-anchored one, crawl-delay noise, then the *
    * group and a sitemap. Probe paths exercise group selection,
    * longest-match, allow-override, and the $ anchor. */
  private def robotsMedia(id: Long): Multimodal.Media = {
    val sb = new StringBuilder
    sb ++= s"# robots for doc $id\n"
    sb ++= "User-Agent: gruntbot\n"
    if (id % 3 == 0) sb ++= "user-agent: otherbot\n"
    sb ++= s"Disallow: /private$id/   # keep out\n"
    sb ++= s"Allow: /private$id/ok/\n"
    sb ++= "Disallow: /*.tmp$\n"
    sb ++= "Crawl-delay: 5\n"
    sb ++= "\n"
    sb ++= "User-agent: *\n"
    sb ++= s"Disallow: /all$id/\n"
    sb ++= s"Sitemap: https://ex.org/$id/sitemap.xml\n"
    Multimodal.Media(id, sb.toString.getBytes("UTF-8"), "text/plain")
  }

  /** The q_code_strip fixture (round 13): one source file per doc,
    * family by id%3 — C with a line comment, a multi-line block
    * comment mid-statement, and a // inside a string; Python with a
    * trailing comment, a # in a double-quoted string AND in a
    * multi-line docstring; SQL with --, a block comment, and a --
    * inside a quoted literal. */
  private def codeMedia(id: Long): Multimodal.Media = {
    val a = id % 9; val b = id % 7
    val (fam, src) = (id % 3) match {
      case 0 => ("c",
        s"// head $id\nint a = $a; /* block\nspans */ int b = $b;\n" +
          "char* s = \"x // not\";\n")
      case 1 => ("hash",
        s"# head $id\nx = $a  # trail\ns = \"y # keep\"\n" +
          "d = \"\"\"doc # keep\ntwo\"\"\"\n" + s"y = $b\n")
      case _ => ("sql",
        s"-- lead $id\nSELECT $a AS a, /* mid */ '--not' AS s\nFROM t -- tail\n")
    }
    Multimodal.Media(id, src.getBytes("UTF-8"), fam)
  }

  /** The q_pipeline_code fixture (round 13): docs 2k and 2k+1 carry
    * the SAME code with DIFFERENT id-stamped comments — stripping is
    * what makes them collide. */
  private def codePairMedia(id: Long): Multimodal.Media = {
    val base = id / 2
    Multimodal.Media(id,
      (s"// noise $id\nint v = $base;\n" + // base itself: groups are pairs, never accidental
        s"int w = ${base % 11}; // tail $id\n").getBytes("UTF-8"), "c")
  }

  /** The q_code_license fixture (round 13): id%6 cycles an SPDX tag,
    * MIT/Apache/GPL-3.0/BSD phrase fingerprints, and a no-license
    * file. */
  private def licenseMedia(id: Long): Multimodal.Media = {
    val src = (id % 6) match {
      case 0 => s"// SPDX-License-Identifier: Apache-2.0\nlet x = $id;\n"
      case 1 => "/*\n * Permission is hereby granted, free of charge, to any person\n" +
        s" */\nlet y = $id;\n"
      case 2 => "Licensed under the Apache License, Version 2.0 (the \"License\");\n" +
        s"code $id\n"
      case 3 => "This program is free software: you can redistribute it under the\n" +
        s"GNU General Public License, version 3.\ncode $id\n"
      case 4 => "Redistribution and use in source and binary forms, with or without\n" +
        s"modification, are permitted.\ncode $id\n"
      case _ => s"def f():\n    return $id  # no license here\n"
    }
    Multimodal.Media(id, src.getBytes("UTF-8"), "text/x-source")
  }

  /** The q_sitemap_urls fixture (round 13): sitemapindex on id%4=0
    * (child locs, is_index=1), urlset otherwise with &-carrying query
    * strings, a missing-lastmod slice, and exactly-representable
    * 0.125-step priorities on alternate urls (absent → 0.5). */
  private def sitemapMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val isIdx = id % 4 == 0
    val urls = (0 until n).map { i =>
      if (isIdx)
        (s"https://ex.org/$id/map$i.xml", s"2026-0${1 + (id + i) % 9}-01", None)
      else
        (s"https://ex.org/$id/p$i?a=1&b=${(id + i) % 7}",
          if ((id + i) % 3 == 0) "" else s"2026-0${1 + (id + i) % 9}-01",
          if ((id + i) % 2 == 0) Some(0.125 * (1 + (id + i) % 7)) else None)
    }
    // every fifth doc ships .xml.gz (round 15) — invisible to the oracle
    Multimodal.Media(id,
      Crawl.syntheticSitemap(isIdx, urls, gzipped = id % 5 == 2), "application/xml")
  }

  /** The q_feed_items fixture (round 13): RSS on even ids, Atom on
    * odd; 1 + id%3 items; item i's body is CDATA-wrapped raw HTML on
    * (id+i)%2=0 and entity-encoded HTML otherwise — same extracted
    * text either way; titles carry a literal '&'. */
  private def feedMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val items = (0 until n).map { i =>
      (s"T $id $i & co",
        s"https://n.ex/$id/$i",
        s"<p>Body $id.$i <b>k ${(id * 7 + i) % 43}</b> &amp; tail</p>")
    }
    Multimodal.Media(id,
      Feeds.syntheticFeed(atom = id % 2 == 1, items, cdata = i => (id + i) % 2 == 0),
      "application/xml")
  }

  /** The q_rtf_text fixture (round 13): 1 + id%2 paragraphs (even
    * ones carrying a nested bold group mid-word), header tables and an
    * ignorable generator group that must not leak, and on id%4=1 a
    * unicode paragraph mixing \'hh Latin-1 bytes with \uN?-escaped BMP
    * chars whose '?' fallback must be skipped. */
  private def rtfMedia(id: Long): Multimodal.Media = {
    val paras = (0 until (1 + id % 2).toInt).map(k =>
      s"R$k D$id pct 50 end ${(id * 3 + k) % 71}")
    val uni = if (id % 4 == 1) Some(s"Café — d${id % 10}") else None
    Multimodal.Media(id, Rtf.syntheticRtf(paras, uni), "application/rtf")
  }

  /** The q_warc_wet fixture (round 13): a warcinfo record then
    * 1 + id%4 conversion records; text = two lines with a multi-byte
    * UTF-8 character on the odd slice (Content-Length counts BYTES —
    * a char-counted writer or reader breaks framing for every record
    * after it); per-record gzip members on id%3=0. */
  private def wetMedia(id: Long): Multimodal.Media = {
    val texts = (0 until (1 + id % 4).toInt).map { i =>
      val mark = if ((id + i) % 2 == 1) "é" else "e" // é is 2 UTF-8 bytes
      (s"https://cc.org/$id/$i",
        s"WET $id.$i line one $mark\nsecond ${(id * 5 + i) % 83}")
    }
    Multimodal.Media(id, Warc.syntheticWet(texts, gzipped = id % 3 == 0),
      "application/warc")
  }

  /** The q_odt_text fixture (round 13): 1 + id%3 paragraphs, each
    * split mid-word into nested spans; a tab on the (id+k)%3=0 slice,
    * a TWO-SPACE run (the text:s element) on the others, '&' through
    * entity escape everywhere. */
  private def odtMedia(id: Long): Multimodal.Media = {
    val nP = (1 + id % 3).toInt
    val paras = (0 until nP).map { k =>
      val sep = if ((id + k) % 3 == 0) "\t" else "  "
      val t = s"O$k${sep}D$id & s=${(id * 7 + k) % 61}"
      val c1 = math.min(2, t.length)
      Seq(t.substring(0, c1), t.substring(c1))
    }
    Multimodal.Media(id, Docs.syntheticOdt(paras),
      "application/vnd.oasis.opendocument.text")
  }

  private def routerMedia(id: Long): Multimodal.Media = {
    val t = s"Doc $id body ${id * 3 % 97}"
    val bytes: Array[Byte] = (id % 9) match {
      case 0 => Pdf.syntheticPdf("1.4", _ => Seq(t), 1, 0, octalAll = false,
        flate = _ => id % 2 == 0, filterArray = false, twoStreams = _ => false,
        indirectLength = false, outOfOrder = false, nested = false, encrypted = false)
      case 1 => Docs.syntheticDocx(Seq(Seq(t)), storedParts = false)
      case 2 => Docs.syntheticEpub(
        Seq(("c0.xhtml", s"<html><body><p>$t</p></body></html>")), Seq(0), None)
      case 3 => Mail.syntheticMbox(Seq(
        Mail.syntheticMessage("a@x", "b@x", "s", t, 0, 0, foldTo = false)))
      case 4 => s"<html><head></head><body><p>$t</p></body></html>".getBytes("UTF-8")
      case 5 => (s"\\documentclass{article}\n\\begin{document}\n$t\n" +
        "\\end{document}\n").getBytes("UTF-8")
      case 6 =>
        val plain = s"<!DOCTYPE html><html><body><p>$t</p></body></html>".getBytes("UTF-8")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(plain); gz.close()
        bos.toByteArray
      case 7 => Docs.syntheticOdt(Seq(Seq(t)))
      case _ => Rtf.syntheticRtf(Seq(t), None)
    }
    Multimodal.Media(id, bytes, "application/octet-stream")
  }

  // ------------------------------------------------------------------
  // Fixture-bytes cache (round 15, VERDICT r14 task 3 — bench
  // hygiene): the compressed-fixture families (per-row bz2 multistream
  // dumps, xz/zstd jsonl shards) are synthesized INSIDE the map stage,
  // so a timed bench rep measured fixture-ENCODER + engine — and the
  // encoders are exactly what memory-pressure interference amplifies,
  // which made q_wiki_pages / q_wiki_slice_pages / q_jsonl_shard the
  // perennial bench outliers. Construction is deterministic per id, so
  // a JVM-wide cache makes every rep after the first measure scan +
  // decode only; Bench's min-of-reps then records the ENGINE. Bounded:
  // ≤ |documents| entries of ~1-2 KB per family, built once per
  // executor JVM. Verify semantics are untouched — same bytes, the
  // construction just replays once.
  // ------------------------------------------------------------------
  private val fixtureBytes =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), AnyRef]
  private def cachedFixture[T <: AnyRef](family: String, id: Long)(build: => T): T =
    fixtureBytes.computeIfAbsent((family, id), _ => build).asInstanceOf[T]

  /** The same discipline applied to a WHOLE media fixture at the query
    * wiring (r15 optimization, extending the round-15 fixture-bytes cache
    * to every synthesized family): rep 1 builds the bytes, every later rep
    * in the JVM measures scan + decode only — Bench's min-of-reps then
    * records the ENGINE, not the fixture encoder (VERDICT r14 task 3's
    * posture). Media is immutable, construction is deterministic per id,
    * and the entries are KB-scale synthetic payloads, so the memo is
    * bounded by |documents| per family. */
  private def cachedMedia(family: String)(build: Long => Multimodal.Media): Long => Multimodal.Media =
    id => cachedFixture(family, id)(build(id))

  /** The q_wiki_pages fixture (round 13): 1 + id%3 pages; page j has
    * an entity-carrying title on (id+j)%4=0, ns cycling 0/1/14,
    * page_id = id*10+j, a redirect on (id+j)%5=0, and a self-closing
    * empty text on (id+j)%7=0 (else an entity-carrying body).
    * Compression cycles plain/gzip/bz2-multistream by id%3. */
  private def wikiDumpMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val pages = (0 until n).map { j =>
      val title = if ((id + j) % 4 == 0) s"A & B $id/$j" else s"Page $id/$j"
      val ns = ((id + j) % 3) match { case 0 => 0; case 1 => 1; case _ => 14 }
      val redirect = if ((id + j) % 5 == 0) s"R $id" else ""
      val text = if ((id + j) % 7 == 0) "" else s"w $id $j & end"
      (title, ns, id * 10 + j, redirect, text)
    }
    Multimodal.Media(id,
      cachedFixture("wikiDump", id)(Wiki.syntheticDump(pages, (id % 3).toInt)),
      "application/xml")
  }

  /** The q_wiki_text fixture (round 13): one wikitext doc exercising
    * every strip rule; the oracle replays the exact extracted prose. */
  private def wikitextMedia(id: Long): Multimodal.Media = {
    val a = id % 9; val b = id % 7
    val src =
      s"""== H$id ==
         |'''Bold$a''' and ''it$b'' text. <!-- hidden $id -->
         |{{infobox|name=x$id|val={{nested|y}}}}
         |A [[Target $a]] and [[T$b|label $b]] link.<ref>cite $id</ref>
         |[[File:Img$id.png|thumb|cap [[inner $id]]]]
         |[[Category:Cat$a]]
         |{| class="wikitable"
         ||-
         || cell$id || c2
         ||}
         |* item$a
         |# item$b
         |See [https://e.org/$id site $id] and [https://e.org/bare].<ref name="n$id" />
         |End &amp; fin$id.
         |""".stripMargin
    Multimodal.Media(id, src.getBytes("UTF-8"), "text/x-wiki")
  }

  /** The q_multimodal_video_webp_hashes fixture (round 14): a REAL
    * animated WebP — full VP8L keyframe, sub-rect overwrite,
    * dispose-to-background rect, half-transparent blend rect — with
    * closed-form grays per region and the VP8L encoder variant cycling
    * per frame (the 16-px blend rect skips the >16-color palette
    * variant). */
  private def webpAnimMedia(id: Long): Multimodal.Media = {
    val c = (id % 40).toInt
    val f0 = Array.tabulate(18 * 16)(i => (c * 31 + (i % 18) * 7 + (i / 18) * 13) % 176)
    val f1 = Array.tabulate(8 * 6)(i => (c + (i % 8) * 11 + (i / 8) * 3) % 200)
    val f2 = Array.tabulate(6 * 4)(i => (c + (i % 6) * 5 + (i / 6) * 7) % 150)
    val f3 = Array.tabulate(4 * 4)(i => (c + (i % 4) * 9 + (i / 4) * 2) % 120)
    val v3 = Seq(0, 1, 2, 3, 5)((id % 5).toInt)
    Multimodal.Media(id, graft.llm.Vp8l.syntheticWebpAnim(18, 16, 10, Seq(
      (0, 0, 18, 16, f0, 255, false, false, (id % 6).toInt),
      (4, 6, 8, 6, f1, 255, false, false, ((id + 1) % 6).toInt),
      (2, 2, 6, 4, f2, 255, false, true, ((id + 2) % 6).toInt),
      (12, 2, 4, 4, f3, 128, true, false, v3))), "image/webp")
  }

  /** The q_wiki_slices fixture (round 14): a REAL multistream dump of
    * P = 4 + id%3 pages across S = 2 + id%2 page streams (page i →
    * stream i·S/P, exact integer arithmetic the oracle replays), plus
    * its REAL bz2 index. Titles carry a ':' so only the index line's
    * first two colons may delimit. */
  private def wikiMsFixture(id: Long): (Array[Byte], Array[Byte]) =
    cachedFixture("wikiMs", id) {
      val p = (4 + id % 3).toInt
      val s = (2 + id % 2).toInt
      val pages = (0 until p).map(i =>
        (s"Pg $id:$i", 0, id * 100 + i, "", s"body $id $i"))
      Wiki.syntheticMultistreamIndexed(pages, s)
    }

  /** The q_pipeline_wiki fixture (round 13): docs 2k and 2k+1 carry
    * the SAME prose behind DIFFERENT id-stamped comments and
    * templates — extraction is what makes them collide. */
  private def wikiPairMedia(id: Long): Multimodal.Media = {
    val base = id / 2
    val text = s"Base $base <!-- n$id --> mid {{stamp|$id}} tail ${base % 11}"
    Multimodal.Media(id,
      Wiki.syntheticDump(Seq((s"P $id", 0, id, "", text)), (id % 3).toInt),
      "application/xml")
  }

  /** The q_normalize_text fixture (round 13): id%3 cycles a mojibake
    * slice (UTF-8 "Café" mis-decoded as Latin-1 — the repair is an
    * exact byte round-trip), a typography slice, and an NFKC +
    * zero-width slice (fullwidth letters, a circled digit, ZWSP). */
  private def normalizeSrc(id: Long): String = (id % 3) match {
    case 0 => s"CafÃ© $id"
    case 1 => s"“q $id” — it’s … ok now"
    case _ => s"A​b $id ＡＢ ①"
  }

  /** The q_pipeline_provenance fixture (round 13): 3 + id%3 captures
    * cycling allowed (/p…), denied (/private/…), and allow-override
    * (/private/ok/…) paths by (id+j)%3 — longest-match REP precedence
    * is load-bearing on the third slice. */
  private def provenanceCdxMedia(id: Long): Multimodal.Media = {
    val caps = (0 until (3 + id % 3).toInt).map { j =>
      val path = ((id + j) % 3) match {
        case 0 => s"/p$j"
        case 1 => s"/private/x$j"
        case _ => s"/private/ok/y$j"
      }
      (s"http://www.d${id % 5}.org$path", "20260101000000", s"""{"status":"200"}""")
    }
    Multimodal.Media(id, Crawl.syntheticCdx(caps, (id % 3).toInt), "application/cdxj")
  }

  /** The q_html_tables fixture (round 13): one header row + 1 + id%3
    * data rows; the (id+j)%4 slice spans its middle cell over two
    * columns so the trailing cell lands at col 3, and the last cell
    * carries an entity. */
  private def tableMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val rows = (0 until n).map { j =>
      val mid =
        if ((id + j) % 4 == 0) s"""<td colspan="2">w$j $id</td>"""
        else s"<td>b$j</td>"
      s"<tr><td>a$id</td>$mid<td>x&amp;y $j</td></tr>"
    }
    val html = s"<html><body><p>prose</p><table><tr><th>H0</th>" +
      s"<th>H1 $id</th><th>H2</th></tr>${rows.mkString}</table></body></html>"
    Multimodal.Media(id, html.getBytes("UTF-8"), "text/html")
  }

  /** The q_md_frontmatter fixture (round 13): three scalar keys (the
    * title quoted) on two of three slices; id%3=2 has no fence. */
  private def frontMatterSrc(id: Long): String =
    if (id % 3 == 2) s"# Plain doc $id\nno metadata here\n"
    else
      s"""---
         |title: "Post $id"
         |date: 2026-01-0${1 + id % 9}
         |tags: alpha${id % 9}
         |---
         |# Body $id
         |""".stripMargin

  /** The q_url_surt fixture (round 13): mixed-case url with www, a
    * port that is default on the even slice and explicit otherwise,
    * unsorted query params, and a fragment; id%5=0 is already a key
    * (no scheme) and must pass through lowercased. */
  private def surtUrl(id: Long): String =
    if (id % 5 == 0) s"ORG,key$id)/P"
    else s"HTTP://WWW.Ex${id % 7}.ORG:${if (id % 2 == 0) 80 else 8080}" +
      s"/Path$id/x?b=${id % 3}&a=$id#frag"

  /** The q_cdx_records fixture (round 13): 1 + id%3 captures whose
    * urlkeys go through the REAL surt transform; status 404 on the
    * (id+j)%4 slice; codec by id%3. */
  private def cdxMedia(id: Long): Multimodal.Media = {
    val caps = (0 until (1 + id % 3).toInt).map { j =>
      val url = s"http://www.s${id % 7}.org/p$j?x=$id"
      val ts = s"2026010${1 + (id + j) % 9}000000"
      val json = s"""{"url":"$url","status":"${if ((id + j) % 4 == 0) 404 else 200}",""" +
        s""""length":"${100 + (id * 3 + j) % 500}"}"""
      (url, ts, json)
    }
    Multimodal.Media(id, Crawl.syntheticCdx(caps, (id % 3).toInt), "application/cdxj")
  }

  /** The q_diff_hunks fixture (round 13): one file, two hunks — sizes
    * keyed to id so the @@ arithmetic (incl. the delta-shifted second
    * new_start) is load-bearing. */
  private def diffMedia(id: Long): Multimodal.Media = {
    val r0 = (1 + id % 2).toInt
    val a0 = (1 + id % 3).toInt
    Multimodal.Media(id, graft.llm.Diff.syntheticDiff(Seq(
      (s"src/f$id.txt", Seq(
        (2, Seq(s"c0 $id"), (0 until r0).map(k => s"o$k $id"),
          (0 until a0).map(k => s"n$k $id"), Seq(s"c1 $id")),
        (8, Seq.empty, Seq(s"o9 $id"), Seq(s"n9 $id", s"n10 $id"),
          Seq(s"c2 $id")))))), "text/x-diff")
  }

  /** The q_diff_apply fixture (round 13): a substitution hunk against
    * the constant 8-line original; the id%7 slice plants a context
    * mismatch that must fail verification. */
  private def diffApplyMedia(id: Long): Multimodal.Media = {
    val pre = if (id % 7 == 0) "BAD" else "l3"
    Multimodal.Media(id, graft.llm.Diff.syntheticDiff(Seq(
      ("a.txt", Seq((3, Seq(pre), Seq("l4"),
        Seq(s"n1 $id", s"n2 $id"), Seq("l5")))))), "text/x-diff")
  }

  /** The q_sentences fixture (round 13): six sentences with every
    * splitter trap — an abbreviation (Dr.), a terminator variety
    * (!/?), a digit-led next sentence, an interior decimal, and
    * initials (J. K.). */
  private def sentenceText(id: Long): String = {
    val a = id % 9; val b = id % 7
    s"First sentence $id is here. Second one mentions Dr. Smith and $a things! " +
      s"Is this third? Yes it is. 3.14 stays here. J. K. wrote $b books."
  }

  /** The q_script_profile fixture (round 13): concatenated script runs
    * with planted counts — dominant script (9 + id%7 chars) by id%4,
    * fixed small counts for the rest (latin 3 / cyrillic 2 / arabic 1 /
    * cjk 2 when not dominant), id%3 digits, id%2 punctuation, no
    * spaces, no greek. */
  private def scriptText(id: Long): String = {
    val dom = (9 + id % 7).toInt
    val nl = if (id % 4 == 0) dom else 3
    val nc = if (id % 4 == 1) dom else 2
    val nj = if (id % 4 == 2) dom else 2
    val na = if (id % 4 == 3) dom else 1
    ("a" * nl) + ("д" * nc) + ("中" * nj) + ("ش" * na) +
      ("7" * (id % 3).toInt) + ("!" * (id % 2).toInt)
  }

  /** The q_pipeline_corpus fixture (round 13): one shard per doc,
    * three records — record 0 passes every Gopher gate (8 stopword
    * types + 48 short alpha words = 56 words, mean length in [3,10])
    * and is SHARED across the doc pair via its base; record 1 fails
    * minWords; record 2 fails the stopword gate (60 words, zero
    * required stopwords). Codec by id%5. */
  private def corpusShardMedia(id: Long): Multimodal.Media = {
    val base = id / 2
    val good = s"the be to of and that have with pipeline$base " +
      (0 until 48).map(k => s"w${(base * 7 + k) % 97}x").mkString(" ")
    val noStop = (0 until 60).map(k => s"zz${(id + k) % 53}q").mkString(" ")
    val lines = Seq(
      s"""{"id":${id * 3},"text":"$good"}""",
      s"""{"id":${id * 3 + 1},"text":"too short"}""",
      s"""{"id":${id * 3 + 2},"text":"$noStop"}""")
    Multimodal.Media(id, Archives.syntheticJsonl(lines, (id % 5).toInt),
      "application/jsonl")
  }

  /** The q_stackexchange_posts fixture (round 13): 1 + id%3 rows;
    * row j is a question iff (id+j)%2 = 0 (Title/Tags present only
    * then, the dump convention), score can be negative, body is
    * entity-encoded HTML carrying a literal '&', codec by id%3. */
  private def seMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 3).toInt
    val rows = (0 until n).map { j =>
      (id * 10 + j, (1 + (id + j) % 2).toInt, ((id * 3 + j) % 50 - 5).toInt,
        s"Q title $id/$j & more", Seq(s"t${id % 5}", s"u$j"),
        s"<p>body $j of $id & rest</p>")
    }
    Multimodal.Media(id,
      graft.llm.StackExchange.syntheticPosts(rows, (id % 3).toInt),
      "application/xml")
  }

  /** The q_pipeline_crawl fixture (round 13): docs 2k and 2k+1 carry
    * the SAME main paragraph behind DIFFERENT id-stamped nav/footer
    * chrome — removing boilerplate is what makes them collide. Gzip on
    * odd ids keeps the codec path load-bearing inside the pipeline. */
  private def warcPairMedia(id: Long): Multimodal.Media = {
    val base = id / 2
    val html =
      s"<html><body><nav><a href='/'>site nav $id</a> <a href='/x'>more $id</a></nav>" +
        s"<p>Shared long paragraph about base $base with enough words to pass " +
        s"the length gate, number ${base % 13}.</p>" +
        s"<footer>footer chrome $id</footer></body></html>"
    Multimodal.Media(id, Warc.syntheticWarc(1, _ => s"https://e.org/$id",
      _ => (200, "OK"), _ => html, gzipped = id % 2 == 1, withRequests = false,
      lowerCaseHeaders = false, infoLen = 8), "application/warc")
  }

  /** The q_embed_pca fixture (round 13): x = μ + a1·v1 + a2·v2 with
    * v1 = (1,1,1,1)/2, v2 = (1,−1,1,−1)/2, a1 = 2·(1−2(id%2))·(1+id%5),
    * a2 = (1−2⌊(id%4)/2⌋)·(1+id%5). Amplitudes are exactly balanced and
    * uncorrelated whenever N%20 = 0 (true at every sf: 500/5000/50000),
    * so the population covariance is EXACTLY 44·v1v1ᵀ + 11·v2v2ᵀ in
    * double arithmetic (half-integer components, integer sums ≪ 2^53 —
    * exact regardless of reduce order) and the PCA scores are the
    * planted integer amplitudes. */
  private def pcaEmb(id: Long): Array[Double] = {
    val m5 = (id % 5).toDouble + 1.0
    val a1 = 2.0 * (1 - 2 * (id % 2)) * m5
    val a2 = (1 - 2 * ((id % 4) / 2)) * m5
    Array.tabulate(4)(c =>
      (c + 1).toDouble + a1 * 0.5 + a2 * (if (c % 2 == 0) 0.5 else -0.5))
  }

  /** The q_jsonl_shard fixture (round 13): 1 + id%4 records, codec by
    * id%5 (the zstd slice writes TWO frames — the seekable layout);
    * id%6=0 interleaves a blank line after record 0, which must skip
    * without consuming a line_idx slot. */
  private def jsonlMedia(id: Long): Multimodal.Media = {
    val n = (1 + id % 4).toInt
    val recs = (0 until n).map { j =>
      s"""{"id":${id * 100 + j},"text":"line $j of doc $id","lang":"${
        if ((id + j) % 2 == 0) "en" else "de"}"}"""
    }
    val lines = if (id % 6 == 0) recs.take(1) ++ Seq("") ++ recs.drop(1) else recs
    Multimodal.Media(id,
      cachedFixture("jsonl", id)(Archives.syntheticJsonl(lines, (id % 5).toInt)),
      "application/jsonl")
  }

  /** The q_html_blocks / q_html_main_content fixture (round 13): a
    * full page whose seven blocks exercise every classification path —
    * a short title, a nav (chrome container, all links), a short
    * heading, THE content paragraph (long, one inline link under the
    * density bar), a short paragraph, a link farm (long enough but
    * over the density bar), and a footer (chrome). */
  private def boilerMedia(id: Long): Multimodal.Media = {
    val a = id % 9; val b = id % 7
    val html =
      s"""<html><head><title>T $id</title><script>var x = $id;</script></head>
         |<body>
         |<nav><a href="/">Home $id</a> <a href="/b">Browse</a></nav>
         |<h1>Heading $id</h1>
         |<p>This is the long main paragraph number $id with plenty of words to pass the length gate and one <a href="/x">link $a</a> inside.</p>
         |<p>Short $b.</p>
         |<div><a href="/1">more articles $id</a> and <a href="/2">even more links here</a></div>
         |<footer>Copyright $id Example Corp</footer>
         |</body></html>
         |""".stripMargin
    Multimodal.Media(id, html.getBytes("UTF-8"), "text/html")
  }

  /** The q_markdown_text fixture (round 13): every rule a trap — a
    * fence wrapping droppable code, emphasis inside prose, inline and
    * reference links, an image whose alt must survive, a blockquote
    * with an entity, a setext heading whose underline must vanish
    * without taking the heading, and a reference definition line. */
  private[graft] def mdSrc(id: Long): String =
    s"""# Title $id
       |
       |Intro *bold* and [link ${id % 29}](http://u/$id) plus `x = ${id % 13}` end.
       |
       |```scala
       |val dropped = $id
       |```
       |
       |- item one ${id % 23}
       |- item two
       |
       |> quote ${id % 31} &amp; tail
       |
       |![alt ${id % 19}](img.png)
       |Setext H
       |---
       |[ref]: http://gone/$id
       |""".stripMargin

  /** The q_tar_entries fixture (round 13): 2 + id%4 text members under
    * a directory entry (id%3=0 slice), a skipped pax header member on
    * id%5=0 (offset accounting must still advance), gzip on odd ids.
    * Contents are prefix + 'a'-padding to a formula size so the oracle
    * rebuilds the exact string AND the 512-block offset arithmetic. */
  private def tarMedia(id: Long): Multimodal.Media = {
    val nF = (2 + id % 4).toInt
    val members = Seq.newBuilder[(String, Char, Array[Byte])]
    if (id % 3 == 0) members += ((s"d$id/", '5', Array.emptyByteArray))
    if (id % 5 == 0) members += (("pax", 'x',
      Array.tabulate[Byte]((17 + id % 9).toInt)(j => ('p' + j % 11).toByte)))
    (0 until nF).foreach { i =>
      val size = (20 + (id + 3 * i) % 40).toInt
      val prefix = s"c$id-$i-"
      val content = prefix + "a" * (size - prefix.length)
      members += ((s"d$id/f${id}_$i.txt", '0', content.getBytes("UTF-8")))
    }
    Multimodal.Media(id, Archives.syntheticTar(members.result(), gzipped = id % 2 == 1),
      "application/x-tar")
  }

  /** The q_webdataset_samples fixture (round 13): 2 + id%3 samples of
    * consecutive (key.jpg, key.txt[, key.json]) members, a leading
    * non-file directory entry on id%4=0 (grouping must ignore it), gzip
    * on id%3=1. */
  private def wdsMedia(id: Long): Multimodal.Media = {
    val nS = (2 + id % 3).toInt
    val members = Seq.newBuilder[(String, Char, Array[Byte])]
    if (id % 4 == 0) members += (("wds/", '5', Array.emptyByteArray))
    (0 until nS).foreach { k =>
      val key = s"s${id}_$k"
      members += ((s"$key.jpg",
        '0', Array.tabulate[Byte]((30 + (id + k) % 50).toInt)(j => ((j * 7 + k) % 256).toByte)))
      members += ((s"$key.txt", '0', s"cap $id $k".getBytes("UTF-8")))
      if ((id + k) % 2 == 0) members += ((s"$key.json", '0', "{}".getBytes("UTF-8")))
    }
    Multimodal.Media(id, Archives.syntheticTar(members.result(), gzipped = id % 3 == 1),
      "application/x-tar")
  }

  /** The q_subtitle_cues fixture (round 13): SRT on even ids, WebVTT
    * (with its NOTE block) on odd — settings-after-the-arrow on id%4=1,
    * cue identifiers on id%4=3; timings by formula; cue text carries
    * inline <i> markup and a second line on the (id+i)%3=0 slice so the
    * multi-line join + HTML-clean composition are load-bearing. */
  private def subMedia(id: Long): Multimodal.Media = {
    val nC = (2 + id % 4).toInt
    val cueList = (0 until nC).map { i =>
      val start = (id % 500) * 10 + i * 2000
      val end = start + 500 + (id * 7 + i * 13) % 1500
      val lines = Seq(s"Line ${(id + i) % 97} <i>em</i>") ++
        (if ((id + i) % 3 == 0) Seq(s"and ${(id * 3 + i) % 89}") else Nil)
      (start, end, lines)
    }
    Multimodal.Media(id,
      Subtitles.synthetic(cueList, vtt = id % 2 == 1,
        vttSettings = id % 4 == 1, vttIds = id % 4 == 3).getBytes("UTF-8"),
      if (id % 2 == 1) "text/vtt" else "application/x-subrip")
  }

  /** The q_pipeline_wds_media fixture (round 13): WebDataset shards of
    * (key.bmp, key.txt) samples whose BMP pixels follow the
    * [[dhashMedia]] arithmetic on sid = doc_id·4 + k — so the oracle's
    * dHash replay only matches if the shard walk, the sample grouping,
    * AND the pixel decode are all correct. gzip on odd ids. */
  private def wdsHashMedia(id: Long): Multimodal.Media = {
    val nS = (2 + id % 2).toInt
    val members = Seq.newBuilder[(String, Char, Array[Byte])]
    (0 until nS).foreach { k =>
      val sid = id * 4 + k
      val gray = Array.tabulate(18 * 16) { i =>
        val x = i % 18
        val y = i / 18
        (((sid % 40) * 31 + x * 7 + y * 13) % 176).toInt +
          (if (x < 2 && y < 2) (((sid / 40) % 3) * 40).toInt else 0)
      }
      members += ((s"m${id}_$k.bmp", '0', Multimodal.syntheticBmpPixels(18, 16, gray)))
      members += ((s"m${id}_$k.txt", '0', s"cap $id $k".getBytes("UTF-8")))
    }
    Multimodal.Media(id, Archives.syntheticTar(members.result(), gzipped = id % 2 == 1),
      "application/x-tar")
  }

  /** The q_zip_entries fixture (round 13): written by the JDK's own
    * ZipOutputStream (independent of our central-directory reader);
    * 2 + id%3 members, STORED on the (id+i)%3=0 slice, DEFLATE
    * otherwise; contents prefix + 'b'-padding to a formula size. */
  private[graft] def zipText(id: Long, i: Int): String = {
    val size = (15 + (id + i) % 30).toInt
    val prefix = s"z$id-$i-"
    prefix + "b" * math.max(0, size - prefix.length)
  }
  private def zipMedia(id: Long): Multimodal.Media = {
    val nE = (2 + id % 3).toInt
    val entries = (0 until nE).map { i =>
      (s"e$id/$i.txt", zipText(id, i).getBytes("UTF-8"), (id + i) % 3 == 0)
    }
    Multimodal.Media(id, Archives.syntheticZip(entries), "application/zip")
  }

  /** The q_multimodal_avi_meta fixture (round 13): a complete RIFF/AVI
    * tree — avih fields all formula-driven, an audio strl on id%3=0
    * (n_tracks 2), a JUNK chunk of ODD length on id%4=1 (the RIFF
    * pad-byte path is load-bearing), movi payload chunks whose lengths
    * go odd by formula (more pad bytes), idx1. duration =
    * frames·microSecPerFrame with both factors id-formulas chosen so
    * the division is exact in integer SQL. */
  private def aviMedia(id: Long): Multimodal.Media = {
    Multimodal.Media(id,
      Containers.syntheticAvi(
        w = (320 + id % 128).toInt, h = (240 + id % 64).toInt,
        microSecPerFrame = 1000L * (20 + id % 30),
        totalFrames = 100 + id % 50,
        audioStream = id % 3 == 0,
        moviChunks = (2 + id % 4).toInt,
        chunkLen = i => (64 + (id + i * 17) % 99).toInt,
        junkLen = if (id % 4 == 1) (7 + id % 10).toInt else 0,
        videoHandler = Seq("MJPG", "XVID", "H264")((id % 3).toInt)),
      "video/avi")
  }

  /** The q_multimodal_audio_tags fixture (round 13): ONE (title, artist,
    * album) triple per id, stored through FOUR tag families by id%4 —
    * ID3v2 text frames inside a real MP3 (v2.3 plain / v2.4 syncsafe
    * frame sizes, encodings Latin-1 / UTF-16-with-BOM / UTF-8 cycling,
    * trailing padding), a Vorbis-comment / OpusTags header page inside
    * a real Ogg (lowercase keys on the id%8=1 slice — the spec's
    * case-insensitivity is load-bearing), and the iTunes-style
    * udta/meta/ilst chain inside a real M4A (the `meta` FULL-box
    * version/flags offset is the classic trap), and a RIFF `LIST INFO`
    * chunk inside a real WAV (INAM/IART/IPRD, NUL-terminated values).
    * The oracle replays only the strings, so every walk must be
    * tag-format-blind. */
  private def tagMedia(id: Long): Multimodal.Media = {
    val title = s"ttl ${id % 97}"
    val artist = s"art ${id * 7 % 89}"
    val album = s"alb ${id * 13 % 83}"
    (id % 4) match {
      case 0 =>
        val payload = Multimodal.id3FramesPayload(
          version = if (id % 2 == 0) 4 else 3,
          frames = Seq(("TIT2", title), ("TPE1", artist), ("TALB", album)),
          encoding = Seq(0, 1, 3)(((id / 3) % 3).toInt),
          padding = (10 + id % 20).toInt)
        Multimodal.Media(id,
          Multimodal.syntheticMp3(version1 = true, srIdx = (id % 3).toInt,
            frames = Seq((5, 0), (9, 1)), id3Payload = payload,
            id3Version = if (id % 2 == 0) 4 else 3),
          "audio/mpeg")
      case 1 =>
        val lower = id % 8 == 1
        def k(s: String) = if (lower) s.toLowerCase else s
        Multimodal.Media(id,
          Containers.syntheticOgg(
            vorbis = id % 2 == 1, rate = 8000, channels = 1,
            serial = (id % 7 + 1).toInt, dataPages = 2, pageLen = _ => 60,
            granuleStep = 256,
            comments = Seq((k("TITLE"), title), (k("ARTIST"), artist), (k("ALBUM"), album)),
            vendor = s"v${id % 5}"),
          "audio/ogg")
      case 2 => // M4A/MP4: the iTunes-style udta/meta/ilst chain
        Multimodal.Media(id,
          Containers.syntheticMp4(
            brands = 1, mvhdV1 = id % 2 == 0, timescale = 1000,
            duration = 2000L + (id % 7) * 500, w = 0, h = 0, nVideoSamples = 0,
            audioTrack = true, mdatLen = (30 + id % 20).toInt,
            tags = Seq(("©nam", title), ("©ART", artist), ("©alb", album))),
          "audio/mp4")
      case _ => // WAV: RIFF LIST INFO appended after the data chunk
        Multimodal.Media(id,
          Multimodal.withWavInfo(
            Multimodal.syntheticWavPcm(8000,
              Array.tabulate(200)(j => ((id % 17) * 13 + j * 7).toInt % 2001 - 1000)),
            Seq(("INAM", title), ("IART", artist), ("IPRD", album))),
          "audio/wav")
    }
  }

  private def mp3Media(id: Long): Multimodal.Media = {
    val v1 = id % 2 == 0
    val srIdx = (id % 3).toInt
    val nFrames = (40 + id % 20).toInt
    val frames = (0 until nFrames).map(j =>
      ((1 + (id + j) % 14).toInt, ((id + j * 7) % 2).toInt))
    val id3 = Array.tabulate[Byte]((100 + id % 50).toInt)(j =>
      (((id % 83) * 31 + j * 17) % 256).toByte)
    Multimodal.Media(id,
      Multimodal.syntheticMp3(v1, srIdx, frames, id3,
        channels = if (id % 5 == 0) 2 else 1, trailingTag = id % 4 == 1),
      "audio/mpeg")
  }

  /** The q_multimodal_audiohash/audio_neardup fixture: 1950 samples
    * (65 frames × 30 exactly, so the floor frame map is j / 30) whose
    * value at j is pure integer arithmetic on (doc_id, j) in
    * [−2000, 2000], plus a first-frame boost keyed by (doc_id / 40) % 3
    * that moves exactly one envelope bit; rendered through a REAL 16-bit
    * PCM WAV so the sample decode is load-bearing. */
  private def audioMedia(id: Long): Multimodal.Media = {
    val samples = Array.tabulate(1950) { j =>
      val s = (((id % 40) * 17 + j * 31) % 4001 - 2000).toInt
      if (j < 30) s + (((id / 40) % 3) * 500).toInt else s
    }
    Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
  }

  /** [[audioMedia]]'s waveform re-exported at an encoding keyed by
    * id % 8 — WAV int16, WAV int24 (<<8), WAV IEEE float32 (s/32768),
    * EXTENSIBLE-wrapped int16, a REAL FLAC stream, a big-endian AIFF,
    * a big-endian AU, or an AIFF-C (round 12: "sowt" byte-swapped
    * int16 for even ids — the Mac rip default — "NONE" otherwise) —
    * every one of which decodes back to the exact int16 samples, so
    * the envelope replay is encoding-blind (FLAC is lossless; AIFF/AU/
    * AIFC are just byte-order games; every decoder normalizes
    * identically). */
  private def audioCrossMedia(id: Long): Multimodal.Media = {
    val samples = Array.tabulate(1950) { j =>
      val s = (((id % 40) * 17 + j * 31) % 4001 - 2000).toInt
      if (j < 30) s + (((id / 40) % 3) * 500).toInt else s
    }
    encodeAudioCross(id, samples)
  }

  /** The id%8 lossless re-export dispatch shared by [[audioCrossMedia]]
    * and [[audioStatsMedia]] — every branch decodes back to the exact
    * int16 samples. */
  private[graft] def encodeAudioCross(id: Long, samples: Array[Int]): Multimodal.Media = {
    val (bytes, mime) = (id % 8) match {
      case 0 => (Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
      case 1 => (Multimodal.syntheticWav(8000, samples, "pcm24"), "audio/wav")
      case 2 => (Multimodal.syntheticWav(8000, samples, "float32"), "audio/wav")
      case 3 => (Multimodal.syntheticWav(8000, samples, "ext16"), "audio/wav")
      case 4 => (graft.llm.Flac.synthetic(8000, samples, blockSize = 256,
        strategy = "fixed2"), "audio/flac")
      case 5 => (Multimodal.syntheticAiff(8000, samples), "audio/aiff")
      case 6 =>
        val d = new Array[Byte](samples.length * 2)
        var j = 0
        while (j < samples.length) {
          d(2 * j) = (samples(j) >> 8).toByte; d(2 * j + 1) = samples(j).toByte; j += 1
        }
        (Multimodal.syntheticAu(8000, 3, d), "audio/basic")
      case _ => (Multimodal.syntheticAifc(8000, samples,
        if (id % 2 == 0) "sowt" else "NONE"), "audio/aiff")
    }
    Multimodal.Media(id, bytes, mime)
  }

  /** The q_video_scenes fixture (round 13): 12 frames in 2–3 scenes
    * with cut points c1 = 3 + id%3 and c2 = 7 + id%4; each scene
    * REWRITES the gradient field (x/y coefficients depend on the scene
    * index), so frame hashes are constant within a scene and jump at
    * cuts. Y4M on even ids, animated GIF on odd — both containers feed
    * the same kernel. */
  private def videoSceneMedia(id: Long): Multimodal.Media = {
    val w = 18
    val h = 16
    val c1 = (3 + id % 3).toInt
    val c2 = (7 + id % 4).toInt
    val frames = (0 until 12).map { f =>
      val sc = (if (f >= c1) 1 else 0) + (if (f >= c2) 1 else 0)
      Array.tabulate(w * h) { i =>
        val x = i % w
        val y = i / w
        (((id % 40) * 31 + x * (7 + sc * 3) + y * (13 + sc * 5) + sc * 57) % 176).toInt
      }
    }
    if (id % 2 == 0)
      Multimodal.Media(id, Multimodal.syntheticY4m(w, h, frames), "video/x-yuv4mpeg")
    else
      Multimodal.Media(id, Multimodal.syntheticGifAnimated(w, h, frames), "image/gif")
  }

  /** The q_audio_stats fixture (round 13): the [[audioCrossMedia]]
    * waveform with two curation-signal slices layered on — id%6=0
    * amplifies ×17 with a symmetric int16 clamp (real clipping, full-scale
    * runs), id%5=1 zeroes samples 600–899 (ten dead-air windows) —
    * then re-exported through the same id%8 lossless encoding
    * dispatch, so every decoder is load-bearing for the stats. */
  private[graft] def audioStatsSamples(id: Long): Array[Int] = Array.tabulate(1950) { j =>
    val base0 = (((id % 40) * 17 + j * 31) % 4001 - 2000).toInt
    val base = if (j < 30) base0 + (((id / 40) % 3) * 500).toInt else base0
    // the float32 slice (id%8=2) skips amplification: the documented
    // decode scale (round(clamp(f)*32767)) quantizes by <=1 LSB above
    // half scale, so full-scale samples are not bit-replayable there —
    // every other encoding is int16-exact at any amplitude
    val amp = if (id % 6 == 0 && id % 8 != 2)
      math.max(-32767, math.min(32767, base * 17)) else base
    if (id % 5 == 1 && j >= 600 && j < 900) 0 else amp
  }
  private def audioStatsMedia(id: Long): Multimodal.Media =
    encodeAudioCross(id, audioStatsSamples(id))

  /** The q_multimodal_ulaw_audiohash fixture: 1950 G.711 μ-law CODED
    * bytes straight from an integer formula on (doc_id, j) — the
    * expansion law (132·(2^e − 1) + m·2^(e+3), sign from the top bit)
    * is what's under test, and the oracle replays it term for term. */
  private def ulawMedia(id: Long): Multimodal.Media = {
    val data = Array.tabulate[Byte](1950)(j => (((id % 97) * 13 + j * 97) % 256).toByte)
    Multimodal.Media(id, Multimodal.syntheticAu(8000, 1, data), "audio/basic")
  }

  /** The A-law sibling of [[ulawMedia]]: a different byte formula
    * through AU encoding 27, decoded by [[Multimodal.alaw2linear]]. */
  private def alawMedia(id: Long): Multimodal.Media = {
    val data = Array.tabulate[Byte](1950)(j => (((id % 89) * 29 + j * 101) % 256).toByte)
    Multimodal.Media(id, Multimodal.syntheticAu(8000, 27, data), "audio/basic")
  }

  /** IMA ADPCM with CODED nibbles on the wire (one mono block, seeds
    * from a doc_id formula): the decoder's data-dependent predictor/
    * step-index walk is the thing under test — the one audio decode a
    * closed-form oracle can't replay, so its DuckDB twin is a
    * WITH RECURSIVE walk over the same step tables. */
  private def adpcmMedia(id: Long): Multimodal.Media = {
    val data = Array.tabulate[Byte](975)(j => (((id % 79) * 41 + j * 107) % 256).toByte)
    val seedPred = ((id % 61) * 53 - 1500).toInt
    val seedIdx = ((id * 7) % 89).toInt
    Multimodal.Media(id, Multimodal.syntheticWavAdpcmCoded(8000, seedPred, seedIdx, data),
      "audio/wav")
  }

  /** MS-ADPCM with CODED nibbles on the wire (one mono block): the
    * predictor index, seed delta, and the two priming samples all come
    * from doc_id formulas, spanning every coefficient pair. Unlike the
    * IMA twin, the payload nibbles can NOT be a raw byte formula —
    * MS-ADPCM's adaptive delta has no spec ceiling and uniform nibbles
    * grow it geometrically past Int — so they come from a TRACKING
    * encoder chasing a formula waveform, whose integer quantizer the
    * oracle replays inside the same WITH RECURSIVE decoder walk (the
    * predictor restates the arithmetic shift as a floor division). */
  private def msAdpcmMedia(id: Long): Multimodal.Media = {
    val bPred = (id % 7).toInt
    val seedDelta = (16 + (id % 50) * 7).toInt
    val samp1 = ((id % 89) * 73 - 3200).toInt
    val samp2 = ((id % 97) * 61 - 2900).toInt
    val targets = Array.tabulate(1950)(k =>
      (((id % 71) * 43 + k * 37) % 24001 - 12000).toInt)
    val (data, _, _) =
      Multimodal.msAdpcmTrackingNibbles(bPred, seedDelta, samp1, samp2, targets)
    Multimodal.Media(id,
      Multimodal.syntheticWavAdpcmMsCoded(8000, bPred, seedDelta, samp1, samp2, data),
      "audio/wav")
  }

  /** G.711 inside the RIFF container (format tags 6/7 — the telephony
    * WAV family): one byte formula on the wire, the law picked by
    * doc_id parity, decoded by the same [[Multimodal.alaw2linear]]/
    * [[Multimodal.ulaw2linear]] shared with the AU path. */
  private def wavG711Media(id: Long): Multimodal.Media = {
    val data = Array.tabulate[Byte](1950)(j => (((id % 83) * 37 + j * 103) % 256).toByte)
    val tag = if (id % 2 == 0) 6 else 7
    Multimodal.Media(id, Multimodal.syntheticWavG711(8000, tag, data), "audio/wav")
  }

  /** [[audioMedia]]'s waveform through a REAL FLAC stream, the codec
    * knobs cycling across the corpus so every decode path is
    * load-bearing somewhere: subframe strategy by id % 8 (constant→
    * fixed-2 fallback, verbatim, fixed 0–4 incl. the rice escape and
    * partition-order-2 residual forms, order-2 LPC), block size by
    * id % 3 (ragged tails included), and every third doc re-encoded as
    * mid/side or left/side STEREO with identical channels — the downmix
    * (l+r)/2 lands back on the mono waveform, so one oracle replays all
    * of it. */
  private def flacMedia(id: Long): Multimodal.Media = {
    val samples = Array.tabulate(1950) { j =>
      val s = (((id % 40) * 17 + j * 31) % 4001 - 2000).toInt
      if (j < 30) s + (((id / 40) % 3) * 500).toInt else s
    }
    val strategy = (id % 8) match {
      case 0 => "constant"
      case 1 => "verbatim"
      case 2 => "fixed0"
      case 3 => "fixed1"
      case 4 => "fixed3"
      case 5 => "lpc2"
      case 6 => "escape"
      case _ => "part2"
    }
    val blockSize = 150 + (id % 3).toInt * 53 // 150 / 203 / 256: ragged tails at 1950
    val bytes =
      if (id % 3 == 2) {
        val inter = new Array[Int](3900)
        var j = 0
        while (j < 1950) { inter(2 * j) = samples(j); inter(2 * j + 1) = samples(j); j += 1 }
        graft.llm.Flac.synthetic(8000, inter, blockSize = blockSize,
          strategy = if (strategy == "part2") "fixed2" else strategy,
          channels = 2, stereo = if (id % 2 == 0) "midside" else "leftside")
      } else graft.llm.Flac.synthetic(8000, samples, blockSize = blockSize,
        strategy = strategy)
    Multimodal.Media(id, bytes, "audio/flac")
  }

  /** [[videoFrames]] rendered through a real Y4M stream so the container
    * walk + luma read are load-bearing. */
  private def videoMedia(id: Long): Multimodal.Media = {
    val (w, h, frames) = (18, 16, videoFrames(id))
    Multimodal.Media(id, Multimodal.syntheticY4m(w, h, frames), "video/x-yuv4mpeg")
  }

  /** [[videoMedia]]'s 12 frames through a REAL ANIMATED GIF — grayscale
    * palette (luma == index), graphic-control extension before every
    * frame, odd frames interlaced on even ids. Same arithmetic → same
    * per-frame replay. */
  private def videoGifMedia(id: Long): Multimodal.Media = {
    val (w, h, frames) = (18, 16, videoFrames(id))
    Multimodal.Media(id,
      Multimodal.syntheticGifAnimated(w, h, frames, interlaceAlt = id % 2 == 0),
      "image/gif")
  }

  /** A DELTA-frame animated GIF (round 12): even frames are full-screen
    * opaque keyframes from the base formula, odd frames are sub-rect
    * deltas at (4,3) 8×6 whose pixels are TRANSPARENT when
    * (x+y+doc_id)%3=0 (the keyframe shows through) and a second formula
    * otherwise, with disposal restore-to-background / restore-to-
    * previous alternating across odd frames — the composited plane the
    * sampler must produce stays closed-form, so the oracle replays it
    * with one CASE. */
  private def videoGifDeltaMedia(id: Long): Multimodal.Media = {
    val w = 18
    val h = 16
    val (l, t, rw, rh) = (4, 3, 8, 6)
    def base(f: Int, x: Int, y: Int): Int =
      (((id % 40) * 31 + f * 53 + x * 7 + y * 13) % 176).toInt
    val frames = (0 until 12).map { f =>
      if (f % 2 == 0)
        (0, 0, w, h, Array.tabulate(w * h)(i => base(f, i % w, i / w)), 0)
      else {
        val px = Array.tabulate(rw * rh) { i =>
          val x = l + i % rw
          val y = t + i / rw
          if ((x + y + id) % 3 == 0) -1
          else (((id % 40) * 29 + f * 47 + (x - l) * 11 + (y - t) * 17) % 176).toInt
        }
        (l, t, rw, rh, px, if (f % 4 == 1) 2 else 3)
      }
    }
    Multimodal.Media(id, Multimodal.syntheticGifAnimatedDeltas(w, h, frames),
      "video/gif")
  }

  /** The q_multimodal_video_cross_container fixture: [[videoMedia]]'s
    * frames containered as Y4M (even ids) or animated GIF (odd ids). */
  private def videoCrossMedia(id: Long): Multimodal.Media = {
    val (w, h, frames) = (18, 16, videoFrames(id))
    (id % 3) match {
      case 0 =>
        Multimodal.Media(id, Multimodal.syntheticY4m(w, h, frames), "video/x-yuv4mpeg")
      case 1 =>
        Multimodal.Media(id, Multimodal.syntheticGifAnimated(w, h, frames), "image/gif")
      case _ =>
        // round 14: a THIRD container — animated WebP of full VP8L
        // keyframes (variant cycling per frame); the near-dup pairs
        // must form across all three boundaries, and the oracle stays
        // container-blind by construction
        Multimodal.Media(id, graft.llm.Vp8l.syntheticWebpAnim(w, h, 0,
          frames.zipWithIndex.map { case (fr, fi) =>
            (0, 0, w, h, fr, 255, false, false, fi % 6) }), "image/webp")
    }
  }

  /** The q_wordpiece_encode piece set: every multi-char piece ends in
    * the terminator 'z' and is z-free inside, so no vocabulary entry
    * can span a concatenation boundary and greedy longest-match
    * provably recovers the construction. */
  private val wpPieces = Seq("az", "boz", "cedz", "difuz", "egz", "fohz")

  private val stopList = Stopwords.en.map(w => s"'$w'").mkString(", ")

  /** (vec_id, embedding, qe: floor(v·2^20), h: splitmix64) — the quantized
    * corpus CTE shared by the IVF and PQ replays (both read `qv`). */
  private val qvCte: String =
    """qv AS (SELECT vec_id, embedding,
      |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS qe,
      |  tosigned(sm64(CAST(vec_id AS HUGEINT))) AS h FROM e)""".stripMargin

  /** IVF training replay on top of `qv` (graft.llm.Ivf.train): 16
    * hash-seeded centroids, two Lloyd steps to `c2`, and each vector's
    * integer-centroid cosine to every list (`xi`). */
  private val ivfTrainCtes: String =
    s"""c0 AS (SELECT row_number() OVER (ORDER BY h) - 1 AS list_id, qe AS centroid
       |  FROM (SELECT * FROM qv ORDER BY h LIMIT 16)),
       |${HashOracle.lloydStep("c0", "c1")},
       |${HashOracle.lloydStep("c1", "c2")},
       |xi AS (SELECT qv.vec_id, c2.list_id,
       |  ${HashOracle.cosineIntCentroid("qv.embedding", "c2.centroid")} AS sim FROM qv, c2)""".stripMargin

  /** The IVF index (`idx`: each vector's nearest list) and the nprobe = 4
    * lists of each of the 10 queries (`probes`). */
  private val ivfProbeCtes: String =
    s"""idx AS (SELECT vec_id AS nn_id, list_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id) AS rk FROM xi) WHERE rk = 1),
       |xq AS (SELECT qv.vec_id AS q_id, c2.list_id,
       |  ${HashOracle.cosineIntCentroid("qv.embedding", "c2.centroid")} AS sim
       |  FROM qv, c2 WHERE qv.vec_id < 10),
       |probes AS (SELECT q_id, list_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, list_id) AS rk FROM xq) WHERE rk <= 4)""".stripMargin

  /** IVF recomputed end-to-end in DuckDB: deterministic splitmix64 seeds,
    * two Lloyd steps on integer-quantized sums, nearest-list index,
    * nprobe=4 probe, cosine top-10 — shared by the window (q_ann_ivf) and
    * bounded-agg (q_ann_ivf_agg) forms, which rank by the same total
    * order. */
  private val ivfOracleSql: String =
    s"""${HashOracle.macros}
       |WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |$qvCte,
       |$ivfTrainCtes,
       |$ivfProbeCtes,
       |cand AS (SELECT p.q_id, i.nn_id FROM probes p JOIN idx i USING (list_id) WHERE p.q_id != i.nn_id),
       |scored AS (SELECT q_id, nn_id, ${HashOracle.cosine("eq.embedding", "ec.embedding")} AS cosine
       |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = nn_id),
       |r AS (SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM scored)
       |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** PQ chain on top of `qv`: sub-vectors, hash-seeded 8×8 codebook, two
    * Lloyd steps, L2-argmin `codes`, query norms `nq` and ADC tables `lut`
    * — mirrors graft.llm.Pq.{train, encode, buildLuts}. */
  private val pqCtes: String =
    s"""subq AS (SELECT vec_id, m.m AS m, list_transform(range(1, 9), i -> qe[m.m * 8 + i]) AS sq
       |  FROM qv, range(8) m(m)),
       |sd AS (SELECT row_number() OVER (ORDER BY h) - 1 AS j, qe
       |  FROM (SELECT * FROM qv ORDER BY h LIMIT 8)),
       |p0 AS (SELECT m.m AS m, j AS code,
       |  list_transform(range(1, 9), i -> qe[m.m * 8 + i]) AS csum, CAST(1 AS BIGINT) AS cnt
       |  FROM sd, range(8) m(m)),
       |${HashOracle.pqStep("p0", "p1")},
       |${HashOracle.pqStep("p1", "p2")},
       |xe AS (SELECT subq.vec_id, subq.m, p2.code,
       |  ${HashOracle.pqL2("subq.sq", "p2.csum", "p2.cnt")} AS dist
       |  FROM subq JOIN p2 ON subq.m = p2.m),
       |codes AS (SELECT vec_id, m, code FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rk FROM xe)
       |  WHERE rk = 1),
       |nq AS (SELECT vec_id AS q_id,
       |  sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm
       |  FROM qv WHERE vec_id < 10),
       |lut AS (SELECT q.vec_id AS q_id, p2.m, p2.code,
       |  list_sum(list_transform(range(1, 9), i ->
       |    CAST(q.sq[i] AS DOUBLE) * (CAST(p2.csum[i] AS DOUBLE) / CAST(p2.cnt AS DOUBLE)))) AS ip,
       |  list_sum(list_transform(range(1, 9), i ->
       |    (CAST(p2.csum[i] AS DOUBLE) / CAST(p2.cnt AS DOUBLE)) *
       |    (CAST(p2.csum[i] AS DOUBLE) / CAST(p2.cnt AS DOUBLE)))) AS cn2
       |  FROM (SELECT vec_id, m, sq FROM subq WHERE vec_id < 10) q JOIN p2 ON q.m = p2.m)""".stripMargin

  /** Ordered-fold ADC scoring + per-query ranking over `sc0`
    * (q_id, nn_id, m, ip, cn2) — shared tail of q_ann_pq / q_ann_ivfpq. */
  private val adcRankCtes: String =
    """sc AS (SELECT q_id, nn_id,
      |  list_sum(list(ip ORDER BY m)) AS adc0, list_sum(list(cn2 ORDER BY m)) AS rn2
      |  FROM sc0 GROUP BY q_id, nn_id),
      |scored AS (SELECT q_id, nn_id,
      |  CASE WHEN nrm * sqrt(rn2) = 0 THEN 0.0 ELSE adc0 / (nrm * sqrt(rn2)) END AS adc
      |  FROM sc JOIN nq USING (q_id)),
      |r AS (SELECT q_id, nn_id,
      |  row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, nn_id) AS rank FROM scored)""".stripMargin

  private val lshOracleSql: String =
    s"""${HashOracle.macros}
       |WITH ${HashOracle.hyperplaneSig},
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS nn_id
       |  FROM bk q JOIN bk c USING (band, bh)
       |  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
       |scored AS (SELECT q_id, nn_id, ${HashOracle.cosine("eq.embedding", "ec.embedding")} AS cosine
       |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = nn_id),
       |r AS (SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank
       |  FROM scored)
       |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** Exhaustive-ADC replay, shared by q_ann_pq (window form) and
    * q_ann_pq_agg (bounded-agg form). */
  private val pqOracleSql: String =
    s"""${HashOracle.macros}
       |WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |$qvCte,
       |$pqCtes,
       |sc0 AS (SELECT l.q_id, c.vec_id AS nn_id, c.m, l.ip, l.cn2
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code WHERE l.q_id != c.vec_id),
       |$adcRankCtes
       |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** IVF-PQ replay, shared by q_ann_ivfpq (window form) and
    * q_ann_ivfpq_agg (per-task-LUT form) — the two Spark paths are
    * score-identical so one oracle serves both. */
  private val ivfpqOracleSql: String =
    s"""${HashOracle.macros}
       |WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |$qvCte,
       |$ivfTrainCtes,
       |$ivfProbeCtes,
       |$pqCtes,
       |cand AS (SELECT p.q_id, i.nn_id FROM probes p JOIN idx i USING (list_id) WHERE p.q_id != i.nn_id),
       |sc0 AS (SELECT l.q_id, c.vec_id AS nn_id, c.m, l.ip, l.cn2
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
       |  JOIN cand ON cand.q_id = l.q_id AND cand.nn_id = c.vec_id),
       |$adcRankCtes
       |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** Hash replays shared by the image, video and audio oracles. Each
    * fixture's `px` (doc_id, x, y, g) recomputes its grayscale grid, which
    * `cells` averages into the 9×8 dHash grid; `bits` sets bit cy·8 + cx
    * when a cell is brighter than its right neighbour (Multimodal.dHash).
    * `sampled` is the every-7th-doc slice of the near-duplicate oracles. */
  private val sampled = "\n  WHERE doc_id % 7 = 0 AND doc_id < 3500"

  /** The 18×16 `dhashGray` fixture. */
  private def dhashPx(where: String = ""): String =
    s"""px AS (
       |  SELECT doc_id, u.x AS x, v.y AS y,
       |         ((doc_id % 40) * 31 + u.x * 7 + v.y * 13) % 176
       |         + CASE WHEN u.x < 2 AND v.y < 2 THEN ((doc_id // 40) % 3) * 40 ELSE 0 END AS g
       |  FROM documents, unnest(generate_series(0, 17)) AS u(x),
       |       unnest(generate_series(0, 15)) AS v(y)$where)""".stripMargin

  /** 2×2 box cells of the 18×16 grid. */
  private val dhashCells: String =
    """cells AS (
      |  SELECT doc_id, x // 2 AS cx, y // 2 AS cy, SUM(g) // 4 AS a
      |  FROM px GROUP BY doc_id, x // 2, y // 2)""".stripMargin

  /** The JPEG fixtures: 8×8-block flat grid `w` pixels wide, area-mean cells. */
  private def jpegGrid(w: Int, where: String = ""): String =
    s"""px AS (
       |  SELECT doc_id, u.x AS x, v.y AS y,
       |         ((doc_id % 40) * 31 + (u.x // 8) * 29 + (v.y // 8) * 41) % 200 AS g
       |  FROM documents, unnest(generate_series(0, ${w - 1})) AS u(x),
       |       unnest(generate_series(0, 15)) AS v(y)$where),
       |cells AS (
       |  SELECT doc_id, LEAST(x * 9 // $w, 8) AS cx, LEAST(y * 8 // 16, 7) AS cy,
       |         SUM(g) // COUNT(*) AS a
       |  FROM px GROUP BY doc_id, LEAST(x * 9 // $w, 8), LEAST(y * 8 // 16, 7))""".stripMargin

  private val dhashBits: String =
    """bits AS (
      |  SELECT l.doc_id, l.cy * 8 + l.cx AS i,
      |         CASE WHEN l.a > r.a THEN 1 ELSE 0 END AS bit
      |  FROM cells l JOIN cells r
      |    ON l.doc_id = r.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
      |  WHERE l.cx < 8)""".stripMargin

  /** The 64 bits of `bits` as two 32-bit words named `hi` and `lo`. */
  private def hashWords(hi: String, lo: String, indent: String = "  "): String =
    s"""${indent}CAST(SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS $hi,
       |${indent}CAST(SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS $lo""".stripMargin

  /** One hash per doc as `<prefix>_hi`, `<prefix>_lo`. */
  private def docHash(prefix: String): String =
    s"""SELECT doc_id,
       |${hashWords(s"${prefix}_hi", s"${prefix}_lo")}
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `h` (doc_id, hi, lo) and the pairs within Hamming distance 2. */
  private val hashPerDoc: String =
    s"""h AS (
       |  SELECT doc_id,
       |${hashWords("hi", "lo", "    ")}
       |  FROM bits GROUP BY doc_id)""".stripMargin

  private val hammingPairs: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |FROM h a JOIN h b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** The 12-frame video fixture: the 18×16 pattern moved per frame `f`. */
  private def videoPx(where: String = ""): String =
    s"""px AS (
       |  SELECT doc_id, w.f AS f, u.x AS x, v.y AS y,
       |         ((doc_id % 40) * 31 + w.f * 53 + u.x * 7 + v.y * 13) % 176
       |         + CASE WHEN w.f = (doc_id // 40) % 3 AND u.x < 2 AND v.y < 2
       |                THEN 40 ELSE 0 END AS g
       |  FROM documents, unnest(generate_series(0, 11)) AS w(f),
       |       unnest(generate_series(0, 17)) AS u(x),
       |       unnest(generate_series(0, 15)) AS v(y)$where)""".stripMargin

  /** Per-frame `cells` and `bits` of a `px` grid with a frame column `f`. */
  private val frameBits: String =
    """cells AS (
      |  SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy, SUM(g) // 4 AS a
      |  FROM px GROUP BY doc_id, f, x // 2, y // 2),
      |bits AS (
      |  SELECT l.doc_id, l.f, l.cy * 8 + l.cx AS i,
      |         CASE WHEN l.a > r.a THEN 1 ELSE 0 END AS bit
      |  FROM cells l JOIN cells r
      |    ON l.doc_id = r.doc_id AND l.f = r.f AND r.cy = l.cy AND r.cx = l.cx + 1
      |  WHERE l.cx < 8)""".stripMargin

  private val frameHashes: String =
    s"""SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       |${hashWords("fhash_hi", "fhash_lo")}
       |FROM bits GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin

  /** Audio envelope hash: `fr` averages |amplitude| `a` of `src`
    * (doc_id, j, a) over 30-sample frames; bit f = frame f louder than
    * frame f + 1 (Multimodal.audioEnvelopeHash). */
  private def envelopeFrames(src: String): String =
    s"""fr AS (SELECT doc_id, j // 30 AS f, SUM(a) // 30 AS e
       |       FROM $src GROUP BY doc_id, j // 30)""".stripMargin

  private val envelopeBits: String =
    """bits AS (SELECT l.doc_id, l.f AS i, CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
      |         FROM fr l JOIN fr r ON l.doc_id = r.doc_id AND r.f = l.f + 1
      |         WHERE l.f < 64)""".stripMargin

  /** Whole oracles shared by queries whose fixtures decode to the same
    * samples: the container and codec must be invisible to the hash. */
  private val bmpDhashOracle: String =
    s"""WITH ${dhashPx()},
       |$dhashCells,
       |$dhashBits
       |${docHash("dhash")}""".stripMargin

  private val jpegDhashOracle: String =
    s"""WITH ${jpegGrid(24)},
       |$dhashBits
       |${docHash("dhash")}""".stripMargin

  private val videoHashOracle: String =
    s"""WITH ${videoPx()},
       |$frameBits
       |$frameHashes""".stripMargin

  /** The audio envelope replay of q_multimodal_audiohash, shared by the
    * re-encoded (q_multimodal_audio_cross_encoding) and FLAC
    * (q_multimodal_flac_audiohash) forms of the same waveform. */
  private val audioHashOracle: String =
    s"""WITH sm AS (
       |  SELECT doc_id, u.j AS j,
       |         abs(((doc_id % 40) * 17 + u.j * 31) % 4001 - 2000
       |             + CASE WHEN u.j < 30 THEN ((doc_id // 40) % 3) * 500 ELSE 0 END) AS a
       |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)),
       |${envelopeFrames("sm")},
       |$envelopeBits
       |${docHash("ahash")}""".stripMargin

  /** Video pairs sharing ≥ 8 frame hashes over the sampled slice; the
    * cross-container form (q_multimodal_video_cross_container) replays the
    * same frames, so both near-dup queries share it. */
  private val videoNeardupOracle: String =
    s"""WITH ${videoPx(sampled)},
       |$frameBits,
       |fh AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY doc_id, f)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(count(*) AS BIGINT) AS shared_frames
       |FROM fh a JOIN fh b ON a.doc_id < b.doc_id AND a.hi = b.hi AND a.lo = b.lo
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 8
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact cosine top-10 of vec_ids 0–9: the brute answer that
    * q_ann_brute, and the exhaustive-ef graph searches q_ann_nsw and
    * q_ann_nsw_indexed, must all reproduce. */
  private val annBruteOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      | c AS (SELECT vec_id AS nn_id, embedding AS ce FROM embeddings),
      | p AS (SELECT q_id, nn_id,
      |   list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
      |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) *
      |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cosine
      |   FROM q, c WHERE q_id != nn_id),
      | r AS (SELECT q_id, nn_id,
      |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM p)
      |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** Pair groups by construction: docs 2k and 2k + 1 carry the same
    * content, so the code, wiki and crawl dedup pipelines must each keep
    * doc 2k with n_docs = 2 (one for an unpaired last doc). */
  private val pairCanonicalOracle: String =
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY doc_id - (doc_id % 2)
      |ORDER BY canonical""".stripMargin

  /** BM25 replayed exactly (TextAnalysis.bm25TopK): same integer idf
    * (micro-nat floor of the one double ln), same cleared-denominator
    * fraction with identical operand association, each term floored to
    * integer micro-nats, and the per-(q,doc) score as the order-free
    * integer sum. Corpus statistics `tf`, `dl`, `dfc`, `nn`, `tlc`; the
    * queries `q`/`qt` (words 3–12 of each doc passing `where`); their
    * per-doc scores `s`. */
  private val bm25Stats: String =
    """d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nn AS (SELECT count(*) AS n FROM documents),
      |tlc AS (SELECT count(*) AS tl FROM tok)""".stripMargin

  private def bm25Queries(where: String): String =
    s"""q AS (SELECT doc_id AS q_id,
       |    array_to_string((str_split(text, ' '))[3:12], ' ') AS q_text
       |  FROM documents WHERE $where),
       |qt AS (SELECT DISTINCT q_id, term FROM
       |  (SELECT q_id, unnest(str_split(lower(q_text), ' ')) AS term FROM q))""".stripMargin

  private val bm25Scores: String =
    """sc AS (SELECT qt.q_id, tf.doc_id, tf.term,
      |    CAST(floor(ln((2.0 * nn.n + 2.0) / (2.0 * dfc.df + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS idf,
      |    tf.tf, dl.dl, nn.n, tlc.tl
      |  FROM qt JOIN tf USING (term) JOIN dfc USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id, nn, tlc),
      |v AS (SELECT q_id, doc_id,
      |    CAST(floor(CAST(idf AS DOUBLE) * (22.0 * tf * tl) /
      |      (10.0 * tl * tf + 3.0 * tl + 9.0 * dl * n) + 0.5) AS BIGINT) AS v
      |  FROM sc),
      |s AS (SELECT q_id, doc_id, CAST(sum(v) AS BIGINT) AS score
      |  FROM v GROUP BY q_id, doc_id)""".stripMargin

  /** Hybrid retrieval chain shared by q_retrieval_rrf and
    * q_pipeline_retrieval: BM25 top-5 (`lex`) and brute-cosine top-10
    * (`sem`) for docs 0–9, fused by reciprocal rank (k = 60, in
    * micro-units) into `fr` (q_id, nn_id, score_micro, rank). The `fr`
    * CTE is left open for the caller's `)` or QUALIFY. */
  private val rrfCtes: String =
    s"""$bm25Stats,
       |${bm25Queries("doc_id < 10")},
       |$bm25Scores,
       |lex AS (SELECT q_id, doc_id AS nn_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
       |  FROM s QUALIFY rank <= 5),
       |qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |cv AS (SELECT vec_id AS nn_id, embedding AS ce FROM embeddings),
       |pv AS (SELECT q_id, nn_id,
       |   list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cosine
       |   FROM qv, cv WHERE q_id != nn_id),
       |sem AS (SELECT q_id, nn_id,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM pv
       |   QUALIFY rank <= 10),
       |u AS (SELECT q_id, nn_id, 1000000 // (60 + rank) AS rrf FROM lex
       |   UNION ALL SELECT q_id, nn_id, 1000000 // (60 + rank) AS rrf FROM sem),
       |fs AS (SELECT q_id, nn_id, CAST(sum(rrf) AS BIGINT) AS score_micro
       |   FROM u GROUP BY q_id, nn_id),
       |fr AS (SELECT q_id, nn_id, score_micro,
       |   row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, nn_id) AS rank FROM fs""".stripMargin

  /** Perplexity terciles over an LM chain's `lmagg` (doc_id, n, s): mean
    * surprisal per doc, bucketed at the 1/3 and 2/3 cut points; shared by
    * q_text_ppl_buckets and q_text_ppl_buckets_backoff. */
  private def pplBucketsOracle(lm: String): String =
    s"""WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
       |$lm,
       |k AS (SELECT ids.doc_id, coalesce(lmagg.n, 0) AS n, coalesce(lmagg.s, 0) AS s,
       |    CASE WHEN coalesce(lmagg.n, 0) > 0 THEN lmagg.s // lmagg.n END AS mkey
       |  FROM (SELECT doc_id FROM d) ids LEFT JOIN lmagg USING (doc_id)),
       |hist AS (SELECT mkey, count(*) AS c FROM k WHERE mkey IS NOT NULL GROUP BY mkey),
       |cum AS (SELECT mkey, sum(c) OVER (ORDER BY mkey) AS cum FROM hist),
       |nt AS (SELECT count(*) AS n FROM k WHERE mkey IS NOT NULL),
       |cuts AS (SELECT
       |    min(CASE WHEN cum >= (1 * nt.n + 2) // 3 THEN mkey END) AS t0,
       |    min(CASE WHEN cum >= (2 * nt.n + 2) // 3 THEN mkey END) AS t1
       |  FROM cum, nt)
       |SELECT k.doc_id, CAST(k.n AS BIGINT) AS n_terms,
       |  CAST(k.s AS BIGINT) AS surprisal_micronats,
       |  CAST(k.mkey AS BIGINT) AS mean_micronats,
       |  CAST(CASE WHEN k.mkey IS NULL THEN NULL ELSE
       |    (CASE WHEN k.mkey > cuts.t0 THEN 1 ELSE 0 END) +
       |    (CASE WHEN k.mkey > cuts.t1 THEN 1 ELSE 0 END) END AS INTEGER) AS bucket
       |FROM k, cuts ORDER BY k.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_dedup_exact", (s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .select("keep_id", "n_copies").orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    Q("q_dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b", "est_jaccard").orderBy("id_a", "id_b"),
      s"""${HashOracle.macros}
         |WITH ${HashOracle.minhashSigRows},
         |${HashOracle.minhashBuckets},
         |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sc a JOIN sc b USING (band, sl) WHERE a.doc_id < b.doc_id),
         |est AS (SELECT id_a, id_b, CAST(count(*) FILTER (sa.slot = sb.slot) AS DOUBLE) / 64 AS est_jaccard
         |  FROM ids JOIN sigrows sa ON sa.doc_id = id_a
         |           JOIN sigrows sb ON sb.doc_id = id_b AND sa.j = sb.j
         |  GROUP BY id_a, id_b)
         |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // product quantization: train 8×8 codebook (2 Lloyd iters), encode the
    // corpus to 8 codes/vector, ADC-scan top-10 for 10 queries
    // PQ replayed end-to-end: quantized sub-vectors, hash-seeded per-
    // subspace Lloyd (2 steps), L2-argmin encoding, per-query ADC tables,
    // cosine-of-reconstruction ranking — every double op in the same order
    // as graft.llm.Pq, so ranks match exactly.
    Q("q_ann_pq", (s, dir) => {
      val e = emb(s, dir)
      val cb = Pq.train(e, m = 8, ksub = 8, iters = 2)
      Pq.searchAdc(Pq.encode(e, cb, 8, 8), cb, e.filter(col("vec_id") < 10), 8, 8, 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      pqOracleSql),

    // exhaustive ADC scan ranked by the bounded top-k aggregator (window-
    // free many-queries ranking) — score-identical, same oracle as q_ann_pq
    // score-identical bounded-agg ranking — same replay
    Q("q_ann_pq_agg", (s, dir) => {
      val e = emb(s, dir)
      val cb = Pq.train(e, m = 8, ksub = 8, iters = 2)
      Pq.searchAdcAgg(Pq.encode(e, cb, 8, 8), cb, e.filter(col("vec_id") < 10), 8, 8, 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      pqOracleSql),

    // IVF-PQ: IVF lists prune the scan (nprobe=4 of 16), PQ codes shrink
    // the candidates — the faiss-style composition, both trainings replayed
    // by the oracle
    // IVF-PQ: the IVF oracle's training/index/probe chain (c0→c2, idx,
    // probes) composed with the PQ chain — candidates come from the probed
    // lists, scores from the ADC tables; both replays shared verbatim with
    // q_ann_ivf / q_ann_pq.
    Q("q_ann_ivfpq", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val cents = graft.llm.Ivf.train(e, k = 16, iters = 2)
      val lists = graft.llm.Ivf.index(e, cents).select("vec_id", "list_id")
      val cb = Pq.train(e, m = 8, ksub = 8, iters = 2)
      val encLists = Pq.encode(e, cb, 8, 8).join(lists, Seq("vec_id"))
      Pq.searchIvfAdc(encLists, cents, cb, e.filter(col("vec_id") < 10),
          8, 8, 10, nprobe = 4)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      ivfpqOracleSql),

    // IVF-PQ, many-queries form: per-task ADC tables from the broadcast
    // codebook (no driver collect of the query set, no per-q_id window) —
    // same oracle as q_ann_ivfpq since the two paths are score-identical
    // score-identical many-queries path (per-task LUTs) — same replay
    Q("q_ann_ivfpq_agg", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val cents = graft.llm.Ivf.train(e, k = 16, iters = 2)
      val lists = graft.llm.Ivf.index(e, cents).select("vec_id", "list_id")
      val cb = Pq.train(e, m = 8, ksub = 8, iters = 2)
      val encLists = Pq.encode(e, cb, 8, 8).join(lists, Seq("vec_id"))
      Pq.searchIvfAdcAgg(encLists, cents, cb, e.filter(col("vec_id") < 10),
          8, 8, 10, nprobe = 4)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      ivfpqOracleSql),

    // token-window chunking: overlapping 64-token windows, stride 48
    // Chunk layout recomputed with integer window arithmetic: the window
    // count is exact ((max(n-64,0)+47)//48)+1 on both engines.
    Q("q_text_chunks", (s, dir) =>
      Packing.chunkTokens(docs(s, dir), "doc_id", "text", maxTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_ix"),
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        |c AS (SELECT doc_id, toks, n,
        |  unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1)) AS ci FROM x)
        |SELECT doc_id, ci AS chunk_ix,
        |  CAST(least(ci * 48 + 64, n) - ci * 48 AS BIGINT) AS n_tokens,
        |  array_to_string(list_transform(range(ci * 48 + 1, least(ci * 48 + 64, n) + 1), j -> toks[j]), ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_ix""".stripMargin),

    // concat-and-split packing at a 512-token budget over 8 uniform shards
    // Packing is a per-shard prefix sum — exact integer window arithmetic
    Q("q_pack_sequences", (s, dir) =>
      Packing.packSequences(
          docs(s, dir).select(
            col("doc_id"),
            (col("doc_id") % 8).as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          "doc_id", "shard", "n_tokens", budget = 512)
        .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum FROM d)
        |SELECT doc_id, shard, n_tokens, CAST(cum // 512 AS BIGINT) AS seq_id,
        |  CAST(cum % 512 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin),

    // tokenize-then-pack, the actual pretraining dataflow: REAL BPE token
    // counts (not whitespace estimates) drive the per-shard prefix-sum
    // packing at a 256-token budget
    // the BPE-encode chain's per-doc counts feeding the packing prefix sum
    Q("q_pack_bpe", (s, dir) => {
      val d = docs(s, dir)
      val (m, dict) = graft.llm.Bpe.train(d, "text", numMerges = 8, minCount = 2)
      Packing.packSequences(
          graft.llm.Bpe.encode(d, "doc_id", "text", m, dict)
            .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
              col("n_bpe_tokens").as("n_tokens")),
          "doc_id", "shard", "n_tokens", budget = 256)
        .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    },
      s"""WITH ${bpeCtes(8, minCount = 2)},
         |docw AS (SELECT doc_id, w FROM
         |  (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents) dt
         |  WHERE w != ''),
         |cnt AS (SELECT docw.doc_id, sum(len(str_split(w8.repr, chr(31)))) AS nt
         |  FROM docw JOIN w8 ON docw.w = w8.word GROUP BY docw.doc_id),
         |d AS (SELECT dd.doc_id, dd.doc_id % 8 AS shard,
         |  CAST(coalesce(cnt.nt, 0) AS BIGINT) AS n_tokens
         |  FROM documents dd LEFT JOIN cnt ON dd.doc_id = cnt.doc_id),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum FROM d)
         |SELECT doc_id, shard, n_tokens, CAST(cum // 256 AS BIGINT) AS seq_id,
         |  CAST(cum % 256 AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin),

    // the whole training-data pipeline as ONE Catalyst plan: exact dedup →
    // quality gate (length + stopword ratio) → per-shard sequence packing.
    // No materialization between stages — scan, semi-join, map, window.
    // Dedup keep-set, the quality gate's integer-exact ratios, then the
    // packing prefix sum — each stage's arithmetic identical to its
    // standalone oracle (q_dedup_exact / q_text_quality / q_pack_sequences)
    Q("q_pipeline_e2e", (s, dir) => {
      val d = docs(s, dir)
      val keep = Dedup.exact(d, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val uniq = d.join(keep, Seq("doc_id"), "left_semi")
      val filtered = TextAnalysis.quality(uniq, col("text"))
        .filter(col("n_words") >= 20 && col("stopword_ratio") >= 0.05)
      Packing.packSequences(
          filtered.select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            col("n_words").as("n_tokens")),
          "doc_id", "shard", "n_tokens", budget = 512)
        .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    },
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |u AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
         |q AS (SELECT doc_id, doc_id % 8 AS shard,
         |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM u
         |  WHERE len(str_split(text, ' ')) >= 20
         |    AND CAST(len(list_filter(str_split(text, ' '), t -> t IN ($stopList))) AS DOUBLE)
         |      / len(str_split(text, ' ')) >= 0.05),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum FROM q)
         |SELECT doc_id, shard, n_tokens, CAST(cum // 512 AS BIGINT) AS seq_id,
         |  CAST(cum % 512 AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin),

    // the same pipeline with benchmark decontamination as stage 0 — four
    // stages, still ONE Catalyst plan, still zero inter-stage
    // materialization: scrub → exact dedup → quality gate → packing
    // the four-stage pipeline: the decontamination CTEs prepended to the
    // q_pipeline_e2e replay, dedup/quality/packing reading the scrubbed set
    Q("q_pipeline_full", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
      val scrubbed = Dedup.decontaminate(d, "doc_id", "text", bench, "text", k = 13)
        .filter(!col("contaminated")).select("doc_id", "text")
      val keep = Dedup.exact(scrubbed, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val uniq = scrubbed.join(keep, Seq("doc_id"), "left_semi")
      val filtered = TextAnalysis.quality(uniq, col("text"))
        .filter(col("n_words") >= 20 && col("stopword_ratio") >= 0.05)
      Packing.packSequences(
          filtered.select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            col("n_words").as("n_tokens")),
          "doc_id", "shard", "n_tokens", budget = 512)
        .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    },
      {
      val concat13 = (0 until 13).map(t => s"toks[i+$t]").mkString(" || ' ' || ")
      s"""${HashOracle.macros}
         |WITH d0 AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM d0),
         |b0 AS (SELECT array_to_string(list_slice(str_split(text, ' '), 11, 40), ' ') AS btext
         |  FROM documents WHERE doc_id % 37 = 0),
         |bt AS (SELECT str_split(lower(btext), ' ') AS toks FROM b0),
         |bsh0 AS (SELECT unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM bt),
         |bsh AS (SELECT DISTINCT fnv1a(shingle) AS h FROM bsh0),
         |hits AS (SELECT DISTINCT doc_id FROM sh WHERE fnv1a(shingle) IN (SELECT h FROM bsh)),
         |scrubbed AS (SELECT doc_id, text FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
         |keep AS (SELECT min(doc_id) AS doc_id FROM scrubbed GROUP BY text),
         |u AS (SELECT s.doc_id, s.text FROM scrubbed s JOIN keep USING (doc_id)),
         |q AS (SELECT doc_id, doc_id % 8 AS shard,
         |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM u
         |  WHERE len(str_split(text, ' ')) >= 20
         |    AND CAST(len(list_filter(str_split(text, ' '), t -> t IN ($stopList))) AS DOUBLE)
         |      / len(str_split(text, ' ')) >= 0.05),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum FROM q)
         |SELECT doc_id, shard, n_tokens, CAST(cum // 512 AS BIGINT) AS seq_id,
         |  CAST(cum % 512 AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // KMV distinct-count sketch: deterministic hashing makes the ESTIMATE
    // itself oracle-checkable (exact integer division of the k-th hash)
    // Bottom-64 distinct FNV hashes (unsigned = natural HUGEINT order),
    // estimate = floor(63 * 2^64 / u) in exact integer arithmetic
    Q("q_sketch_kmv", (s, dir) =>
      graft.llm.Sketches.kmvDistinct(docs(s, dir), "text", k = 64),
      s"""${HashOracle.macros}
         |WITH d AS (SELECT DISTINCT fnv1a(text) AS h FROM documents WHERE text IS NOT NULL),
         |mins AS (SELECT h FROM d ORDER BY h LIMIT 64),
         |kth AS (SELECT max(h) AS u, count(*) AS nk FROM mins)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_exact,
         |  tosigned((SELECT u FROM kth)) AS kth_hash,
         |  CAST(CASE WHEN (SELECT nk FROM kth) < 64 THEN (SELECT nk FROM kth)
         |    ELSE (63::HUGEINT * 18446744073709551616::HUGEINT) / (SELECT u FROM kth) END AS BIGINT) AS est_distinct""".stripMargin),

    // HLL registers over the text column (p=8, 256 buckets): every
    // register value verified, not just the estimate
    // HLL registers: bucket = top 8 bits of the unsigned FNV-1a hash,
    // rho = leading zeros of the remaining 56 bits + 1 (bit length via an
    // integer probe over range(64) — no floating log), max per bucket
    Q("q_sketch_hll", (s, dir) =>
      graft.llm.Sketches.hllRegisters(docs(s, dir), "text", p = 8)
        .select(col("bucket").cast("long").as("bucket"), col("rho").cast("long").as("rho")),
      s"""${HashOracle.macros}
         |WITH h AS (SELECT fnv1a(text) AS h FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT CAST(h >> 56 AS BIGINT) AS bucket,
         |  (h << 8) & 18446744073709551615::HUGEINT AS w FROM h),
         |r AS (SELECT bucket, CASE WHEN w = 0 THEN 57
         |  ELSE 65 - list_max(list_transform(range(64),
         |    i -> CASE WHEN w >= (CAST(1 AS HUGEINT) << i) THEN i + 1 ELSE 0 END)) END AS rho
         |  FROM b)
         |SELECT bucket, CAST(max(rho) AS BIGINT) AS rho FROM r
         |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ... and the exact-integer estimate chain (raw harmonic-mean estimate
    // in scaled HUGEINT arithmetic + the linear-counting branch)
    // ... and the estimate: S = sum over ALL 256 buckets of 2^(64-rho)
    // (empty bucket -> 2^64) in HUGEINT, est_raw = the exact integer
    // division chain, est = the linear-counting branch when est_raw <= 640
    // and empty buckets exist (m*ln(m/V), the one double op — same replay
    // posture as q_text_lm_score)
    Q("q_sketch_hll_est", (s, dir) =>
      graft.llm.Sketches.hllDistinct(docs(s, dir), "text", p = 8),
      s"""${HashOracle.macros}
         |WITH h AS (SELECT fnv1a(text) AS h FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT CAST(h >> 56 AS BIGINT) AS bucket,
         |  (h << 8) & 18446744073709551615::HUGEINT AS w FROM h),
         |r AS (SELECT bucket, CASE WHEN w = 0 THEN 57
         |  ELSE 65 - list_max(list_transform(range(64),
         |    i -> CASE WHEN w >= (CAST(1 AS HUGEINT) << i) THEN i + 1 ELSE 0 END)) END AS rho
         |  FROM b),
         |regs AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
         |allb AS (SELECT j.j AS bucket, coalesce(regs.rho, 0) AS rho
         |  FROM range(256) j(j) LEFT JOIN regs ON regs.bucket = j.j),
         |s AS (SELECT sum(CAST(1 AS HUGEINT) << (64 - rho)) AS s,
         |  sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS n_zero FROM allb),
         |est AS (SELECT n_zero,
         |  (CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 1000000000.0) AS HUGEINT)
         |    * 256 * 256 * (CAST(1 AS HUGEINT) << 64)) // s // 1000000000 AS est_raw
         |  FROM s)
         |SELECT (SELECT CAST(count(DISTINCT text) AS BIGINT) FROM documents WHERE text IS NOT NULL) AS n_exact,
         |  CAST(n_zero AS BIGINT) AS n_zero, CAST(est_raw AS BIGINT) AS est_raw,
         |  CAST(CASE WHEN est_raw <= 640 AND n_zero > 0
         |    THEN CAST(floor(256 * ln(256.0 / CAST(n_zero AS DOUBLE))) AS HUGEINT)
         |    ELSE est_raw END AS BIGINT) AS est
         |FROM est""".stripMargin),

    // Count-Min counters over the text column (depth 4, width 256 —
    // collisions guaranteed at 500 distinct texts): every counter verified
    // CMS counters: position j-row = mix64(fnv1a(text), j) % width over the
    // unsigned HUGEINT domain — bit-identical to the engine's unsigned mod
    Q("q_sketch_cms", (s, dir) =>
      graft.llm.Sketches.cmsRegisters(docs(s, dir), "text", depth = 4, width = 256)
        .select(col("j").cast("long").as("j"), col("pos").cast("long").as("pos"),
          col("cnt").cast("long").as("cnt")),
      s"""${HashOracle.macros}
         |WITH h AS (SELECT fnv1a(text) AS h FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT j.j AS j, CAST(mix64(h, j.j) % 256 AS BIGINT) AS pos
         |  FROM h, range(4) j(j))
         |SELECT CAST(j AS BIGINT) AS j, pos, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY j, pos ORDER BY j, pos""".stripMargin),

    // EXACT heavy hitters via the CMS pre-filter (width 64 — deliberately
    // collision-saturated so the exact verify stage has false positives to
    // kill): the oracle is the plain GROUP BY HAVING, which the sketch
    // path must reproduce row-for-row
    // heavy hitters: the sketch path's EXACT contract — plain group-count
    // with the same threshold; the CMS is invisible in the answer
    Q("q_heavy_hitters", (s, dir) => {
      val terms = docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("term"))
      graft.llm.Sketches.heavyHitters(terms, "term", threshold = 100L,
          depth = 4, width = 64)
        .withColumnRenamed("value", "term")
        .select(col("term"), col("cnt").cast("long").as("cnt"))
        .orderBy("term")
    },
      """WITH t AS (SELECT unnest(str_split(lower(text), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t
        |GROUP BY term HAVING count(*) >= 100 ORDER BY term""".stripMargin),

    // Bloom membership: filter built from the English texts (1024 bits,
    // k=3 — deliberately tight so FALSE POSITIVES occur and the oracle
    // replays them too), probed by every document
    // Bloom probe: a probe is maybe_member iff ALL THREE of its bit
    // positions appear in the inserted position set — bit-identical to the
    // bitset the engine builds, false positives included
    Q("q_bloom_probe", (s, dir) => {
      val d = docs(s, dir)
      val filter = graft.llm.Bloom.build(d.filter(col("lang") === "en"), "text",
        bits = 1024, k = 3)
      graft.llm.Bloom.probe(d, "doc_id", "text", filter, k = 3).orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH ins AS (SELECT DISTINCT text FROM documents WHERE lang = 'en' AND text IS NOT NULL),
         |ip AS (SELECT DISTINCT CAST(mix64(fnv1a(text), i.i) % 1024 AS BIGINT) AS pos
         |  FROM ins, range(3) i(i)),
         |pp AS (SELECT doc_id, CAST(mix64(fnv1a(text), i.i) % 1024 AS BIGINT) AS pos
         |  FROM documents, range(3) i(i) WHERE text IS NOT NULL)
         |SELECT doc_id, bool_and(pos IN (SELECT pos FROM ip)) AS maybe_member
         |FROM pp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // deterministic global shuffle into 8 shards: shard routing + in-shard
    // position replayed as the row_number of the same (sm64, id) order
    // shard = pmod(sm64(id), 8); pos = row_number over the same
    // (sm64 signed, id) order within the shard
    Q("q_shuffle_shards", (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
        .orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH h AS (SELECT doc_id, tosigned(sm64(CAST(doc_id AS HUGEINT))) AS h FROM documents),
         |s AS (SELECT doc_id, h, ((h % 8) + 8) % 8 AS shard FROM h)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin),

    // paragraph-level exact dedup over a deterministic 8-word-paragraph
    // fixture (the corpus has no newlines; both engines build the same
    // paragraphs, the q_text_c4 pattern): first corpus-wide occurrence of
    // each paragraph survives, docs reassemble from survivors
    // paragraph dedup: same 8-word-paragraph fixture, winner = first
    // (doc_id, idx) occurrence of each distinct paragraph, docs rebuilt
    // from survivors in original order
    Q("q_dedup_paragraph", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        expr(
          """array_join(transform(
            |  sequence(0, greatest((size(split(text, ' ')) + 7) div 8, 1) - 1),
            |  i -> array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' ')), '\n\n')""".stripMargin)
          .as("text"))
      Dedup.dedupParagraphs(injected, "doc_id", "text").orderBy("doc_id")
    },
      """WITH t0 AS (SELECT doc_id, str_split(text, ' ') AS w, len(str_split(text, ' ')) AS n FROM documents),
        |t1 AS (SELECT doc_id,
        |  array_to_string(list_transform(range(0, greatest((n + 7) // 8, 1)),
        |    i -> array_to_string(w[CAST(i * 8 + 1 AS BIGINT):least(CAST((i + 1) * 8 AS BIGINT), n)], ' ')),
        |    chr(10) || chr(10)) AS text FROM t0),
        |px AS (SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1),
        |    i -> {'idx': i - 1, 'para': parts[i]})) AS u
        |  FROM (SELECT doc_id, str_split(text, chr(10) || chr(10)) AS parts FROM t1) q),
        |p AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM px),
        |wn AS (SELECT doc_id, idx, para,
        |  row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rk FROM p),
        |k AS (SELECT doc_id, idx, para FROM wn WHERE rk = 1),
        |r AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_kept FROM k GROUP BY doc_id),
        |np AS (SELECT doc_id, CAST(len(str_split(text, chr(10) || chr(10))) AS BIGINT) AS n_paras FROM t1)
        |SELECT np.doc_id, coalesce(r.text_dedup, '') AS text_dedup, np.n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM np LEFT JOIN r ON np.doc_id = r.doc_id ORDER BY np.doc_id""".stripMargin),

    // snapshot diff: new corpus = old minus every 7th doc (removed), every
    // 11th rewritten (changed), first 20 re-added under new ids (added)
    // full-outer join on id, status from the null pattern + content compare
    // (text equality IS the sha2 compare, modulo collisions)
    Q("q_corpus_diff", (s, dir) => {
      val d = docs(s, dir)
      graft.llm.Snapshot.corpusDiff(d, diffFixture(d), "doc_id", "text")
        .orderBy("doc_id")
    },
      s"""WITH $diffCtes,
         |j AS (SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |  FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j ORDER BY doc_id""".stripMargin),

    // ... and the refresh working set: the full new rows that are added or
    // changed — what an incremental rebuild actually reprocesses
    Q("q_refresh_set", (s, dir) => {
      val d = docs(s, dir)
      graft.llm.Snapshot.refreshSet(d, diffFixture(d), "doc_id", "text")
        .select("doc_id", "text").orderBy("doc_id")
    },
      s"""WITH $diffCtes
         |SELECT n.doc_id, n.text FROM newd n LEFT JOIN oldd o ON o.doc_id = n.doc_id
         |WHERE o.doc_id IS NULL OR o.text IS DISTINCT FROM n.text
         |ORDER BY n.doc_id""".stripMargin),

    // corpus rebalancing: downsample en to 20%, es to 50%, keep the rest
    // Same splitmix64 bucket arithmetic as q_split_hash, per-stratum cuts
    Q("q_sample_stratified", (s, dir) =>
      Sampling.hashSampleStratified(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.2, "es" -> 0.5))
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH b AS (SELECT doc_id, lang,
         |  ((tosigned(sm64(CAST(doc_id AS HUGEINT))) % 10000) + 10000) % 10000 AS bk
         |  FROM documents)
         |SELECT doc_id, lang FROM b
         |WHERE bk < (CASE lang WHEN 'en' THEN 2000 WHEN 'es' THEN 5000 ELSE 10000 END)
         |ORDER BY doc_id""".stripMargin),

    // temperature rebalancing at alpha=0.3: the smallest language keeps
    // 100%, the 3.4x-larger English slice keeps ~42% — flattening toward
    // equal shares without upsampling
    Q("q_sample_temperature", (s, dir) =>
      Sampling.temperatureSample(docs(s, dir), "doc_id", "lang", alpha = 0.3)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         |r AS (SELECT lang, pow(CAST(c AS DOUBLE), 0.3 - 1.0) AS r FROM c),
         |cuts AS (SELECT lang, CAST(floor(r / (SELECT max(r) FROM r) * 10000.0 + 0.5) AS BIGINT) AS cut FROM r),
         |b AS (SELECT doc_id, lang,
         |  ((tosigned(sm64(CAST(doc_id AS HUGEINT))) % 10000) + 10000) % 10000 AS bk
         |  FROM documents)
         |SELECT doc_id, lang FROM b JOIN cuts USING (lang)
         |WHERE bk < cut ORDER BY doc_id""".stripMargin),

    // sequential Poisson sampling (Ohlsson 1998): fixed-size PPS draw
    // weighted by n_chars — rank by splitmix64(id)/weight in exact integer
    // floor division, keep the 500 smallest; plans as TakeOrdered, never a
    // global sort
    // sequential Poisson: priority = ((sm64(id) >> 3) + 1) // max(w, 1) —
    // unsigned-shift + floor-div in exact integers, identical on both
    // engines; doc_id breaks the (measure-zero) priority ties
    Q("q_sample_priority", (s, dir) =>
      Sampling.prioritySample(docs(s, dir), "doc_id", "n_chars", k = 500),
      s"""${HashOracle.macros}
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST((sm64(CAST(doc_id AS HUGEINT)) >> 3) + 1 AS BIGINT)
         |    // greatest(CAST(n_chars AS BIGINT), 1) AS priority
         |FROM documents ORDER BY priority, doc_id LIMIT 500""".stripMargin),

    // the per-language form: an independent PPS draw of 200 inside every
    // lang, bounded-aggregator-ranked (never a per-stratum window)
    // same priority key, ranked within each lang — the window form of the
    // total order MinKAgg maintains boundedly
    Q("q_sample_priority_stratified", (s, dir) =>
      Sampling.prioritySampleByStratum(docs(s, dir), "doc_id", "n_chars",
          "lang", kPerStratum = 200)
        .select("doc_id", "lang", "priority", "stratum_rank")
        .orderBy("lang", "stratum_rank"),
      s"""${HashOracle.macros}
         |WITH p AS (SELECT doc_id, lang,
         |  CAST((sm64(CAST(doc_id AS HUGEINT)) >> 3) + 1 AS BIGINT)
         |    // greatest(CAST(n_chars AS BIGINT), 1) AS priority
         |  FROM documents),
         |r AS (SELECT doc_id, lang, priority,
         |  row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rk FROM p)
         |SELECT doc_id, lang, priority, CAST(rk AS BIGINT) AS stratum_rank
         |FROM r WHERE rk <= 200 ORDER BY lang, stratum_rank""".stripMargin),

    // GPT-3-style model-based quality filter: NB log-odds classifier
    // (pos = the doc_id%7 curated slice, neg = the rest), sigmoid score in
    // integer micro-probs, Pareto(9) keep decision cleared of pow
    // per-language counts → pow(c, alpha-1) ratios → normalized 1/10000
    // cuts (floor(x+0.5), the engine's rounding) → the sm64 bucket filter
    // NB quality filter replayed end to end: pos/neg histograms over the
    // same hashed buckets, integer micro-nat log-odds + prior, one-exp
    // sigmoid floored to micro-probs, and the Pareto(9) keep inequality
    // with t⁹ as the same eight left-associated multiplies
    Q("q_quality_nb", (s, dir) => {
      val d = docs(s, dir)
      graft.llm.QualityClassifier.nbQualityFilter(d, "doc_id", "text",
          d.filter(col("doc_id") % 7 === 0), "text",
          d.filter(col("doc_id") % 7 =!= 0), "text", buckets = 1024)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |gr AS (SELECT doc_id, unnest(toks) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS g FROM d),
         |fb AS (SELECT doc_id, ((tosigned(fnv1a(g)) % 1024) + 1024) % 1024 AS b FROM gr),
         |pc AS (SELECT b, count(*) AS c FROM fb WHERE doc_id % 7 = 0 GROUP BY b),
         |nc AS (SELECT b, count(*) AS c FROM fb WHERE doc_id % 7 <> 0 GROUP BY b),
         |tot AS (SELECT
         |    (SELECT count(*) FROM fb WHERE doc_id % 7 = 0) AS ptot,
         |    (SELECT count(*) FROM fb WHERE doc_id % 7 <> 0) AS ntot,
         |    (SELECT count(*) FROM d WHERE doc_id % 7 = 0) AS pdocs,
         |    (SELECT count(*) FROM d WHERE doc_id % 7 <> 0) AS ndocs),
         |ab AS (SELECT DISTINCT b FROM fb),
         |lam AS (SELECT ab.b,
         |    CAST(floor(ln((CAST(coalesce(pc.c, 0) + 1 AS DOUBLE) * CAST(tot.ntot + 1024 AS DOUBLE))
         |      / (CAST(coalesce(nc.c, 0) + 1 AS DOUBLE) * CAST(tot.ptot + 1024 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS lam
         |  FROM ab LEFT JOIN pc ON ab.b = pc.b LEFT JOIN nc ON ab.b = nc.b, tot),
         |pri AS (SELECT CAST(floor(ln(CAST(pdocs + 1 AS DOUBLE) / CAST(ndocs + 1 AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT) AS prior FROM tot),
         |w AS (SELECT fb.doc_id, sum(lam.lam) AS s FROM fb JOIN lam USING (b) GROUP BY fb.doc_id),
         |lg AS (SELECT ids.doc_id, pri.prior + coalesce(w.s, 0) AS logit
         |  FROM (SELECT doc_id FROM d) ids LEFT JOIN w USING (doc_id), pri),
         |scr AS (SELECT doc_id, logit,
         |    CAST(floor(1000000.0 / (1.0 + exp(-(CAST(logit AS DOUBLE) / 1000000.0))) + 0.5) AS BIGINT) AS score
         |  FROM lg),
         |kp AS (SELECT doc_id, logit, score,
         |    (CAST(sm64(CAST(doc_id AS HUGEINT)) // 4096 AS DOUBLE) + 0.5) / 4503599627370496.0 AS u,
         |    CAST(2000000 - score AS DOUBLE) / 1000000.0 AS t
         |  FROM scr)
         |SELECT doc_id, CAST(logit AS BIGINT) AS logit_micronats,
         |  CAST(score AS BIGINT) AS score_micro,
         |  (t <= 0.0 OR u * (t*t*t*t*t*t*t*t*t) < 1.0) AS keep
         |FROM kp ORDER BY doc_id""".stripMargin),

    // DSIR: every doc's integer micro-nat log importance weight against
    // the doc_id%7 "trusted target" slice (hashed unigram+bigram buckets)
    // DSIR replayed end to end: hashed feature buckets (pmod of the signed
    // FNV-1a), add-one-smoothed count models, the integer micro-nat log
    // ratio (one ln of exact-integer double products), and the order-free
    // integer sum per document
    Q("q_dsir_weights", (s, dir) => {
      val d = docs(s, dir)
      Sampling.dsirWeights(d, "doc_id", "text",
          d.filter(col("doc_id") % 7 === 0), "text", buckets = 1024)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH $dsirCtes
         |SELECT ids.doc_id, CAST(coalesce(w.logw, 0) AS BIGINT) AS logw_micronats
         |FROM (SELECT doc_id FROM d) ids LEFT JOIN w USING (doc_id)
         |ORDER BY ids.doc_id""".stripMargin),

    // the Gumbel-top-100 resample over those weights: noise is a pure
    // function of doc_id, so the draw replays exactly
    // the Gumbel draw on top: u from the splitmix64 high bits as an exact
    // dyadic rational, the same two-ln micro-nat floor, rank by
    // (key DESC, doc_id)
    Q("q_dsir_select", (s, dir) => {
      val d = docs(s, dir)
      val w = Sampling.dsirWeights(d, "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "text", buckets = 1024)
      Sampling.dsirSelect(w, "doc_id", k = 100).orderBy("rank")
    },
      s"""${HashOracle.macros}
         |WITH $dsirCtes,
         |wa AS (SELECT ids.doc_id, coalesce(w.logw, 0) AS logw
         |  FROM (SELECT doc_id FROM d) ids LEFT JOIN w USING (doc_id)),
         |gm AS (SELECT doc_id, logw, logw + CAST(floor(-ln(-ln(
         |    (CAST(sm64(CAST(doc_id AS HUGEINT)) // 4096 AS DOUBLE) + 0.5)
         |      / 4503599627370496.0)) * 1000000.0 + 0.5) AS BIGINT) AS key
         |  FROM wa),
         |r AS (SELECT doc_id, logw, key,
         |    row_number() OVER (ORDER BY key DESC, doc_id) AS rank FROM gm)
         |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
         |  CAST(logw AS BIGINT) AS logw_micronats, CAST(key AS BIGINT) AS key_micronats
         |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // per-domain caps: at most 10 docs per source, picked by ascending
    // (splitmix64(doc_id), doc_id) through the bounded min-k aggregator —
    // never a per-domain window (PlanSpec asserts)
    // The window form of the same total order the bounded aggregator ranks
    // by: row_number over (splitmix64(doc_id) signed, doc_id) per source
    Q("q_domain_cap", (s, dir) =>
      Sampling.capPerDomain(docs(s, dir), "doc_id", "source", maxPerDomain = 10)
        .select("doc_id", "source", "domain_rank").orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY tosigned(sm64(CAST(doc_id AS HUGEINT))), doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, source, CAST(rk AS BIGINT) AS domain_rank
         |FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin),

    // URL-keyed domain caps on the ccSLD-aware registered domain (round
    // 14, VERDICT r13 task 2): the fixture's case-0 branch lives under
    // .co.uk, where the legacy 2-label key would collapse EVERY site to
    // the single pseudo-domain "co.uk" and one hot bucket would absorb
    // the whole UK cap budget — registeredDomainCc keys each site at the
    // third label, so the cap applies per actual registrant. Same
    // bounded min-k aggregator as q_domain_cap, never a per-domain
    // window.
    // the ccSLD rule replayed arithmetically (site under .co.uk /
    // .com.au keys at the THIRD label; www strips on .com), then the
    // same row_number window form of the bounded cap
    Q("q_domain_cap_url", (s, dir) => {
      val sub = concat(lit("a"), (col("doc_id") % 11).cast("string"))
      val site = (col("doc_id") % 4).cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://"), sub, lit(".site"), site, lit(".co.uk/p"), col("doc_id").cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://www.site"), site, lit(".com/q"), col("doc_id").cast("string")))
        .otherwise(
          concat(lit("https://site"), site, lit(".com.au/r"), col("doc_id").cast("string")))
      val d = docs(s, dir).select(col("doc_id")).withColumn("url", url)
        .withColumn("domain", graft.llm.UrlOps.registeredDomainCc(col("url")))
      Sampling.capPerDomain(d, "doc_id", "domain", maxPerDomain = 10)
        .select("doc_id", "domain", "domain_rank").orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH u AS (SELECT doc_id,
         |  CASE CAST(doc_id % 3 AS INTEGER)
         |    WHEN 0 THEN 'site' || (doc_id % 4) || '.co.uk'
         |    WHEN 1 THEN 'site' || (doc_id % 4) || '.com'
         |    ELSE 'site' || (doc_id % 4) || '.com.au' END AS domain
         |  FROM documents),
         |r AS (SELECT doc_id, domain,
         |  row_number() OVER (PARTITION BY domain
         |    ORDER BY tosigned(sm64(CAST(doc_id AS HUGEINT))), doc_id) AS rk
         |  FROM u)
         |SELECT doc_id, domain, CAST(rk AS BIGINT) AS domain_rank
         |FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin),

    // epoch-aware mixture upsampling: src0 at 2.5 epochs, src1 sub-sampled
    // to 0.25, src2 exactly 3, src3 dropped, everything else 1.0 — every
    // copy decision (floor + deterministic fractional coin) verified
    // copies = floor(e) + (top-32-bits-of-sm64 < floor(frac(e)·2^32));
    // the chosen weights are binary-exact doubles so the DECIMAL-vs-DOUBLE
    // literal difference between engines cannot surface
    Q("q_mix_epochs", (s, dir) =>
      Sampling.upsampleEpochs(docs(s, dir), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 3.0, "src3" -> 0.0),
          defaultEpochs = 1.0)
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch"),
      s"""${HashOracle.macros}
         |WITH t AS (SELECT doc_id, source,
         |  CASE source WHEN 'src0' THEN CAST(2.5 AS DOUBLE) WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
         |    WHEN 'src2' THEN CAST(3.0 AS DOUBLE) WHEN 'src3' THEN CAST(0.0 AS DOUBLE)
         |    ELSE CAST(1.0 AS DOUBLE) END AS e
         |  FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, source, CAST(floor(e) AS BIGINT) +
         |  CASE WHEN (sm64(CAST(doc_id AS HUGEINT)) >> 32)
         |    < CAST(floor((e - floor(e)) * 4294967296.0) AS HUGEINT) THEN 1 ELSE 0 END AS copies
         |  FROM t)
         |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
         |FROM c ORDER BY doc_id, epoch""".stripMargin),

    // token-BUDGETED domain caps: admit each source's docs in the
    // deterministic (sm64, id) order until 300 summed tokens; the crossing
    // doc closes the domain (mixture recipes are token targets, not doc
    // counts) — same bounded-aggregator shape, budget-truncated
    // the window form of the budget rule: cumulative token sum per source
    // in the same (sm64, id) total order; kept iff the sum BEFORE the row
    // is under budget
    Q("q_domain_cap_tokens", (s, dir) => {
      val d = docs(s, dir)
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
      Sampling.capPerDomainTokens(d, "doc_id", "source", "tok", budget = 300)
        .select("doc_id", "source", "tokens_before").orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH t AS (SELECT doc_id, source, CAST(len(str_split(text, ' ')) AS BIGINT) AS tok,
         |  tosigned(sm64(CAST(doc_id AS HUGEINT))) AS h FROM documents),
         |w AS (SELECT doc_id, source, tok,
         |  CAST(coalesce(sum(greatest(tok, 1)) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before FROM t)
         |SELECT doc_id, source, tokens_before FROM w WHERE tokens_before < 300
         |ORDER BY doc_id""".stripMargin),

    // cluster-balanced sampling: IVF lists as strata, at most 20 vectors
    // kept per list via the bounded min-k cap — flattens topic skew before
    // training (hot clusters trimmed, small clusters kept whole)
    // the IVF assignment replay (training chain shared with q_ann_ivf),
    // then the q_domain_cap row_number order with list_id as the stratum
    Q("q_sample_cluster_cap", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val cents = graft.llm.Ivf.train(e, k = 16, iters = 2)
      val lists = graft.llm.Ivf.index(e, cents).select("vec_id", "list_id")
      Sampling.capPerDomain(lists, "vec_id", "list_id", maxPerDomain = 20)
        .select("vec_id", "list_id", "domain_rank").orderBy("vec_id")
    },
      s"""${HashOracle.macros}
         |WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |$qvCte,
         |$ivfTrainCtes,
         |idx AS (SELECT vec_id, list_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id) AS rk FROM xi) WHERE rk = 1),
         |r AS (SELECT vec_id, list_id, row_number() OVER (PARTITION BY list_id
         |  ORDER BY tosigned(sm64(CAST(vec_id AS HUGEINT))), vec_id) AS rk FROM idx)
         |SELECT vec_id, list_id, CAST(rk AS BIGINT) AS domain_rank
         |FROM r WHERE rk <= 20 ORDER BY vec_id""".stripMargin),

    // exact-substring repeated spans: every 9th doc gets a shared 20-word
    // suffix so cross-doc verbatim repeats exist by construction (organic
    // repeats in the corpus flag too — the oracle recomputes both)
    // positional 13-gram shingle hashes → hashes occurring >1 time in the
    // corpus → covered positions → gaps-and-islands merge into maximal
    // spans (new island when pos > prev running max + k), ends clamped to
    // the doc's token count — the exact walk the Scala kernel does
    Q("q_text_spans", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + SpanSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.repeatedSpans(injected, "doc_id", "text", k = 13)
        .orderBy("doc_id", "span_start")
    },
      s"""${HashOracle.macros}
         |WITH $spanIslandCtes,
         |sp AS (SELECT doc_id, min(pos) AS span_start, least(max(pos) + 13, max(n)) AS span_end
         |  FROM isl GROUP BY doc_id, island)
         |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
         |  CAST(span_end AS BIGINT) AS span_end
         |FROM sp ORDER BY doc_id, span_start""".stripMargin),

    // the spans APPLIED (Lee et al. dedup-then-train): every corpus-
    // repeated span is cut out of its document; same injected fixture so
    // the scrub provably removes the cross-doc suffix
    // the q_text_spans chain applied: covered positions flatten to a
    // per-doc list, and the ORIGINAL (non-folded) token survives iff its
    // 0-based index is not in it — list_filter over 1-based indices
    // replays the Scala kernel's cut exactly
    Q("q_text_scrub", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + SpanSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.scrubRepeatedSpans(injected, "doc_id", "text", k = 13)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH $spanIslandCtes,
         |sp AS (SELECT doc_id, min(pos) AS span_start, least(max(pos) + 13, max(n)) AS span_end
         |  FROM isl GROUP BY doc_id, island),
         |cov AS (SELECT doc_id, flatten(list(range(span_start, span_end))) AS cps
         |  FROM sp GROUP BY doc_id),
         |t0 AS (SELECT doc_id, str_split(CASE WHEN doc_id % 9 = 0
         |    THEN text || ' $SpanSuffix' ELSE text END, ' ') AS otoks FROM documents)
         |SELECT t0.doc_id,
         |  coalesce(array_to_string(list_transform(list_filter(range(1, len(otoks) + 1),
         |    i -> cps IS NULL OR NOT list_contains(cps, i - 1)), i -> otoks[i]), ' '), '') AS text_clean,
         |  CAST(len(otoks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(len(cps), 0) AS BIGINT) AS removed_tokens
         |FROM t0 LEFT JOIN cov USING (doc_id) ORDER BY t0.doc_id""".stripMargin),

    // Lee et al. verbatim (remove all but ONE occurrence): the globally
    // first (id, pos) occurrence of each repeated shingle survives — the
    // injected suffix stays on the first 9th-doc and is cut everywhere else
    // keep-first: the winner occurrence per duplicated hash is the min
    // arithmetic (doc_id·1e9 + pos) key — equivalent to lexicographic
    // (id, pos) while pos < 1e9; islands merge only the LOSER positions
    Q("q_text_scrub_keepfirst", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + SpanSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.scrubRepeatedSpansKeepFirst(injected, "doc_id", "text", k = 13)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH $spanIslandCtes,
         |w AS (SELECT sh, min(doc_id * 1000000000 + pos) AS wk FROM pos
         |  JOIN dup USING (sh) GROUP BY sh),
         |nw AS (SELECT p.doc_id, p.n, p.pos FROM pos p JOIN dup USING (sh)
         |  JOIN w USING (sh) WHERE p.doc_id * 1000000000 + p.pos <> w.wk),
         |nmarked AS (SELECT doc_id, n, pos,
         |  CASE WHEN pos > coalesce(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -100) + 13 THEN 1 ELSE 0 END AS ni
         |  FROM nw),
         |nisl AS (SELECT doc_id, n, pos,
         |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM nmarked),
         |sp AS (SELECT doc_id, min(pos) AS span_start, least(max(pos) + 13, max(n)) AS span_end
         |  FROM nisl GROUP BY doc_id, island),
         |cov AS (SELECT doc_id, flatten(list(range(span_start, span_end))) AS cps
         |  FROM sp GROUP BY doc_id),
         |t0 AS (SELECT doc_id, str_split(CASE WHEN doc_id % 9 = 0
         |    THEN text || ' $SpanSuffix' ELSE text END, ' ') AS otoks FROM documents)
         |SELECT t0.doc_id,
         |  coalesce(array_to_string(list_transform(list_filter(range(1, len(otoks) + 1),
         |    i -> cps IS NULL OR NOT list_contains(cps, i - 1)), i -> otoks[i]), ' '), '') AS text_clean,
         |  CAST(len(otoks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(len(cps), 0) AS BIGINT) AS removed_tokens
         |FROM t0 LEFT JOIN cov USING (doc_id) ORDER BY t0.doc_id""".stripMargin),

    // BPE tokenizer: 8 merges trained on the corpus word-count dict —
    // the merge table itself is the query output (rank, lhs, rhs)
    // the 8 argmax rows of the replayed merge loop
    Q("q_bpe_merges", (s, dir) => {
      val (m, _) = graft.llm.Bpe.train(docs(s, dir), "text", numMerges = 8, minCount = 2)
      graft.llm.Bpe.mergesDF(s, m).orderBy("rank")
    },
      {
      val union = (0 until 8).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs FROM b$i").mkString("\nUNION ALL ")
      s"""WITH ${bpeCtes(8, minCount = 2)}
         |SELECT * FROM ($union) ORDER BY rank""".stripMargin
    }),

    // full tokenization of every doc under those merges: exact token
    // counts AND the token strings themselves
    // every doc re-tokenized through the final dict w8: exact counts and
    // position-ordered token strings
    Q("q_bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      val (m, dict) = graft.llm.Bpe.train(d, "text", numMerges = 8, minCount = 2)
      graft.llm.Bpe.encode(d, "doc_id", "text", m, dict).orderBy("doc_id")
    },
      s"""WITH ${bpeCtes(8, minCount = 2)},
         |docw AS (SELECT doc_id, u.i AS i, u.w AS w FROM
         |  (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1), i -> {'i': i, 'w': toks[i]})) AS u
         |   FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) dt) dx
         |  WHERE u.w != ''),
         |enc AS (SELECT docw.doc_id, docw.i, w8.repr, len(str_split(w8.repr, chr(31))) AS nt
         |  FROM docw JOIN w8 ON docw.w = w8.word),
         |agg AS (SELECT doc_id, sum(nt) AS n, string_agg(repr, ' ' ORDER BY i) AS ts
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_bpe_tokens,
         |  coalesce(agg.ts, '') AS tokens_str
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // PageRank over a synthetic link graph (3 arithmetic link families per
    // doc): integer micro-rank arithmetic — floor division at the share
    // and damping steps — so all 3 iterations replay bit-exact
    // the same integer update replayed mechanically per iteration:
    // share = r // outdeg, damped = (850000 * share) // 1e6, next =
    // 150000 + sum — exact integers end to end
    Q("q_pagerank", (s, dir) =>
      graft.ops.Graphs.pageRank(linkGraph(s, dir), "src", "dst", iters = 3)
        .orderBy("id"),
      pagerankSql(3)),

    // the same ranking at convergence depth: 10 iterations cross the
    // in-loop checkpoint boundary twice, proving the lineage truncation
    // changes nothing and iteration error can't compound silently
    // convergence depth: 10 mechanical iterations, spanning two in-loop
    // checkpoints on the Spark side
    Q("q_pagerank_deep", (s, dir) =>
      graft.ops.Graphs.pageRank(linkGraph(s, dir), "src", "dst", iters = 10)
        .orderBy("id"),
      pagerankSql(10)),

    // HITS over the same synthetic link graph: hub/authority mutual
    // recursion with integer max-normalization (floor div by the round's
    // max) — both iterations replay bit-exact
    // hub/authority mutual recursion replayed mechanically: per iteration
    // auth = Σ in-edge hubs then (1e6·v) // max, hub = Σ out-edge auths
    // then the same max-normalization — exact integers end to end
    Q("q_hits", (s, dir) =>
      graft.ops.Graphs.hits(linkGraph(s, dir), "src", "dst", iters = 2)
        .orderBy("id"),
      hitsSql(2)),

    // HITS at twice the depth — the per-iteration persist/checkpoint
    // machinery replayed through 4 full normalization rounds
    // twice the normalization rounds — iteration error can't hide
    Q("q_hits_deep", (s, dir) =>
      graft.ops.Graphs.hits(linkGraph(s, dir), "src", "dst", iters = 4)
        .orderBy("id"),
      hitsSql(4)),

    // Rademacher JL projection 64→16: every output component is an exact
    // integer Σ ±qe_i with signs from the planesign kernel — posexploded
    // so the oracle compares component-by-component
    // the projection recomputed sign-by-sign: planesign(j, i) · qe[i]
    // summed per output dim — integer sums are order-independent, so the
    // compare is bit-exact regardless of either engine's fold order
    Q("q_embed_project", (s, dir) => {
      val p = graft.llm.Embeddings.projectRademacher(
        emb(s, dir).select("vec_id", "embedding"), "vec_id", "embedding", 16)
      p.select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          col("col").as("comp"))
        .orderBy("vec_id", "j")
    },
      s"""${HashOracle.macros}
         |WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |qv AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS qe FROM e),
         |t AS (SELECT vec_id, u.j, u.i, planesign(u.j, u.i) * qe[u.i + 1] AS term
         |  FROM qv, (SELECT j, i FROM range(16) a(j), range(64) b(i)) u)
         |SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(sum(term) AS BIGINT) AS comp
         |FROM t GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin),

    // URL canonicalization: messy fixture URLs (uppercase scheme/host, www,
    // default ports, tracking params, unsorted query, fragment, trailing
    // slash, one non-URL branch) — the oracle PREDICTS each canonical form
    // arithmetically, so a normalizer that skips any rule fails
    // every rule's outcome predicted per branch: lowercased scheme/host,
    // www and default ports gone, tracking params scrubbed, survivors
    // sorted, fragment and trailing slash dropped, path case preserved,
    // the non-URL branch NULL
    Q("q_url_normalize", (s, dir) => {
      val id = col("doc_id").cast("string")
      val k = (col("doc_id") % 20).cast("string")
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://WWW.Example"), k, lit(".COM:80/Dir/Page"), id,
            lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://sub.Example"), k, lit(".org:8443/p"), id))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://Example"), k, lit(".com:443/")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("http://example"), k, lit(".net/path?fbclid=abc"), id))
        .otherwise(concat(lit("not a url "), id))
      docs(s, dir).select(col("doc_id")).withColumn("url", url)
        .select(col("doc_id"), col("url"),
          graft.llm.UrlOps.canonicalize(col("url")).as("canonical_url"),
          graft.llm.UrlOps.registeredDomainCc(col("url")).as("domain"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'HTTP://WWW.Example' || (doc_id % 20) || '.COM:80/Dir/Page' || doc_id || '/?utm_source=feed&b=2&a=1#frag'
        |    WHEN 1 THEN 'https://sub.Example' || (doc_id % 20) || '.org:8443/p' || doc_id
        |    WHEN 2 THEN 'https://Example' || (doc_id % 20) || '.com:443/'
        |    WHEN 3 THEN 'http://example' || (doc_id % 20) || '.net/path?fbclid=abc' || doc_id
        |    ELSE 'not a url ' || doc_id END AS url,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'http://example' || (doc_id % 20) || '.com/Dir/Page' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'https://sub.example' || (doc_id % 20) || '.org:8443/p' || doc_id
        |    WHEN 2 THEN 'https://example' || (doc_id % 20) || '.com'
        |    WHEN 3 THEN 'http://example' || (doc_id % 20) || '.net/path'
        |    END AS canonical_url,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'example' || (doc_id % 20) || '.com'
        |    WHEN 1 THEN 'example' || (doc_id % 20) || '.org'
        |    WHEN 2 THEN 'example' || (doc_id % 20) || '.com'
        |    WHEN 3 THEN 'example' || (doc_id % 20) || '.net'
        |    END AS domain
        |FROM documents ORDER BY doc_id""".stripMargin),

    // WordPiece encode (round 14): the BERT-family greedy
    // longest-match-first segmentation with ## continuations and the
    // whole-word [UNK] fallback — the third tokenizer family. The
    // fixture builds words by concatenating vocabulary pieces whose
    // z-terminator construction makes greedy provably recover the
    // build (no piece can span a boundary), so the oracle replays the
    // CONSTRUCTION; the '!' slice must collapse to [UNK] whole
    // WordPiece replay (round 14): the z-terminator construction means
    // the oracle replays the BUILD, not the greedy search — which is
    // the proof obligation the fixture design discharges
    Q("q_wordpiece_encode", (s, dir) => {
      val spark = s
      import spark.implicits._
      val pcs = wpPieces
      val vocab = pcs ++ pcs.map("##" + _)
      val df = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
        def word(widx: Int): String = {
          val k = id + widx * 7
          val s0 = pcs((k % 6).toInt)
          val s1 = pcs(((k / 6) % 6).toInt)
          val s2 = pcs(((k / 36) % 6).toInt)
          widx match {
            case 0 => s0 + s1 + s2
            case 1 => s0 + s1 + "!"
            case _ => s2
          }
        }
        // upper-cased on purpose: the encoder's lowercasing is part of
        // the contract
        (id, Seq(0, 1, 2).map(word).mkString(" ").toUpperCase)
      }.toDF("doc_id", "text")
      graft.llm.Wordpiece.encode(df, "doc_id", "text", vocab)
        .orderBy("doc_id", "word_idx")
    },
      """WITH w AS (SELECT doc_id, u.i AS word_idx, doc_id + u.i * 7 AS k
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i)),
        |parts AS (SELECT doc_id, word_idx,
        |  list_extract(['az','boz','cedz','difuz','egz','fohz'],
        |    1 + CAST(k % 6 AS INTEGER)) AS s0,
        |  list_extract(['az','boz','cedz','difuz','egz','fohz'],
        |    1 + CAST((k // 6) % 6 AS INTEGER)) AS s1,
        |  list_extract(['az','boz','cedz','difuz','egz','fohz'],
        |    1 + CAST((k // 36) % 6 AS INTEGER)) AS s2
        |  FROM w)
        |SELECT doc_id, CAST(word_idx AS INTEGER) AS word_idx,
        |  CASE word_idx WHEN 0 THEN s0 || s1 || s2
        |                WHEN 1 THEN s0 || s1 || '!'
        |                ELSE s2 END AS word,
        |  CAST(CASE word_idx WHEN 0 THEN 3 ELSE 1 END AS BIGINT) AS n_pieces,
        |  CASE word_idx WHEN 0 THEN s0 || '|##' || s1 || '|##' || s2
        |                WHEN 1 THEN '[UNK]'
        |                ELSE s2 END AS pieces
        |FROM parts ORDER BY doc_id, word_idx""".stripMargin),

    // tokenizer fertility: tokens-per-word under the 8-merge BPE dict,
    // integer micro division
    // the encode chain aggregated to word/token counts; fertility as the
    // same integer micro division
    Q("q_bpe_fertility", (s, dir) => {
      val d = docs(s, dir)
      val (m, dict) = graft.llm.Bpe.train(d, "text", numMerges = 8, minCount = 2)
      graft.llm.Bpe.encodeStats(d, "doc_id", "text", m, dict).orderBy("doc_id")
    },
      s"""WITH ${bpeCtes(8, minCount = 2)},
         |docw AS (SELECT doc_id, u.w AS w FROM
         |  (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1), i -> {'i': i, 'w': toks[i]})) AS u
         |   FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) dt) dx
         |  WHERE u.w != ''),
         |enc AS (SELECT docw.doc_id, len(str_split(w8.repr, chr(31))) AS nt
         |  FROM docw JOIN w8 ON docw.w = w8.word),
         |agg AS (SELECT doc_id, count(*) AS nw, sum(nt) AS nt FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(agg.nw, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(agg.nt, 0) AS BIGINT) AS n_bpe_tokens,
         |  CAST(CASE WHEN coalesce(agg.nw, 0) > 0 THEN agg.nt * 1000000 // agg.nw END AS BIGINT) AS fertility_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // curation scorecard: domain cap → novelty vs reference → LM
    // perplexity, composed as ONE plan over the capped survivor set; keep
    // = novel enough AND fluent enough (thresholds from the sf0.01 signal
    // distribution: novelty is bimodal 0/1, mean_nats ~3.3-3.5)
    // the domain-cap row_number, the novelty chain, and the LM chain
    // composed in one replay; keep from the same three-valued logic
    Q("q_pipeline_curation", (s, dir) => {
      val d = docs(s, dir)
      val ref = d.filter(col("doc_id") % 5 === 0)
      val capped = Sampling.capPerDomain(d, "doc_id", "source", maxPerDomain = 15)
      val nov = Dedup.novelty(capped, "doc_id", "text", ref, "text", k = 13)
        .select("doc_id", "novelty_frac")
      val lm = TextAnalysis.lmScore(capped, "doc_id", "text", ref, "text")
        .select("doc_id", "n_terms", "mean_nats")
      capped.select("doc_id", "source", "domain_rank")
        .join(nov, Seq("doc_id"))
        .join(lm, Seq("doc_id"))
        .withColumn("keep", col("novelty_frac") > 0.5 && col("mean_nats") <= 3.5)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |cap AS (SELECT doc_id, source, rk FROM (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY tosigned(sm64(CAST(doc_id AS HUGEINT))), doc_id) AS rk
         |  FROM documents) WHERE rk <= 15),
         |$noveltyCtes,
         |$lmCtes
         |SELECT cap.doc_id, cap.source, CAST(cap.rk AS BIGINT) AS domain_rank,
         |  CAST(novagg.novel AS DOUBLE) / novagg.n AS novelty_frac,
         |  CAST(coalesce(lmagg.n, 0) AS BIGINT) AS n_terms,
         |  CASE WHEN lmagg.n > 0 THEN CAST(lmagg.s AS DOUBLE) / 1000000.0 / lmagg.n END AS mean_nats,
         |  (CAST(novagg.novel AS DOUBLE) / novagg.n > 0.5 AND
         |   (CASE WHEN lmagg.n > 0 THEN CAST(lmagg.s AS DOUBLE) / 1000000.0 / lmagg.n END) <= 3.5) AS keep
         |FROM cap JOIN novagg USING (doc_id) LEFT JOIN lmagg USING (doc_id)
         |ORDER BY cap.doc_id""".stripMargin),

    // repeated-token budget per doc over the same injected fixture as
    // q_text_spans: span lengths summed, exact-integer fraction, every doc
    // scored (zero-span docs 0)
    // the q_text_spans chain aggregated to the per-doc repeated budget;
    // zero-span docs join in with 0
    Q("q_text_span_stats", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + SpanSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.repeatedFraction(injected, "doc_id", "text", k = 13)
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH $spanIslandCtes,
         |sp AS (SELECT doc_id, min(pos) AS span_start, least(max(pos) + 13, max(n)) AS span_end
         |  FROM isl GROUP BY doc_id, island),
         |rep AS (SELECT doc_id, sum(span_end - span_start) AS repeated_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(rep.repeated_tokens, 0) AS BIGINT) AS repeated_tokens,
         |  CAST(coalesce(rep.repeated_tokens, 0) AS DOUBLE) / len(d.toks) AS repeated_frac
         |FROM d LEFT JOIN rep USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // shingle novelty vs the %5 reference slice: reference docs score 0
    // by construction, everything else by its unseen-13-gram fraction
    // the decontaminate shingle replay, counted instead of flagged:
    // distinct 13-gram FNV hashes per doc, novel = absent from the
    // reference slice's hash set, fraction from exact integer operands
    Q("q_text_novelty", (s, dir) => {
      val d = docs(s, dir)
      Dedup.novelty(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text", k = 13)
        .orderBy("doc_id")
    },
      noveltyOracleSql),

    // the distributed-reference twin: same semantics, membership probed by
    // a slim shuffle join instead of a driver-collected broadcast set
    // same semantics, same replay — only the engine's join strategy differs
    Q("q_text_novelty_join", (s, dir) => {
      val d = docs(s, dir)
      Dedup.noveltyJoin(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text", k = 13)
        .orderBy("doc_id")
    },
      noveltyOracleSql),

    // trigram form of the LM scorer: context counts derived from trigram
    // counts, same micro-nat contract, same %5 reference
    // trigram counts over the %5 slice, contexts as their prefix sums,
    // V = distinct unigrams, same floor(ln·1e6 + 0.5) per-term rounding
    Q("q_text_lm_trigram", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmScoreTrigram(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text")
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
        |vv AS (SELECT count(DISTINCT t) AS v FROM
        |  (SELECT unnest(toks) AS t FROM d WHERE doc_id % 5 = 0)),
        |tr0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS u FROM d),
        |tr AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM tr0),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM tr WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, sum(c) AS c FROM c3 GROUP BY 1, 2),
        |terms AS (SELECT tr.doc_id,
        |  CAST(floor(ln(CAST(coalesce(c2.c, 0) + (SELECT v FROM vv) AS DOUBLE)
        |    / (coalesce(c3.c, 0) + 1)) * 1000000.0 + 0.5) AS BIGINT) AS t
        |  FROM tr LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN c2 USING (w1, w2)),
        |agg AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY doc_id)
        |SELECT ids.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_terms,
        |  CAST(coalesce(agg.s, 0) AS BIGINT) AS surprisal_micronats,
        |  CASE WHEN agg.n > 0 THEN CAST(agg.s AS DOUBLE) / 1000000.0 / agg.n END AS mean_nats
        |FROM (SELECT doc_id FROM d) ids LEFT JOIN agg USING (doc_id)
        |ORDER BY ids.doc_id""".stripMargin),

    // stupid-backoff order-3 LM (round 15, verdict task 6): every token
    // scored at its longest matching context, α=0.4 per backoff level
    // folded into ONE integer ratio (2.5^L = 5^L/2^L), trained on the
    // same %5 reference — the CCNet-KenLM upgrade path of the lm family
    // backoff-LM replay (round 15): longest-context term selection and
    // the α-per-level ratio folding, trained and scored entirely in SQL
    Q("q_text_lm_backoff", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmScoreBackoff(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text")
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |$lmBackoffCtes
         |SELECT ids.doc_id, CAST(coalesce(lmagg.n, 0) AS BIGINT) AS n_terms,
         |  CAST(coalesce(lmagg.s, 0) AS BIGINT) AS surprisal_micronats,
         |  CASE WHEN lmagg.n > 0 THEN CAST(lmagg.s AS DOUBLE) / 1000000.0 / lmagg.n END AS mean_nats
         |FROM (SELECT doc_id FROM d) ids LEFT JOIN lmagg USING (doc_id)
         |ORDER BY ids.doc_id""".stripMargin),

    // and the perplexity-bucket twin keyed on the backoff scorer: same
    // tercile order-statistics arithmetic over the sharper signal
    // the bucket twin: identical tercile arithmetic over the backoff
    // scorer's lmagg
    Q("q_text_ppl_buckets_backoff", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.perplexityBuckets(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text", nBuckets = 3,
          scorer = TextAnalysis.lmScoreBackoff)
        .orderBy("doc_id")
    },
      pplBucketsOracle(lmBackoffCtes)),

    // TF-IDF top-5 terms per doc: exact integer scores (micro-nat idf),
    // bounded per-doc ranking (no doc_id window)
    // tf/df recomputed relationally, identical micro-nat idf rounding,
    // exact long score, row_number replay of the (score desc, term) order
    Q("q_text_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank"),
      """WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, term, tf, df,
        |  tf * CAST(floor(ln(CAST((SELECT count(*) FROM d) AS DOUBLE) / df) * 1000000.0 + 0.5) AS BIGINT) AS score
        |  FROM tf JOIN dfq USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  score, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rank""".stripMargin),

    // BM25 top-5 retrieval: every 170th doc's words 3-12 form a query
    // (the synthetic 31-word vocabulary makes every (query, doc) pair
    // match — the dense worst case — so the fixture sizes |Q| like the
    // ANN queries rather than inflating the benchmark with fan-out); the
    // integer micro-nat scores replay exactly in DuckDB
    Q("q_text_bm25", (s, dir) => {
      val d = docs(s, dir)
      val q = d.filter(col("doc_id") % 170 === 0)
        .select(col("doc_id").as("q_id"),
          expr("array_join(slice(split(text, ' '), 3, 10), ' ')").as("q_text"))
      TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", topK = 5)
        .orderBy("q_id", "rank")
    },
      s"""WITH $bm25Stats,
         |${bm25Queries("doc_id % 170 = 0")},
         |$bm25Scores,
         |r AS (SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM s)
         |SELECT q_id, doc_id, CAST(score AS BIGINT) AS score_micronats, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // PRF-expanded BM25 (round 15): first-pass top-5 docs feed tf·idf
    // term feedback, the top-5 NEW terms union the originals, and the
    // second pass ranks with the expanded term table — the Rocchio/RM3
    // loop, every stage in integer micro-nats. r15 optimization: the
    // shared-postings composition (one tokenize+aggregate subtree, one
    // scalar pass) replaces the prfExpandTerms → bm25TopKTerms two-call
    // form — row-identical by construction (LlmSpec pins it), oracle
    // unchanged
    // PRF replay (round 15): the bm25 chain restructured around a
    // query-independent (term, doc) score table vt so BOTH passes reuse
    // it; feedback = Σ tf·idfµ over the first-pass top-5 docs with
    // originals anti-joined out, top-5 terms by (score desc, term),
    // UNION dedup, second pass over the expanded table
    Q("q_text_bm25_prf", (s, dir) => {
      val d = docs(s, dir)
      val q = d.filter(col("doc_id") % 170 === 0)
        .select(col("doc_id").as("q_id"),
          expr("array_join(slice(split(text, ' '), 3, 10), ' ')").as("q_text"))
      TextAnalysis.bm25PrfTopK(d, "doc_id", "text", q, "q_id", "q_text",
          topK = 5, fbDocs = 5, fbTerms = 5)
        .orderBy("q_id", "rank")
    },
      s"""WITH $bm25Stats,
         |idft AS (SELECT term, df,
         |    CAST(floor(ln((2.0 * nn.n + 2.0) / (2.0 * df + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS idf
         |  FROM dfc, nn),
         |vt AS (SELECT tf.doc_id, tf.term,
         |    CAST(floor(CAST(idft.idf AS DOUBLE) * (22.0 * tf.tf * tlc.tl) /
         |      (10.0 * tlc.tl * tf.tf + 3.0 * tlc.tl + 9.0 * dl.dl * nn.n) + 0.5) AS BIGINT) AS v
         |  FROM tf JOIN idft USING (term) JOIN dl USING (doc_id), nn, tlc),
         |${bm25Queries("doc_id % 170 = 0")},
         |s1 AS (SELECT qt.q_id, vt.doc_id, CAST(sum(vt.v) AS BIGINT) AS score
         |  FROM qt JOIN vt USING (term) GROUP BY qt.q_id, vt.doc_id),
         |r1 AS (SELECT q_id, doc_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM s1 QUALIFY rank <= 5),
         |fb AS (SELECT r1.q_id, tf.term, CAST(sum(tf.tf * idft.idf) AS BIGINT) AS fbs
         |  FROM r1 JOIN tf ON tf.doc_id = r1.doc_id
         |  JOIN idft ON idft.term = tf.term
         |  LEFT JOIN qt ON qt.q_id = r1.q_id AND qt.term = tf.term
         |  WHERE qt.term IS NULL
         |  GROUP BY r1.q_id, tf.term),
         |fbr AS (SELECT q_id, term,
         |    row_number() OVER (PARTITION BY q_id ORDER BY fbs DESC, term) AS r
         |  FROM fb QUALIFY r <= 5),
         |qt2 AS (SELECT q_id, term FROM qt UNION SELECT q_id, term FROM fbr),
         |s2 AS (SELECT qt2.q_id, vt.doc_id, CAST(sum(vt.v) AS BIGINT) AS score
         |  FROM qt2 JOIN vt USING (term) GROUP BY qt2.q_id, vt.doc_id),
         |r2 AS (SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM s2)
         |SELECT q_id, doc_id, CAST(score AS BIGINT) AS score_micronats, CAST(rank AS BIGINT) AS rank
         |FROM r2 WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // CCNet-style LM scoring: bigram model trained on the doc_id%5 slice
    // (the "trusted reference"), every doc scored in integer micro-nats
    // add-one bigram LM replayed relationally: unigram/bigram counts over
    // the %5 reference slice, per-pair surprisal floor(ln(...)·1e6 + 0.5)
    // as BIGINT (term-wise integer rounding makes the per-doc sum
    // order-free — no ordered aggregate needed), identical final division
    Q("q_text_lm_score", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmScore(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text")
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |$lmCtes
         |SELECT ids.doc_id, CAST(coalesce(lmagg.n, 0) AS BIGINT) AS n_terms,
         |  CAST(coalesce(lmagg.s, 0) AS BIGINT) AS surprisal_micronats,
         |  CASE WHEN lmagg.n > 0 THEN CAST(lmagg.s AS DOUBLE) / 1000000.0 / lmagg.n END AS mean_nats
         |FROM (SELECT doc_id FROM d) ids LEFT JOIN lmagg USING (doc_id)
         |ORDER BY ids.doc_id""".stripMargin),

    // compression quality signal (zstd-3), oracle-checked by INVARIANT:
    // DuckDB can't replay a compressor, but it recomputes everything
    // around one — original/decompressed length + sha256 must round-trip
    // to the corpus values and the compressor's own compressBound must
    // hold (pinned TRUE). Ratio ordering/determinism of the companion
    // compressionRatio operator stay pinned by LlmSpec on the same kernel.
    // zstd roundtrip as invariant: the compressor runs only in Spark, but
    // lossless-ness is assertable relationally — decompress(compress(x))
    // must carry x's exact byte length and SHA-256, both recomputable
    // from the corpus; the compressBound contract is pinned TRUE
    Q("q_text_compression", (s, dir) =>
      TextAnalysis.compressionAudit(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS original_len,
        |  sha256(text) AS original_sha2,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS decompressed_len,
        |  sha256(text) AS decompressed_sha2,
        |  TRUE AS bound_ok
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin),

    // CCNet head/middle/tail: tercile buckets of the integer mean-surprisal
    // distribution, thresholds as exact order statistics of the histogram
    // the lm_score chain extended by the bucketing arithmetic: integer
    // mean key (s // n), histogram running sum, ceil-target thresholds,
    // bucket = #{thresholds < key}
    Q("q_text_ppl_buckets", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.perplexityBuckets(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text", nBuckets = 3)
        .orderBy("doc_id")
    },
      pplBucketsOracle(lmCtes)),

    // Gopher-style repetition metrics: pure map stage, integer-exact ratios
    // Repetition metrics recomputed set-wise: n-grams as strings (the
    // engine counts strings too — no hash in the definition), best / total
    // occurrence counts, ratios from identical integer operands.
    Q("q_text_repetition", (s, dir) =>
      TextAnalysis.repetition(docs(s, dir), "doc_id", "text").orderBy("doc_id"),
      {
      def gramCte(g: Int): String =
        s"""gr$g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < $g THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks) - ${g - 2}), i -> ${
                 (0 until g).map(t => s"toks[i+$t]").mkString(" || ' ' || ")}) END) AS g FROM d),
           |c$g AS (SELECT doc_id, max(c) AS best$g, sum(c) AS tot$g FROM
           |  (SELECT doc_id, g, count(*) AS c FROM gr$g GROUP BY doc_id, g) GROUP BY doc_id)""".stripMargin
      s"""WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |tok AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM d),
         |${gramCte(2)},
         |${gramCte(3)},
         |${gramCte(4)}
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(n - nd AS DOUBLE) / n AS dup_token_frac,
         |  CAST(best2 AS DOUBLE) / tot2 AS top2gram_frac,
         |  CAST(best3 AS DOUBLE) / tot3 AS top3gram_frac,
         |  CAST(best4 AS DOUBLE) / tot4 AS top4gram_frac
         |FROM tok JOIN c2 USING (doc_id) JOIN c3 USING (doc_id) JOIN c4 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),

    // line-level Gopher repetition over 8-word lines; every 3rd doc gets an
    // injected duplicated pair so both ratios exercise nonzero
    // line dup ratios from grouped line counts: dup occurrences = c-1 per
    // distinct line, char fractions from the same counts
    Q("q_text_repetition_lines", (s, dir) => {
      val injected = docs(s, dir).select(
        col("doc_id"),
        concat(
          expr(
            """array_join(transform(
              |  sequence(0, greatest((size(split(text, ' ')) + 7) div 8, 1) - 1),
              |  i -> array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' ')), '\n')""".stripMargin),
          when(col("doc_id") % 3 === 0,
            lit("\nrepeat me twice\nrepeat me twice")).otherwise(lit(""))).as("text"))
      TextAnalysis.repetitionLines(injected, "doc_id", "text").orderBy("doc_id")
    },
      """WITH t0 AS (SELECT doc_id, str_split(text, ' ') AS w, len(str_split(text, ' ')) AS n FROM documents),
        |t1 AS (SELECT doc_id, array_to_string(list_transform(range(0, greatest((n + 7) // 8, 1)),
        |    i -> array_to_string(w[CAST(i * 8 + 1 AS BIGINT):least(CAST((i + 1) * 8 AS BIGINT), n)], ' ')), chr(10))
        |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'repeat me twice' || chr(10) || 'repeat me twice' ELSE '' END AS text
        |  FROM t0),
        |l AS (SELECT doc_id, unnest(str_split(text, chr(10))) AS line FROM t1),
        |g AS (SELECT doc_id, line, count(*) AS c, length(line) AS len FROM l GROUP BY doc_id, line),
        |a AS (SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
        |  sum((c - 1) * len) AS dup_chars, sum(c * len) AS all_chars FROM g GROUP BY doc_id)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(dup_lines AS DOUBLE) / n_lines AS dup_line_frac,
        |  CASE WHEN all_chars = 0 THEN 0.0 ELSE CAST(dup_chars AS DOUBLE) / all_chars END AS dup_line_char_frac
        |FROM a ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: the "eval set" is a 30-word span (words
    // 11-40) of every 37th doc — those docs (and only docs sharing one of
    // their 13-grams) must flag contaminated
    // 13-gram shingles of both sides recomputed with the same FNV-1a hash
    // the engine joins on; contaminated = any shared shingle hash
    Q("q_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
      Dedup.decontaminate(d, "doc_id", "text", bench, "text", k = 13)
        .select("doc_id", "contaminated").orderBy("doc_id")
    },
      decontaminateOracleSql),

    // the surgical form: CUT the matching spans, keep the documents —
    // same %37 bench fixture; cleaned text, removed-token and span counts
    // all verified
    // span surgery: covered positions = union of [p, p+13) over bench
    // matches (short docs covered whole), islands counted by the lag
    // transition, clean text rebuilt from the ORIGINAL tokens
    Q("q_scrub_spans", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
      Dedup.scrubSpans(d, "doc_id", "text", bench, "text", k = 13)
        .orderBy("doc_id")
    },
      {
      val concat13 = (0 until 13).map(t => s"toks[i+$t]").mkString(" || ' ' || ")
      s"""${HashOracle.macros}
         |WITH d AS (SELECT doc_id, str_split(text, ' ') AS otoks,
         |  str_split(lower(text), ' ') AS toks FROM documents),
         |b0 AS (SELECT array_to_string(list_slice(str_split(text, ' '), 11, 40), ' ') AS btext
         |  FROM documents WHERE doc_id % 37 = 0),
         |bt AS (SELECT str_split(lower(btext), ' ') AS toks FROM b0),
         |bsh0 AS (SELECT unnest(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(1, len(toks) - 11), i -> $concat13) END) AS shingle FROM bt),
         |bsh AS (SELECT DISTINCT fnv1a(shingle) AS h FROM bsh0),
         |pos0 AS (SELECT doc_id, len(toks) AS n,
         |  unnest(CASE WHEN len(toks) < 13 THEN [{'p': 0, 'g': array_to_string(toks, ' ')}]
         |    ELSE list_transform(range(1, len(toks) - 11), i -> {'p': i - 1, 'g': $concat13}) END) AS u
         |  FROM d),
         |pos AS (SELECT doc_id, n, u.p AS pos, fnv1a(u.g) AS sh FROM pos0),
         |hits AS (SELECT doc_id, n, pos FROM pos WHERE sh IN (SELECT h FROM bsh)),
         |cov AS (SELECT DISTINCT doc_id, CAST(u AS BIGINT) AS cp FROM
         |  (SELECT doc_id, unnest(range(pos, CASE WHEN n < 13 THEN n ELSE least(pos + 13, n) END)) AS u
         |   FROM hits)),
         |st AS (SELECT doc_id, cp, CASE WHEN lag(cp) OVER (PARTITION BY doc_id ORDER BY cp) = cp - 1
         |  THEN 0 ELSE 1 END AS s FROM cov),
         |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
         |  CAST(sum(s) AS BIGINT) AS n_spans FROM st GROUP BY doc_id),
         |tok0 AS (SELECT doc_id, unnest(list_transform(range(len(otoks)),
         |  i -> {'i': i, 'w': otoks[i + 1]})) AS u FROM d),
         |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM tok0),
         |kept AS (SELECT t.doc_id, t.i, t.w FROM tok t
         |  ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.cp = t.i),
         |clean AS (SELECT doc_id, array_to_string(list(w ORDER BY i), ' ') AS text_clean
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(cl.text_clean, '') AS text_clean,
         |  CAST(coalesce(st2.n_removed, 0) AS BIGINT) AS n_removed,
         |  CAST(coalesce(st2.n_spans, 0) AS BIGINT) AS n_spans
         |FROM d LEFT JOIN clean cl USING (doc_id) LEFT JOIN stats st2 USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // the corpus-scale-reference form: Bloom pre-filter (constant
    // broadcast) + exact distributed verify; same fixture, same answer
    // the Bloom-pre-filtered path is row-identical BY CONSTRUCTION (the
    // exact verify kills false positives), so it shares the oracle
    Q("q_decontaminate_bloom", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
      Dedup.decontaminateBloom(d, "doc_id", "text", bench, "text", k = 13,
          bloomBits = 1 << 14, bloomK = 3)
        .select("doc_id", "contaminated").orderBy("doc_id")
    },
      decontaminateOracleSql),

    // the embedding-space form: eval = the %13 vector slice, broadcast;
    // every corpus vector scores against it in one codegen'd stage; the
    // self-overlap guarantees detections at threshold 0.95
    // exhaustive cosine against the eval slice, argmax by (cos DESC, eval
    // id ASC) — the window form of max(struct(cos, -id))
    Q("q_decontaminate_semantic", (s, dir) => {
      val e = emb(s, dir)
      Dedup.semanticDecontaminate(e, "vec_id", "embedding",
          e.filter(col("vec_id") % 13 === 0), "vec_id", "embedding",
          threshold = 0.95)
        .orderBy("vec_id")
    },
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee FROM embeddings WHERE vec_id % 13 = 0),
         |x AS (SELECT c.vec_id, ev.eid,
         |  ${HashOracle.cosine("c.embedding", "ev.ee")} AS cos
         |  FROM embeddings c, ev),
         |r AS (SELECT vec_id, eid, cos,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rk FROM x)
         |SELECT vec_id, eid AS near_eval_id, cos AS max_cos, cos >= 0.95 AS contaminated
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    // Gopher document gates over an injected fixture: even docs get the
    // required stopwords, %23 docs a >90% bullet prefix, %29 docs an
    // ellipsis line, %31 docs a proportional '#' run (ratio > 0.1 at any
    // doc length) — every gate exercised both ways
    // every Gopher gate recomputed over the identically-constructed fixture
    Q("q_text_gopher", (s, dir) => {
      val injected = docs(s, dir).select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 23 === 0, repeat(lit("• bullet item\n"), 30)).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 2 === 0,
            lit(" the cat and a dog have to be near of that with them")).otherwise(lit("")),
          when(col("doc_id") % 31 === 0,
            concat(lit(" "), expr("repeat('# ', CAST(size(split(text, ' ')) div 4 + 1 AS INT))"))).otherwise(lit("")),
          when(col("doc_id") % 29 === 0, lit("\nto be continued...")).otherwise(lit(""))).as("text"))
      TextAnalysis.gopherFilter(injected, "doc_id", "text").orderBy("doc_id")
    },
      """WITH base AS (SELECT doc_id, text, len(str_split(text, ' ')) AS n0 FROM documents),
        |t1 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 23 = 0 THEN repeat('• bullet item' || chr(10), 30) ELSE '' END
        |  || text
        |  || CASE WHEN doc_id % 2 = 0 THEN ' the cat and a dog have to be near of that with them' ELSE '' END
        |  || CASE WHEN doc_id % 31 = 0 THEN ' ' || repeat('# ', CAST(n0 // 4 + 1 AS INT)) ELSE '' END
        |  || CASE WHEN doc_id % 29 = 0 THEN chr(10) || 'to be continued...' ELSE '' END AS text
        |  FROM base),
        |l AS (SELECT doc_id, text, str_split(text, chr(10)) AS lines,
        |  list_filter(regexp_split_to_array(text, '[ \n]'), x -> x != '') AS toks FROM t1),
        |m AS (SELECT doc_id, text,
        |  greatest(len(lines), 1) AS nl, greatest(len(toks), 1) AS nw,
        |  len(toks) AS n_words_raw,
        |  len(list_filter(lines, x -> substr(trim(x), 1, 1) IN ('•', '-', '*'))) AS n_bullet,
        |  len(list_filter(lines, x -> trim(x) LIKE '%...')) AS n_ell_line,
        |  coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS char_sum,
        |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |  len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
        |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS stop_hits,
        |  length(text) - length(replace(text, '#', '')) AS n_hash,
        |  (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell
        |  FROM l)
        |SELECT doc_id, CAST(n_words_raw AS BIGINT) AS n_words,
        |  CAST(char_sum AS DOUBLE) / nw AS mean_word_len,
        |  CAST(n_hash AS DOUBLE) / nw AS hash_ratio,
        |  CAST(n_ell AS DOUBLE) / nw AS ellipsis_ratio,
        |  CAST(n_bullet AS DOUBLE) / nl AS bullet_line_frac,
        |  CAST(n_ell_line AS DOUBLE) / nl AS ellipsis_line_frac,
        |  CAST(n_alpha AS DOUBLE) / nw AS alpha_word_frac,
        |  CAST(stop_hits AS BIGINT) AS stop_hits,
        |  (n_words_raw >= 50 AND n_words_raw <= 100000
        |   AND CAST(char_sum AS DOUBLE) / nw >= 3 AND CAST(char_sum AS DOUBLE) / nw <= 10
        |   AND CAST(n_hash AS DOUBLE) / nw <= 0.1 AND CAST(n_ell AS DOUBLE) / nw <= 0.1
        |   AND CAST(n_bullet AS DOUBLE) / nl <= 0.9 AND CAST(n_ell_line AS DOUBLE) / nl <= 0.3
        |   AND CAST(n_alpha AS DOUBLE) / nw >= 0.8 AND stop_hits >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),

    // C4 line/document cleaning over a deterministically-structured fixture
    // (the corpus is single-line word salad, so both engines first build
    // the same multi-line text: 8-word lines, every 7th-cycle line
    // one-word-short, every 5th-cycle line unpunctuated, every 11th-cycle
    // line javascript-tainted, plus doc-level lorem/brace markers)
    // the C4 rules replayed rule-for-rule over the same constructed fixture
    Q("q_text_c4", (s, dir) => {
      val injected = docs(s, dir).select(
        col("doc_id"),
        concat(
          expr(
            """array_join(transform(
              |  sequence(0, greatest((size(split(text, ' ')) + 7) div 8, 1) - 1),
              |  i -> CASE
              |    WHEN i % 7 = 3 THEN concat(element_at(split(text, ' '), CAST(i * 8 + 1 AS INT)), '.')
              |    WHEN i % 5 = 2 THEN array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' ')
              |    WHEN i % 11 = 5 THEN concat(array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' '), ' javascript.')
              |    ELSE concat(array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' '), '.')
              |  END), '\n')""".stripMargin),
          when(col("doc_id") % 17 === 0, lit("\nlorem ipsum.")).otherwise(lit("")),
          when(col("doc_id") % 19 === 0, lit("\nbrace { here.")).otherwise(lit(""))).as("text"))
      TextAnalysis.c4Clean(injected, "doc_id", "text").orderBy("doc_id")
    },
      """WITH t0 AS (SELECT doc_id, str_split(text, ' ') AS w, len(str_split(text, ' ')) AS n FROM documents),
        |t1 AS (SELECT doc_id,
        |  array_to_string(list_transform(range(0, greatest((n + 7) // 8, 1)),
        |    i -> CASE
        |      WHEN i % 7 = 3 THEN w[CAST(i * 8 + 1 AS BIGINT)] || '.'
        |      WHEN i % 5 = 2 THEN array_to_string(w[CAST(i * 8 + 1 AS BIGINT):least(CAST((i + 1) * 8 AS BIGINT), n)], ' ')
        |      WHEN i % 11 = 5 THEN array_to_string(w[CAST(i * 8 + 1 AS BIGINT):least(CAST((i + 1) * 8 AS BIGINT), n)], ' ') || ' javascript.'
        |      ELSE array_to_string(w[CAST(i * 8 + 1 AS BIGINT):least(CAST((i + 1) * 8 AS BIGINT), n)], ' ') || '.'
        |    END), chr(10))
        |  || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum.' ELSE '' END
        |  || CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'brace { here.' ELSE '' END AS text
        |  FROM t0),
        |l AS (SELECT doc_id, text, list_transform(str_split(text, chr(10)), x -> trim(x)) AS lines FROM t1),
        |k AS (SELECT doc_id, text, len(lines) AS n_lines_total,
        |  list_filter(lines, t ->
        |    length(t) > 0
        |    AND substr(t, length(t), 1) IN ('.', '!', '?', '"')
        |    AND len(list_filter(str_split(t, ' '), x -> x != '')) >= 3
        |    AND NOT contains(lower(t), 'javascript')) AS kept
        |  FROM l),
        |c AS (SELECT doc_id, text, n_lines_total, len(kept) AS n_lines_kept,
        |  array_to_string(kept, chr(10)) AS text_clean FROM k),
        |s AS (SELECT *, length(text_clean)
        |  - length(replace(replace(replace(text_clean, '.', ''), '!', ''), '?', '')) AS n_sentences FROM c)
        |SELECT doc_id, text_clean, CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
        |  CAST(n_lines_total AS BIGINT) AS n_lines_total, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  (n_sentences >= 5 AND NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')) AS keep
        |FROM s ORDER BY doc_id""".stripMargin),

    // PII scrub over a deterministically-injected fixture column (the
    // corpus itself is synthetic word salad with no PII): count + redact
    // emails / IPv4 / phones. Both engines build the identical fixture.
    Q("q_text_pii", (s, dir) => {
      val injected = docs(s, dir).select(
        col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example now"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call +1 415 "), (col("doc_id") % 1000).cast("string"),
              lit(" 99"))).otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(injected, "text")
        .select("doc_id", "n_emails", "n_ipv4", "n_phones", "redacted")
        .orderBy("doc_id")
    },
      {
      import graft.llm.TextAnalysis.{emailRe, ipv4Re, phoneRe}
      s"""WITH t AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example now' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' call +1 415 ' || CAST(doc_id % 1000 AS VARCHAR) || ' 99' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ipv4Re')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailRe', '<EMAIL>', 'g'), '$ipv4Re', '<IP>', 'g'), '$phoneRe', '<PHONE>', 'g') AS redacted
         |FROM t ORDER BY doc_id""".stripMargin
    }),

    // pairs → transitive duplicate clusters → canonical keep set: the unit
    // of deduplication is the connected component, not the pair
    // The minhash pair set recomputed as in q_dedup_minhash, then the
    // transitive closure via a recursive CTE: reach(id, r) = ids reachable
    // over the symmetrized pair edges; cluster_id = min reachable id. The
    // engine's log-round star-contraction and the oracle's naive closure
    // must agree exactly on every component.
    Q("q_dedup_cluster", (s, dir) => {
      val d = docs(s, dir)
      Dedup.clusters(d, "doc_id",
          Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
            .select("id_a", "id_b"))
        .orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH RECURSIVE ${HashOracle.minhashSigRows},
         |${HashOracle.minhashBuckets},
         |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sc a JOIN sc b USING (band, sl) WHERE a.doc_id < b.doc_id),
         |est AS (SELECT id_a, id_b, CAST(count(*) FILTER (sa.slot = sb.slot) AS DOUBLE) / 64 AS ej
         |  FROM ids JOIN sigrows sa ON sa.doc_id = id_a
         |           JOIN sigrows sb ON sb.doc_id = id_b AND sa.j = sb.j
         |  GROUP BY id_a, id_b),
         |pr AS (SELECT id_a, id_b FROM est WHERE ej >= 0.5),
         |e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
         |FROM cl ORDER BY doc_id""".stripMargin),

    // cross-corpus near-dedup: train = doc_id%4!=0, reference = %4==0 —
    // which train docs are Jaccard-0.5 near-dups of the reference side
    // (the paraphrase-robust complement of the 13-gram decontaminate)
    // Full MinHash pipeline recomputed: FNV shingle hashes → 64-slot
    // signature → 16 banded buckets (hot-bucket cap) → candidate pairs →
    // est_jaccard = equal-slot fraction ≥ threshold.
    // cross-corpus banding: the signature chain is side-agnostic, so ONE
    // sigrows CTE over all documents splits by doc_id%4; the reference
    // side carries the hot-bucket cap, the join is strictly train×ref
    Q("q_dedup_cross", (s, dir) => {
      val d = docs(s, dir)
      Dedup.nearDupAgainst(
          d.filter(col("doc_id") % 4 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 4 === 0), "doc_id", "text",
          threshold = 0.5)
        .orderBy("id", "ref_id")
    },
      s"""${HashOracle.macros}
         |WITH ${HashOracle.minhashSigRows},
         |slice AS (SELECT doc_id, j // 4 AS band, list(slot ORDER BY j) AS sl
         |  FROM sigrows GROUP BY doc_id, j // 4),
         |tb AS (SELECT * FROM slice WHERE doc_id % 4 != 0),
         |rb0 AS (SELECT * FROM slice WHERE doc_id % 4 = 0),
         |rcap AS (SELECT band, sl FROM rb0 GROUP BY band, sl HAVING count(*) <= 500),
         |rb AS (SELECT rb0.* FROM rb0 JOIN rcap USING (band, sl)),
         |ids AS (SELECT DISTINCT tb.doc_id AS id, rb.doc_id AS ref_id
         |  FROM tb JOIN rb USING (band, sl)),
         |est AS (SELECT id, ref_id, CAST(count(*) FILTER (sa.slot = sb.slot) AS DOUBLE) / 64 AS est_jaccard
         |  FROM ids JOIN sigrows sa ON sa.doc_id = id
         |           JOIN sigrows sb ON sb.doc_id = ref_id AND sa.j = sb.j
         |  GROUP BY id, ref_id)
         |SELECT id, ref_id, est_jaccard FROM est WHERE est_jaccard >= 0.5
         |ORDER BY id, ref_id""".stripMargin),

    // Exact 3-word-shingle Jaccard over ALL pairs — passing asserts the
    // banded candidate generation reached 100% recall at this threshold on
    // this corpus (true near-dups here have jaccard ≥ 0.9, far above the
    // 1-(1-j^4)^16 detection knee).
    Q("q_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      """WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
        | s AS (SELECT doc_id,
        |   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
        |   FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh)) >= 0.4 * len(list_distinct(list_concat(a.sh, b.sh)))
        |ORDER BY id_a, id_b""".stripMargin),

    // containment (doc-in-doc) over the same banded candidates: integer
    // set sizes + one double division, oracle replays the full LSH path
    // the full LSH candidate path (signatures → bands → cap) replayed,
    // then exact distinct-shingle-hash set sizes and intersection counts;
    // containment = n_inter / min(n_a, n_b) from identical integers
    Q("q_dedup_containment", (s, dir) =>
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text", threshold = 0.6)
        .orderBy("id_a", "id_b"),
      s"""${HashOracle.macros}
         |WITH ${HashOracle.minhashSigRows},
         |${HashOracle.minhashBuckets},
         |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sc a JOIN sc b USING (band, sl) WHERE a.doc_id < b.doc_id),
         |ns AS (SELECT doc_id, count(*) AS n FROM hh GROUP BY doc_id),
         |inter AS (SELECT id_a, id_b, count(*) AS ni
         |  FROM ids JOIN hh ha ON ha.doc_id = id_a
         |           JOIN hh hb ON hb.doc_id = id_b AND ha.h = hb.h
         |  GROUP BY id_a, id_b)
         |SELECT id_a, id_b, CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |  CAST(inter.ni AS BIGINT) AS n_inter,
         |  CAST(inter.ni AS DOUBLE) / least(na.n, nb.n) AS containment
         |FROM inter JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
         |WHERE CAST(inter.ni AS DOUBLE) / least(na.n, nb.n) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin),

    // SimHash recomputed: FNV token hashes → per-bit weighted votes →
    // packed 64-bit signature → 4×16-bit bands (cap) → Hamming ≤ 10.
    Q("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 10)
        .orderBy("id_a", "id_b"),
      s"""${HashOracle.macros}
         |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY doc_id, tok),
         |ut AS (SELECT tok, fnv1a(tok) AS h FROM (SELECT DISTINCT tok FROM tc)),
         |th AS (SELECT doc_id, h, cnt FROM tc JOIN ut USING (tok)),
         |votes AS (SELECT doc_id, b.b AS b,
         |  sum(CASE WHEN (h >> b.b) & 1 = 1 THEN cnt ELSE -cnt END) AS v
         |  FROM th, range(64) b(b) GROUP BY doc_id, b.b),
         |sh AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
         |  FROM votes GROUP BY doc_id),
         |bk AS (SELECT doc_id, u, bb.b AS band, (u >> (bb.b * 16)) & 65535 AS bh FROM sh, range(4) bb(b)),
         |capped AS (SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 500),
         |bkc AS (SELECT bk.* FROM bk JOIN capped USING (band, bh)),
         |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.u AS ua, b.u AS ub
         |  FROM bkc a JOIN bkc b USING (band, bh) WHERE a.doc_id < b.doc_id),
         |ham AS (SELECT id_a, id_b, bit_count(xor(CAST(ua AS UBIGINT), CAST(ub AS UBIGINT))) AS hamming FROM ids)
         |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM ham
         |WHERE hamming <= 10 ORDER BY id_a, id_b""".stripMargin),

    // threshold 0.3: the driver embeddings are near-random (max pairwise
    // cosine ≈ 0.4), so a production-style 0.9 near-dup cut is legitimately
    // empty; 0.3 exercises the LSH+verify path with non-empty output
    // Hyperplane-LSH near-dup pipeline recomputed: 16-bit signature →
    // 4×4-bit bands (hot-bucket cap) → candidates → exact cosine ≥ 0.3.
    Q("q_dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(emb(s, dir), "vec_id", "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b"),
      s"""${HashOracle.macros}
         |WITH ${HashOracle.hyperplaneSig},
         |capped AS (SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 500),
         |bkc AS (SELECT bk.* FROM bk JOIN capped USING (band, bh)),
         |ids AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkc a JOIN bkc b USING (band, bh) WHERE a.vec_id < b.vec_id),
         |pairs AS (SELECT id_a, id_b, ${HashOracle.cosine("ea.embedding", "eb.embedding")} AS cosine
         |  FROM ids JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup: IVF-coarse clusters (k=16, 2 Lloyd iters — the replay
    // proven by q_ann_ivfpq), within-list cosine pairs at the
    // q_dedup_embedding threshold, transitive closure to canonicals
    // the IVF assignment replay (same chain as q_ann_ivfpq), pairwise
    // cosine within each list, then the q_dedup_cluster recursive closure
    Q("q_semdedup", (s, dir) =>
      Dedup.semanticDedup(emb(s, dir).select("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.3, k = 16, iters = 2)
        .select(col("vec_id"), col("cluster_id"), col("is_canonical"))
        .orderBy("vec_id"),
      s"""${HashOracle.macros}
         |WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
         |$qvCte,
         |$ivfTrainCtes,
         |idx AS (SELECT vec_id, list_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id) AS rk FROM xi) WHERE rk = 1),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM idx a JOIN idx b USING (list_id)
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE a.vec_id < b.vec_id
         |    AND ${HashOracle.cosine("ea.embedding", "eb.embedding")} >= 0.3),
         |ed AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.u, reach.r FROM ed JOIN reach ON reach.id = ed.v),
         |cl AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT vec_id, cluster_id, vec_id = cluster_id AS is_canonical
         |FROM cl ORDER BY vec_id""".stripMargin),

    Q("q_ann_brute", (s, dir) => {
      val e = emb(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      annBruteOracle),

    // Graph ANN (round 15): per-partition navigable-small-world graphs,
    // map-side beam search, bounded global merge. ef=1024 ≥ any shard's
    // row count, where the backbone-chain connectivity guarantee makes
    // the walk provably exhaustive — so the graph path must reproduce
    // the brute top-k EXACTLY, and the oracle is the brute replay. The
    // spec covers the graded-ef approximate regime
    // NSW graph ANN (round 15): at exhaustive ef the connected graph's
    // beam search visits every node, so the contract is exact brute
    // equality — same cosine arithmetic, same (cosine DESC, nn_id) order
    Q("q_ann_nsw", (s, dir) => {
      val e = emb(s, dir)
      graft.llm.Nsw.searchTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 10, m = 8, efConstruction = 64, ef = 1024)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      annBruteOracle),

    // the same search through a PREBUILT index dataframe (the build-once
    // search-many path) — same exhaustive-ef contract, same brute oracle
    // the indexed path ranks by the same total order under the same
    // exhaustive-ef walk, so the one brute replay covers it too
    Q("q_ann_nsw_indexed", (s, dir) => {
      val e = emb(s, dir)
      val idx = graft.llm.Nsw.index(e, "vec_id", "embedding", m = 8, efConstruction = 64)
      graft.llm.Nsw.searchIndex(idx, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 10, ef = 1024)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      annBruteOracle),

    // Hybrid retrieval via reciprocal-rank fusion (round 15): the same 10
    // queries run against the LEXICAL index (BM25 top-5 over documents)
    // and the EMBEDDING index (brute cosine top-10), merged score-free on
    // ranks — 1e6 div (60 + rank) summed where a doc appears, ranked by
    // the bounded top-k aggregator. doc_id and vec_id share the 0..499 id
    // space by the driver fixtures' construction, which is what makes
    // this a true lexical+semantic hybrid rather than a self-fusion
    // RRF hybrid replay (round 15): the full BM25 chain (same integer
    // micro-nat arithmetic as q_text_bm25, doc_id < 10 queries), the
    // full brute-cosine chain (the q_ann_brute idiom), then the fusion
    // as integer division + an order-free sum — exact end to end
    Q("q_retrieval_rrf", (s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val q = d.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          expr("array_join(slice(split(text, ' '), 3, 10), ' ')").as("q_text"))
      val lexical = TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", topK = 5)
        .select(col("q_id"), col("doc_id").as("nn_id"), col("rank"))
      val semantic = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("q_id"), col("nn_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lexical, semantic), "q_id", "nn_id", "rank", c = 60, topK = 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"),
          col("score_micro"))
        .orderBy("q_id", "rank")
    },
      s"""WITH $rrfCtes)
         |SELECT q_id, nn_id, CAST(rank AS BIGINT) AS rank, score_micro
         |FROM fr WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),

    // Hybrid retrieval pipeline (round 15): ONE plan from the raw tables
    // to the final diversified page — BM25 lexical lists over documents,
    // NSW graph search over embeddings (exhaustive ef ⇒ the brute
    // contract), RRF fusion, label round-robin. The complete serving
    // chain a retrieval deployment runs per query batch, and the graph
    // path rides inside it in place of the brute scan
    // pipeline replay (round 15): the q_retrieval_rrf composition (BM25
    // micro-nat chain + brute cosine chain — NSW at exhaustive ef IS
    // brute — + fusion arithmetic) extended by the label join and the
    // interleave window pair
    Q("q_pipeline_retrieval", (s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val q = d.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          expr("array_join(slice(split(text, ' '), 3, 10), ' ')").as("q_text"))
      val lexical = TextAnalysis.bm25TopK(d, "doc_id", "text", q, "q_id", "q_text", topK = 5)
        .select(col("q_id"), col("doc_id").as("nn_id"), col("rank"))
      val semantic = graft.llm.Nsw.searchTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, m = 8, efConstruction = 64, ef = 1024)
        .select(col("q_id"), col("nn_id"), col("rank"))
      val fused = Retrieval.rrfFuse(Seq(lexical, semantic), "q_id", "nn_id", "rank", topK = 10)
        .join(e.select(col("vec_id").as("nn_id"), col("label")), Seq("nn_id"))
      Retrieval.interleaveByGroup(fused, "q_id", "nn_id", "rank", "label", topK = 8)
        .select(col("q_id"), col("nn_id"), col("grp").cast("long").as("grp"), col("rank"))
        .orderBy("q_id", "rank")
    },
      s"""WITH $rrfCtes
         |   QUALIFY rank <= 10),
         |lab AS (SELECT fr.q_id, fr.nn_id, fr.rank, e.label AS grp
         |   FROM fr JOIN embeddings e ON e.vec_id = fr.nn_id),
         |w1 AS (SELECT q_id, nn_id, grp, rank,
         |   row_number() OVER (PARTITION BY q_id, grp ORDER BY rank, nn_id) AS rnd FROM lab),
         |w2 AS (SELECT q_id, nn_id, grp,
         |   row_number() OVER (PARTITION BY q_id ORDER BY rnd, rank, nn_id) AS rank2 FROM w1)
         |SELECT q_id, nn_id, CAST(grp AS BIGINT) AS grp, CAST(rank2 AS BIGINT) AS rank
         |FROM w2 WHERE rank2 <= 8 ORDER BY q_id, rank""".stripMargin),

    // Retrieval evaluation (round 15): the brute top-10 scored against
    // label ground truth (same-label = relevant) — recall@10, MRR, and
    // nDCG@10 in integer micro-units, every term replayed in DuckDB
    // eval replay (round 15): brute chain, label-join qrels, then each
    // metric as the same integer arithmetic — per-hit floored log2
    // discounts summed order-free, idcg as a bounded series, micro
    // ratios by integer division
    Q("q_retrieval_eval", (s, dir) => {
      val e = emb(s, dir)
      val ranked = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
      val qrels = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id").as("nn_id"), col("label")),
          col("label") === col("__ql") && col("nn_id") =!= col("q_id"))
        .select("q_id", "nn_id")
      Retrieval.evalRanking(ranked, qrels, "q_id", "nn_id", "rank", k = 10)
        .orderBy("q_id")
    },
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS nn_id, embedding AS ce FROM embeddings),
        | p AS (SELECT q_id, nn_id,
        |   list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cosine
        |   FROM q, c WHERE q_id != nn_id),
        | topk AS (SELECT q_id, nn_id,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM p
        |   QUALIFY rank <= 10),
        | qr AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS nn_id
        |   FROM embeddings a JOIN embeddings b ON a.label = b.label AND b.vec_id != a.vec_id
        |   WHERE a.vec_id < 10),
        | nrel AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM qr GROUP BY q_id),
        | h AS (SELECT t.q_id, CAST(count(*) AS BIGINT) AS hits, min(t.rank) AS minr,
        |   CAST(sum(CAST(floor(1000000.0 / (ln(CAST(t.rank AS DOUBLE) + 1.0) / ln(2.0)) + 0.5) AS BIGINT)) AS BIGINT) AS dcg
        |   FROM topk t JOIN qr ON t.q_id = qr.q_id AND t.nn_id = qr.nn_id
        |   GROUP BY t.q_id)
        |SELECT n.q_id, n.n_rel,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  CAST(1000000 * coalesce(h.hits, 0) // n.n_rel AS BIGINT) AS recall_micro,
        |  CAST(CASE WHEN h.minr IS NULL THEN 0 ELSE 1000000 // h.minr END AS BIGINT) AS rr_micro,
        |  CAST(coalesce(h.dcg, 0) AS BIGINT) AS dcg_micro,
        |  CAST(1000000 * coalesce(h.dcg, 0) // list_sum(list_transform(
        |    range(1, CAST(least(10, n.n_rel) AS INTEGER) + 1),
        |    i -> CAST(floor(1000000.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)) + 0.5) AS BIGINT))) AS BIGINT) AS ndcg_micro
        |FROM nrel n LEFT JOIN h ON h.q_id = n.q_id
        |ORDER BY n.q_id""".stripMargin),

    // MMR re-ranking (round 15): the brute top-12 greedily re-selected
    // trading relevance against redundancy (λ=0.7) in integer micro
    // arithmetic — the DuckDB oracle replays every greedy step with a
    // recursive CTE over the same quantized scores
    // MMR replay (round 15): brute top-12 rel quantization, the full
    // candidate-pair cosine matrix quantized the same way, then a
    // RECURSIVE CTE replays every greedy step — the λ·rel −
    // (1−λ)·max-sim argmax with its id tie-break, the max kept SIGNED
    // (this replay caught the engine's 0-clamp bug in review)
    Q("q_retrieval_mmr", (s, dir) => {
      val e = emb(s, dir)
      val cand = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 12)
        .withColumn("rel_micro", expr("CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT)"))
        .join(e.select(col("vec_id").as("nn_id"), col("embedding")), Seq("nn_id"))
      Retrieval.mmrSelect(cand, "q_id", "nn_id", "rel_micro", "embedding",
          k = 6, lambdaMicro = 700000L)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      """WITH RECURSIVE
        |qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |cv AS (SELECT vec_id AS nn_id, embedding AS ce FROM embeddings),
        |pv AS (SELECT q_id, nn_id,
        |   list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cosine
        |   FROM qv, cv WHERE q_id != nn_id),
        |kr AS (SELECT q_id, nn_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rnk FROM pv
        |   QUALIFY rnk <= 12),
        |cand AS (SELECT q_id, nn_id, CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT) AS rel FROM kr),
        |pr AS (SELECT a.q_id, a.nn_id AS a_id, b.nn_id AS b_id,
        |   CAST(floor(
        |     (list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))))) * 1000000.0 + 0.5) AS BIGINT) AS sim
        |   FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.nn_id != b.nn_id
        |   JOIN embeddings ea ON ea.vec_id = a.nn_id
        |   JOIN embeddings eb ON eb.vec_id = b.nn_id),
        |sel AS (
        |  SELECT q_id, [nn_id] AS picked, 1 AS t
        |  FROM (SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, nn_id) AS r FROM cand)
        |  WHERE r = 1
        |  UNION ALL
        |  SELECT s.q_id, list_append(s.picked, x.nn_id), s.t + 1
        |  FROM sel s, LATERAL (
        |    SELECT c.nn_id
        |    FROM cand c
        |    WHERE c.q_id = s.q_id AND NOT list_contains(s.picked, c.nn_id)
        |    ORDER BY (700000 * c.rel - 300000 * coalesce(
        |        (SELECT max(p.sim) FROM pr p
        |         WHERE p.q_id = s.q_id AND p.a_id = c.nn_id AND list_contains(s.picked, p.b_id)), 0)) DESC,
        |      c.nn_id
        |    LIMIT 1) x
        |  WHERE s.t < 6),
        |fin AS (SELECT q_id, picked FROM sel WHERE t = 6)
        |SELECT q_id, u.pk AS nn_id, CAST(u.rn AS BIGINT) AS rank
        |FROM fin, UNNEST(list_transform(picked, (p, i) -> struct_pack(pk := p, rn := i))) AS z(u)
        |ORDER BY q_id, rank""".stripMargin),

    // Label-diversified ANN (round 15): the brute top-12 re-ranked
    // round-robin across the embeddings' label column — every label's
    // best result before any label's second; both windows ride lists
    // that are 12-bounded per query on entry
    // interleave replay (round 15): brute top-12, label join, then the
    // two-window round-robin — within-(q, label) position first, original
    // rank second, id last, exactly the engine's window pair
    Q("q_retrieval_interleave", (s, dir) => {
      val e = emb(s, dir)
      val ranked = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 12)
        .join(e.select(col("vec_id").as("nn_id"), col("label")), Seq("nn_id"))
      Retrieval.interleaveByGroup(ranked, "q_id", "nn_id", "rank", "label", topK = 8)
        .select(col("q_id"), col("nn_id"), col("grp").cast("long").as("grp"), col("rank"))
        .orderBy("q_id", "rank")
    },
      """WITH qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |cv AS (SELECT vec_id AS nn_id, embedding AS ce FROM embeddings),
        |pv AS (SELECT q_id, nn_id,
        |   list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cosine
        |   FROM qv, cv WHERE q_id != nn_id),
        |k AS (SELECT q_id, nn_id,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM pv
        |   QUALIFY rank <= 12),
        |lab AS (SELECT k.q_id, k.nn_id, k.rank, e.label AS grp
        |   FROM k JOIN embeddings e ON e.vec_id = k.nn_id),
        |w1 AS (SELECT q_id, nn_id, grp, rank,
        |   row_number() OVER (PARTITION BY q_id, grp ORDER BY rank, nn_id) AS rnd FROM lab),
        |w2 AS (SELECT q_id, nn_id, grp,
        |   row_number() OVER (PARTITION BY q_id ORDER BY rnd, rank, nn_id) AS rank2 FROM w1)
        |SELECT q_id, nn_id, CAST(grp AS BIGINT) AS grp, CAST(rank2 AS BIGINT) AS rank
        |FROM w2 WHERE rank2 <= 8 ORDER BY q_id, rank""".stripMargin),

    // Margin-based bitext mining (round 15): the CCMatrix ratio margin
    // over both-direction top-k lists — raw cosine normalized by the
    // mean of each side's neighborhood so hub sentences stop winning;
    // mutual flags the intersection criterion. Even vec_ids play the
    // source corpus, odd ones the target; the oracle replays both kNN
    // directions, the rank-ordered mean fold, and the margin division
    // bitext margin replay (round 15): both kNN directions via the
    // q_ann_brute cosine idiom, meanK as a RANK-ORDERED list_sum (the
    // same float sequence as the engine's sorted fold), then the
    // margin division — bit-identical doubles end to end
    Q("q_bitext_margin", (s, dir) => {
      val e = emb(s, dir)
      Bitext.marginPairs(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"),
          col("margin"), col("mutual").cast("int").as("mutual"))
        .orderBy("q_id", "rank")
    },
      """WITH s AS (SELECT vec_id AS id, embedding AS e FROM embeddings WHERE vec_id % 2 = 0),
        | t AS (SELECT vec_id AS id, embedding AS e FROM embeddings WHERE vec_id % 2 = 1),
        | fp AS (SELECT s.id AS q_id, t.id AS nn_id,
        |   list_sum(list_transform(range(1, 65), i -> CAST(s.e[i] AS DOUBLE) * CAST(t.e[i] AS DOUBLE))) /
        |   (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(s.e[i] AS DOUBLE) * CAST(s.e[i] AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(t.e[i] AS DOUBLE) * CAST(t.e[i] AS DOUBLE))))) AS cosine
        |   FROM s, t),
        | f AS (SELECT q_id, nn_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rank FROM fp),
        | fk AS (SELECT * FROM f WHERE rank <= 4),
        | b AS (SELECT fp.nn_id AS q_id, fp.q_id AS nn_id, fp.cosine,
        |   row_number() OVER (PARTITION BY fp.nn_id ORDER BY fp.cosine DESC, fp.q_id) AS rank FROM fp),
        | bk AS (SELECT * FROM b WHERE rank <= 4),
        | mx AS (SELECT q_id, list_sum(list(cosine ORDER BY rank)) / len(list(cosine ORDER BY rank)) AS mean_x
        |   FROM fk GROUP BY q_id),
        | my AS (SELECT q_id AS nn_id, list_sum(list(cosine ORDER BY rank)) / len(list(cosine ORDER BY rank)) AS mean_y
        |   FROM bk GROUP BY q_id),
        | mu AS (SELECT q_id AS m_nn, nn_id AS m_q FROM bk)
        |SELECT fk.q_id, fk.nn_id, CAST(fk.rank AS BIGINT) AS rank,
        |  fk.cosine / ((mx.mean_x + my.mean_y) / 2) AS margin,
        |  CAST(CASE WHEN mu.m_q IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS mutual
        |FROM fk JOIN mx USING (q_id) JOIN my USING (nn_id)
        |LEFT JOIN mu ON mu.m_q = fk.q_id AND mu.m_nn = fk.nn_id
        |ORDER BY q_id, rank""".stripMargin),

    // LSH ANN recomputed end-to-end: shared-band candidates (no cap in the
    // top-k path), exact cosine, rank by (cosine DESC, nn_id).
    Q("q_ann_lsh", (s, dir) => {
      val e = emb(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      lshOracleSql),

    // same LSH search ranked by bounded aggregation (the many-queries
    // path) — must produce IDENTICAL rows to q_ann_lsh's window form
    // the window and bounded-agg forms rank by the same total order, so
    // ONE oracle covers both
    Q("q_ann_lsh_agg", (s, dir) => {
      val e = emb(s, dir)
      Ann.lshTopKAgg(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      lshOracleSql),

    // IVF coarse-quantizer ANN — the oracle replays the ENTIRE training:
    // splitmix64 seeding, two Lloyd iterations over integer-quantized
    // vectors, then index + nprobe search (see HashOracle.lloydStep)
    // IVF recomputed end-to-end: deterministic seeds, two Lloyd steps on
    // integer sums, nearest-list index, nprobe=4 probe, cosine top-10
    Q("q_ann_ivf", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val centroids = graft.llm.Ivf.train(e, k = 16, iters = 2)
      graft.llm.Ivf.search(
        graft.llm.Ivf.index(e, centroids), centroids,
        e.filter(col("vec_id") < 10), k = 10, nprobe = 4)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      ivfOracleSql),

    // same IVF search through the many-queries path: map-side nprobe
    // assignment + bounded top-k aggregation — must produce IDENTICAL rows
    // to q_ann_ivf's broadcast/window form, checked against the same
    // full-training DuckDB replay
    // searchAgg's map-side probe + bounded top-k ranks by the same total
    // order as the window form, so ONE full-training replay covers both
    Q("q_ann_ivf_agg", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val centroids = graft.llm.Ivf.train(e, k = 16, iters = 2)
      graft.llm.Ivf.searchAgg(
        graft.llm.Ivf.index(e, centroids), centroids,
        e.filter(col("vec_id") < 10), k = 10, nprobe = 4)
        .select(col("q_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      ivfOracleSql),

    // deterministic train/val/test routing: a pure function of doc_id
    // through splitmix64 — reproducible across reruns/partitionings, and
    // replicated bit-for-bit by the oracle (not a statistical check)
    // pmod(splitmix64(doc_id), 10000) routed through the same cumulative
    // cuts; tosigned + double-% replicates Spark's pmod on signed longs
    Q("q_split_hash", (s, dir) =>
      Sampling.hashSplit(docs(s, dir), "doc_id",
          Seq(("train", 0.98), ("val", 0.01), ("test", 0.01)))
        .select("doc_id", "split").orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH b AS (SELECT doc_id,
         |  ((tosigned(sm64(CAST(doc_id AS HUGEINT))) % 10000) + 10000) % 10000 AS bk
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN bk < 9800 THEN 'train' WHEN bk < 9900 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),

    // leakage-safe splitting: route by the duplicate-CLUSTER id, not the
    // doc id, so near-duplicate docs can never straddle train/test (the
    // eval-contamination channel hashSplit-by-doc leaves open); pure
    // composition of the contraction clusters and the hash router
    // the cluster chain + the sm64 bucket router keyed on cluster_id —
    // every member of a duplicate cluster provably lands in one split
    Q("q_split_leakage_safe", (s, dir) => {
      val d = docs(s, dir)
      val cl = Dedup.clusters(d, "doc_id",
        Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b"))
      Sampling.hashSplit(cl, "cluster_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select("doc_id", "cluster_id", "split").orderBy("doc_id")
    },
      s"""${HashOracle.macros}
         |WITH RECURSIVE ${HashOracle.minhashSigRows},
         |${HashOracle.minhashBuckets},
         |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sc a JOIN sc b USING (band, sl) WHERE a.doc_id < b.doc_id),
         |est AS (SELECT id_a, id_b, CAST(count(*) FILTER (sa.slot = sb.slot) AS DOUBLE) / 64 AS ej
         |  FROM ids JOIN sigrows sa ON sa.doc_id = id_a
         |           JOIN sigrows sb ON sb.doc_id = id_b AND sa.j = sb.j
         |  GROUP BY id_a, id_b),
         |pr AS (SELECT id_a, id_b FROM est WHERE ej >= 0.5),
         |e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |b AS (SELECT doc_id, cluster_id,
         |  ((tosigned(sm64(CAST(cluster_id AS HUGEINT))) % 10000) + 10000) % 10000 AS bk
         |  FROM cl)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),

    // int8 symmetric embedding quantization, verified code-by-code: explode
    // (vec_id, dim, code, dequantized) and compare against DuckDB's replay
    // of the same scale/round/clamp arithmetic
    // per-vector scale = max|x|/127; code = clamp(round-half-away(x/scale));
    // deq = CAST(code*scale AS FLOAT) — DuckDB round() IS half-away-from-
    // zero on doubles (measured), so the replay is arithmetic-identical.
    // A null ELEMENT is a null code in both engines (the kernel reads boxed
    // floats; here the explicit v IS NULL arm keeps the scale=0 branch from
    // coercing it to 0)
    Q("q_embed_quantize", (s, dir) => {
      val q = Quantize.dequantize(
        Quantize.quantize(emb(s, dir).select("vec_id", "embedding"), "embedding"),
        "scale", "q", "deq")
      q.select(col("vec_id"), col("scale"), posexplode(arrays_zip(col("q"), col("deq"))))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col.q").cast("long").as("code"),
          col("col.deq").cast("double").as("deq_v"), col("scale"))
        .orderBy("vec_id", "dim")
    },
      """WITH s AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
        |    embedding FROM embeddings),
        |x AS (SELECT vec_id, scale, u.v, u.dim FROM s,
        |  UNNEST(list_transform(embedding,
        |    (v, i) -> struct_pack(v := CAST(v AS DOUBLE), dim := i - 1))) AS t(u)),
        |c AS (SELECT vec_id, dim, scale,
        |    CASE WHEN v IS NULL THEN NULL
        |      WHEN scale > 0
        |      THEN CAST(greatest(-127, least(127, round(CAST(v AS DOUBLE) / scale))) AS BIGINT)
        |      ELSE 0 END AS code
        |  FROM x)
        |SELECT vec_id, dim, code,
        |  CAST(CAST(code * scale AS FLOAT) AS DOUBLE) AS deq_v, scale
        |FROM c ORDER BY vec_id, dim""".stripMargin),

    Q("q_text_tokens", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_ws"),
        TextAnalysis.bpeTokenCount("text").cast("long").as("n_bpe"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),

    Q("q_text_quality", (s, dir) =>
      TextAnalysis.quality(docs(s, dir), col("text"))
        .select("doc_id", "n_chars", "n_words", "avg_word_len", "stopword_ratio", "alpha_ratio")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |CAST(length(text) AS BIGINT) AS n_chars,
         |CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         |CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(str_split(text, ' ')) AS avg_word_len,
         |CAST(len(list_filter(str_split(text, ' '), t -> t IN ($stopList))) AS DOUBLE)
         |  / len(str_split(text, ' ')) AS stopword_ratio,
         |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |  / greatest(length(text), 1) AS alpha_ratio
         |FROM documents ORDER BY doc_id""".stripMargin),

    // argmax fold: winner = first language in lexicon order reaching the
    // max score (the Scala fold replaces only on strictly-greater)
    Q("q_text_langid", (s, dir) =>
      TextAnalysis.langId(docs(s, dir), col("text"))
        .select("doc_id", "lang", "lang_pred", "lang_score")
        .orderBy("doc_id"),
      {
      val scores = Stopwords.lexicons.map { case (lang, words) =>
        lang -> s"len(list_intersect(toks, [${words.map(w => s"'$w'").mkString(", ")}]))"
      }
      val scoreCols = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
      val m = s"greatest(${scores.map(s => "s_" + s._1).mkString(", ")})"
      val pick = scores.map { case (l, _) => s"WHEN s_$l = __m THEN '$l'" }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang, $scoreCols
         |  FROM (SELECT doc_id, lang,
         |        list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
         |        FROM documents)),
         | s AS (SELECT *, $m AS __m FROM t)
         |SELECT doc_id, lang, CASE $pick END AS lang_pred, CAST(__m AS INTEGER) AS lang_score
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // Winnowing fingerprints recomputed: FNV k-gram hashes (signed), min
    // per sliding window of 4, distinct set per doc.
    Q("q_text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprintDocs(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), size(col("fingerprints")).cast("long").as("n_fp"),
          array_min(col("fingerprints")).as("min_fp"))
        .orderBy("doc_id"),
      s"""${HashOracle.macros}
         |WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS toks,
         |  greatest(len(str_split(lower(text), ' ')) - 3, 0) + 1 AS n FROM documents),
         |g AS (SELECT doc_id, n, u.i AS i,
         |  tosigned(fnv1a(array_to_string(toks[u.i : least(u.i + 2, len(toks))], ' '))) AS h
         |  FROM d, unnest(generate_series(1, n)) u(i)),
         |wins AS (SELECT doc_id, n, i,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |  FROM g),
         |fps AS (SELECT DISTINCT doc_id, wmin FROM wins WHERE n > 4 AND i <= n - 3
         |  UNION ALL SELECT doc_id, min(h) AS wmin FROM g WHERE n <= 4 GROUP BY doc_id)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(wmin) AS min_fp
         |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q("q_multimodal_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"), lit("text/plain").as("mime"))
        .as[Multimodal.Media]
      Multimodal.decodeMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |CAST(1 + octet_length(encode(text)) % 640 AS INTEGER) AS width,
        |CAST(1 + octet_length(encode(text)) % 480 AS INTEGER) AS height,
        |CAST(1 + octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL BMP decode: each doc constructs an actual BMP whose header
    // declares dims derived from doc_id; the parser must read the header
    // fields back (offsets 18/22) — a stub can't fake this roundtrip
    // the fixture's header fields replayed arithmetically: the Spark side
    // went bytes -> parse, the oracle predicts what an honest parser reads
    Q("q_multimodal_bmp", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .map(id => Multimodal.Media(id,
          Multimodal.syntheticBmp(1 + (id % 640).toInt, 1 + (id % 480).toInt), "image/bmp"))
      Multimodal.decodeMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(58 AS BIGINT) AS byte_len,
        |CAST(1 + doc_id % 640 AS INTEGER) AS width,
        |CAST(1 + doc_id % 480 AS INTEGER) AS height,
        |CAST(1 AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL PNG/GIF/JPEG header decode: each doc becomes one of the three
    // formats (by doc_id % 3) with dimensions written into real header
    // fields — IHDR big-endian ints, GIF LE uint16s, a JPEG SOF0 behind a
    // skipped APP0 segment — and the parsers must read them back
    // arithmetic replay of the three fixture writers: sizes are the fixed
    // header lengths (PNG 33, GIF 13, JPEG 35), dims the written fields
    Q("q_multimodal_headers", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .map { id =>
          val w = 1 + (id % 1920).toInt
          val h = 1 + (id % 1080).toInt
          id % 3 match {
            case 0 => Multimodal.Media(id, Multimodal.syntheticPng(w, h), "image/png")
            case 1 => Multimodal.Media(id, Multimodal.syntheticGif(w, h), "image/gif")
            case _ => Multimodal.Media(id, Multimodal.syntheticJpeg(w, h), "image/jpeg")
          }
        }
      Multimodal.decodeMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 35 END AS BIGINT) AS byte_len,
        |CAST(1 + doc_id % 1920 AS INTEGER) AS width,
        |CAST(1 + doc_id % 1080 AS INTEGER) AS height,
        |CAST(1 AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL RIFF/WAVE decode: chunk-walked fmt/data headers; n_samples and
    // duration derive from the declared sizes the fixture wrote
    Q("q_multimodal_wav", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .map(id => Multimodal.Media(id,
          Multimodal.syntheticWav(8000 + (id % 8).toInt * 4000, 1 + (id % 2).toInt,
            16, 1000 + id % 9000), "audio/wav"))
      Multimodal.decodeAudioMeta(media).toDF()
        .select("doc_id", "byte_len", "sample_rate", "channels", "n_samples", "duration_ms")
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(44 AS BIGINT) AS byte_len,
        |CAST(8000 + (doc_id % 8) * 4000 AS INTEGER) AS sample_rate,
        |CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |CAST(1000 + doc_id % 9000 AS BIGINT) AS n_samples,
        |CAST((1000 + doc_id % 9000) * 1000 // (8000 + (doc_id % 8) * 4000) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MP3 metadata (round 12): a REAL VBR Layer III frame sequence —
    // ID3v2 tag skipped by syncsafe length, per-frame bitrate/padding
    // varying by formula, MPEG-1/2 by parity, ID3v1 trailer on a slice.
    // The frame-length walk is the thing under test: byte_len replays
    // the EXACT sum of per-frame ⌊cst·kbps·1000/rate⌋+pad lengths in
    // SQL, so a single off-by-one in the walk (or a desync) mismatches
    // the MP3 frame walk replayed: byte_len sums every frame's own
    // ⌊cst·kbps·1000/rate⌋+padding length (the ISO 11172-3 header
    // formula) over the per-frame VBR bitrate/padding formulas, plus
    // the ID3v2 tag (10 + payload) and the ID3v1 trailer slice — one
    // desync or off-by-one in the walk and byte_len/n_samples mismatch
    Q("q_multimodal_mp3_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("mp3Media")(mp3Media _))
      Multimodal.decodeAudioMeta(media).toDF()
        .select("doc_id", "byte_len", "sample_rate", "channels", "n_samples", "duration_ms")
        .orderBy("doc_id")
    },
      """WITH fr AS (
        |  SELECT doc_id, u.j AS j,
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 144 * 1000 * ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])[CAST((doc_id + u.j) % 14 AS INTEGER) + 1]
        |      ELSE 72 * 1000 * ([8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160])[CAST((doc_id + u.j) % 14 AS INTEGER) + 1]
        |     END) // (CASE WHEN doc_id % 2 = 0
        |      THEN ([44100, 48000, 32000])[CAST(doc_id % 3 AS INTEGER) + 1]
        |      ELSE ([22050, 24000, 16000])[CAST(doc_id % 3 AS INTEGER) + 1] END)
        |    + (doc_id + u.j * 7) % 2 AS flen
        |  FROM documents, unnest(generate_series(0, 58)) AS u(j)
        |  WHERE u.j < 40 + doc_id % 20),
        |agg AS (SELECT doc_id, SUM(flen) AS frames_len FROM fr GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(110 + d.doc_id % 50
        |       + CASE WHEN d.doc_id % 4 = 1 THEN 128 ELSE 0 END
        |       + a.frames_len AS BIGINT) AS byte_len,
        |  CAST(CASE WHEN d.doc_id % 2 = 0
        |       THEN ([44100, 48000, 32000])[CAST(d.doc_id % 3 AS INTEGER) + 1]
        |       ELSE ([22050, 24000, 16000])[CAST(d.doc_id % 3 AS INTEGER) + 1]
        |       END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 2 ELSE 1 END AS INTEGER) AS channels,
        |  CAST((40 + d.doc_id % 20)
        |       * CASE WHEN d.doc_id % 2 = 0 THEN 1152 ELSE 576 END AS BIGINT) AS n_samples,
        |  CAST((40 + d.doc_id % 20)
        |       * CASE WHEN d.doc_id % 2 = 0 THEN 1152 ELSE 576 END * 1000
        |       // (CASE WHEN d.doc_id % 2 = 0
        |           THEN ([44100, 48000, 32000])[CAST(d.doc_id % 3 AS INTEGER) + 1]
        |           ELSE ([22050, 24000, 16000])[CAST(d.doc_id % 3 AS INTEGER) + 1] END)
        |       AS BIGINT) AS duration_ms
        |FROM documents d JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // ISO-BMFF structural walk (round 13): every field the oracle
    // replays — dims, duration, trak count, sample count, and the
    // container's exact byte length — demands the real box discipline
    // (32/64-bit mvhd, size-based skipping of unknown boxes, the
    // vide-handler trak selected among two)
    // ISO-BMFF walk replay (round 13): every emitted field is a closed
    // form of doc_id, and byte_len is the builder's exact box-size
    // arithmetic (ftyp 16+4·brands; mvhd 108 v0 / 120 v1; video trak
    // 440+4·n; audio trak 450; udta 8+junk; free 8+len; mdat 8+len) —
    // ContainerSpec pins the same form against the rendered bytes, so
    // Spark, the builder, and DuckDB must agree three ways
    Q("q_multimodal_mp4_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("mp4Media")(mp4Media _))
      Containers.decodeMp4Meta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "duration_ms", "n_tracks",
          "n_samples", "codec")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(16 + 4 * (1 + doc_id % 3)
        |    + 8 + (CASE WHEN doc_id % 2 = 1 THEN 120 ELSE 108 END)
        |    + 440 + 4 * (24 + doc_id % 10)
        |    + (CASE WHEN doc_id % 4 = 0 THEN 450 ELSE 0 END)
        |    + (CASE WHEN doc_id % 6 = 0 THEN 13 + doc_id % 11 ELSE 0 END)
        |    + (CASE WHEN doc_id % 5 = 0 THEN 20 + doc_id % 9 ELSE 0 END)
        |    + 8 + 50 + doc_id % 40 AS BIGINT) AS byte_len,
        |  CAST(160 + doc_id % 64 AS INTEGER) AS width,
        |  CAST(120 + doc_id % 32 AS INTEGER) AS height,
        |  CAST((5 + doc_id % 7) * 1000 + (doc_id % 10) * 100 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
        |  CAST(24 + doc_id % 10 AS BIGINT) AS n_samples,
        |  (['avc1', 'hev1', 'av01', 'vp09'])[CAST(doc_id % 4 AS INTEGER) + 1] AS codec
        |FROM documents ORDER BY doc_id""".stripMargin),

    // tag extraction (round 13): ID3v2 text frames, Vorbis/Opus
    // comments, and the M4A ilst chain collapse onto one (title,
    // artist, album) schema — joined by the WAV RIFF LIST-INFO family;
    // the oracle replays only the strings, so all four tag walks, the
    // text encodings, both ID3 frame-size formats, key case-folding,
    // and the meta-fullbox offset are load-bearing
    // tag replay (round 13): the strings alone — identical for the MP3
    // and Ogg halves of the corpus
    Q("q_multimodal_audio_tags", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("tagMedia")(tagMedia _))
      Multimodal.audioTags(media).toDF()
        .select("doc_id", "title", "artist", "album")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'ttl ' || CAST(doc_id % 97 AS VARCHAR) AS title,
        |  'art ' || CAST((doc_id * 7) % 89 AS VARCHAR) AS artist,
        |  'alb ' || CAST((doc_id * 13) % 83 AS VARCHAR) AS album
        |FROM documents ORDER BY doc_id""".stripMargin),

    // RIFF/AVI walk (round 13): avih field extraction, LIST recursion
    // limited to hdrl/strl, unknown chunks skipped with RIFF's odd-length
    // pad byte (the fixture plants odd JUNK and movi chunks)
    // RIFF/AVI walk replay (round 13): every field a closed form, and
    // byte_len = the RIFF framing arithmetic INCLUDING the odd-length
    // pad bytes (hdrl 12+64+124 (+124 audio); junk/movi chunks carry
    // len%2 pads; idx1 = 8+16·k)
    Q("q_multimodal_avi_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("aviMedia")(aviMedia _))
      Containers.decodeAviMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "duration_ms", "n_tracks",
          "n_samples", "codec")
        .orderBy("doc_id")
    },
      """WITH ch AS (
        |  SELECT doc_id, u.i AS i,
        |    64 + (doc_id + u.i * 17) % 99 AS len
        |  FROM documents, unnest(generate_series(0, 5)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 4),
        |agg AS (SELECT doc_id, SUM(8 + len + len % 2) AS movi_len FROM ch GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(12 + 12 + 64 + 124
        |    + (CASE WHEN d.doc_id % 3 = 0 THEN 124 ELSE 0 END)
        |    + (CASE WHEN d.doc_id % 4 = 1
        |       THEN 8 + (7 + d.doc_id % 10) + (7 + d.doc_id % 10) % 2 ELSE 0 END)
        |    + 12 + a.movi_len
        |    + 8 + 16 * (2 + d.doc_id % 4) AS BIGINT) AS byte_len,
        |  CAST(320 + d.doc_id % 128 AS INTEGER) AS width,
        |  CAST(240 + d.doc_id % 64 AS INTEGER) AS height,
        |  CAST((100 + d.doc_id % 50) * (20 + d.doc_id % 30) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
        |  CAST(100 + d.doc_id % 50 AS BIGINT) AS n_samples,
        |  (['MJPG', 'XVID', 'H264'])[CAST(d.doc_id % 3 AS INTEGER) + 1] AS codec
        |FROM documents d JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Ogg page walk (round 13): codec identification from the BOS
    // packet, the 48 kHz Opus granule-clock rule, final granule
    // accounting, and byte_len = the lacing arithmetic of every page
    // Ogg walk replay (round 13): page framing arithmetic — ident page
    // 27+1+(30 vorbis | 19 opus), data page 27 + (len//255 + 1) + len
    // with the multi-segment ≥510 page on the id%3=0 slice; the Opus
    // rows must report 48000 (granule clock), NOT the 24000 the
    // OpusHead input-rate field carries
    Q("q_multimodal_ogg_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("oggMedia")(oggMedia _))
      Containers.decodeOggMeta(media).toDF()
        .select("doc_id", "byte_len", "codec", "sample_rate", "channels", "n_samples", "n_pages")
        .orderBy("doc_id")
    },
      """WITH pg AS (
        |  SELECT doc_id, u.i AS i,
        |    (CASE WHEN u.i = 0 AND doc_id % 3 = 0 THEN 510 + doc_id % 100
        |          ELSE 100 + (doc_id + u.i * 13) % 155 END) AS len
        |  FROM documents, unnest(generate_series(0, 5)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 4),
        |agg AS (SELECT doc_id, SUM(27 + (len // 255 + 1) + len) AS data_len
        |        FROM pg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(27 + 1 + (CASE WHEN d.doc_id % 2 = 0 THEN 30 ELSE 19 END)
        |       + a.data_len AS BIGINT) AS byte_len,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
        |  CAST(CASE WHEN d.doc_id % 2 = 0
        |       THEN ([8000, 22050, 44100])[CAST(d.doc_id % 3 AS INTEGER) + 1]
        |       ELSE 48000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 2 ELSE 1 END AS INTEGER) AS channels,
        |  CAST(256 * (1 + d.doc_id % 5) * (2 + d.doc_id % 4) AS BIGINT) AS n_samples,
        |  CAST(3 + d.doc_id % 4 AS INTEGER) AS n_pages
        |FROM documents d JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // WebP walk (round 13): the most common image container in a modern
    // scrape — format from the first chunk, canvas-vs-inner dims (the
    // extended fixture plants SMALLER inner still dims the parser must
    // not copy), VP8L packed header bits, ANMF frame count, RIFF pad
    // bytes in byte_len
    // WebP walk replay (round 13): byte_len = RIFF framing with pad
    // bytes per chunk (lossy VP8 = 10 + fill, VP8L = 5 + fill, VP8X 18,
    // ALPH/ANIM/ANMF/EXIF per slice); dims SHARED across formats so the
    // extended rows prove canvas (not inner-still) dims were read
    Q("q_multimodal_webp_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("webpMedia")(webpMedia _))
      Containers.decodeWebpMeta(media).toDF()
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("format"), col("has_alpha").cast("int").as("has_alpha"), col("n_frames"))
        .orderBy("doc_id")
    },
      """WITH fr AS (
        |  SELECT doc_id, u.i AS i, 20 + (doc_id + 7 * u.i) % 33 AS flen
        |  FROM documents, unnest(generate_series(0, 4)) AS u(i)
        |  WHERE doc_id % 3 = 2 AND doc_id % 4 = 2 AND u.i < 1 + (doc_id // 4) % 3),
        |an AS (SELECT doc_id, SUM(24 + flen + (16 + flen) % 2) AS anmf_len FROM fr GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CASE
        |    WHEN d.doc_id % 3 = 0 THEN 20 + (29 + d.doc_id % 31) + (29 + d.doc_id % 31) % 2
        |    WHEN d.doc_id % 3 = 1 THEN 20 + (24 + d.doc_id % 31) + (24 + d.doc_id % 31) % 2
        |    ELSE 30
        |      + (CASE WHEN d.doc_id % 2 = 0
        |         THEN 8 + (11 + d.doc_id % 14) + (11 + d.doc_id % 14) % 2 ELSE 0 END)
        |      + (CASE WHEN d.doc_id % 4 = 2 THEN 14 + COALESCE(a.anmf_len, 0)
        |              ELSE 8 + (29 + d.doc_id % 31) + (29 + d.doc_id % 31) % 2 END)
        |      + (CASE WHEN d.doc_id % 5 = 0
        |         THEN 8 + (9 + d.doc_id % 6) + (9 + d.doc_id % 6) % 2 ELSE 0 END)
        |  END AS BIGINT) AS byte_len,
        |  CAST(48 + d.doc_id % 500 AS INTEGER) AS width,
        |  CAST(32 + d.doc_id % 300 AS INTEGER) AS height,
        |  (['lossy', 'lossless', 'extended'])[CAST(d.doc_id % 3 AS INTEGER) + 1] AS format,
        |  CAST(CASE WHEN d.doc_id % 3 <> 0 AND d.doc_id % 2 = 0 THEN 1 ELSE 0 END
        |    AS INTEGER) AS has_alpha,
        |  CAST(CASE WHEN d.doc_id % 3 = 2 AND d.doc_id % 4 = 2
        |    THEN 1 + (d.doc_id // 4) % 3 ELSE 0 END AS INTEGER) AS n_frames
        |FROM documents d LEFT JOIN an a USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // AVIF/HEIC item walk (round 13): the modern still-image containers
    // are ISO-BMFF ITEM files — meta FULL-box offset, iprp/ipco chain,
    // LARGEST-ispe selection past the planted thumbnail property
    // AVIF/HEIC replay (round 13): byte_len = ftyp 16+4c, meta
    // 73 + props + ipmaLen (hdlr 33, iprp 16+props, ipma 12+len),
    // mdat 8+len; dims are the MAIN ispe (the thumbnail must lose)
    Q("q_multimodal_avif_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("avifMedia")(avifMedia _))
      Containers.decodeAvifMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "brand", "n_props")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(16 + 4 * (doc_id % 3) + 73
        |    + 20 + (CASE WHEN doc_id % 2 = 0 THEN 20 ELSE 0 END)
        |    + (CASE WHEN doc_id % 4 <> 3 THEN 8 + 9 + doc_id % 12 ELSE 0 END)
        |    + (5 + doc_id % 9) + 8 + 40 + doc_id % 77 AS BIGINT) AS byte_len,
        |  CAST(320 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(200 + doc_id % 700 AS INTEGER) AS height,
        |  (['avif', 'heic', 'mif1'])[CAST(doc_id % 3 AS INTEGER) + 1] AS brand,
        |  CAST(1 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN doc_id % 4 <> 3 THEN 1 ELSE 0 END) AS INTEGER) AS n_props
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Matroska/WebM EBML walk (round 13): VINT discipline across three
    // Segment-size encodings (minimal / non-minimal 8-byte / unknown-to-
    // EOF), the TimestampScale default, type-based video-track selection
    // under swapped track order, and SimpleBlock routing by track number
    // Matroska/WebM replay (round 13): byte_len = EBML framing — header
    // 36, Segment id+size by encoding mode, Info 16/23 (TimestampScale
    // omitted on id%7=0), Tracks 30/54, clusters with data-dependent
    // size-VINT width; n_samples counts only video-routed SimpleBlocks;
    // duration_ms = float Duration × scale (exact integers by fixture)
    Q("q_multimodal_mkv_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("mkvMedia")(mkvMedia _))
      Containers.decodeMkvMeta(media).toDF()
        .select("doc_id", "byte_len", "width", "height", "duration_ms", "n_tracks",
          "n_samples", "codec")
        .orderBy("doc_id")
    },
      """WITH blk AS (
        |  SELECT doc_id, c.ci AS ci, j.j AS j,
        |    10 + (doc_id + c.ci * 5 + j.j * 3) % 40 AS dlen
        |  FROM documents,
        |       unnest(generate_series(0, 2)) AS c(ci),
        |       unnest(generate_series(0, 2)) AS j(j)
        |  WHERE c.ci < 1 + (doc_id // 3) % 3
        |    AND j.j < 1 + (doc_id + c.ci) % 3),
        |cl AS (
        |  SELECT doc_id, ci, 4 + SUM(6 + dlen) AS payload,
        |    SUM(CASE WHEN doc_id % 3 = 0 AND j % 2 = 1 THEN 0 ELSE 1 END) AS vblocks
        |  FROM blk GROUP BY doc_id, ci),
        |cagg AS (
        |  SELECT doc_id,
        |    SUM(4 + (CASE WHEN payload <= 126 THEN 1 ELSE 2 END) + payload) AS clusters_len,
        |    SUM(vblocks) AS vsamples
        |  FROM cl GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(36 + 4
        |    + (CASE WHEN d.doc_id % 5 = 2 THEN 1 WHEN d.doc_id % 5 = 3 THEN 8 ELSE 2 END)
        |    + (CASE WHEN d.doc_id % 7 = 0 THEN 16 ELSE 23 END)
        |    + (CASE WHEN d.doc_id % 3 = 0 THEN 54 ELSE 30 END)
        |    + a.clusters_len AS BIGINT) AS byte_len,
        |  CAST(320 + d.doc_id % 640 AS INTEGER) AS width,
        |  CAST(180 + d.doc_id % 360 AS INTEGER) AS height,
        |  CAST((200 + d.doc_id % 500)
        |    * (CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 1 + d.doc_id % 3 END)
        |    AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
        |  CAST(a.vsamples AS BIGINT) AS n_samples,
        |  (['V_VP8', 'V_VP9', 'V_AV1'])[CAST(d.doc_id % 3 AS INTEGER) + 1] AS codec
        |FROM documents d JOIN cagg a USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // WARC record walk (round 13): Common Crawl-layout archives — the
    // gzipped half uses one gzip member PER RECORD; the request-record
    // slice shifts rec_idx; the lower-case-header slice exercises
    // header case-insensitivity; content_length is the FULL nested HTTP
    // message, payload_len the body after the HTTP header split
    // WARC walk replay (round 13): the oracle rebuilds the EXACT html
    // body string, so content_length = 42 + reason + LENGTH(html) binds
    // the walk's byte accounting to the nested HTTP framing (status
    // line 15 + reason, Content-Type header 25, blank 2); rec_idx
    // replays the request-record interleave; gzip and header case are
    // invisible by construction — which is the load-bearing claim
    Q("q_warc_records", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcMedia")(warcMedia _))
      Warc.readWarc(media)
        .filter(_.warc_type == "response").toDF()
        .select("doc_id", "rec_idx", "target_uri", "http_status", "content_length",
          "payload_len")
        .orderBy("doc_id", "rec_idx")
    },
      """WITH r AS (
        |  SELECT doc_id, u.i AS i,
        |    '<html><head><title>T' || doc_id || '-' || u.i
        |      || '</title><script>var a="<p>x</p>";</script><style>p{color:red}</style></head><body><h1 id="h">H '
        |      || ((doc_id + u.i) % 50)
        |      || '</h1><p>W&amp;b ' || ((doc_id * 3 + u.i) % 97)
        |      || '</p><!-- c --><div>Tail&nbsp;' || ((doc_id + 7 * u.i) % 89)
        |      || '</div></body></html>' AS h
        |  FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 3)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 2 + 2 * i ELSE 1 + i END AS INTEGER) AS rec_idx,
        |  'https://ex.org/' || doc_id || '/' || i AS target_uri,
        |  CAST(CASE (doc_id + i) % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END
        |    AS INTEGER) AS http_status,
        |  CAST(42 + (CASE (doc_id + i) % 3 WHEN 0 THEN 2 WHEN 1 THEN 9 ELSE 5 END)
        |    + LENGTH(h) AS BIGINT) AS content_length,
        |  CAST(LENGTH(h) AS BIGINT) AS payload_len
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // WARC payload charset resolution (round 15, verdict task 2): one
    // response per resolution path — HTTP-header cp1252 (curly quotes
    // through the C1 range), <meta charset=shift_jis> sniff (real
    // Shift_JIS bytes), UTF-8 BOM (consumed, not emitted), undeclared
    // invalid-UTF-8 → cp1252 fallback (€/™ prove the C1 mapping),
    // undeclared valid UTF-8, UTF-16LE BOM, and the WHATWG label
    // upgrade (header SAYS iso-8859-1, byte 0x85 must decode … not a
    // C1 control) — the oracle replays every decoded code point and
    // the resolved charset name
    // charset replay (round 15): the exact decoded code points per
    // resolution path — cp1252 curly quotes chr(8220)/chr(8221),
    // Shift_JIS kanji, BOM-stripped UTF-8/UTF-16LE, the €/™/… that
    // only exist if 0x80/0x99/0x85 went through cp1252 (a latin-1 or
    // hard-UTF-8 decode would emit C1 controls or U+FFFD instead)
    Q("q_warc_charset", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcCharsetMedia")(warcCharsetMedia _))
      Warc.readWarc(media)
        .filter(_.warc_type == "response").toDF()
        .select("doc_id", "rec_idx", "charset", "payload")
        .orderBy("doc_id", "rec_idx")
    },
      """WITH r AS (
        |  SELECT doc_id, 1 AS rec_idx, 'windows-1252' AS charset,
        |    'w' || doc_id || ' ' || chr(8220) || chr(233) || chr(8221) AS payload
        |  FROM documents
        |  UNION ALL SELECT doc_id, 2, 'shift_jis',
        |    '<meta charset=shift_jis>' || chr(26085) || chr(26412) || chr(35486)
        |  FROM documents
        |  UNION ALL SELECT doc_id, 3, 'utf-8',
        |    'b' || doc_id || ' ' || chr(233) || chr(8230) FROM documents
        |  UNION ALL SELECT doc_id, 4, 'windows-1252',
        |    'f' || doc_id || ' ' || chr(8364) || chr(8482) FROM documents
        |  UNION ALL SELECT doc_id, 5, 'utf-8',
        |    'u' || doc_id || ' ' || chr(233) || chr(8364) FROM documents
        |  UNION ALL SELECT doc_id, 6, 'utf-16le', 's' || doc_id FROM documents
        |  UNION ALL SELECT doc_id, 7, 'windows-1252',
        |    'l' || doc_id || ' ' || chr(8230) FROM documents)
        |SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, charset, payload
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // WARC nested-HTTP wire encodings (round 15): chunked
    // transfer-encoding (multi-chunk with a chunk extension), gzip and
    // zlib-deflate content-encodings, the TE+CE combination (dechunk
    // THEN gunzip), an unknown coding (br) kept raw, and a LYING
    // chunked header whose body must fall back raw — without the
    // dechunk/decode layers the chunk sizes and compressed bytes leak
    // into the corpus text
    // wire-encoding replay (round 15): every decoded entity in closed
    // form — the liar row replays the RAW body (fallback posture)
    Q("q_warc_http_enc", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcHttpEncMedia")(warcHttpEncMedia _))
      Warc.readWarc(media)
        .filter(_.warc_type == "response").toDF()
        .select("doc_id", "rec_idx", "charset", "payload")
        .orderBy("doc_id", "rec_idx")
    },
      """WITH r AS (
        |  SELECT doc_id, 1 AS rec_idx, 'utf-8' AS charset,
        |    'ch' || doc_id || ' alpha beta' AS payload FROM documents
        |  UNION ALL SELECT doc_id, 2, 'utf-8',
        |    'gz' || doc_id || ' ' || chr(233) || chr(8230) FROM documents
        |  UNION ALL SELECT doc_id, 3, 'utf-8',
        |    'df' || doc_id || ' data' FROM documents
        |  UNION ALL SELECT doc_id, 4, 'utf-8', 'cg' || doc_id || ' mix' FROM documents
        |  UNION ALL SELECT doc_id, 5, 'utf-8', 'br' || doc_id || ' raw' FROM documents
        |  UNION ALL SELECT doc_id, 6, 'utf-8', 'nochunk' || doc_id FROM documents)
        |SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, charset, payload
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // WARC CDX indexing (round 15): the crawl-scale random-access
    // index — SURT urlkey (case fold, label reversal, default-port
    // drop, query sort, fragment drop), 14-digit timestamp from
    // WARC-Date, nested-HTTP mime/status, sha256 entity digest — the
    // oracle replays every column including the digest (DuckDB's
    // sha256 over the same construction). Offsets/lengths are
    // layout-dependent bytes and are round-trip-asserted in WarcSpec
    // instead (slice [offset, offset+rlength) re-parses to the row).
    // CDX replay (round 15): every column in closed form — the SURT
    // key (case fold, comma-reversed labels, :80 dropped/:8080 kept,
    // params a/b re-sorted, #f gone), the 14-digit timestamp, and the
    // sha256 entity digest via DuckDB's own sha256 over the same
    // construction
    Q("q_warc_cdx", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(warcCdxMedia _)
      Warc.cdxRecords(media).toDF()
        .select("doc_id", "rec_idx", "urlkey", "ts14", "url", "mime",
          "status", "digest", "rec_type")
        .orderBy("doc_id", "rec_idx")
    },
      """WITH resp AS (
        |  SELECT doc_id, u.i AS i
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 2),
        |r AS (
        |  SELECT doc_id, 0 AS rec_idx, NULL AS urlkey, '' AS ts14,
        |    NULL AS url, 'application/warc-fields' AS mime, 0 AS status,
        |    sha256('software: graft-cdx-fixture') AS digest,
        |    'warcinfo' AS rec_type
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1 + i,
        |    'org,ex' || doc_id
        |      || (CASE WHEN i % 2 = 0 THEN '' ELSE ':8080' END)
        |      || ')/p' || doc_id || '/' || i || '?a=' || doc_id || '&b=2',
        |    '202608' || lpad(CAST(1 + (doc_id + i) % 28 AS VARCHAR), 2, '0')
        |      || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
        |      || lpad(CAST((i * 7) % 60 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id + i) % 60 AS VARCHAR), 2, '0'),
        |    'HTTP://WwW.Ex' || doc_id || '.ORG'
        |      || (CASE WHEN i % 2 = 0 THEN ':80' ELSE ':8080' END)
        |      || '/P' || doc_id || '/' || i || '?b=2&a=' || doc_id || '#f',
        |    'text/html', 200,
        |    sha256('<p>cdx ' || ((doc_id + i) % 4) || '</p>'), 'response'
        |  FROM resp)
        |SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, urlkey, ts14,
        |  url, mime, CAST(status AS INTEGER) AS status, digest, rec_type
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // CDX-driven ranged fetch (round 15): the index's CONSUMER — a
    // real member-gzipped archive on the filesystem, its engine-built
    // CDX, a selected capture subset, then positioned Hadoop-FS reads
    // of exactly the indexed frames. The oracle replays the selected
    // records' fields; a scan-the-whole-file reader could also produce
    // them, but the WarcSpec/LlmSpec round-trips pin the frames and
    // this query pins the END-TO-END seek path on a real file
    // ranged-fetch replay (round 15): the selected captures' fields in
    // closed form — response i sits at rec_idx i+1 after the warcinfo
    Q("q_warc_fetch_fs", (s, dir) => {
      val spark = s
      import spark.implicits._
      val recs = (0 until 48).map(i =>
        (s"http://fs.net/p$i", f"2026-08-${1 + i % 28}%02dT00:00:00Z",
          s"<p>fetch $i</p>"))
      val arc = Warc.syntheticWarcDated(recs, gzipped = true)
      val f = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q_warc_fetch_fs.warc.gz")
      // same concurrent-run-safe install as q_wiki_slices_fs
      if (!(f.isFile && f.length == arc.length &&
            java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f.toPath), arc)))
        graft.storage.FileStorage.writeAtomic(f.toPath, arc)
      val path = f.getAbsolutePath
      val wanted = Warc.cdxIndex(arc)
        .filter(r => r.rec_type == "response" && r.rec_idx % 3 != 2)
        .map(r => (r.copy(doc_id = r.rec_idx.toLong), path))
      val rows = spark.createDataset(wanted).repartition(8)
      Warc.fetchRecords(rows).toDF()
        .select("rec_idx", "target_uri", "http_status", "payload")
        .orderBy("rec_idx")
    },
      """SELECT CAST(1 + u.i AS INTEGER) AS rec_idx,
        |  'http://fs.net/p' || u.i AS target_uri,
        |  CAST(200 AS INTEGER) AS http_status,
        |  '<p>fetch ' || u.i || '</p>' AS payload
        |FROM unnest(generate_series(0, 47)) AS u(i)
        |WHERE (1 + u.i) % 3 != 2
        |ORDER BY rec_idx""".stripMargin),

    // CDX revisit dedup (round 15): the FIRST capture of each
    // (urlkey, digest) keeps, later identical captures across docs
    // become revisits — one hash shuffle on the pair key; the oracle
    // replays the same row_number window over the closed-form keys
    // revisit replay (round 15): the same first-capture window over
    // the closed-form (urlkey, digest) keys — host keyed on doc_id%5,
    // body on i, time on doc_id%28 with doc_id breaking ties
    Q("q_warc_revisit", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(warcRevisitMedia _)
      val cdx = Warc.cdxRecords(media).toDF().filter(col("rec_type") === "response")
      Warc.revisitDedup(cdx)
        .select("doc_id", "rec_idx", "urlkey", "digest", "keep")
        .orderBy("doc_id", "rec_idx")
    },
      """WITH r AS (
        |  SELECT doc_id, 1 + u.i AS rec_idx, u.i AS i,
        |    '202608' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |      || '000000' AS ts
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i))
        |SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx,
        |  'net,h' || (doc_id % 5) || ')/page' || i AS urlkey,
        |  sha256('<p>rv ' || i || '</p>') AS digest,
        |  CAST(CASE WHEN row_number() OVER (
        |      PARTITION BY doc_id % 5, i ORDER BY ts, doc_id, rec_idx) = 1
        |    THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // Crawl-admission pipeline (round 15): the frontier chain end to
    // end in ONE plan — sitemap urlset rows → surt urlkeys, CDX index
    // → revisit dedup → capture history, LEFT JOIN → fetch decision
    // (fetch = never captured before). Frontier hosts span id%7,
    // history hosts id%5, so the join has real hits AND real misses;
    // the only shuffles are the dedup window and the slim key join —
    // archives and sitemaps never leave their scan partitions
    // crawl-pipeline replay (round 15): frontier (hosts id%7, pages
    // 0..3) left-joined against the distinct history keys (hosts id%5,
    // pages 0..2) — fetch exactly when the key was never captured
    Q("q_pipeline_frontier", (s, dir) => {
      val spark = s
      import spark.implicits._
      val sm = mediaIds(s, dir).map { id =>
        cachedFixture("frontierSm", id) {
          val entries = (0 until 4).map(i =>
            (s"http://h${id % 7}.net/page$i", "", None: Option[Double]))
          Multimodal.Media(id,
            graft.llm.Crawl.syntheticSitemap(index = false, entries,
              gzipped = id % 3 == 0),
            "application/xml")
        }
      }
      val frontier = graft.llm.Crawl.sitemapUrls(sm)
        .map(r => (r.doc_id, r.url_idx, graft.llm.Crawl.surt(r.loc)))
        .toDF("doc_id", "url_idx", "urlkey")
      val hist = Warc.revisitDedup(
          Warc.cdxRecords(mediaIds(s, dir).map(warcRevisitMedia _)).toDF()
            .filter(col("rec_type") === "response"))
        .filter(col("keep") === 1)
        .select(col("urlkey").as("h_urlkey")).distinct()
      frontier.join(hist, col("urlkey") === col("h_urlkey"), "left")
        .select(col("doc_id"), col("url_idx"), col("urlkey"),
          when(col("h_urlkey").isNull, 1).otherwise(0).cast("int").as("fetch"))
        .orderBy("doc_id", "url_idx")
    },
      """WITH hist AS (
        |  SELECT DISTINCT 'net,h' || (doc_id % 5) || ')/page' || u.i AS urlkey
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i)),
        |fr AS (
        |  SELECT doc_id, v.i AS url_idx,
        |    'net,h' || (doc_id % 7) || ')/page' || v.i AS urlkey
        |  FROM documents, unnest(generate_series(0, 3)) AS v(i))
        |SELECT fr.doc_id, CAST(fr.url_idx AS INTEGER) AS url_idx, fr.urlkey,
        |  CAST(CASE WHEN hist.urlkey IS NULL THEN 1 ELSE 0 END AS INTEGER) AS fetch
        |FROM fr LEFT JOIN hist ON hist.urlkey = fr.urlkey
        |ORDER BY doc_id, url_idx""".stripMargin),

    // WARC → HTML text extraction (round 13): HTTP-200 responses only,
    // script/style CONTENT must not leak, entities decode, whitespace
    // collapses — the oracle replays the exact extracted string
    // HTML extraction replay (round 13): the exact extracted string —
    // title text kept, script/style content ABSENT, &amp;/&nbsp;
    // decoded, whitespace collapsed; only the HTTP-200 slice emits
    Q("q_warc_html", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcMedia")(warcMedia _))
      Warc.htmlTextRecords(media)
        .toDF("doc_id", "rec_idx", "text")
        .orderBy("doc_id", "rec_idx")
    },
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 2 + 2 * u.i ELSE 1 + u.i END
        |    AS INTEGER) AS rec_idx,
        |  'T' || doc_id || '-' || u.i || ' H ' || ((doc_id + u.i) % 50)
        |    || ' W&b ' || ((doc_id * 3 + u.i) % 97)
        |    || ' Tail ' || ((doc_id + 7 * u.i) % 89) AS text
        |FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |WHERE u.i < 2 + doc_id % 3 AND (doc_id + u.i) % 3 = 0
        |ORDER BY doc_id, rec_idx""".stripMargin),

    // Ingestion pipeline (round 13): WARC record walk → HTTP-200 filter
    // → HTML text extraction → quality gate, ONE Catalyst plan with no
    // inter-stage materialization and no shuffle before the output sort
    // — the first mile of a Common Crawl curation run
    // ingestion-pipeline replay (round 13): quality metrics over the
    // SAME closed-form extracted text — n_words = spaces + 1 (single
    // spaces by construction), keep = integer threshold gate
    Q("q_pipeline_warc", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcMedia")(warcMedia _))
      val txt = Warc.htmlTextRecords(media).toDF("doc_id", "rec_idx", "text")
      TextAnalysis.quality(txt, col("text"))
        .select(col("doc_id"), col("rec_idx"), col("n_chars"), col("n_words"),
          (col("n_chars") >= 24 && col("n_words") >= 6).cast("int").as("keep"))
        .orderBy("doc_id", "rec_idx")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 4 = 2 THEN 2 + 2 * u.i ELSE 1 + u.i END
        |      AS INTEGER) AS rec_idx,
        |    'T' || doc_id || '-' || u.i || ' H ' || ((doc_id + u.i) % 50)
        |      || ' W&b ' || ((doc_id * 3 + u.i) % 97)
        |      || ' Tail ' || ((doc_id + 7 * u.i) % 89) AS text
        |  FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 3 AND (doc_id + u.i) % 3 = 0)
        |SELECT doc_id, rec_idx,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |  CAST(CASE WHEN LENGTH(text) >= 24
        |    AND LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 6
        |    THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM t ORDER BY doc_id, rec_idx""".stripMargin),

    // TAR shard walk (round 13): ustar headers with VERIFIED additive
    // checksums, octal size fields, 512-block offset accounting that
    // must stay correct across skipped pax entries and the gzip slice
    // tar replay (round 13): entry_idx/name/content closed forms plus
    // data_offset = the 512-block arithmetic INCLUDING the header of a
    // skipped pax member (dir 512, pax 1024, each file 1024)
    Q("q_tar_entries", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("tarMedia")(tarMedia _))
      Archives.tarEntries(media).toDF()
        .select("doc_id", "entry_idx", "name", "type_flag", "size", "data_offset",
          "content")
        .orderBy("doc_id", "entry_idx")
    },
      """WITH f AS (
        |  SELECT doc_id, u.i AS i,
        |    20 + (doc_id + 3 * u.i) % 40 AS fsize,
        |    'c' || doc_id || '-' || u.i || '-' AS pre
        |  FROM documents, unnest(generate_series(0, 4)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 4)
        |SELECT doc_id, CAST(0 AS INTEGER) AS entry_idx,
        |  'd' || doc_id || '/' AS name, '5' AS type_flag,
        |  CAST(0 AS BIGINT) AS size, CAST(512 AS BIGINT) AS data_offset,
        |  CAST(NULL AS VARCHAR) AS content
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id,
        |  CAST(i + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS entry_idx,
        |  'd' || doc_id || '/f' || doc_id || '_' || i || '.txt' AS name,
        |  '0' AS type_flag,
        |  CAST(fsize AS BIGINT) AS size,
        |  CAST((CASE WHEN doc_id % 3 = 0 THEN 512 ELSE 0 END)
        |    + (CASE WHEN doc_id % 5 = 0 THEN 1024 ELSE 0 END)
        |    + i * 1024 + 512 AS BIGINT) AS data_offset,
        |  pre || repeat('a', fsize - LENGTH(pre)) AS content
        |FROM f
        |ORDER BY doc_id, entry_idx""".stripMargin),

    // WebDataset sample grouping (round 13): consecutive same-key
    // entries collapse in-walk (zero shuffle); key = basename up to the
    // FIRST dot; the caption and the jpg byte length cross-check both
    // payloads landed under the right extension
    // WebDataset replay (round 13): one row per sample — n_parts counts
    // the optional json, the caption string and jpg byte length pin the
    // extension→payload routing
    Q("q_webdataset_samples", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wdsMedia")(wdsMedia _))
      Archives.webdatasetSamples(media)
        .map(w => (w.doc_id, w.key, w.n_parts,
          new String(w.parts("txt"), "UTF-8"), w.parts("jpg").length.toLong))
        .toDF("doc_id", "key", "n_parts", "caption", "jpg_len")
        .orderBy("doc_id", "key")
    },
      """SELECT doc_id,
        |  's' || doc_id || '_' || u.k AS key,
        |  CAST(2 + CASE WHEN (doc_id + u.k) % 2 = 0 THEN 1 ELSE 0 END
        |    AS INTEGER) AS n_parts,
        |  'cap ' || doc_id || ' ' || u.k AS caption,
        |  CAST(30 + (doc_id + u.k) % 50 AS BIGINT) AS jpg_len
        |FROM documents, unnest(generate_series(0, 4)) AS u(k)
        |WHERE u.k < 2 + doc_id % 3
        |ORDER BY doc_id, key""".stripMargin),

    // Image curation stats (round 13): mean/min/max luma, dark/bright
    // pixel counts, horizontal edge density — integer-exact over the
    // same decoded pixels the dHash family proves lossless
    // image-stats replay (round 13): the q_multimodal_dhash pixel
    // formula aggregated — integer-division mean, dark/bright counts,
    // and horizontal |Δg| ≥ 8 edge pairs via a self-join on x+1
    Q("q_image_stats", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("dhashMedia")(dhashMedia _))
      ImageStats.stats(media).toDF()
        .select("doc_id", "n_px", "mean_luma", "min_luma", "max_luma", "dark",
          "bright", "edges")
        .orderBy("doc_id")
    },
      s"""WITH ${dhashPx()},
         |e AS (
         |  SELECT l.doc_id,
         |    SUM(CASE WHEN abs(r.g - l.g) >= 8 THEN 1 ELSE 0 END) AS edges
         |  FROM px l JOIN px r ON l.doc_id = r.doc_id AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 17 GROUP BY l.doc_id),
         |a AS (
         |  SELECT doc_id, COUNT(*) AS n, SUM(g) // COUNT(*) AS mean_luma,
         |    MIN(g) AS mn, MAX(g) AS mx,
         |    SUM(CASE WHEN g < 32 THEN 1 ELSE 0 END) AS dark,
         |    SUM(CASE WHEN g > 223 THEN 1 ELSE 0 END) AS bright
         |  FROM px GROUP BY doc_id)
         |SELECT a.doc_id, CAST(n AS BIGINT) AS n_px, CAST(mean_luma AS BIGINT) AS mean_luma,
         |  CAST(mn AS INTEGER) AS min_luma, CAST(mx AS INTEGER) AS max_luma,
         |  CAST(dark AS BIGINT) AS dark, CAST(bright AS BIGINT) AS bright,
         |  CAST(e.edges AS BIGINT) AS edges
         |FROM a JOIN e USING (doc_id) ORDER BY a.doc_id""".stripMargin),

    // Video scene cuts (round 13): consecutive sampled-frame dHashes,
    // cut = hamming >= 16; the fixture's scenes rewrite the gradient
    // field at two formula cut points, through BOTH containers (Y4M
    // even ids, animated GIF odd)
    // scene-cut replay (round 13): per-frame hashes from the scene-
    // dependent gradient formula, LAG over frame order, hamming =
    // bit_count(xor) on the hi/lo halves, cut threshold 16
    Q("q_video_scenes", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("videoSceneMedia")(videoSceneMedia _))
      VideoStats.sceneCuts(media).toDF()
        .select("doc_id", "n_frames", "n_cuts", "sum_hamming")
        .orderBy("doc_id")
    },
      s"""WITH px AS (
         |  SELECT doc_id, w.f AS f, u.x AS x, v.y AS y,
         |    ((doc_id % 40) * 31
         |      + u.x * (7 + 3 * ((CASE WHEN w.f >= 3 + doc_id % 3 THEN 1 ELSE 0 END)
         |                      + (CASE WHEN w.f >= 7 + doc_id % 4 THEN 1 ELSE 0 END)))
         |      + v.y * (13 + 5 * ((CASE WHEN w.f >= 3 + doc_id % 3 THEN 1 ELSE 0 END)
         |                       + (CASE WHEN w.f >= 7 + doc_id % 4 THEN 1 ELSE 0 END)))
         |      + 57 * ((CASE WHEN w.f >= 3 + doc_id % 3 THEN 1 ELSE 0 END)
         |            + (CASE WHEN w.f >= 7 + doc_id % 4 THEN 1 ELSE 0 END))) % 176 AS g
         |  FROM documents, unnest(generate_series(0, 11)) AS w(f),
         |       unnest(generate_series(0, 17)) AS u(x),
         |       unnest(generate_series(0, 15)) AS v(y)),
         |$frameBits,
         |h AS (
         |  SELECT doc_id, f,
         |    SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS hi,
         |    SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS lo
         |  FROM bits GROUP BY doc_id, f),
         |t AS (
         |  SELECT doc_id, hi, lo,
         |    LAG(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
         |    LAG(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
         |  FROM h),
         |d AS (
         |  SELECT doc_id, bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) AS hd
         |  FROM t WHERE phi IS NOT NULL)
         |SELECT doc_id, CAST(12 AS INTEGER) AS n_frames,
         |  CAST(SUM(CASE WHEN hd >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(SUM(hd) AS BIGINT) AS sum_hamming
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Audio curation stats (round 13): peak/clipping/silence/loudness/
    // zero-crossings over decoded PCM — integer-exact, replayed
    // bit-for-bit across all eight lossless encodings of the fixture
    Q("q_audio_stats", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("audioStatsMedia")(audioStatsMedia _))
      AudioStats.stats(media).toDF()
        .select("doc_id", "n_samples", "peak", "clipped", "silence_windows",
          "mean_abs", "zero_crossings")
        .orderBy("doc_id")
    },
      """WITH b AS (
        |  SELECT doc_id, u.j AS j,
        |    ((doc_id % 40) * 17 + u.j * 31) % 4001 - 2000
        |      + CASE WHEN u.j < 30 THEN ((doc_id // 40) % 3) * 500 ELSE 0 END AS base
        |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)),
        |sm AS (
        |  SELECT doc_id, j,
        |    CASE WHEN doc_id % 5 = 1 AND j BETWEEN 600 AND 899 THEN 0
        |         WHEN doc_id % 6 = 0 AND doc_id % 8 <> 2
        |           THEN GREATEST(-32767, LEAST(32767, base * 17))
        |         ELSE base END AS s
        |  FROM b),
        |w AS (SELECT doc_id, j // 30 AS f, SUM(abs(s)) // 30 AS e
        |      FROM sm GROUP BY doc_id, j // 30),
        |sil AS (SELECT doc_id, SUM(CASE WHEN e < 100 THEN 1 ELSE 0 END) AS sw
        |        FROM w GROUP BY doc_id),
        |zc AS (SELECT doc_id,
        |         SUM(CASE WHEN prev IS NOT NULL AND (prev < 0) <> (s < 0)
        |             THEN 1 ELSE 0 END) AS z
        |       FROM (SELECT doc_id, s,
        |               LAG(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev FROM sm)
        |       GROUP BY doc_id),
        |agg AS (SELECT doc_id, COUNT(*) AS n, MAX(abs(s)) AS peak,
        |          SUM(CASE WHEN abs(s) >= 32760 THEN 1 ELSE 0 END) AS clipped,
        |          SUM(abs(s)) // COUNT(*) AS mean_abs
        |        FROM sm GROUP BY doc_id)
        |SELECT a.doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(clipped AS BIGINT) AS clipped,
        |  CAST(sw AS BIGINT) AS silence_windows, CAST(mean_abs AS BIGINT) AS mean_abs,
        |  CAST(z AS BIGINT) AS zero_crossings
        |FROM agg a JOIN sil USING (doc_id) JOIN zc USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    // voice-activity segmentation (round 14): frame-energy VAD with a
    // hangover over real WAV PCM — per-frame constant amplitudes make
    // every frame energy exact, the inactive pattern mixes single-frame
    // stops (the hangover must bridge) with 2-frame silences (it must
    // not), and the oracle replays the whole decision: energies,
    // threshold, and the gap-tolerant island merge
    // Spectral audio fingerprint (round 15): the Haitsma–Kalker
    // double-difference over Walsh–Hadamard sequency bands — integer-
    // exact, so the oracle replays every sign bit. The fixture frames
    // are WALSH TONES (samples a·(−1)^popcount(k AND j)), which
    // concentrate all energy into WHT coefficient k — band energies
    // are closed-form (64a)² at one index, zero elsewhere, and the
    // 32-bit frame hash falls out of four CASE terms per bit
    // spectral fingerprint replay (round 15): Walsh tones put all of
    // frame n's energy at WHT coefficient k(n) = 1+((doc+3n)%33) with
    // value (64·a(n))², so each of the 32 HK double-difference sign
    // bits reduces to four CASE terms — the full 32-bit hash rebuilt
    // bit-by-bit over a generate_series(0,31) lateral
    Q("q_audio_spectral", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map { id =>
        cachedFixture("audioSpectral", id) {
          val frames = (4 + id % 3).toInt
          val samples = new Array[Int](frames * 64)
          var n = 0
          while (n < frames) {
            val k = (1 + (id + 3 * n) % 33).toInt
            val a = (50 + 10 * ((id + n) % 5)).toInt
            var j = 0
            while (j < 64) {
              samples(n * 64 + j) =
                if (java.lang.Integer.bitCount(k & j) % 2 == 0) a else -a
              j += 1
            }
            n += 1
          }
          Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
        }
      }
      AudioStats.spectralFingerprint(media).toDF()
        .select("doc_id", "frame_idx", "hash32")
        .orderBy("doc_id", "frame_idx")
    },
      """WITH f AS (
        |  SELECT doc_id, u.n AS n,
        |    1 + ((doc_id + 3 * u.n) % 33) AS k,
        |    64 * (50 + 10 * ((doc_id + u.n) % 5)) AS c
        |  FROM documents, unnest(generate_series(0, 6)) AS u(n)
        |  WHERE u.n < 4 + doc_id % 3),
        |p AS (
        |  SELECT a.doc_id, a.n, a.k AS k1, a.c * a.c AS e1,
        |    b.k AS k0, b.c * b.c AS e0
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND b.n = a.n - 1),
        |bits AS (
        |  SELECT p.doc_id, p.n, m.m,
        |    CASE WHEN
        |      ((CASE WHEN m.m + 1 = k1 THEN e1 ELSE 0 END)
        |        - (CASE WHEN m.m + 2 = k1 THEN e1 ELSE 0 END))
        |      - ((CASE WHEN m.m + 1 = k0 THEN e0 ELSE 0 END)
        |        - (CASE WHEN m.m + 2 = k0 THEN e0 ELSE 0 END)) > 0
        |    THEN CAST(1 AS BIGINT) << m.m ELSE CAST(0 AS BIGINT) END AS v
        |  FROM p, unnest(generate_series(0, 31)) AS m(m))
        |SELECT doc_id, CAST(n AS INTEGER) AS frame_idx,
        |  CAST(sum(v) AS BIGINT) AS hash32
        |FROM bits GROUP BY doc_id, n ORDER BY doc_id, frame_idx""".stripMargin),

    // VAD replay (round 14): the same frame grid, threshold, and
    // hangover merge in SQL — a new segment starts when the gap to the
    // previous ACTIVE frame exceeds mergeGap + 1
    Q("q_audio_vad", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map { id =>
        cachedFixture("audioVad", id) {
          val nf = (12 + id % 5).toInt
          val samples = Array.tabulate(nf * 160) { j =>
            val f = j / 160
            val inactive = ((f + id) % 7 < 2) || ((f + id) % 5 == 3)
            if (inactive) ((id % 3) * 30).toInt
            else (300 + 50 * ((f + id) % 3)).toInt
          }
          Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
        }
      }
      AudioStats.vadSegments(media, frameLen = 160, energyThresh = 200, mergeGap = 1)
        .toDF()
        .select("doc_id", "seg_idx", "start_frame", "end_frame", "n_frames",
          "n_active", "start_ms", "end_ms")
        .orderBy("doc_id", "seg_idx")
    },
      """WITH f AS (
        |  SELECT doc_id, u.f AS f,
        |    CASE WHEN ((u.f + doc_id) % 7 < 2) OR ((u.f + doc_id) % 5 = 3)
        |         THEN (doc_id % 3) * 30
        |         ELSE 300 + 50 * ((u.f + doc_id) % 3) END AS energy
        |  FROM documents, unnest(generate_series(0, 16)) AS u(f)
        |  WHERE u.f < 12 + doc_id % 5),
        |a AS (SELECT doc_id, f FROM f WHERE energy >= 200),
        |g AS (SELECT doc_id, f,
        |  CASE WHEN lag(f) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
        |         OR f - lag(f) OVER (PARTITION BY doc_id ORDER BY f) > 2
        |       THEN 1 ELSE 0 END AS new_seg FROM a),
        |seg AS (SELECT doc_id, f,
        |  SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY f) - 1 AS seg_idx FROM g)
        |SELECT doc_id, CAST(seg_idx AS INTEGER) AS seg_idx,
        |  CAST(min(f) AS BIGINT) AS start_frame,
        |  CAST(max(f) AS BIGINT) AS end_frame,
        |  CAST(max(f) - min(f) + 1 AS BIGINT) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(min(f) * 20 AS BIGINT) AS start_ms,
        |  CAST((max(f) + 1) * 20 AS BIGINT) AS end_ms
        |FROM seg GROUP BY doc_id, seg_idx
        |ORDER BY doc_id, seg_idx""".stripMargin),

    // speech-admission pipeline (round 14): decode → VAD → per-file
    // speech accounting → keep gate, ONE Catalyst plan — "is this file
    // worth transcribing" is the audio corpus's first dollar decision;
    // the ratio is exact integer micro-arithmetic (speech frames vs the
    // full frame grid from the stats pass)
    // audio-stats replay (round 13): the sample formula with the clip
    // clamp and dead-air slices, then every signal as exact integer
    // aggregation — LAG for sign alternations, 30-sample windows with
    // integer-division means for silence
    // speech-admission replay (round 14): active frames counted
    // directly (the island merge cannot change the ACTIVE count), the
    // segment count via the same lag rule, the gate in exact integers
    Q("q_pipeline_asr", (s, dir) => {
      val spark = s
      import spark.implicits._
      def media = mediaIds(s, dir).map { id =>
        cachedFixture("audioVad", id) {
          val nf = (12 + id % 5).toInt
          val samples = Array.tabulate(nf * 160) { j =>
            val f = j / 160
            val inactive = ((f + id) % 7 < 2) || ((f + id) % 5 == 3)
            if (inactive) ((id % 3) * 30).toInt
            else (300 + 50 * ((f + id) % 3)).toInt
          }
          Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
        }
      }
      val segs = AudioStats.vadSegments(media, frameLen = 160,
          energyThresh = 200, mergeGap = 1).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"), sum(col("n_active")).as("speech_frames"))
      val totals = AudioStats.stats(media).toDF()
        .select(col("doc_id"), (col("n_samples") / 160).cast("long").as("n_frames"))
      totals.join(segs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("speech_frames"), lit(0L)).as("speech_frames"),
          (coalesce(col("speech_frames"), lit(0L)) * 100 >= col("n_frames") * 50)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    },
      """WITH f AS (SELECT doc_id, u.f AS f,
        |    CASE WHEN ((u.f + doc_id) % 7 < 2) OR ((u.f + doc_id) % 5 = 3)
        |         THEN (doc_id % 3) * 30
        |         ELSE 300 + 50 * ((u.f + doc_id) % 3) END AS energy,
        |    12 + doc_id % 5 AS nf
        |  FROM documents, unnest(generate_series(0, 16)) AS u(f)
        |  WHERE u.f < 12 + doc_id % 5),
        |a AS (SELECT doc_id, f FROM f WHERE energy >= 200),
        |g AS (SELECT doc_id, f,
        |  CASE WHEN lag(f) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
        |         OR f - lag(f) OVER (PARTITION BY doc_id ORDER BY f) > 2
        |       THEN 1 ELSE 0 END AS new_seg FROM a),
        |agg AS (SELECT doc_id, SUM(new_seg) AS n_segments, COUNT(*) AS speech
        |        FROM g GROUP BY doc_id),
        |tot AS (SELECT DISTINCT doc_id, nf FROM f)
        |SELECT t.doc_id, CAST(t.nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(agg.n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(coalesce(agg.speech, 0) AS BIGINT) AS speech_frames,
        |  CAST(CASE WHEN coalesce(agg.speech, 0) * 100 >= t.nf * 50
        |       THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM tot t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // ASR chunking (round 14): silence-split regions (2-frame gaps cut,
    // single stops bridge) then the frame-grid length cap — region
    // spans up to 27 frames against maxFrames 4, so multi-chunk splits
    // happen throughout; the oracle replays islands AND the grid split
    // chunking replay (round 14): islands with the gapSplit tolerance,
    // then ceil(span/4) grid chunks per region, renumbered per doc
    Q("q_audio_chunks", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map { id =>
        cachedFixture("audioChunks", id) {
          val nf = (20 + id % 7).toInt
          val samples = Array.tabulate(nf * 160) { j =>
            val f = j / 160
            val inactive = ((f + id) % 9 < 2) || ((f + id) % 5 == 3)
            if (inactive) 0 else 300
          }
          Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
        }
      }
      AudioStats.asrChunks(media, frameLen = 160, energyThresh = 200,
          gapSplit = 1, maxFrames = 4)
        .toDF()
        .select("doc_id", "chunk_idx", "region_idx", "start_frame", "end_frame",
          "n_frames", "start_ms", "end_ms")
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH f AS (SELECT doc_id, u.f AS f,
        |    CASE WHEN ((u.f + doc_id) % 9 < 2) OR ((u.f + doc_id) % 5 = 3)
        |         THEN 0 ELSE 300 END AS energy
        |  FROM documents, unnest(generate_series(0, 26)) AS u(f)
        |  WHERE u.f < 20 + doc_id % 7),
        |a AS (SELECT doc_id, f FROM f WHERE energy >= 200),
        |g AS (SELECT doc_id, f,
        |  CASE WHEN lag(f) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
        |         OR f - lag(f) OVER (PARTITION BY doc_id ORDER BY f) > 2
        |       THEN 1 ELSE 0 END AS new_seg FROM a),
        |seg AS (SELECT doc_id, f,
        |  SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY f) - 1 AS ri FROM g),
        |reg AS (SELECT doc_id, ri, min(f) AS s, max(f) AS e
        |        FROM seg GROUP BY doc_id, ri),
        |ch AS (SELECT doc_id, ri, s, e, u.c AS c
        |  FROM reg, unnest(generate_series(0, 6)) AS u(c)
        |  WHERE u.c < (e - s + 1 + 3) // 4),
        |numbered AS (SELECT doc_id, ri, s + c * 4 AS cs,
        |  least(e, s + c * 4 + 3) AS ce,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY ri, c) - 1 AS chunk_idx
        |  FROM ch)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |  CAST(ri AS INTEGER) AS region_idx,
        |  CAST(cs AS BIGINT) AS start_frame, CAST(ce AS BIGINT) AS end_frame,
        |  CAST(ce - cs + 1 AS BIGINT) AS n_frames,
        |  CAST(cs * 20 AS BIGINT) AS start_ms,
        |  CAST((ce + 1) * 20 AS BIGINT) AS end_ms
        |FROM numbered ORDER BY doc_id, chunk_idx""".stripMargin),

    // Subtitle cue walk (round 13): SRT and WebVTT sidecars — comma vs
    // dot milliseconds, NOTE blocks, cue ids, settings after the arrow
    // all load-bearing; cue text flows through the HTML cleaner (the
    // transcript posture), so inline <i> markup must strip exactly
    // subtitle replay (round 13): timings and the cleaned cue text —
    // comma/dot milliseconds, NOTE skipping, id lines, and the
    // multi-line space join must all hold for the strings to match
    Q("q_subtitle_cues", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("subMedia")(subMedia _))
      Subtitles.cues(media)
        .map(c => (c.doc_id, c.cue_idx, c.start_ms, c.end_ms, Warc.htmlText(c.text)))
        .toDF("doc_id", "cue_idx", "start_ms", "end_ms", "text")
        .orderBy("doc_id", "cue_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS cue_idx,
        |  CAST((doc_id % 500) * 10 + u.i * 2000 AS BIGINT) AS start_ms,
        |  CAST((doc_id % 500) * 10 + u.i * 2000 + 500
        |    + (doc_id * 7 + u.i * 13) % 1500 AS BIGINT) AS end_ms,
        |  'Line ' || ((doc_id + u.i) % 97) || ' em'
        |    || CASE WHEN (doc_id + u.i) % 3 = 0
        |       THEN ' and ' || ((doc_id * 3 + u.i) % 89) ELSE '' END AS text
        |FROM documents, unnest(generate_series(0, 4)) AS u(i)
        |WHERE u.i < 2 + doc_id % 4
        |ORDER BY doc_id, cue_idx""".stripMargin),

    // Multimodal shard pipeline (round 13): WebDataset tar walk →
    // adjacency sample grouping → REAL BMP pixel decode of the .bmp
    // part → perceptual dHash, ONE Catalyst plan of pure map stages —
    // the LAION-style "hash every image in every shard" first pass;
    // the oracle replays the dHash arithmetic per (doc, sample)
    // WebDataset-media pipeline replay (round 13): the q_multimodal_dhash
    // arithmetic re-keyed by sid = doc_id·4 + k — shard walk, grouping,
    // and decode must compose losslessly for these sums to match
    Q("q_pipeline_wds_media", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wdsHashMedia")(wdsHashMedia _))
      val imgs = Archives.webdatasetSamples(media)
        .map { w =>
          val k = w.key.substring(w.key.lastIndexOf('_') + 1).toLong
          Multimodal.Media(w.doc_id * 4 + k, w.parts("bmp"), "image/bmp")
        }
      Multimodal.imageDHash(imgs).toDF()
        .select(expr("doc_id div 4").as("doc_id"),
          pmod(col("doc_id"), lit(4L)).cast("int").as("k"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"))
        .orderBy("doc_id", "k")
    },
      """WITH s AS (
        |  SELECT doc_id, u.k AS k, doc_id * 4 + u.k AS sid
        |  FROM documents, unnest(generate_series(0, 2)) AS u(k)
        |  WHERE u.k < 2 + doc_id % 2),
        |px AS (
        |  SELECT doc_id, k, u.x AS x, v.y AS y,
        |         ((sid % 40) * 31 + u.x * 7 + v.y * 13) % 176
        |         + CASE WHEN u.x < 2 AND v.y < 2 THEN ((sid // 40) % 3) * 40 ELSE 0 END AS g
        |  FROM s, unnest(generate_series(0, 17)) AS u(x),
        |       unnest(generate_series(0, 15)) AS v(y)),
        |cells AS (
        |  SELECT doc_id, k, x // 2 AS cx, y // 2 AS cy, SUM(g) // 4 AS a
        |  FROM px GROUP BY doc_id, k, x // 2, y // 2),
        |bits AS (
        |  SELECT l.doc_id, l.k, l.cy * 8 + l.cx AS i,
        |         CASE WHEN l.a > r.a THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON l.doc_id = r.doc_id AND l.k = r.k AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8)
        |SELECT doc_id, CAST(k AS INTEGER) AS k,
        |  CAST(SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS dhash_hi,
        |  CAST(SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS dhash_lo
        |FROM bits GROUP BY doc_id, k ORDER BY doc_id, k""".stripMargin),

    // Cross-modal shard curation (round 13): one WebDataset pass emits
    // BOTH the caption's token count and the image's edge density, and
    // the keep flag gates on the pair — the multimodal admission rule
    // (good caption AND visually non-degenerate image), one plan, no
    // shuffle before the output sort
    // cross-modal curation replay (round 13): caption tokens are the
    // fixture's 3-word form; the image side re-derives mean luma and
    // edge density per (doc, sample) from the sid-keyed pixel formula
    Q("q_pipeline_wds_curation", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wdsHashMedia")(wdsHashMedia _))
      Archives.webdatasetSamples(media)
        .map { w =>
          val k = w.key.substring(w.key.lastIndexOf('_') + 1).toInt
          val caption = new String(w.parts("txt"), "UTF-8")
          val words = caption.split(" ").count(_.nonEmpty)
          val st = ImageStats.signalsOf(w.parts("bmp"))
          (w.doc_id, k, words, st.mean_luma, st.edges,
            if (st.edges >= 12 && words >= 3) 1 else 0)
        }
        .toDF("doc_id", "k", "caption_words", "mean_luma", "edges", "keep")
        .orderBy("doc_id", "k")
    },
      """WITH s AS (
        |  SELECT doc_id, u.k AS k, doc_id * 4 + u.k AS sid
        |  FROM documents, unnest(generate_series(0, 2)) AS u(k)
        |  WHERE u.k < 2 + doc_id % 2),
        |px AS (
        |  SELECT doc_id, k, u.x AS x, v.y AS y,
        |         ((sid % 40) * 31 + u.x * 7 + v.y * 13) % 176
        |         + CASE WHEN u.x < 2 AND v.y < 2 THEN ((sid // 40) % 3) * 40 ELSE 0 END AS g
        |  FROM s, unnest(generate_series(0, 17)) AS u(x),
        |       unnest(generate_series(0, 15)) AS v(y)),
        |e AS (
        |  SELECT l.doc_id, l.k,
        |    SUM(CASE WHEN abs(r.g - l.g) >= 8 THEN 1 ELSE 0 END) AS edges
        |  FROM px l JOIN px r
        |    ON l.doc_id = r.doc_id AND l.k = r.k AND r.y = l.y AND r.x = l.x + 1
        |  WHERE l.x < 17 GROUP BY l.doc_id, l.k),
        |m AS (SELECT doc_id, k, SUM(g) // COUNT(*) AS mean_luma FROM px GROUP BY doc_id, k)
        |SELECT doc_id, CAST(k AS INTEGER) AS k, CAST(3 AS INTEGER) AS caption_words,
        |  CAST(mean_luma AS BIGINT) AS mean_luma, CAST(edges AS BIGINT) AS edges,
        |  CAST(CASE WHEN edges >= 12 THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM m JOIN e USING (doc_id, k) ORDER BY doc_id, k""".stripMargin),

    // PDF admission walk (round 13): scan-based object walk over real
    // COS bodies — version, object/stream/page counts, the trailer
    // /Encrypt test; out-of-order bodies, nested page trees, indirect
    // /Length and a fake-encrypted slice are all load-bearing
    // PDF meta replay (round 13): object/stream/page counts as closed
    // forms of the fixture's numbering plan — base objects (catalog,
    // pages root, font, +nested node, +encrypt dict) plus per page
    // 1 + nc(1 + indirect-length), nc = 2 on the /Contents-array slice
    Q("q_pdf_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("pdfMedia")(pdfMedia _))
      Pdf.pdfMeta(media).toDF()
        .select(col("doc_id"), col("version"), col("n_objects"), col("n_pages"),
          col("n_streams"), col("encrypted").cast("int").as("encrypted"))
        .orderBy("doc_id")
    },
      """WITH pg AS (
        |  SELECT doc_id, u.p AS p,
        |    CASE WHEN (doc_id + u.p) % 5 = 0 THEN 2 ELSE 1 END AS nc
        |  FROM documents, unnest(generate_series(0, 2)) AS u(p)
        |  WHERE u.p < 1 + doc_id % 3)
        |SELECT doc_id,
        |  '1.' || (4 + doc_id % 4) AS version,
        |  CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END
        |    + SUM(1 + nc * (1 + CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END))
        |    AS INTEGER) AS n_objects,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_pages,
        |  CAST(SUM(nc) AS INTEGER) AS n_streams,
        |  CAST(CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END AS INTEGER) AS encrypted
        |FROM pg GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // PDF text extraction (round 13): page-tree walk → /Contents
    // streams (JDK-Deflater-written flate on half the pages, /Contents
    // ARRAYS on a slice, indirect /Length on another) → content-stream
    // execution where every line rotates its show form (literal Tj with
    // paren escapes, an ALL-octal slice, split TJ arrays with kerning,
    // hex strings, ' next-line shows) — the oracle replays the exact
    // per-page string, so a wrong escape, a swallowed TJ element, or a
    // bad flate joint diverges immediately; encrypted docs must emit
    // NOTHING (ciphertext is not text)
    // PDF text replay (round 13): the EXACT per-page string — lines
    // joined by \n, one show per line (so n_shows = line count), the
    // encrypted slice absent entirely
    Q("q_pdf_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("pdfMedia")(pdfMedia _))
      Pdf.pdfPages(media).toDF()
        .select("doc_id", "page_idx", "n_shows", "text")
        .orderBy("doc_id", "page_idx")
    },
      """WITH ln AS (
        |  SELECT doc_id, u.p AS p, v.j AS j,
        |    'L' || v.j || ' P' || u.p || ' D' || doc_id
        |      || ' (k=' || ((doc_id + 3 * u.p + 7 * v.j) % 53) || ')' AS line
        |  FROM documents,
        |    unnest(generate_series(0, 2)) AS u(p),
        |    unnest(generate_series(0, 4)) AS v(j)
        |  WHERE u.p < 1 + doc_id % 3 AND v.j < 2 + (doc_id + u.p) % 3
        |    AND doc_id % 11 <> 7)
        |SELECT doc_id, CAST(p AS INTEGER) AS page_idx,
        |  CAST(2 + (doc_id + p) % 3 AS INTEGER) AS n_shows,
        |  string_agg(line, chr(10) ORDER BY j) AS text
        |FROM ln GROUP BY doc_id, p ORDER BY doc_id, page_idx""".stripMargin),

    // Composite-font PDF text (round 15, closing the r14 verdict's top
    // gap): a /Type0 Identity-H font whose REAL /ToUnicode CMap stream
    // (flate on half the ids) carries bfchar entries — one mapping to a
    // surrogate-pair emoji — plus bfrange in BOTH destination forms;
    // 2-byte-code hex shows (split TJ on odd ids), an UNMAPPED code on
    // the id%3=0 slice that must decode U+FFFD (never raw code bytes),
    // and a second page through a simple font whose /Encoding
    // /Differences remaps 'a'→aacute plus 0x80→uni20AC and 0xA5→bullet
    // — the oracle replays every decoded code point exactly
    // composite-font replay (round 15): every decoded code point in
    // closed form — chr() for the CMap-carried ones (é 233, … 8230,
    // 😀 128512 via surrogate pair, ΑΒΓ 913-915, U+FFFD 65533 for the
    // unmapped code) and for the /Differences trio (á 225, € 8364,
    // • 8226)
    Q("q_pdf_text_cid", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("cidPdfMedia")(cidPdfMedia _))
      Pdf.pdfPages(media).toDF()
        .select("doc_id", "page_idx", "n_shows", "text")
        .orderBy("doc_id", "page_idx")
    },
      """WITH p0 AS (
        |  SELECT doc_id, 0 AS page_idx, 2 AS n_shows,
        |    'Cid D' || doc_id || ' k=' || ((doc_id * 7 + 3) % 29) || chr(10) ||
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN chr(233) || chr(65533)
        |      WHEN 1 THEN chr(8230) || chr(913) || chr(914) || chr(915)
        |      ELSE chr(128512) END AS text
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, 1 AS page_idx, 1 AS n_shows,
        |    chr(225) || '=' || (doc_id % 13) || ' ' || chr(8364) || chr(8226) AS text
        |  FROM documents)
        |SELECT doc_id, CAST(page_idx AS INTEGER) AS page_idx,
        |  CAST(n_shows AS INTEGER) AS n_shows, text
        |FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
        |ORDER BY doc_id, page_idx""".stripMargin),

    // Modern-layout PDF text (round 15): catalog/page-tree/font/page
    // dicts all inside a /Type /ObjStm object stream, /Root carried by
    // a /Type /XRef stream dict with NO trailer keyword — the PDF 1.5+
    // shape most real writers emit; flate on each layer by id bits,
    // paren-escaped lines, exact text replay
    // modern-layout replay (round 15): same text whether the structure
    // objects were bare or compressed — the layout must be invisible
    Q("q_pdf_text_objstm", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("objStmPdfMedia")(objStmPdfMedia _))
      Pdf.pdfPages(media).toDF()
        .select("doc_id", "page_idx", "n_shows", "text")
        .orderBy("doc_id", "page_idx")
    },
      """WITH ln AS (
        |  SELECT doc_id, v.j AS j,
        |    'OS D' || doc_id || ' L' || v.j || ' (v=' || ((doc_id + 5 * v.j) % 43) || ')' AS line
        |  FROM documents, unnest(generate_series(0, 2)) AS v(j)
        |  WHERE v.j < 1 + doc_id % 3)
        |SELECT doc_id, CAST(0 AS INTEGER) AS page_idx,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_shows,
        |  string_agg(line, chr(10) ORDER BY j) AS text
        |FROM ln GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // PDF stream-filter family (round 15): ASCIIHex / ASCII85 (partial
    // final groups) / RunLength (a planted zzzz… run makes the repeat
    // branch load-bearing) / LZW (TIFF-variant early change) / the
    // chains [A85, Flate] and [AHx, RL] by id%6 — same text out of
    // every encoding, exact replay
    // filter-family replay (round 15): the same closed-form lines out
    // of every stream encoding
    Q("q_pdf_text_filters", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("filterPdfMedia")(filterPdfMedia _))
      Pdf.pdfPages(media).toDF()
        .select("doc_id", "page_idx", "n_shows", "text")
        .orderBy("doc_id", "page_idx")
    },
      """WITH ln AS (
        |  SELECT doc_id, v.j AS j,
        |    CASE WHEN v.j = 1 THEN 'r' || repeat('z', CAST(3 + doc_id % 5 AS INTEGER)) || ' D' || doc_id
        |      ELSE 'FL D' || doc_id || ' L' || v.j || ' (q=' || ((doc_id + 11 * v.j) % 37) || ')' END AS line
        |  FROM documents, unnest(generate_series(0, 2)) AS v(j)
        |  WHERE v.j < 2 + doc_id % 2)
        |SELECT doc_id, CAST(0 AS INTEGER) AS page_idx,
        |  CAST(2 + doc_id % 2 AS INTEGER) AS n_shows,
        |  string_agg(line, chr(10) ORDER BY j) AS text
        |FROM ln GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // and the curation pipeline over CMAP-DECODED text (round 15):
    // composite-font walk → CMap decode → normalization → quality
    // gate, ONE Catalyst plan — length/word arithmetic runs on the
    // decoded code points (the emoji is ONE char on both engines), and
    // the short Differences page falls below the gate while the CID
    // page passes
    // CID-pipeline replay (round 15): quality arithmetic over the
    // chr()-constructed decoded text — code-point lengths agree across
    // engines including the surrogate-pair emoji (one code point both
    // sides)
    Q("q_pipeline_pdf_cid", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("cidPdfMedia")(cidPdfMedia _))
      val txt = Pdf.pdfPages(media).toDF()
        .select(col("doc_id"), col("page_idx"),
          translate(col("text"), "\n", " ").as("text"))
      TextAnalysis.quality(txt, col("text"))
        .select(col("doc_id"), col("page_idx"), col("n_chars"), col("n_words"),
          (col("n_chars") >= 12 && col("n_words") >= 3).cast("int").as("keep"))
        .orderBy("doc_id", "page_idx")
    },
      """WITH p0 AS (
        |  SELECT doc_id, 0 AS page_idx,
        |    'Cid D' || doc_id || ' k=' || ((doc_id * 7 + 3) % 29) || ' ' ||
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN chr(233) || chr(65533)
        |      WHEN 1 THEN chr(8230) || chr(913) || chr(914) || chr(915)
        |      ELSE chr(128512) END AS text
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, 1 AS page_idx,
        |    chr(225) || '=' || (doc_id % 13) || ' ' || chr(8364) || chr(8226) AS text
        |  FROM documents),
        |t AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
        |SELECT doc_id, CAST(page_idx AS INTEGER) AS page_idx,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |  CAST(CASE WHEN LENGTH(text) >= 12
        |    AND LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 3
        |    THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM t ORDER BY doc_id, page_idx""".stripMargin),

    // Document-curation pipeline (round 13): PDF walk → page text →
    // newline-to-space normalization → quality gate, ONE Catalyst plan
    // — the books/papers mile of a corpus run, sibling to
    // q_pipeline_warc's HTML mile
    // document-pipeline replay (round 13): quality metrics over the
    // SAME closed-form page text with newlines normalized to spaces —
    // n_words = separators + 1 (single spaces by construction)
    Q("q_pipeline_pdf", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("pdfMedia")(pdfMedia _))
      val txt = Pdf.pdfPages(media).toDF()
        .select(col("doc_id"), col("page_idx"),
          translate(col("text"), "\n", " ").as("text"))
      TextAnalysis.quality(txt, col("text"))
        .select(col("doc_id"), col("page_idx"), col("n_chars"), col("n_words"),
          (col("n_chars") >= 30 && col("n_words") >= 8).cast("int").as("keep"))
        .orderBy("doc_id", "page_idx")
    },
      """WITH ln AS (
        |  SELECT doc_id, u.p AS p, v.j AS j,
        |    'L' || v.j || ' P' || u.p || ' D' || doc_id
        |      || ' (k=' || ((doc_id + 3 * u.p + 7 * v.j) % 53) || ')' AS line
        |  FROM documents,
        |    unnest(generate_series(0, 2)) AS u(p),
        |    unnest(generate_series(0, 4)) AS v(j)
        |  WHERE u.p < 1 + doc_id % 3 AND v.j < 2 + (doc_id + u.p) % 3
        |    AND doc_id % 11 <> 7),
        |t AS (
        |  SELECT doc_id, CAST(p AS INTEGER) AS page_idx,
        |    string_agg(line, ' ' ORDER BY j) AS text
        |  FROM ln GROUP BY doc_id, p)
        |SELECT doc_id, page_idx,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |  CAST(CASE WHEN LENGTH(text) >= 30
        |    AND LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 8
        |    THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM t ORDER BY doc_id, page_idx""".stripMargin),

    // DOCX text extraction (round 13): zip walk → word/document.xml →
    // element-targeted WordprocessingML walk — runs concatenate with NO
    // separator (the fixture splits words across runs), <w:tab/> and
    // paragraph joins are literal whitespace, XML entities decode; the
    // oracle replays the exact string
    // DOCX replay (round 13): the exact main-document string — run
    // splits invisible, tabs and entities decoded, paragraphs joined \n
    Q("q_docx_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("docxMedia")(docxMedia _))
      Docs.docxTexts(media).toDF()
        .select("doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id, u.k AS k,
        |    'P' || u.k || (CASE WHEN (doc_id + u.k) % 4 = 0 THEN chr(9) ELSE ' ' END)
        |      || 'D' || doc_id || ' & t=' || ((doc_id * 5 + 3 * u.k) % 71) AS para
        |  FROM documents, unnest(generate_series(0, 4)) AS u(k)
        |  WHERE u.k < 2 + doc_id % 3)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY k) AS text
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // EPUB chapter extraction (round 13): the OCF/OPF chain —
    // container.xml full-path → manifest id→href → SPINE order (the
    // fixture reverses the spine against archive order on a slice, and
    // plants an off-spine decoy chapter that must not emit); chapter
    // XHTML rides the same extractor as WARC HTML
    // EPUB replay (round 13): part_idx follows the SPINE (reversed vs
    // archive order on id%3=1), href resolves under OEBPS/, the decoy
    // never appears, text = the HTML-extracted chapter string
    Q("q_epub_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("epubMedia")(epubMedia _))
      Docs.epubTexts(media).toDF()
        .select("doc_id", "part_idx", "part", "text")
        .orderBy("doc_id", "part_idx")
    },
      """WITH s AS (
        |  SELECT doc_id, u.j AS j,
        |    CASE WHEN doc_id % 3 = 1 THEN (doc_id % 3) - u.j ELSE u.j END AS k
        |  FROM documents, unnest(generate_series(0, 2)) AS u(j)
        |  WHERE u.j < 1 + doc_id % 3)
        |SELECT doc_id, CAST(j AS INTEGER) AS part_idx,
        |  'OEBPS/ch' || k || '.xhtml' AS part,
        |  'C' || k || ' E' || doc_id || ' & ' || ((doc_id + 11 * k) % 59) AS text
        |FROM s ORDER BY doc_id, part_idx""".stripMargin),

    // Jupyter-notebook cell extraction (round 13): fully DECLARATIVE —
    // from_json under both nbformat source schemas (array-of-lines AND
    // plain string, coalesced per cell) + posexplode; metadata/outputs
    // are schema-projected away; the oracle replays the exact cell text
    // ipynb replay (round 13): exact cell text per (doc, cell) — the
    // string-form slice must land on the same text as the array form
    Q("q_ipynb_cells", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, cachedFixture("ipynb", id)(ipynbJson(id)))).toDF("doc_id", "json")
      Notebooks.cells(df, "doc_id", col("json"))
        .select("doc_id", "cell_idx", "cell_type", "source", "n_chars")
        .orderBy("doc_id", "cell_idx")
    },
      """WITH c AS (
        |  SELECT doc_id, u.k AS k, v.j AS j,
        |    'x' || u.k || v.j || ' d' || doc_id AS line
        |  FROM documents,
        |    unnest(generate_series(0, 4)) AS u(k),
        |    unnest(generate_series(0, 2)) AS v(j)
        |  WHERE u.k < 2 + doc_id % 3 AND v.j < 1 + (doc_id + u.k) % 3),
        |s AS (
        |  SELECT doc_id, k, string_agg(line, chr(10) ORDER BY j) AS source
        |  FROM c GROUP BY doc_id, k)
        |SELECT doc_id, CAST(k AS INTEGER) AS cell_idx,
        |  CASE WHEN (doc_id + k) % 2 = 0 THEN 'code' ELSE 'markdown' END AS cell_type,
        |  source, CAST(LENGTH(source) AS BIGINT) AS n_chars
        |FROM s ORDER BY doc_id, cell_idx""".stripMargin),

    // code-cell concatenation per notebook (the code-corpus form):
    // order restored via array_sort on the leading struct field, never
    // trusting collect_list's shuffle order
    // code-concatenation replay (round 13): code cells only, in cell
    // order
    Q("q_ipynb_code", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, cachedFixture("ipynb", id)(ipynbJson(id)))).toDF("doc_id", "json")
      Notebooks.codeText(df, "doc_id", col("json"))
        .select("doc_id", "code")
        .orderBy("doc_id")
    },
      """WITH c AS (
        |  SELECT doc_id, u.k AS k, v.j AS j,
        |    'x' || u.k || v.j || ' d' || doc_id AS line
        |  FROM documents,
        |    unnest(generate_series(0, 4)) AS u(k),
        |    unnest(generate_series(0, 2)) AS v(j)
        |  WHERE u.k < 2 + doc_id % 3 AND v.j < 1 + (doc_id + u.k) % 3),
        |s AS (
        |  SELECT doc_id, k, string_agg(line, chr(10) ORDER BY j) AS source
        |  FROM c GROUP BY doc_id, k)
        |SELECT doc_id, string_agg(source, chr(10) ORDER BY k) AS code
        |FROM s WHERE (doc_id + k) % 2 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // LaTeX text extraction (round 13): the arXiv mile — preamble/
    // comments/math/equation-envs dropped, prose arguments kept,
    // character escapes decoded; the oracle replays the exact string,
    // so markup leaking INTO the text or prose dropped OUT of it both
    // diverge immediately
    // LaTeX replay (round 13): the exact extracted prose — title/
    // section/emph/textbf arguments and escaped chars kept, everything
    // else (preamble, comments, math, equation env, cite/label,
    // markers) gone
    Q("q_latex_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, cachedFixture("latex", id)(latexSrc(id)))).toDF("doc_id", "src")
      Latex.latexTexts(df, "doc_id", "src")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'T ' || doc_id || ' S ' || (doc_id % 50)
        |    || ' Body em ' || (doc_id * 3 % 97)
        |    || ' with math dropped. Cite and pct 100% amp & und x_y. First '
        |    || (doc_id % 41) || ' Second bold ' || (doc_id * 11 % 73)
        |    || ' Line one line two tail ' || (doc_id * 13 % 61) || '.' AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // mbox/MIME walk (round 13): envelope framing + mboxrd escapes,
    // folded headers, RFC 2047 encoded-word subjects (B and split-Q
    // forms) — the oracle replays the DECODED header strings, so the
    // three encoding layers are invisible by construction
    // mail header replay (round 13): decoded From/To/Subject — folding
    // and both encoded-word forms invisible; n_parts = 2 only on the
    // multipart slice
    Q("q_mail_messages", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("mboxMedia")(mboxMedia _))
      Mail.readMbox(media).toDF()
        .select("doc_id", "msg_idx", "from", "to", "subject", "n_parts")
        .orderBy("doc_id", "msg_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS msg_idx,
        |  'u' || doc_id || u.i || '@ex.org' AS "from",
        |  'team' || ((doc_id + u.i) % 9) || '@ex.org list' || u.i || '@ex.org' AS "to",
        |  'Re: topic ' || doc_id || ' ' || ((doc_id * 3 + u.i) % 31) AS subject,
        |  CAST(CASE WHEN (doc_id + u.i) % 5 = 3 THEN 2 ELSE 1 END AS INTEGER) AS n_parts
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, msg_idx""".stripMargin),

    // mail text extraction (round 13): content-transfer decode (7bit /
    // soft-wrapped quoted-printable / base64), multipart walk where the
    // html decoy comes FIRST but text/plain must win, html-only
    // fallback through the HTML extractor — exact decoded strings
    // mail text replay (round 13): the decoded body — QP soft wraps,
    // base64 line wraps, and the multipart decoy all invisible; the
    // html-only slice goes through the HTML extractor (lines collapse)
    Q("q_mail_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("mboxMedia")(mboxMedia _))
      Mail.readMbox(media).toDF()
        .select("doc_id", "msg_idx", "text")
        .orderBy("doc_id", "msg_idx")
    },
      """WITH m AS (
        |  SELECT doc_id, u.i AS i, (doc_id + u.i) % 5 AS kind,
        |    'Body ' || doc_id || '.' || u.i || ' one' AS l1,
        |    'second = ' || ((doc_id * 7 + u.i) % 43) || ' end' AS l2
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |  WHERE u.i < 1 + doc_id % 3)
        |SELECT doc_id, CAST(i AS INTEGER) AS msg_idx,
        |  CASE WHEN kind = 4 THEN l1 || ' ' || l2 ELSE l1 || chr(10) || l2 END AS text
        |FROM m ORDER BY doc_id, msg_idx""".stripMargin),

    // BibTeX entries (round 13): brace-balanced values with nested
    // case-protection groups, hard-wrapped quoted values (whitespace
    // collapse is the BibTeX rule), @string macros + # concatenation
    // in a field the output doesn't even show (a broken concat still
    // kills the entry), @comment noise, case-insensitive entry types
    // bibtex replay (round 13)
    Q("q_bibtex_entries", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("bibMedia")(bibMedia _))
      Bibtex.bibEntries(media).toDF()
        .select("doc_id", "entry_idx", "entry_type", "cite_key", "title", "author", "year")
        .orderBy("doc_id", "entry_idx")
    },
      """SELECT doc_id, CAST(u.k AS INTEGER) AS entry_idx,
        |  CASE CAST((doc_id + u.k) % 3 AS INTEGER) WHEN 0 THEN 'article'
        |    WHEN 1 THEN 'book' ELSE 'inproceedings' END AS entry_type,
        |  'k' || doc_id || '-' || u.k AS cite_key,
        |  'The B' || u.k || ' Title ' || ((doc_id * 3 + u.k) % 53) AS title,
        |  'A. Name and B. N' || u.k AS author,
        |  CAST(1970 + (doc_id + u.k) % 50 AS VARCHAR) AS year
        |FROM documents, unnest(generate_series(0, 2)) AS u(k)
        |WHERE u.k < 1 + doc_id % 3
        |ORDER BY doc_id, entry_idx""".stripMargin),

    // robots.txt rule walk (round 13): groups by consecutive
    // user-agent lines (a multi-agent group on a slice), comments,
    // field case, crawl-delay noise, a group-independent sitemap
    // robots rule replay (round 13)
    Q("q_robots_rules", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("robotsMedia")(robotsMedia _))
      Crawl.robotsRules(media).toDF()
        .select("doc_id", "group_idx", "agent", "rule", "pattern")
        .orderBy("doc_id", "group_idx", "agent", "rule", "pattern")
    },
      """WITH ag AS (
        |  SELECT doc_id, 'gruntbot' AS agent FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'otherbot' AS agent FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM (
        |  SELECT doc_id, CAST(0 AS INTEGER) AS group_idx, agent,
        |    'disallow' AS rule, '/private' || doc_id || '/' AS pattern FROM ag
        |  UNION ALL
        |  SELECT doc_id, CAST(0 AS INTEGER), agent, 'allow',
        |    '/private' || doc_id || '/ok/' FROM ag
        |  UNION ALL
        |  SELECT doc_id, CAST(0 AS INTEGER), agent, 'disallow', '/*.tmp$' FROM ag
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INTEGER), '*', 'disallow',
        |    '/all' || doc_id || '/' FROM documents)
        |ORDER BY doc_id, group_idx, agent, rule, pattern""".stripMargin),

    // the REP DECISION function (round 13): group selection by
    // user-agent token (the * group must NOT apply to gruntbot),
    // longest-match precedence, allow-beats-disallow on the longer
    // pattern, * wildcard + $ anchor — five probe paths per doc whose
    // verdicts the oracle pins
    // REP decision replay (round 13): the five verdicts — deny inside
    // /private, allow on the longer /ok/ override, deny on the
    // anchored wildcard, allow past the anchor, allow on the * group's
    // path because gruntbot's own group was selected
    Q("q_robots_decision", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("robotsMedia")(robotsMedia _))
      Crawl.robotsDecisions(media, "GruntBot/1.0", id => Seq(
          s"/private$id/x", s"/private$id/ok/y", s"/a$id.tmp",
          s"/a$id.tmpX", s"/all$id/z"))
        .map { case (id, i, p, a) => (id, i, p, if (a) 1 else 0) }
        .toDF("doc_id", "path_idx", "path", "allowed")
        .orderBy("doc_id", "path_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS path_idx,
        |  CASE u.i
        |    WHEN 0 THEN '/private' || doc_id || '/x'
        |    WHEN 1 THEN '/private' || doc_id || '/ok/y'
        |    WHEN 2 THEN '/a' || doc_id || '.tmp'
        |    WHEN 3 THEN '/a' || doc_id || '.tmpX'
        |    ELSE '/all' || doc_id || '/z' END AS path,
        |  CAST(CASE u.i WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 0
        |    WHEN 3 THEN 1 ELSE 1 END AS INTEGER) AS allowed
        |FROM documents, unnest(generate_series(0, 4)) AS u(i)
        |ORDER BY doc_id, path_idx""".stripMargin),

    // comment stripping (round 13): the code-dedup input form — three
    // comment grammars by id%3, with the classic traps load-bearing
    // everywhere: markers inside string literals (// in a C string, #
    // in a Python docstring, -- in a SQL string) survive, quotes
    // inside comments don't confuse the walk, block comments read as
    // one space; non-comment bytes replay byte-exact
    // comment-strip replay (round 13): the exact stripped source —
    // note the doubled '' escapes for the SQL slice's quoted literal
    Q("q_code_strip", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("codeMedia")(codeMedia _))
      Code.strippedCode(media, fam => fam)
        .toDF("doc_id", "family", "code")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'c' WHEN 1 THEN 'hash'
        |    ELSE 'sql' END AS family,
        |  CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN chr(10) || 'int a = ' || (doc_id % 9)
        |      || ';   int b = ' || (doc_id % 7) || ';' || chr(10)
        |      || 'char* s = "x // not";' || chr(10)
        |    WHEN 1 THEN chr(10) || 'x = ' || (doc_id % 9) || '  ' || chr(10)
        |      || 's = "y # keep"' || chr(10) || 'd = ' || repeat(chr(34), 3)
        |      || 'doc # keep' || chr(10) || 'two' || repeat(chr(34), 3)
        |      || chr(10) || 'y = ' || (doc_id % 7) || chr(10)
        |    ELSE chr(10) || 'SELECT ' || (doc_id % 9)
        |      || ' AS a,   ''--not'' AS s' || chr(10) || 'FROM t ' || chr(10)
        |  END AS code
        |FROM documents ORDER BY doc_id""".stripMargin),

    // code-dedup pipeline (round 13): strip → exact-hash group — the
    // code-corpus dedup move. Doc pairs share code but differ in
    // comments (id-stamped), so WITHOUT stripping every group is a
    // singleton and the output halves; one shuffle on the stripped key
    // code-dedup replay (round 13): pair groups by construction — the
    // GROUP BY on doc_id's pair base is the ground truth the stripped-
    // code grouping must reproduce
    Q("q_pipeline_code", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("codePairMedia")(codePairMedia _))
      Code.strippedCode(media, fam => fam)
        .toDF("doc_id", "family", "code")
        .groupBy("code")
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n_docs"))
        .select("canonical", "n_docs")
        .orderBy("canonical")
    },
      pairCanonicalOracle),

    // license identification (round 13): SPDX tag verbatim, else
    // phrase fingerprints of the six dominant licenses, else unknown
    // license replay (round 13)
    Q("q_code_license", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("licenseMedia")(licenseMedia _))
      Code.licenses(media)
        .toDF("doc_id", "license")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |    WHEN 0 THEN 'Apache-2.0' WHEN 1 THEN 'MIT' WHEN 2 THEN 'Apache-2.0'
        |    WHEN 3 THEN 'GPL-3.0' WHEN 4 THEN 'BSD-3-Clause'
        |    ELSE 'unknown' END AS license
        |FROM documents ORDER BY doc_id""".stripMargin),

    // sitemap walk (round 13): urlset vs sitemapindex by slice,
    // &amp;-encoded query strings decode, absent priority = protocol
    // default 0.5, absent lastmod = empty
    // sitemap replay (round 13; r15 adds changefreq and the .xml.gz
    // slice — the gzip layer is invisible to the field replay)
    Q("q_sitemap_urls", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("sitemapMedia")(sitemapMedia _))
      Crawl.sitemapUrls(media).toDF()
        .select("doc_id", "url_idx", "loc", "lastmod", "changefreq", "priority",
          "is_index")
        .orderBy("doc_id", "url_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS url_idx,
        |  CASE WHEN doc_id % 4 = 0
        |    THEN 'https://ex.org/' || doc_id || '/map' || u.i || '.xml'
        |    ELSE 'https://ex.org/' || doc_id || '/p' || u.i || '?a=1&b='
        |      || ((doc_id + u.i) % 7) END AS loc,
        |  CASE WHEN doc_id % 4 = 0
        |      THEN '2026-0' || (1 + (doc_id + u.i) % 9) || '-01'
        |    WHEN (doc_id + u.i) % 3 = 0 THEN ''
        |    ELSE '2026-0' || (1 + (doc_id + u.i) % 9) || '-01' END AS lastmod,
        |  CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'daily' END AS changefreq,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 0.5
        |    WHEN (doc_id + u.i) % 2 = 0 THEN 0.125 * (1 + (doc_id + u.i) % 7)
        |    ELSE 0.5 END AS DOUBLE) AS priority,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_index
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, url_idx""".stripMargin),

    // RSS/Atom feed items (round 13): root-element format detection,
    // per-format link forms, and the double-layer text convention —
    // entity-encoded HTML vs CDATA-wrapped raw HTML must land on the
    // SAME extracted string (the fixture alternates per item)
    // feed replay (round 13): entity-encoded and CDATA bodies land on
    // the same string; per-format link forms invisible
    Q("q_feed_items", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("feedMedia")(feedMedia _))
      Feeds.feedItems(media).toDF()
        .select("doc_id", "item_idx", "fmt", "title", "link", "text")
        .orderBy("doc_id", "item_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS item_idx,
        |  CASE WHEN doc_id % 2 = 1 THEN 'atom' ELSE 'rss' END AS fmt,
        |  'T ' || doc_id || ' ' || u.i || ' & co' AS title,
        |  'https://n.ex/' || doc_id || '/' || u.i AS link,
        |  'Body ' || doc_id || '.' || u.i || ' k ' || ((doc_id * 7 + u.i) % 43)
        |    || ' & tail' AS text
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, item_idx""".stripMargin),

    // RTF text extraction (round 13): the legacy-document family —
    // font/color/info tables and {\*…} destinations must not leak,
    // nested bold groups are invisible, \'hh code-page bytes and \uN
    // escapes (with their fallback char SKIPPED) decode; exact replay
    // RTF replay (round 13): exact prose — tables/destinations gone,
    // escapes decoded, fallback chars absent
    Q("q_rtf_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("rtfMedia")(rtfMedia _))
      Rtf.rtfTexts(media)
        .toDF("doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'R0 D' || doc_id || ' pct 50 end ' || ((doc_id * 3) % 71)
        |  || CASE WHEN doc_id % 2 = 1
        |       THEN ' R1 D' || doc_id || ' pct 50 end ' || ((doc_id * 3 + 1) % 71)
        |       ELSE '' END
        |  || CASE WHEN doc_id % 4 = 1
        |       THEN ' Café — d' || (doc_id % 10) ELSE '' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // WET walk (round 13): Common Crawl's pre-extracted text layer —
    // conversion records whose body IS the text; the multi-byte UTF-8
    // slice pins byte-length vs char-length framing (Content-Length is
    // BYTES, the payload string is CHARS)
    // WET replay (round 13): the exact conversion-record text — gzip
    // members and the byte-vs-char framing invisible by construction
    Q("q_warc_wet", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wetMedia")(wetMedia _))
      Warc.wetTexts(media)
        .toDF("doc_id", "rec_idx", "uri", "text")
        .orderBy("doc_id", "rec_idx")
    },
      """SELECT doc_id,
        |  CAST(1 + u.i AS INTEGER) AS rec_idx,
        |  'https://cc.org/' || doc_id || '/' || u.i AS uri,
        |  'WET ' || doc_id || '.' || u.i || ' line one '
        |    || (CASE WHEN (doc_id + u.i) % 2 = 1 THEN 'é' ELSE 'e' END)
        |    || chr(10) || 'second ' || ((doc_id * 5 + u.i) % 83) AS text
        |FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |WHERE u.i < 1 + doc_id % 4
        |ORDER BY doc_id, rec_idx""".stripMargin),

    // ODT text extraction (round 13): the opposite text model to DOCX
    // — character data in nested spans must be KEPT, the ODF
    // whitespace elements (text:s runs, tab, line-break) reconstruct
    // exactly; mimetype-content detection separates it from EPUB's
    // identically-shaped container
    // ODT replay (round 13): exact string — span splits invisible,
    // text:s runs reconstruct their spaces, tabs and entities decode
    Q("q_odt_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("odtMedia")(odtMedia _))
      Docs.odtTexts(media).toDF()
        .select("doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id, u.k AS k,
        |    'O' || u.k || (CASE WHEN (doc_id + u.k) % 3 = 0 THEN chr(9) ELSE '  ' END)
        |      || 'D' || doc_id || ' & s=' || ((doc_id * 7 + u.k) % 61) AS para
        |  FROM documents, unnest(generate_series(0, 2)) AS u(k)
        |  WHERE u.k < 1 + doc_id % 3)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY k) AS text
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Heterogeneous-corpus router (round 13): UNTYPED blobs cycling
    // pdf/docx/epub/mbox/html/latex/gzipped-html/odt by id%8;
    // magic-byte detection routes each to its extractor in ONE flatMap
    // kernel and every format must land on the SAME canonical text — a
    // misdetection or a broken extractor diverges on its whole slice
    // router replay (round 13): every slice lands on the SAME
    // canonical text; format names pin the detection
    Q("q_doc_router", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("routerMedia")(routerMedia _))
      Docs.routedTexts(media)
        .toDF("doc_id", "format", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 9 AS INTEGER)
        |    WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' WHEN 2 THEN 'epub'
        |    WHEN 3 THEN 'mbox' WHEN 4 THEN 'html' WHEN 5 THEN 'latex'
        |    WHEN 6 THEN 'html' WHEN 7 THEN 'odt' ELSE 'rtf' END AS format,
        |  'Doc ' || doc_id || ' body ' || (doc_id * 3 % 97) AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Markdown text extraction (round 13): fences dropped, headings/
    // quotes/list markers stripped, images→alt, links→text, code spans
    // unwrapped, setext rules and reference definitions gone, entities
    // via the shared HTML tail — exact string replay
    // markdown replay (round 13): the exact extracted prose
    Q("q_markdown_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, cachedFixture("md", id)(mdSrc(id)))).toDF("doc_id", "src")
      Markdown.mdTexts(df, "doc_id", "src")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'Title ' || doc_id || ' Intro bold and link ' || (doc_id % 29)
        |    || ' plus x = ' || (doc_id % 13) || ' end. item one ' || (doc_id % 23)
        |    || ' item two quote ' || (doc_id % 31) || ' & tail alt '
        |    || (doc_id % 19) || ' Setext H' AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MediaWiki dump walk (round 13): the encyclopedia corpus —
    // export-0.10 page elements behind THREE compression forms by
    // id%3 (plain / gzip / bz2 MULTISTREAM, the Wikipedia layout whose
    // stream boundary falls mid-document), entity-carrying titles, a
    // redirect slice, a self-closing empty <text/> slice, and the
    // revision <id> that must NOT shadow the page <id>
    // wiki dump replay (round 13): every page field a closed form —
    // the compression split (plain/gzip/bz2-multistream by doc_id%3)
    // is invisible to the output, which is the point
    Q("q_wiki_pages", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(wikiDumpMedia _)
      Wiki.wikiPages(media).toDF()
        .select(col("doc_id"), col("page_idx"), col("title"), col("ns"),
          col("page_id"), col("redirect"), col("timestamp").as("ts"),
          col("text").as("page_text"))
        .orderBy("doc_id", "page_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS page_idx,
        |  CASE WHEN (doc_id + u.i) % 4 = 0 THEN 'A & B ' || doc_id || '/' || u.i
        |       ELSE 'Page ' || doc_id || '/' || u.i END AS title,
        |  CAST(CASE (doc_id + u.i) % 3 WHEN 0 THEN 0 WHEN 1 THEN 1
        |       ELSE 14 END AS INTEGER) AS ns,
        |  CAST(doc_id * 10 + u.i AS BIGINT) AS page_id,
        |  CASE WHEN (doc_id + u.i) % 5 = 0 THEN 'R ' || doc_id ELSE '' END AS redirect,
        |  '2026-01-02T03:04:05Z' AS ts,
        |  CASE WHEN (doc_id + u.i) % 7 = 0 THEN ''
        |       ELSE 'w ' || doc_id || ' ' || u.i || ' & end' END AS page_text
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, page_idx""".stripMargin),

    // multistream index slicing (round 14, VERDICT r13 task 5): a REAL
    // dump (header stream + 2-3 page streams + tail stream) with its
    // REAL bz2 index of offset:pageid:title lines — the indexSlices
    // OPERATOR must read true byte offsets back and pair each with the
    // pages the index attributes to it; offsets/lengths are compressed
    // sizes (not replayable) so the oracle pins the slice→page algebra
    // slice replay (round 14): page i of P = 4+id%3 lands in slice
    // i·S/P (S = 2+id%2) — counts and first ids per slice, exact
    // integer arithmetic; byte offsets/lengths are compressed sizes
    // and deliberately out of the compare
    Q("q_wiki_slices", (s, dir) => {
      val spark = s
      import spark.implicits._
      val src = mediaIds(s, dir).map { id =>
        val (dump, index) = wikiMsFixture(id)
        Wiki.WikiIndexSrc(id, index, dump.length.toLong)
      }
      Wiki.indexSlices(src).toDF()
        .select(col("doc_id"), col("slice_idx"), col("n_pages"), col("first_page_id"))
        .orderBy("doc_id", "slice_idx")
    },
      """WITH p AS (SELECT doc_id, u.i AS i FROM documents,
        |  unnest(generate_series(0, 5)) AS u(i) WHERE u.i < 4 + doc_id % 3),
        |s AS (SELECT doc_id,
        |  CAST(i * (2 + doc_id % 2) // (4 + doc_id % 3) AS INTEGER) AS slice_idx,
        |  doc_id * 100 + i AS pid FROM p)
        |SELECT doc_id, slice_idx, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(min(pid) AS BIGINT) AS first_page_id
        |FROM s GROUP BY doc_id, slice_idx ORDER BY doc_id, slice_idx""".stripMargin),

    // and the slices DECODED: each index-derived (offset, length) range
    // is cut out of the dump bytes and walked independently — the page
    // set must equal the whole-dump walk, with each page landing in the
    // slice the index put it in (the per-task unit of the 100 TB path)
    // slice-decode replay (round 14): every page field closed-form,
    // tagged with the slice the index routed it through
    Q("q_wiki_slice_pages", (s, dir) => {
      val spark = s
      import spark.implicits._
      mediaIds(s, dir).flatMap { id =>
        val (dump, index) = wikiMsFixture(id)
        Wiki.pagesBySlice(dump, index)
          .map { case (si, p) => (id, si, p.page_id, p.title, p.text) }
      }.toDF("doc_id", "slice_idx", "page_id", "title", "page_text")
        .orderBy("doc_id", "page_id")
    },
      """WITH p AS (SELECT doc_id, u.i AS i FROM documents,
        |  unnest(generate_series(0, 5)) AS u(i) WHERE u.i < 4 + doc_id % 3)
        |SELECT doc_id,
        |  CAST(i * (2 + doc_id % 2) // (4 + doc_id % 3) AS INTEGER) AS slice_idx,
        |  CAST(doc_id * 100 + i AS BIGINT) AS page_id,
        |  'Pg ' || doc_id || ':' || i AS title,
        |  'body ' || doc_id || ' ' || i AS page_text
        |FROM p ORDER BY doc_id, page_id""".stripMargin),

    // the FS RANGED-READ slice path itself (round 14): one on-disk
    // multistream dump of 64 pages / 16 streams; slim slice rows fan
    // out to tasks that each do one positioned readFully — the dump
    // never enters the plan as a blob. Deterministic file content, so
    // the write is idempotent across reps.
    // ranged-read replay (round 14): 64 closed-form pages, independent
    // of the documents table — the path under test is the IO shape
    Q("q_wiki_slices_fs", (s, dir) => {
      val spark = s
      import spark.implicits._
      val pages = (0 until 64).map(i => (s"F $i", 0, 1000L + i, "", s"fs body $i"))
      val (dump, index) = Wiki.syntheticMultistreamIndexed(pages, 16)
      val f = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q_wiki_slices_fs.xml.bz2")
      // Concurrent-run safe: skip when the deterministic bytes are
      // already in place; otherwise install them with an atomic write,
      // so no reader ever sees a partial dump.
      if (!(f.isFile && f.length == dump.length &&
            java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f.toPath), dump)))
        graft.storage.FileStorage.writeAtomic(f.toPath, dump)
      val path = f.getAbsolutePath
      val src = Seq(Wiki.WikiIndexSrc(0L, index, dump.length.toLong)).toDS()
      val slices = Wiki.indexSlices(src).map(sl => (sl, path))
        .repartition(8) // one task per slice group: the parallelism dial
      Wiki.slicePagesFs(slices).toDF()
        .select(col("page_id"), col("title"), col("text").as("page_text"))
        .orderBy("page_id")
    },
      """SELECT CAST(1000 + u.i AS BIGINT) AS page_id,
        |  'F ' || u.i AS title,
        |  'fs body ' || u.i AS page_text
        |FROM unnest(generate_series(0, 63)) AS u(i)
        |ORDER BY page_id""".stripMargin),

    // wikitext → plain text (round 13): nested templates, a table, a
    // piped and a plain wikilink, a File link whose caption nests a
    // further link, a Category, refs (paired and self-closing), a
    // heading, bold/italic runs, list markers, labeled and bare
    // external links, an entity — exact string replay
    // wikitext replay (round 13): the exact extracted prose
    Q("q_wiki_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wikitextMedia")(wikitextMedia _))
      Wiki.wikiTexts(media)
        .toDF("doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'H' || doc_id || ' Bold' || (doc_id % 9) || ' and it' || (doc_id % 7)
        |    || ' text. A Target ' || (doc_id % 9) || ' and label ' || (doc_id % 7)
        |    || ' link. item' || (doc_id % 9) || ' item' || (doc_id % 7)
        |    || ' See site ' || doc_id || ' and . End & fin' || doc_id || '.' AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // wiki-dedup pipeline (round 13): dump walk → ns-0 non-redirect
    // filter → wikitext extraction → exact-hash group, ONE Catalyst
    // plan. Doc pairs share prose but differ in comment/template
    // id-stamps — extraction is what makes them collide; without it
    // every group is a singleton
    // wiki-dedup replay (round 13): pair groups by construction — the
    // GROUP BY on doc_id's pair base is the ground truth the
    // extracted-text grouping must reproduce
    Q("q_pipeline_wiki", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("wikiPairMedia")(wikiPairMedia _))
      Wiki.wikiPages(media)
        .filter(p => p.ns == 0 && p.redirect.isEmpty)
        .map(p => (p.doc_id, Wiki.wikitextToText(p.text)))
        .toDF("doc_id", "text")
        .groupBy("text")
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n_docs"))
        .select("canonical", "n_docs")
        .orderBy("canonical")
    },
      pairCanonicalOracle),

    // Boilerplate block classification (round 13): the jusText/
    // boilerpipe core — block segmentation at block-tag boundaries,
    // per-block length + link-density + chrome-container features, and
    // the integer-threshold verdict; every block's features and
    // verdict replay closed-form
    // boilerplate block replay (round 13): per-block text/link closed
    // forms; features are lengths of those forms and the verdict is
    // the SAME integer rule evaluated independently in SQL
    Q("q_html_blocks", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("boilerMedia")(boilerMedia _))
      graft.llm.Boilerplate.htmlBlocks(media).toDF()
        .select(col("doc_id"), col("block_idx"), col("text"), col("n_chars"),
          col("link_chars"), col("ctx_dropped").cast("int").as("ctx_dropped"),
          col("is_content").cast("int").as("is_content"))
        .orderBy("doc_id", "block_idx")
    },
      """WITH b AS (
        |  SELECT doc_id, 0 AS i, 'T ' || doc_id AS text, '' AS link,
        |    FALSE AS ctx FROM documents
        |  UNION ALL SELECT doc_id, 1, 'Home ' || doc_id || ' Browse',
        |    'Home ' || doc_id || 'Browse', TRUE FROM documents
        |  UNION ALL SELECT doc_id, 2, 'Heading ' || doc_id, '', FALSE FROM documents
        |  UNION ALL SELECT doc_id, 3,
        |    'This is the long main paragraph number ' || doc_id
        |      || ' with plenty of words to pass the length gate and one link '
        |      || (doc_id % 9) || ' inside.',
        |    'link ' || (doc_id % 9), FALSE FROM documents
        |  UNION ALL SELECT doc_id, 4, 'Short ' || (doc_id % 7) || '.', '',
        |    FALSE FROM documents
        |  UNION ALL SELECT doc_id, 5,
        |    'more articles ' || doc_id || ' and even more links here',
        |    'more articles ' || doc_id || 'even more links here', FALSE FROM documents
        |  UNION ALL SELECT doc_id, 6, 'Copyright ' || doc_id || ' Example Corp',
        |    '', TRUE FROM documents)
        |SELECT doc_id, CAST(i AS INTEGER) AS block_idx, text,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(length(link) AS INTEGER) AS link_chars,
        |  CAST(CASE WHEN ctx THEN 1 ELSE 0 END AS INTEGER) AS ctx_dropped,
        |  CAST(CASE WHEN NOT ctx AND length(text) >= 25
        |       AND length(link) * 100 <= length(text) * 40
        |       THEN 1 ELSE 0 END AS INTEGER) AS is_content
        |FROM b ORDER BY doc_id, block_idx""".stripMargin),

    // main-content extraction (round 13): the kept text — title, nav,
    // short heading, link farm, and footer all gone; exactly the one
    // long low-link-density paragraph survives
    // main-content replay (round 13): exactly the one content block
    Q("q_html_main_content", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("boilerMedia")(boilerMedia _))
      graft.llm.Boilerplate.mainContent(media)
        .toDF("doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'This is the long main paragraph number ' || doc_id
        |    || ' with plenty of words to pass the length gate and one link '
        |    || (doc_id % 9) || ' inside.' AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // provenance audit pipeline (round 13): CDX walk → capture path
    // from the urlkey → REP decision against a broadcast policy →
    // per-shard allow/deny counts, ONE plan — "which of our captures
    // would today's robots.txt deny" is the re-crawl compliance
    // question a provenance-aware corpus answers
    // provenance replay (round 13): the REP verdict per slice
    Q("q_pipeline_provenance", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("provenanceCdxMedia")(provenanceCdxMedia _))
      val policy = Crawl.parseRobots(
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n")
      Crawl.cdxRecords(media)
        .map { r =>
          val path = r.urlkey.substring(r.urlkey.indexOf(')') + 1)
          (r.doc_id, if (Crawl.isAllowed(policy, "bot", path)) 1L else 0L)
        }
        .toDF("doc_id", "allowed")
        .groupBy("doc_id")
        .agg(sum(col("allowed")).as("n_allowed"),
          sum(lit(1L) - col("allowed")).as("n_denied"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(SUM(CASE WHEN (doc_id + u.i) % 3 = 1 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN (doc_id + u.i) % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_denied
        |FROM documents, unnest(generate_series(0, 5)) AS u(i)
        |WHERE u.i < 3 + doc_id % 3
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ccSLD-aware registered domain (round 13): foo.co.uk keys at the
    // third label, foo.com at the second, non-URLs at NULL
    // registered-domain replay (round 13)
    Q("q_url_registered_cc", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map { id =>
        val url = (id % 4) match {
          case 0 => s"https://a$id.blog.foo${id % 7}.co.uk/x"
          case 1 => s"http://www.bar${id % 5}.com/y"
          case 2 => s"https://sub.baz$id.com.au/"
          case _ => s"not a url $id"
        }
        (id, url)
      }.toDF("doc_id", "url")
      df.select(col("doc_id"),
          graft.llm.UrlOps.registeredDomainCc(col("url")).as("domain"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'foo' || (doc_id % 7) || '.co.uk'
        |    WHEN 1 THEN 'bar' || (doc_id % 5) || '.com'
        |    WHEN 2 THEN 'baz' || doc_id || '.com.au'
        |    ELSE CAST(NULL AS VARCHAR) END AS domain
        |FROM documents ORDER BY doc_id""".stripMargin),

    // text normalization (round 13): three slices — exact mojibake
    // repair (Latin-1 round-trip), typographic folding (smart quotes /
    // em-dash / ellipsis / NBSP), and NFKC + zero-width strip
    // (fullwidth letters, circled digits, ZWSP) — exact replay
    // normalization replay (round 13): the three repaired forms
    Q("q_normalize_text", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, normalizeSrc(id))).toDF("doc_id", "text")
      TextAnalysis.normalizeText(df, "doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN 'Café ' || doc_id
        |    WHEN 1 THEN '"q ' || doc_id || '" - it''s ... ok now'
        |    ELSE 'Ab ' || doc_id || ' AB 1' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Flesch–Kincaid readability (round 13): planted syllable counts
    // (cat/data/banana/name cover the vowel-group + silent-e rules)
    // over the sentence splitter; the grade replays the identical IEEE
    // expression — exact double compare, the interpolation precedent
    // readability replay (round 13): identical IEEE expression
    Q("q_readability", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir)
        .map(id => (id, ("cat " * (id % 4).toInt) + "cat data banana. Name cat."))
        .toDF("doc_id", "text")
      TextAnalysis.fleschKincaid(df, "doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(2 AS BIGINT) AS n_sentences,
        |  CAST(5 + doc_id % 4 AS BIGINT) AS n_words,
        |  CAST(8 + doc_id % 4 AS BIGINT) AS n_syllables,
        |  CAST(0.39 AS DOUBLE) * (CAST(5 + doc_id % 4 AS DOUBLE) / CAST(2 AS DOUBLE))
        |    + CAST(11.8 AS DOUBLE) * (CAST(8 + doc_id % 4 AS DOUBLE)
        |        / CAST(5 + doc_id % 4 AS DOUBLE))
        |    - CAST(15.59 AS DOUBLE) AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML table extraction (round 13): per-cell rows with (table,
    // row, col) coordinates — th header flag, colspan advancing the
    // column arithmetic on its slice, entities through the shared
    // htmlText tail
    // table replay (round 13): header + data coordinates, the colspan
    // slice shifting the trailing cell to col 3
    Q("q_html_tables", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("tableMedia")(tableMedia _))
      graft.llm.Tables.tableCells(media).toDF()
        .select(col("doc_id"), col("table_idx"), col("row_idx"), col("col_idx"),
          col("is_header").cast("int").as("is_header"), col("text"))
        .orderBy("doc_id", "row_idx", "col_idx")
    },
      """WITH hdr AS (
        |  SELECT doc_id, 0 AS row_idx, u.i AS col_idx, 1 AS hd,
        |    CASE u.i WHEN 0 THEN 'H0' WHEN 1 THEN 'H1 ' || doc_id
        |         ELSE 'H2' END AS text
        |  FROM documents, unnest(generate_series(0, 2)) AS u(i)),
        |dat AS (
        |  SELECT doc_id, 1 + r.j AS row_idx,
        |    CASE c.k WHEN 0 THEN 0 WHEN 1 THEN 1
        |      ELSE CASE WHEN (doc_id + r.j) % 4 = 0 THEN 3 ELSE 2 END END AS col_idx,
        |    0 AS hd,
        |    CASE c.k WHEN 0 THEN 'a' || doc_id
        |      WHEN 1 THEN CASE WHEN (doc_id + r.j) % 4 = 0
        |        THEN 'w' || r.j || ' ' || doc_id ELSE 'b' || r.j END
        |      ELSE 'x&y ' || r.j END AS text
        |  FROM documents, unnest(generate_series(0, 2)) AS r(j),
        |       unnest(generate_series(0, 2)) AS c(k)
        |  WHERE r.j < 1 + doc_id % 3)
        |SELECT doc_id, CAST(0 AS INTEGER) AS table_idx,
        |  CAST(row_idx AS INTEGER) AS row_idx, CAST(col_idx AS INTEGER) AS col_idx,
        |  CAST(hd AS INTEGER) AS is_header, text
        |FROM (SELECT * FROM hdr UNION ALL SELECT * FROM dat)
        |ORDER BY doc_id, row_idx, col_idx""".stripMargin),

    // markdown front matter (round 13): the ----fenced key:value block
    // as metadata rows — quoted values unwrap, the no-front-matter
    // slice contributes nothing, an unclosed fence is prose not metadata
    // front-matter replay (round 13)
    Q("q_md_frontmatter", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, frontMatterSrc(id))).toDF("doc_id", "src")
      Markdown.mdFrontMatter(df, "doc_id", "src")
        .orderBy("doc_id", "key_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS key_idx,
        |  CASE u.i WHEN 0 THEN 'title' WHEN 1 THEN 'date' ELSE 'tags' END AS key,
        |  CASE u.i WHEN 0 THEN 'Post ' || doc_id
        |       WHEN 1 THEN '2026-01-0' || (1 + doc_id % 9)
        |       ELSE 'alpha' || (doc_id % 9) END AS value
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE doc_id % 3 <> 2
        |ORDER BY doc_id, key_idx""".stripMargin),

    // SURT url keys (round 13): the Common Crawl urlkey transform —
    // scheme/fragment drop, www strip, host reversal, default-port
    // drop vs explicit-port keep, query-parameter sort, full
    // lowercase; a no-scheme slice passes through (already-a-key)
    // surt replay (round 13)
    Q("q_url_surt", (s, dir) => {
      val spark = s
      import spark.implicits._
      Crawl.surtKeys(mediaIds(s, dir).map(id => (id, surtUrl(id))))
        .toDF("doc_id", "urlkey")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'org,key' || doc_id || ')/p'
        |       ELSE 'org,ex' || (doc_id % 7)
        |         || CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END
        |         || ')/path' || doc_id || '/x?a=' || doc_id || '&b=' || (doc_id % 3)
        |       END AS urlkey
        |FROM documents ORDER BY doc_id""".stripMargin),

    // CDX index walk (round 13): the seek layer the WARC scaladoc
    // points at — urlkey(SURT) + timestamp + JSON blob per line, field
    // extraction left declarative; codec by id%3
    // cdx replay (round 13): urlkey through the same surt arithmetic
    Q("q_cdx_records", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("cdxMedia")(cdxMedia _))
      Crawl.cdxRecords(media).toDF()
        .select(col("doc_id"), col("rec_idx"), col("urlkey"), col("ts"),
          get_json_object(col("json"), "$.status").cast("int").as("status"),
          get_json_object(col("json"), "$.length").cast("long").as("length"))
        .orderBy("doc_id", "rec_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS rec_idx,
        |  'org,s' || (doc_id % 7) || ')/p' || u.i || '?x=' || doc_id AS urlkey,
        |  '2026010' || (1 + (doc_id + u.i) % 9) || '000000' AS ts,
        |  CAST(CASE WHEN (doc_id + u.i) % 4 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
        |  CAST(100 + (doc_id * 3 + u.i) % 500 AS BIGINT) AS length
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, rec_idx""".stripMargin),

    // unified-diff walk (round 13): the commit-corpus record — two
    // hunks whose @@ arithmetic (including the second hunk's
    // delta-shifted new_start) and ± line counts replay closed-form
    // diff-hunk replay (round 13): the @@ arithmetic closed-form
    Q("q_diff_hunks", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("diffMedia")(diffMedia _))
      graft.llm.Diff.diffHunks(media).toDF()
        .select("doc_id", "file_path", "hunk_idx", "old_start", "old_len",
          "new_start", "new_len", "added", "removed")
        .orderBy("doc_id", "hunk_idx")
    },
      """SELECT doc_id, 'src/f' || doc_id || '.txt' AS file_path,
        |  CAST(u.i AS INTEGER) AS hunk_idx,
        |  CAST(CASE u.i WHEN 0 THEN 2 ELSE 8 END AS INTEGER) AS old_start,
        |  CAST(CASE u.i WHEN 0 THEN 3 + doc_id % 2 ELSE 2 END AS INTEGER) AS old_len,
        |  CAST(CASE u.i WHEN 0 THEN 2
        |       ELSE 8 + doc_id % 3 - doc_id % 2 END AS INTEGER) AS new_start,
        |  CAST(CASE u.i WHEN 0 THEN 3 + doc_id % 3 ELSE 3 END AS INTEGER) AS new_len,
        |  CAST(CASE u.i WHEN 0 THEN 1 + doc_id % 3 ELSE 2 END AS INTEGER) AS added,
        |  CAST(CASE u.i WHEN 0 THEN 1 + doc_id % 2 ELSE 1 END AS INTEGER) AS removed
        |FROM documents, unnest(generate_series(0, 1)) AS u(i)
        |ORDER BY doc_id, hunk_idx""".stripMargin),

    // patch application (round 13): context and removed lines VERIFY
    // against the original — the id%7 slice carries a context
    // mismatch and must fail honestly (ok=0, null blob), never emit a
    // half-applied file
    // patch replay (round 13): the verified application or the
    // honest failure
    Q("q_diff_apply", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("diffApplyMedia")(diffApplyMedia _))
      val orig = (1 to 8).map(i => s"l$i").mkString("\n")
      graft.llm.Diff.applyPatches(media, Map("a.txt" -> orig))
        .toDF("doc_id", "file_path", "ok", "patched")
        .orderBy("doc_id")
    },
      """SELECT doc_id, 'a.txt' AS file_path,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS INTEGER) AS ok,
        |  CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS VARCHAR)
        |       ELSE 'l1' || chr(10) || 'l2' || chr(10) || 'l3' || chr(10)
        |         || 'n1 ' || doc_id || chr(10) || 'n2 ' || doc_id || chr(10)
        |         || 'l5' || chr(10) || 'l6' || chr(10) || 'l7' || chr(10) || 'l8'
        |       END AS patched
        |FROM documents ORDER BY doc_id""".stripMargin),

    // unigram-LM tokenizer (round 13): REAL EM training on a corpus
    // whose converged segmentation is analytically forced — words are
    // (ab)^k and (xy)^m, so with pieces capped at 2 chars the lattice
    // paths through "ab"/"xy" dominate and Viterbi must emit exactly
    // k + m tokens with the exact piece strings; a broken E-step, a
    // wrong prune, or a nondeterministic tie all break the replay
    // unigram replay (round 13): the forced segmentation
    Q("q_unigram_encode", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir)
        .map(id => (id, s"${"ab" * (1 + id % 5).toInt} ${"xy" * (1 + id % 3).toInt}"))
        .toDF("doc_id", "text")
      val model = graft.llm.Unigram.train(df, "text", vocabSize = 16,
        maxPieceLen = 2, iters = 4)
      graft.llm.Unigram.encode(df, "doc_id", "text", model, maxPieceLen = 2)
        .select("doc_id", "n_tokens", "segmented")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST((1 + doc_id % 5) + (1 + doc_id % 3) AS BIGINT) AS n_tokens,
        |  rtrim(repeat('ab|', CAST(1 + doc_id % 5 AS INTEGER)), '|') || '|' ||
        |    rtrim(repeat('xy|', CAST(1 + doc_id % 3 AS INTEGER)), '|') AS segmented
        |FROM documents ORDER BY doc_id""".stripMargin),

    // rule-based sentence splitting (round 13): abbreviation guard
    // (Dr.), initials (J. K.), decimal points, terminator runs, and
    // the trailing remainder — exact six-sentence replay per doc
    // sentence replay (round 13): the six planted sentences
    Q("q_sentences", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, sentenceText(id))).toDF("doc_id", "text")
      TextAnalysis.sentences(df, "doc_id", "text")
        .orderBy("doc_id", "sent_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS sent_idx,
        |  CASE CAST(u.i AS INTEGER)
        |    WHEN 0 THEN 'First sentence ' || doc_id || ' is here.'
        |    WHEN 1 THEN 'Second one mentions Dr. Smith and ' || (doc_id % 9) || ' things!'
        |    WHEN 2 THEN 'Is this third?'
        |    WHEN 3 THEN 'Yes it is.'
        |    WHEN 4 THEN '3.14 stays here.'
        |    ELSE 'J. K. wrote ' || (doc_id % 7) || ' books.' END AS sentence
        |FROM documents, unnest(generate_series(0, 5)) AS u(i)
        |ORDER BY doc_id, sent_idx""".stripMargin),

    // Unicode-script profile (round 13): planted per-script counts —
    // the dominant script cycles latin/cyrillic/cjk/arabic by id%4,
    // digits/other by small moduli, greek and spaces pinned at zero
    // script-profile replay (round 13): the planted counts
    Q("q_script_profile", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, scriptText(id))).toDF("doc_id", "text")
      TextAnalysis.scriptProfile(df, "doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 9 + doc_id % 7 ELSE 3 END AS BIGINT) AS n_latin,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 9 + doc_id % 7 ELSE 2 END AS BIGINT) AS n_cyrillic,
        |  CAST(0 AS BIGINT) AS n_greek,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 9 + doc_id % 7 ELSE 1 END AS BIGINT) AS n_arabic,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 9 + doc_id % 7 ELSE 2 END AS BIGINT) AS n_cjk,
        |  CAST(doc_id % 3 AS BIGINT) AS n_digit,
        |  CAST(0 AS BIGINT) AS n_space,
        |  CAST(doc_id % 2 AS BIGINT) AS n_other,
        |  CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'latin' WHEN 1 THEN 'cyrillic'
        |       WHEN 2 THEN 'cjk' ELSE 'arabic' END AS main_script
        |FROM documents ORDER BY doc_id""".stripMargin),

    // end-to-end corpus-curation pipeline (round 13): compressed-JSONL
    // ingest (all five codecs live on their id%5 slices) → declarative
    // field extraction → Gopher quality gates WITH text passthrough
    // (one branch, no join-back) → exact-hash dedup — ONE Catalyst
    // plan. Per shard: record 0 passes the gates and is duplicated
    // across the doc pair, record 1 fails minWords, record 2 fails the
    // stopword gate — so the output is exactly the pair groups of the
    // surviving record
    // corpus-pipeline replay (round 13): survivors are exactly the
    // record-0s, pair-grouped; canonical = 3 * (even doc of the pair)
    Q("q_pipeline_corpus", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("corpusShardMedia")(corpusShardMedia _))
      val recs = Archives.jsonlLines(media).toDF()
        .select((col("doc_id") * 3 + col("line_idx")).as("rec_id"),
          get_json_object(col("line"), "$.text").as("text"))
      TextAnalysis.gopherFilter(recs, "rec_id", "text", withText = true)
        .filter(col("keep"))
        .groupBy("text")
        .agg(min(col("rec_id")).as("canonical"), count(lit(1)).as("n_recs"))
        .select("canonical", "n_recs")
        .orderBy("canonical")
    },
      """SELECT CAST(3 * doc_id AS BIGINT) AS canonical,
        |  CAST(2 AS BIGINT) AS n_recs
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY canonical""".stripMargin),

    // Stack Exchange dump walk (round 13): the Q&A corpus — ATTRIBUTE-
    // based <row/> records (the opposite XML shape to the wiki's
    // element pages), entity-encoded HTML bodies through the shared
    // htmlText tail, the <a><b> tag-list convention, question-only
    // Title/Tags, negative scores, codec by id%3
    // stack exchange replay (round 13)
    Q("q_stackexchange_posts", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("seMedia")(seMedia _))
      graft.llm.StackExchange.posts(media).toDF()
        .select("doc_id", "row_idx", "post_id", "post_type", "score",
          "title", "tags", "body_text")
        .orderBy("doc_id", "row_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS row_idx,
        |  CAST(doc_id * 10 + u.i AS BIGINT) AS post_id,
        |  CAST(1 + (doc_id + u.i) % 2 AS INTEGER) AS post_type,
        |  CAST((doc_id * 3 + u.i) % 50 - 5 AS INTEGER) AS score,
        |  CASE WHEN (doc_id + u.i) % 2 = 0
        |    THEN 'Q title ' || doc_id || '/' || u.i || ' & more' ELSE '' END AS title,
        |  CASE WHEN (doc_id + u.i) % 2 = 0
        |    THEN 't' || (doc_id % 5) || ',u' || u.i ELSE '' END AS tags,
        |  'body ' || u.i || ' of ' || doc_id || ' & rest' AS body_text
        |FROM documents, unnest(generate_series(0, 2)) AS u(i)
        |WHERE u.i < 1 + doc_id % 3
        |ORDER BY doc_id, row_idx""".stripMargin),

    // crawl-curation pipeline (round 13): WARC walk → HTTP-200 filter →
    // boilerplate removal → exact-hash group, ONE Catalyst plan. Doc
    // pairs share MAIN content behind different id-stamped chrome
    // (nav/footer) — a tag-stripping extractor that keeps chrome sees
    // every doc as unique and the output doubles; the block classifier
    // is what makes the pairs collide
    // crawl-pipeline replay (round 13): pair groups by construction
    Q("q_pipeline_crawl", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("warcPairMedia")(warcPairMedia _))
      Warc.readWarc(media)
        .filter(r => r.warc_type == "response" && r.http_status == 200)
        .map(r => (r.doc_id, graft.llm.Boilerplate.mainText(r.payload)))
        .toDF("doc_id", "text")
        .groupBy("text")
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n_docs"))
        .select("canonical", "n_docs")
        .orderBy("canonical")
    },
      pairCanonicalOracle),

    // Distributed PCA (round 13): one treeReduce pass to (n, Σx, Σxxᵀ),
    // driver-side Jacobi on the d×d covariance, broadcast-basis map
    // projection. The fixture PLANTS an exact eigensystem (balanced
    // ±amplitudes on an orthonormal pair; N%20=0 at every sf) so
    // eigenvalues and per-doc scores are known integers — a wrong
    // covariance normalizer, unsorted eigenpairs, or un-canonicalized
    // signs all break the replay
    // PCA replay (round 13): scores are the planted amplitudes
    Q("q_embed_pca", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, pcaEmb(id))).toDF("doc_id", "emb")
      val model = graft.llm.Pca.fit(df, "emb")
      graft.llm.Pca.project(df, "doc_id", "emb", model, 2)
        .select(col("doc_id"), round(col("pc_0")).cast("long").as("pc0"),
          round(col("pc_1")).cast("long").as("pc1"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(2 * (1 - 2 * (doc_id % 2)) * (1 + doc_id % 5) AS BIGINT) AS pc0,
        |  CAST((1 - 2 * ((doc_id % 4) // 2)) * (1 + doc_id % 5) AS BIGINT) AS pc1
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the fitted model itself: eigenvalue spectrum (44, 11, 0, 0 by
    // construction — population normalizer, descending order)
    // the planted spectrum, independent of the table
    Q("q_embed_pca_model", (s, dir) => {
      val spark = s
      import spark.implicits._
      val df = mediaIds(s, dir).map(id => (id, pcaEmb(id))).toDF("doc_id", "emb")
      val model = graft.llm.Pca.fit(df, "emb")
      model.eigvals.zipWithIndex.map { case (v, i) => (i, math.round(v)) }.toSeq
        .toDF("component", "eigenvalue")
        .orderBy("component")
    },
      """SELECT CAST(t.c AS INTEGER) AS component, CAST(t.e AS BIGINT) AS eigenvalue
        |FROM (VALUES (0, 44), (1, 11), (2, 0), (3, 0)) t(c, e)
        |ORDER BY component""".stripMargin),

    // Compressed-JSONL shard walk (round 13): the published-corpus
    // interchange format (.jsonl.zst/.gz) — codec dispatch by magic
    // across ALL FIVE runtime codecs by id%5 (plain/gzip/zstd-two-
    // frame/xz/bzip2), a blank-line slice pinning skip semantics; the
    // kernel only decompresses and splits, field extraction stays
    // declarative (get_json_object, codegen'd)
    // jsonl shard replay (round 13): codec split invisible by design;
    // the blank-line slice shifts nothing
    Q("q_jsonl_shard", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(jsonlMedia _)
      Archives.jsonlLines(media).toDF()
        .select(col("doc_id"), col("line_idx"),
          get_json_object(col("line"), "$.id").cast("long").as("rec_id"),
          get_json_object(col("line"), "$.text").as("text"),
          get_json_object(col("line"), "$.lang").as("lang"))
        .orderBy("doc_id", "line_idx")
    },
      """SELECT doc_id, CAST(u.i AS INTEGER) AS line_idx,
        |  CAST(doc_id * 100 + u.i AS BIGINT) AS rec_id,
        |  'line ' || u.i || ' of doc ' || doc_id AS text,
        |  CASE WHEN (doc_id + u.i) % 2 = 0 THEN 'en' ELSE 'de' END AS lang
        |FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |WHERE u.i < 1 + doc_id % 4
        |ORDER BY doc_id, line_idx""".stripMargin),

    // ZIP walk (round 13): OUR central-directory reader over archives
    // written by the JDK's OWN ZipOutputStream — independent writer and
    // reader; stored + DEFLATE mix, CRC re-verified over inflated bytes
    // zip replay (round 13): method by slice (STORED/DEFLATE), content
    // rebuilt exactly, uncomp_len = LENGTH(content), crc_ok must be 1
    // everywhere (CRC-32 re-verified over OUR inflate of the JDK's
    // compressed bytes)
    Q("q_zip_entries", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map(cachedMedia("zipMedia")(zipMedia _))
      Archives.zipEntries(media).toDF()
        .select(col("doc_id"), col("entry_idx"), col("name"), col("method"),
          col("uncomp_len"), col("crc_ok").cast("int").as("crc_ok"), col("content"))
        .orderBy("doc_id", "entry_idx")
    },
      """WITH e AS (
        |  SELECT doc_id, u.i AS i,
        |    'z' || doc_id || '-' || u.i || '-'
        |      || repeat('b', GREATEST(15 + (doc_id + u.i) % 30
        |           - LENGTH('z' || doc_id || '-' || u.i || '-'), 0)) AS content
        |  FROM documents, unnest(generate_series(0, 4)) AS u(i)
        |  WHERE u.i < 2 + doc_id % 3)
        |SELECT doc_id, CAST(i AS INTEGER) AS entry_idx,
        |  'e' || doc_id || '/' || i || '.txt' AS name,
        |  CAST(CASE WHEN (doc_id + i) % 3 = 0 THEN 0 ELSE 8 END AS INTEGER) AS method,
        |  CAST(LENGTH(content) AS BIGINT) AS uncomp_len,
        |  CAST(1 AS INTEGER) AS crc_ok,
        |  content
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin),

    // REAL pixel decode + perceptual hash: each doc renders an actual
    // 18x16 24-bpp BMP whose grayscale is an integer function of
    // (doc_id, x, y); the decoder must reconstruct the EXACT pixels
    // (bottom-up row order, 4-byte stride padding, BGR triplets) for the
    // dHash to match the oracle's pure-arithmetic replay — a header-only
    // or stubbed decode cannot fake this
    Q("q_multimodal_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "dhashMedia", dhashMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // Global-structure wHash (round 15): 32×32 luma → 2D Walsh–Hadamard
    // → 63 low-sequency coefficients vs their median. The fixture
    // images are 2D WALSH PATTERNS — three superposed sequency tiles
    // (amplitudes +40/+20/−15 at closed-form cells), each of which
    // lands ALL its energy on exactly one coefficient, so the median is
    // zero and the expected hash is two shifted bits the oracle builds
    // directly; a decoder or transform that miscomputes ANY of the
    // 1024 pixels, the separable WHT, or the median rule cannot hit it
    // the dHash replayed as pure arithmetic: same pixel formula, same
    // floor box-average (18x16 -> 9x8 is the exact 2x2 partition of the
    // pixel->cell map floor(x*9/w)), same strict > gradient bit, hash
    // split hi/lo so no 2^63 sign games in either engine. If the Spark
    // side's BMP encode->decode were anything but pixel-lossless, these
    // sums could not match.
    // wHash replay (round 15): the Walsh-pattern construction makes the
    // expected hash two closed-form bits — +40/+20 tiles set theirs,
    // the −15 tile and the 60 zero coefficients sit at or below the
    // zero median
    Q("q_multimodal_whash", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir).map { id =>
        def uvSign(k: Int, x: Int, y: Int): Int = {
          val u = k >> 3; val v = k & 7
          if ((java.lang.Integer.bitCount(v & x)
            + java.lang.Integer.bitCount(u & y)) % 2 == 0) 1 else -1
        }
        val k1 = (1 + id % 63).toInt
        val k2 = (1 + (id + 17) % 63).toInt
        val k3 = (1 + (id + 40) % 63).toInt
        val px = Array.tabulate(1024) { i =>
          val x = i % 32; val y = i / 32
          128 + 40 * uvSign(k1, x, y) + 20 * uvSign(k2, x, y) -
            15 * uvSign(k3, x, y)
        }
        Multimodal.Media(id, Multimodal.syntheticBmp8(32, 32, px), "image/bmp")
      }
      Multimodal.imageWHash(media).toDF()
        .select(col("doc_id"), col("dhash").as("whash"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  (CAST(1 AS BIGINT) << CAST(doc_id % 63 AS INTEGER))
        |  | (CAST(1 AS BIGINT) << CAST((doc_id + 17) % 63 AS INTEGER)) AS whash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the SAME arithmetic pixels as q_multimodal_dhash rendered through a
    // REAL PNG instead of a BMP: zlib/DEFLATE IDAT (the JDK's own codec)
    // with the row filter CYCLING through all five RFC 2083 types, so the
    // inflate AND every unfilter path (None/Sub/Up/Average/Paeth) are
    // load-bearing — a decoder that fumbles either cannot reproduce the
    // oracle's arithmetic replay of pixels→cells→bits→hash
    // identical replay to q_multimodal_dhash — the PIXELS are the same
    // arithmetic; only the container differs (PNG zlib+filters vs BMP),
    // and the container must be invisible to the hash
    Q("q_multimodal_png_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "pngMedia", pngMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // and through QOI ("Quite OK Image", the public-domain 2022 format):
    // the greedy encoder hits every op class on this content (runs in
    // flat regions, index hits on recurring values, DIFF/LUMA on small
    // gradients, literals on jumps) and the decoder's running-state +
    // 64-entry-index walk must reproduce the exact pixels
    // identical replay again: the QOI op stream must be invisible
    Q("q_multimodal_qoi_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "qoiMedia", qoiMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // and through a REAL WebP-lossless file (round 14): the VP8L decode
    // chain — stream-carried prefix codes, color cache, LZ77 backward
    // refs, subtract-green / palette / predictor transforms, cycled per
    // id — must be invisible to the hash; the oracle replays pixels only
    // identical replay again: six VP8L bitstream shapes, one arithmetic
    // truth — a decoder shortcut on any variant breaks a sixth of rows
    Q("q_multimodal_webp_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "webpLosslessMedia", webpLosslessMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // and once more through a REAL GIF: LZW-compressed indices against a
    // grayscale palette (entry i = (i,i,i) makes luma exactly the index),
    // INTERLACED for every even doc_id so the four-pass de-interlace is
    // load-bearing across the corpus — same arithmetic, same replay
    // identical replay again: LZW + palette + interlace must all be
    // invisible to the hash
    Q("q_multimodal_gif_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "gifMedia", gifMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // and through a REAL baseline JPEG: 24x16 of CONSTANT 8x8 blocks
    // (block value = arithmetic on (doc_id, bx, by)) — a constant block's
    // DCT is a lone integer DC coefficient, so with all-ones quant tables
    // the decode is BIT-EXACT and the oracle replays pixels arithmetically
    // exactly as for the lossless containers; the Huffman entropy decode,
    // DC prediction, dequant, and IDCT are all load-bearing
    // the 24x16 JPEG fixture replay: pixels from the block arithmetic,
    // then the GENERAL dHash cell map (cx = min(x*9//w, 8), cy =
    // min(y*8//h, 7), cell average = sum // count — non-uniform cells at
    // w=24, so the 18x16-specific //4 shortcut does not apply)
    Q("q_multimodal_jpeg_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "jpegMedia", jpegMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      jpegDhashOracle),

    // EXIF orientation normalization (round 13): stored rotated/mirrored
    // (all 8 orientations by id), hash must land on the CANONICAL image's
    // bits — the oracle replays only the canonical pixels, so reading the
    // APP1/tag-274 metadata AND applying the exact transform are both
    // load-bearing
    // orientation-blind replay (round 13): the oracle computes ONLY the
    // canonical image's hash — the eight stored orientations on the
    // Spark side must all collapse onto it
    Q("q_multimodal_exif_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "exifMedia", exifMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      jpegDhashOracle),

    // and through the PALETTIZED 8-bit BMP form (grayscale colour table:
    // luma is exactly the stored index) — indexed colour is the other
    // ubiquitous scraped-BMP layout, same arithmetic, same replay
    // identical replay again: the 8-bit palette indirection must be
    // invisible to the hash
    Q("q_multimodal_bmp8_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "bmp8Media", bmp8Media)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // and the PROGRESSIVE form of the same JPEG fixture: five scans (DC
    // first/refine at shifted precision, spectral-split AC passes with
    // EOBRUN batching, the G.1.2.3 refinement walk) must reassemble the
    // exact DC-block pixels — same arithmetic replay as the baseline
    // the progressive form replays identically: multi-scan assembly must
    // be invisible to the pixels
    Q("q_multimodal_jpeg_prog_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "jpegProgMedia", jpegProgMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      jpegDhashOracle),

    // the progressive fixture AGAIN as 4:2:0 color (luma 2x2 + neutral
    // 1x1 chroma): interleaved DC MCUs, MCU-major luma order, chroma AC
    // over quarter-size rasters — the web's default progressive layout;
    // the luma plane is the same block arithmetic, replayed once
    // the 4:2:0 progressive twin: same block arithmetic at 32x16 (two
    // MCUs), cell map x*9//32 — the subsampled layout must be invisible
    // to the luma pixels
    Q("q_multimodal_jpeg_prog420_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "jpegProg420Media", jpegProg420Media)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      s"""WITH ${jpegGrid(32)},
         |$dhashBits
         |${docHash("dhash")}""".stripMargin),

    // and through a REAL TIFF: strip-organized samples with the
    // compression cycling none/LZW/PackBits across the corpus, the LZW
    // docs alternating the horizontal-differencing predictor, byte order
    // alternating II/MM, gray and equal-channel-RGB sample layouts, and
    // a WhiteIsZero (inverted-storage) slice — every strip/compression/
    // photometric path is load-bearing somewhere, same arithmetic replay
    // identical replay again: strips, TIFF-LZW (MSB-first, early
    // change), PackBits, the horizontal predictor, both byte orders and
    // the WhiteIsZero inversion must all be invisible to the hash
    Q("q_multimodal_tiff_dhash", (s, dir) =>
      Multimodal.imageDHash(fixtureMedia(s, dir, "tiffMedia", tiffMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("dhash"): _*).orderBy("doc_id"),
      bmpDhashOracle),

    // CROSS-CONTAINER near-dup capstone: the same block-arithmetic pixels
    // rendered through BMP, PNG, GIF, baseline JPEG, TIFF, OS/2-core
    // BMP, or ICO (DIB and PNG payloads) per doc (id % 7) —
    // a re-encoded copy of an image is the canonical near-dup case, and
    // the pairs must form EXACTLY as if every doc were the same format,
    // because all five decoders land on identical luma. The oracle never
    // sees a container: it replays pixels arithmetically once
    // container-blind replay: ONE arithmetic pixel derivation (the 24x16
    // block fixture), brute-force Hamming pairs — the Spark side must
    // reach the same pairs through four different real decoders
    Q("q_multimodal_cross_container", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500)
        .map(cachedMedia("crossContainerMedia")(crossContainerMedia _))
      Multimodal.imageNearDupPairs(media, maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH ${jpegGrid(24, sampled)},
         |$dhashBits,
         |$hashPerDoc
         |$hammingPairs""".stripMargin),

    // image near-dup pairs over the same rendered corpus (sparsified):
    // docs sharing a base pattern differ only in one perturbed corner
    // block (Hamming 0-1), so the banded join must find exactly the pairs
    // the oracle's brute-force Hamming-over-replayed-hashes produces
    // brute-force Hamming over the replayed hashes — the banded candidate
    // join must lose nothing at maxHamming 2 (pigeonhole guarantees <= 3)
    Q("q_multimodal_neardup", (s, dir) => {
      val spark = s
      import spark.implicits._
      // scale-bounded corpus: % 7 sparsifies, the id cap keeps AT MOST
      // ~500 rendered docs at ANY sf, so pair volume (quadratic within
      // the 40 base-pattern groups) stays bounded as the table grows
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500).map(cachedMedia("dhashMedia")(dhashMedia _))
      Multimodal.imageNearDupPairs(media, maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH ${dhashPx(sampled)},
         |$dhashCells,
         |$dhashBits,
         |$hashPerDoc
         |$hammingPairs""".stripMargin),

    // wHash near-dup pairs (round 15): the global-structure lens over
    // the banded Hamming machinery. Groups (doc%20) share two Walsh
    // tiles; the (doc//20)%2 variant adds a third weak tile = exactly
    // one flipped bit. The tile indices are 3g+{0,7,29} mod 63, and
    // since 3x ≡ 7, 22, 29 (mod 63) are all unsolvable (3 divides
    // none), groups share NO coefficients — cross-group Hamming is
    // provably >= 4, so maxHamming 1 pairs exactly the groups and the
    // oracle reduces to the construction algebra
    // wHash pairing replay (round 15): within a tile group the hash
    // differs only by the variant's third coefficient bit, across
    // groups by >= 4 bits (see the query comment) — the pair set and
    // Hamming values ARE the construction algebra
    Q("q_multimodal_whash_neardup", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500)
        .map(cachedMedia("whashGroupMedia")(whashGroupMedia _))
      Multimodal.imageNearDupPairsW(media, maxHamming = 1)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 20 AS g, (doc_id // 20) % 2 AS v
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 3500)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(CASE WHEN a.v = b.v THEN 0 ELSE 1 END AS BIGINT) AS hamming
        |FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin),

    // the media CURATION composition: decode -> perceptual hash ->
    // near-dup pairs -> transitive duplicate clusters -> canonical keep
    // flag, the image counterpart of the text curation pipelines — the
    // oracle replays hashing, pairing, AND the recursive closure
    // hashing, pairing, and the transitive closure all replayed: the
    // q_multimodal_neardup oracle composed with the q_dedup_cluster-style
    // recursive reach
    Q("q_pipeline_media", (s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = docs(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500)
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500).map(cachedMedia("dhashMedia")(dhashMedia _))
      val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 2)
        .select("id_a", "id_b")
      graft.llm.Dedup.clusters(ids, "doc_id", pairs)
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${dhashPx(sampled)},
         |$dhashCells,
         |$dhashBits,
         |$hashPerDoc,
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2),
         |e AS (SELECT id_a AS u, id_b AS v FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |ids AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 AND doc_id < 3500),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM ids
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
         |FROM cl ORDER BY doc_id""".stripMargin),

    // REAL video decode + per-frame perceptual hash: each doc renders an
    // actual 12-frame 18x16 Y4M stream (header line, FRAME markers,
    // planar YUV C420) whose luma is an integer function of
    // (doc_id, frame, x, y); the decoder must walk the container and
    // read the luma planes exactly for the per-frame dHashes to match
    // the oracle's arithmetic replay
    // per-frame dHashes replayed as pure arithmetic over the
    // (doc, frame, x, y) pixel formula — only a container-walking,
    // luma-lossless decode can match
    Q("q_multimodal_video_hashes", (s, dir) =>
      Multimodal.videoFrameHashes(fixtureMedia(s, dir, "videoMedia", videoMedia), sampleFrames = 12)
        .select(Seq(col("doc_id"), col("frame_idx")) ++ hashWordCols("fhash"): _*)
        .orderBy("doc_id", "frame_idx"),
      videoHashOracle),

    // video near-dup pairs: same-group videos share >= 10 of 12 frame
    // hashes (each variant perturbs ONE frame), unrelated groups share
    // ~0-3 by mod-arithmetic accident — the oracle replays hash equality
    // and distinct-shared counting exactly, so the threshold join must
    // reproduce it row-for-row
    Q("q_multimodal_video_neardup", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500).map(cachedMedia("videoMedia")(videoMedia _))
      Multimodal.videoNearDupPairs(media, sampleFrames = 12, minShared = 8)
        .select(col("id_a"), col("id_b"),
          col("shared_frames").cast("bigint").as("shared_frames"))
        .orderBy("id_a", "id_b")
    },
      videoNeardupOracle),

    // the SAME 12 frames through a REAL ANIMATED GIF (full-screen image
    // descriptors, graphic-control extensions between frames, LZW per
    // frame, alternating interlace): the multi-frame walk + per-frame
    // decode must land on identical lumas, so the identical arithmetic
    // replay holds — a meme-corpus video dedup runs on GIFs, not Y4M
    // identical per-frame replay: the animated-GIF container (extension
    // blocks, per-frame LZW, interlace) must be invisible to the hashes
    Q("q_multimodal_video_gif_hashes", (s, dir) =>
      Multimodal.videoFrameHashes(fixtureMedia(s, dir, "videoGifMedia", videoGifMedia), sampleFrames = 12)
        .select(Seq(col("doc_id"), col("frame_idx")) ++ hashWordCols("fhash"): _*)
        .orderBy("doc_id", "frame_idx"),
      videoHashOracle),

    // DELTA-frame animated GIF (round 12): odd frames are sub-rect
    // transparent-holed deltas with disposal 2/3 — the decoder's GIF89a
    // COMPOSITOR (canvas, transparency, restore-to-background/previous)
    // is the thing under test; the composited planes stay closed-form
    // (keyframe formula outside the rect and through the holes, delta
    // formula inside), so the oracle replays them with one CASE
    // the composited delta replay: even frames are the keyframe formula;
    // odd frames show the delta formula inside the opaque rect cells and
    // the PRECEDING keyframe everywhere else (outside the rect and
    // through the transparent holes) — compositing reduced to one CASE
    Q("q_multimodal_video_gif_delta_hashes", (s, dir) =>
      Multimodal.videoFrameHashes(fixtureMedia(s, dir, "videoGifDeltaMedia", videoGifDeltaMedia), sampleFrames = 12)
        .select(Seq(col("doc_id"), col("frame_idx")) ++ hashWordCols("fhash"): _*)
        .orderBy("doc_id", "frame_idx"),
      s"""WITH px AS (
         |  SELECT doc_id, w.f AS f, u.x AS x, v.y AS y,
         |         CASE WHEN w.f % 2 = 0 THEN
         |           ((doc_id % 40) * 31 + w.f * 53 + u.x * 7 + v.y * 13) % 176
         |         WHEN u.x BETWEEN 4 AND 11 AND v.y BETWEEN 3 AND 8
         |              AND (u.x + v.y + doc_id) % 3 != 0 THEN
         |           ((doc_id % 40) * 29 + w.f * 47 + (u.x - 4) * 11 + (v.y - 3) * 17) % 176
         |         ELSE
         |           ((doc_id % 40) * 31 + (w.f - 1) * 53 + u.x * 7 + v.y * 13) % 176
         |         END AS g
         |  FROM documents, unnest(generate_series(0, 11)) AS w(f),
         |       unnest(generate_series(0, 17)) AS u(x),
         |       unnest(generate_series(0, 15)) AS v(y)),
         |$frameBits
         |$frameHashes""".stripMargin),

    // ANIMATED WEBP (round 14): four ANMF frames per file — a full VP8L
    // keyframe, a sub-rect overwrite, a dispose-to-background rect, and
    // a HALF-TRANSPARENT src-over blend — with the VP8L variant cycling
    // per frame; the compositor (2-px-unit placement, blend flags,
    // disposal, integer src-over) is the thing under test, and every
    // composited plane stays closed-form for the oracle
    // animated-webp compositor replay (round 14): four planes, each a
    // region CASE — keyframe, overwrite rect, dispose rect (background
    // 10 on the LAST frame only), and the exact integer src-over
    // (src*128 + dst*127) / 255 — then the standard per-frame dHash
    Q("q_multimodal_video_webp_hashes", (s, dir) =>
      Multimodal.videoFrameHashes(fixtureMedia(s, dir, "webpAnimMedia", webpAnimMedia), sampleFrames = 12)
        .select(Seq(col("doc_id"), col("frame_idx")) ++ hashWordCols("fhash"): _*)
        .orderBy("doc_id", "frame_idx"),
      s"""WITH px AS (
         |  SELECT doc_id, w.f AS f, u.x AS x, v.y AS y,
         |    CASE
         |      WHEN w.f >= 1 AND u.x BETWEEN 4 AND 11 AND v.y BETWEEN 6 AND 11
         |        THEN ((doc_id % 40) + (u.x - 4) * 11 + (v.y - 6) * 3) % 200
         |      WHEN w.f = 2 AND u.x BETWEEN 2 AND 7 AND v.y BETWEEN 2 AND 5
         |        THEN ((doc_id % 40) + (u.x - 2) * 5 + (v.y - 2) * 7) % 150
         |      WHEN w.f = 3 AND u.x BETWEEN 2 AND 7 AND v.y BETWEEN 2 AND 5
         |        THEN 10
         |      WHEN w.f = 3 AND u.x BETWEEN 12 AND 15 AND v.y BETWEEN 2 AND 5
         |        THEN (((doc_id % 40) + (u.x - 12) * 9 + (v.y - 2) * 2) % 120 * 128
         |              + ((doc_id % 40) * 31 + u.x * 7 + v.y * 13) % 176 * 127) // 255
         |      ELSE ((doc_id % 40) * 31 + u.x * 7 + v.y * 13) % 176
         |    END AS g
         |  FROM documents, unnest(generate_series(0, 3)) AS w(f),
         |       unnest(generate_series(0, 17)) AS u(x),
         |       unnest(generate_series(0, 15)) AS v(y)),
         |$frameBits
         |$frameHashes""".stripMargin),

    // CROSS-CONTAINER video near-dup: the same frames rendered as Y4M,
    // animated GIF, or (round 14) animated WebP by doc_id % 3 — a
    // re-containered copy of a clip is the canonical video near-dup
    // case, and the pairs must form exactly as if every doc were the
    // same container (the oracle never sees one: it replays frame
    // hashes arithmetically once)
    // identical pair replay: containers invisible, pairs must form
    // across the Y4M/GIF boundary exactly as within it
    Q("q_multimodal_video_cross_container", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500).map(cachedMedia("videoCrossMedia")(videoCrossMedia _))
      Multimodal.videoNearDupPairs(media, sampleFrames = 12, minShared = 8)
        .select(col("id_a"), col("id_b"),
          col("shared_frames").cast("bigint").as("shared_frames"))
        .orderBy("id_a", "id_b")
    },
      videoNeardupOracle),

    // REAL PCM decode + energy-envelope hash: each doc renders an actual
    // 16-bit PCM WAV whose samples are an integer function of
    // (doc_id, j); the decoder must reconstruct the exact samples
    // (int16-LE payload behind the chunk walk) for the envelope hash to
    // match the oracle's arithmetic replay
    // the audio envelope hash replayed as pure arithmetic — same
    // contract as q_multimodal_dhash: if the Spark side's WAV
    // encode->decode were anything but sample-lossless these sums could
    // not match
    Q("q_multimodal_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "audioMedia", audioMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      audioHashOracle),

    // the SAME waveform re-exported per doc at one of seven EXACT
    // encodings (WAV int16/int24/float32/EXTENSIBLE, FLAC, big-endian
    // AIFF, big-endian AU, by id % 7): normalization must land every
    // container and width on the identical envelope hash — the audio
    // re-encode near-dup case, oracle replay identical to
    // q_multimodal_audiohash
    // byte-for-byte the q_multimodal_audiohash replay: the encoding is
    // invisible to the envelope once decode normalizes to int16
    Q("q_multimodal_audio_cross_encoding", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "audioCrossMedia", audioCrossMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      audioHashOracle),

    // the SAME waveform again through a REAL FLAC stream — frame sync,
    // CRC-8/CRC-16 verification, rice-coded residuals, fixed/LPC
    // predictors, stereo decorrelation and ragged-tail blocks all
    // load-bearing across the corpus (knobs cycle by doc_id); lossless
    // decode means the identical arithmetic envelope replay
    // identical envelope replay again: the FLAC container (rice coding,
    // predictors, stereo decorrelation, CRC framing) must be invisible
    // to the hash once decode lands on the same int16 samples
    Q("q_multimodal_flac_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "flacMedia", flacMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      audioHashOracle),

    // G.711 μ-law (the Sun AU container): the fixture puts CODED bytes
    // from an integer formula on the wire, so the decoder's expansion
    // law — 132·(2^e − 1) + m·2^(e+3), sign-magnitude — is the thing
    // under test; the oracle recomputes the law term for term
    // the μ-law expansion law recomputed in SQL: complement, exponent
    // chord, mantissa step — |sample| is the magnitude term directly,
    // which is all the energy envelope consumes
    Q("q_multimodal_ulaw_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "ulawMedia", ulawMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      s"""WITH sm AS (
         |  SELECT doc_id, u.j AS j,
         |         255 - ((doc_id % 97) * 13 + u.j * 97) % 256 AS cu
         |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)),
         |mg AS (
         |  SELECT doc_id, j,
         |         132 * ((1 << ((cu // 16) % 8)) - 1)
         |         + (cu % 16) * (1 << (((cu // 16) % 8) + 3)) AS a
         |  FROM sm),
         |${envelopeFrames("mg")},
         |$envelopeBits
         |${docHash("ahash")}""".stripMargin),

    // and the A-law sibling: xor 0x55 framing, linear first segment,
    // doubling chords after — a DIFFERENT closed-form law the oracle
    // recomputes independently
    // the A-law expansion recomputed in SQL: xor-0x55 unframing, the
    // linear 16-step first segment, then doubling chords — |sample| is
    // again the magnitude term directly
    Q("q_multimodal_alaw_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "alawMedia", alawMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      s"""WITH sm AS (
         |  SELECT doc_id, u.j AS j,
         |         xor(((doc_id % 89) * 29 + u.j * 101) % 256, 85) AS ca
         |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)),
         |mg AS (
         |  SELECT doc_id, j,
         |         CASE WHEN (ca // 16) % 8 = 0 THEN (ca % 16) * 16 + 8
         |              ELSE ((ca % 16) * 16 + 264) * (1 << ((ca // 16) % 8 - 1)) END AS a
         |  FROM sm),
         |${envelopeFrames("mg")},
         |$envelopeBits
         |${docHash("ahash")}""".stripMargin),

    // IMA ADPCM: the stateful 4-bit predictive codec, coded nibbles on
    // the wire — oracle = a recursive state walk, not a per-sample law
    // the IMA ADPCM walk replayed in SQL: WITH RECURSIVE carries
    // (pred, idx) through all 1950 nibbles — the nibble comes from the
    // same doc_id formula the fixture wrote, the step tables are
    // interpolated from the SAME Scala constants the decoder uses, and
    // the shift-add expansion + clamps are re-stated as pure integer
    // CASE arithmetic (the one decode in the family where the oracle
    // must recurse: the state is data-dependent, not closed-form)
    Q("q_multimodal_adpcm_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "adpcmMedia", adpcmMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      {
      val steps = graft.llm.Multimodal.ImaStepTable.mkString("[", ", ", "]")
      val idxT = graft.llm.Multimodal.ImaIndexTable.mkString("[", ", ", "]")
      // the nibble consumed at transition k -> k+1 (low nibble first)
      val nb = "(CASE WHEN w.k % 2 = 0 THEN byv % 16 ELSE byv // 16 END)"
      val stp = s"($steps)[w.idx + 1]"
      s"""WITH RECURSIVE walk(doc_id, k, pred, idx) AS (
         |  SELECT doc_id, 0,
         |         CAST((doc_id % 61) * 53 - 1500 AS INTEGER),
         |         CAST((doc_id * 7) % 89 AS INTEGER)
         |  FROM documents
         |  UNION ALL
         |  SELECT w.doc_id, w.k + 1,
         |         CAST(GREATEST(-32768, LEAST(32767, w.pred
         |           + CASE WHEN $nb >= 8 THEN -1 ELSE 1 END
         |             * ($stp // 8
         |                + CASE WHEN $nb % 8 >= 4 THEN $stp ELSE 0 END
         |                + CASE WHEN $nb % 4 >= 2 THEN $stp // 2 ELSE 0 END
         |                + CASE WHEN $nb % 2 = 1 THEN $stp // 4 ELSE 0 END))) AS INTEGER),
         |         CAST(GREATEST(0, LEAST(88, w.idx + ($idxT)[$nb + 1])) AS INTEGER)
         |  FROM (SELECT w0.*, ((w0.doc_id % 79) * 41 + (w0.k // 2) * 107) % 256 AS byv
         |        FROM walk w0 WHERE w0.k < 1950) w),
         |fr AS (SELECT doc_id, LEAST(k * 65 // 1951, 64) AS f,
         |              SUM(abs(pred)) // COUNT(*) AS e
         |       FROM walk GROUP BY doc_id, LEAST(k * 65 // 1951, 64)),
         |bits AS (SELECT l.doc_id, l.f AS i, CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
         |         FROM fr l JOIN fr r ON l.doc_id = r.doc_id AND r.f = l.f + 1
         |         WHERE l.f < 64)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
         |  CAST(SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS ahash_lo
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // MS-ADPCM: the OTHER stateful WAV codec — two-tap fixed-point
    // predictor (seven registry coefficient pairs), adaptive delta,
    // priming samples in the header; the oracle walk carries THREE
    // state variables and must restate Java's arithmetic >> 8 as a
    // mod-fixed FLOOR division (DuckDB's // truncates toward zero)
    // the MS-ADPCM walk replayed in SQL: WITH RECURSIVE carries THREE
    // state variables (samp1, samp2, delta) through 1950 nibbles that
    // the fixture's TRACKING ENCODER produced — so the walk replays
    // encoder AND decoder: the quantizer is the integer round
    // floorDiv(2·(want−pred)+dl, 2·dl), the two-tap predictor's `>> 8`
    // is an ARITHMETIC shift (floor) which DuckDB's truncating `//`
    // must imitate via the mod-fixup `(pv - ((pv % 256 + 256) % 256))
    // // 256` (same fixup floors the quantizer), the delta update
    // carries the decoder's 262136 = 0x7FFF·8 ceiling, and the two
    // priming samples join the envelope ahead of the chain
    Q("q_multimodal_msadpcm_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "msAdpcmMedia", msAdpcmMedia)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      {
      val co1 = graft.llm.Multimodal.MsAdaptCoeff1.mkString("[", ", ", "]")
      val co2 = graft.llm.Multimodal.MsAdaptCoeff2.mkString("[", ", ", "]")
      val ad = graft.llm.Multimodal.MsAdaptTable.mkString("[", ", ", "]")
      s"""WITH RECURSIVE walk(doc_id, k, s1, s2, dl) AS (
         |  SELECT doc_id, 0,
         |         CAST((doc_id % 89) * 73 - 3200 AS INTEGER),
         |         CAST((doc_id % 97) * 61 - 2900 AS INTEGER),
         |         CAST(16 + (doc_id % 50) * 7 AS INTEGER)
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, k + 1,
         |         CAST(GREATEST(-32768, LEAST(32767, pred + q * dl)) AS INTEGER),
         |         s1,
         |         CAST(GREATEST(16, LEAST(262136,
         |           (($ad)[((q + 16) % 16) + 1] * dl) // 256)) AS INTEGER)
         |  FROM (SELECT *, GREATEST(-8, LEAST(7,
         |               (num - ((num % den + den) % den)) // den)) AS q
         |        FROM (SELECT *, 2 * (want - pred) + dl AS num, 2 * dl AS den
         |              FROM (SELECT doc_id, k, s1, s2, dl,
         |                           (pv - ((pv % 256 + 256) % 256)) // 256 AS pred,
         |                           CAST(((doc_id % 71) * 43 + k * 37) % 24001 - 12000
         |                                AS INTEGER) AS want
         |                    FROM (SELECT w0.*,
         |                                 w0.s1 * ($co1)[CAST(w0.doc_id % 7 AS INTEGER) + 1]
         |                                   + w0.s2 * ($co2)[CAST(w0.doc_id % 7 AS INTEGER) + 1] AS pv
         |                          FROM walk w0 WHERE w0.k < 1950))))),
         |sm AS (SELECT doc_id, k + 1 AS j, abs(s1) AS a FROM walk
         |       UNION ALL
         |       SELECT doc_id, 0, abs((doc_id % 97) * 61 - 2900) FROM documents),
         |fr AS (SELECT doc_id, LEAST(j * 65 // 1952, 64) AS f, SUM(a) // COUNT(*) AS e
         |       FROM sm GROUP BY doc_id, LEAST(j * 65 // 1952, 64)),
         |bits AS (SELECT l.doc_id, l.f AS i, CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
         |         FROM fr l JOIN fr r ON l.doc_id = r.doc_id AND r.f = l.f + 1
         |         WHERE l.f < 64)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN bit = 1 AND i >= 32 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
         |  CAST(SUM(CASE WHEN bit = 1 AND i < 32 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS ahash_lo
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // G.711 in the RIFF container: the telephony WAV family (format
    // tags 6/7), law picked by doc_id parity — ONE oracle replays both
    // laws behind a CASE
    // both G.711 laws behind one CASE keyed on doc_id parity — A-law's
    // xor-0x55 chords vs mu-law's complemented 132-step segments, each
    // recomputed from the coded-byte formula
    Q("q_multimodal_wav_g711_audiohash", (s, dir) =>
      Multimodal.audioEnvelopeHash(fixtureMedia(s, dir, "wavG711Media", wavG711Media)).toDF()
        .select(col("doc_id") +: hashWordCols("ahash"): _*).orderBy("doc_id"),
      s"""WITH sm AS (
         |  SELECT doc_id, u.j AS j,
         |         ((doc_id % 83) * 37 + u.j * 103) % 256 AS cb
         |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)),
         |mg AS (
         |  SELECT doc_id, j,
         |         CASE WHEN doc_id % 2 = 0 THEN
         |           CASE WHEN (xor(cb, 85) // 16) % 8 = 0
         |                THEN (xor(cb, 85) % 16) * 16 + 8
         |                ELSE ((xor(cb, 85) % 16) * 16 + 264)
         |                     * (1 << ((xor(cb, 85) // 16) % 8 - 1)) END
         |         ELSE
         |           132 * ((1 << (((255 - cb) // 16) % 8)) - 1)
         |           + ((255 - cb) % 16) * (1 << ((((255 - cb) // 16) % 8) + 3))
         |         END AS a
         |  FROM sm),
         |${envelopeFrames("mg")},
         |$envelopeBits
         |${docHash("ahash")}""".stripMargin),

    // audio near-dup pairs over the same rendered corpus (sparsified,
    // scale-bounded): docs sharing a base waveform differ only in a
    // boosted first frame (Hamming 0-1), brute-force oracle
    Q("q_multimodal_audio_neardup", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, dir)
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 3500).map(cachedMedia("audioMedia")(audioMedia _))
      Multimodal.audioNearDupPairs(media, maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH sm AS (
         |  SELECT doc_id, u.j AS j,
         |         abs(((doc_id % 40) * 17 + u.j * 31) % 4001 - 2000
         |             + CASE WHEN u.j < 30 THEN ((doc_id // 40) % 3) * 500 ELSE 0 END) AS a
         |  FROM documents, unnest(generate_series(0, 1949)) AS u(j)
         |  WHERE doc_id % 7 = 0 AND doc_id < 3500),
         |${envelopeFrames("sm")},
         |$envelopeBits,
         |$hashPerDoc
         |$hammingPairs""".stripMargin),

    Q("q_multimodal_frames", (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"), lit("text/plain").as("mime"))
        .as[Multimodal.Media]
      Multimodal.sampleFrames(Multimodal.decodeMeta(media).toDF())
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("byte_offset"))
        .orderBy("doc_id", "frame_idx")
    },
      """WITH meta AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |                     1 + octet_length(encode(text)) % 16 AS nf FROM documents)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS frame_idx,
        |       CAST(u.i * (len // nf) AS BIGINT) AS byte_offset
        |FROM meta, unnest(generate_series(0, nf - 1)) AS u(i)
        |ORDER BY doc_id, frame_idx""".stripMargin))
}
