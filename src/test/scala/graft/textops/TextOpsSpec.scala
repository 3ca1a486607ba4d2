package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** Ground truth for the sketch-based operators the DuckDB oracle can't
  * express: minhash recall vs exact Jaccard, simhash on perturbed
  * near-dups, hyperplane-LSH ANN recall vs brute force, multimodal
  * feature determinism.
  */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5

  /** corpus: 0/1 identical, 2 near-dup (one word changed), 3-9 distinct. */
  private lazy val corpus = {
    val rnd = new scala.util.Random(11)
    val distinct = (3 to 9).map { i =>
      i.toLong -> Seq.fill(60)(s"w${rnd.nextInt(500)}_$i").mkString(" ")
    }
    (Seq(
      0L -> base,
      1L -> base,
      2L -> base.replaceFirst("lazy", "sleepy")) ++ distinct
    ).toDF("doc_id", "text")
  }

  test("exact dedup collapses identical normalized docs") {
    val d = Dedup.exactDedup(corpus, "doc_id", "text")
    assert(d.filter(col("n_copies") === 2).select("keep_id").head().getLong(0) === 0L)
    assert(d.count() === 9) // 10 docs, one pair collapsed
  }

  test("minhash LSH finds the exact-Jaccard near-dups and nothing else") {
    val got = Dedup.minhashLsh(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical pair + near-dup pairs must be found
    assert(truth.contains((0L, 1L)))
    assert(got.contains((0L, 1L)))
    // LSH at these settings must recover all true pairs (high-sim corpus)
    assert(truth.subsetOf(got))
    // and no pair among the unrelated docs
    assert(!got.exists { case (a, b) => a >= 3 && b >= 3 })
  }

  test("verified minhash equals the exact prefix-filtered Jaccard join") {
    val got = Dedup.minhashLshVerified(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === truth) // scores exact, not estimates, and full recall
  }

  test("component-grouped verification ≡ broadcast verification (forced shuffle path)") {
    // broadcastDocLimit = 0 forces groupedPairVerify; the default
    // limit takes the broadcast pair-join. Identical output row sets —
    // on both the banding-candidate (minhash) and prefix-filter (ngram)
    // pipelines — is the contract the 250k-doc corpus relies on.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val viaGroup = rows(Dedup.minhashLshVerified(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5,
      broadcastDocLimit = 0L))
    val viaBroadcast = rows(Dedup.minhashLshVerified(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5))
    assert(viaGroup === viaBroadcast)
    val ngGroup = rows(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5, broadcastDocLimit = 0L))
    val ngBroadcast = rows(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5))
    assert(ngGroup === ngBroadcast)
    assert(ngGroup.nonEmpty)
    // and with a 1-shingle component cap every component is "oversized",
    // so the whole corpus routes through the pairwise-candidate fallback
    // — output must still be identical (routing, never semantics)
    val ngFallback = rows(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5, broadcastDocLimit = 0L,
      maxComponentShingles = 1L))
    assert(ngFallback === ngBroadcast)
  }

  test("component-grouped verification: oversized components subdivide, same output") {
    // all-pairs candidates weld the corpus into ONE component; a
    // 1-shingle cap then routes every pair through the id-range block
    // subdivision (one block per doc at that cap) while the default cap
    // keeps it component-grouped — the size guard must be pure routing,
    // never semantics
    val sh = Dedup.shingledHashed(corpus, "doc_id", "text", 3)
    val sets = sh.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
    val ids = sets.select(col("doc_id"))
    val cands = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val blocked = rows(Dedup.groupedPairVerify(cands, sets,
      directed = false, 0.3, maxComponentShingles = 1L))
    val grouped = rows(Dedup.groupedPairVerify(cands, sets,
      directed = false, 0.3))
    // and the CC-free block-only mode (the prefix-filter family's path)
    // must emit the identical rows at any block width
    val blockOnly = rows(Dedup.groupedPairVerify(cands, sets,
      directed = false, 0.3, useComponents = false))
    val blockOnlyTiny = rows(Dedup.groupedPairVerify(cands, sets,
      directed = false, 0.3, maxComponentShingles = 1L,
      useComponents = false))
    assert(blocked === grouped)
    assert(blockOnly === grouped)
    assert(blockOnlyTiny === grouped)
    assert(grouped.contains((0L, 1L, 1.0)))
  }

  test("nearDedupKeep keeps one min-id survivor per dup cluster, singletons intact") {
    // cluster {0,1,2} (exact pair + near-dup), singletons 3..9, plus a
    // shingle-less doc (2 words < shingleK) that must survive alone even
    // though another doc (11) is byte-identical to it
    val withShort = corpus.unionByName(
      Seq(10L -> "too short", 11L -> "too short").toDF("doc_id", "text"))
    val kept = Dedup.nearDedupKeep(withShort, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(kept(0L) === 3L)                       // {0,1,2} → survivor 0
    assert(!kept.contains(1L) && !kept.contains(2L))
    (3L to 9L).foreach(i => assert(kept(i) === 1L))
    assert(kept(10L) === 1L && kept(11L) === 1L)  // no shingles → no pairs
    assert(kept.values.sum === withShort.count()) // sizes partition corpus
    // the large-corpus path (grouped∪fallback verify union → second
    // star contraction) must produce the same kept corpus — this is the
    // plan shape that tripped Catalyst's Union.rewriteConstraints
    // before the pre-clustering checkpoint (250k-doc probe regression)
    val keptForced = Dedup.nearDedupKeep(withShort, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5,
      broadcastDocLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(keptForced === kept)
  }

  test("prefix filtering loses no pairs vs an unfiltered quadratic join") {
    // brute force: full self-join on every shingle (no prefix restriction)
    import org.apache.spark.sql.functions.{count => cnt}
    val sh = Dedup.shingledHashed(corpus, "doc_id", "text", 3)
    val sizes = sh.groupBy("doc_id").agg(cnt(lit(1)).as("n"))
    val brute = sh.as("x").join(sh.as("y"), "sh")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(cnt(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val filtered = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5, maxShingleFreq = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(filtered === brute)
  }

  test("exact n-gram Jaccard: identical docs score 1.0") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.5)
    val j01 = pairs.filter(col("id_a") === 0 && col("id_b") === 1)
      .select("jaccard").head().getDouble(0)
    assert(j01 === 1.0)
  }

  test("jaccard pairs are monotone in threshold (prefix length adapts)") {
    // pairs at a higher threshold must be a subset of pairs at a lower
    // one — catches prefix-length rounding bugs at uneven thresholds
    val t07 = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val t03 = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(t07.subsetOf(t03))
    assert(t03.contains((0L, 1L)))
    // and an "awkward" threshold (non-representable product) stays exact
    val t087 = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.87)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(t087.forall(_._3 >= 0.87))
    assert(t087.map(r => (r._1, r._2)).contains((0L, 1L))) // jaccard 1.0
  }

  test("simhash: identical docs collide, near-dups rank closer than unrelated") {
    val pairs = Dedup.simhashNearPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → distance 0
    assert(!pairs.exists { case (a, b) => a >= 3 && b >= 3 })
    // distance ordering: near-dup (doc 2) is closer to doc 0 than unrelated doc 3
    val sims = corpus.select(col("doc_id"),
        Dedup.simhash64(TextFunctions.wordShingles(col("text"), 3)).as("sim"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sims(a) ^ sims(b))
    assert(ham(0L, 1L) === 0)
    assert(ham(0L, 2L) < ham(0L, 3L))
  }

  test("simhash signature bound: sub-limit docs fine, lane math stays exact") {
    // the guard must not fire on normal corpora...
    val sigs = Dedup.simhashSignatures(corpus, "doc_id", "text", 3).collect()
    assert(sigs.length === 10 && sigs.forall(!_.isNullAt(1)))
    // ...and packed-lane votes must equal the reference column formula
    val viaCol = corpus.select(col("doc_id"),
      Dedup.simhash64(TextFunctions.wordShingles(col("text"), 3)).as("sim"))
      .as[(Long, Long)].collect().toMap
    // (simhash64 hashes shingle STRINGS, signatures hash word-triples —
    // different hash inputs, so compare structure: identical docs agree)
    val bySig = Dedup.simhashSignatures(corpus, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(bySig(0L) === bySig(1L))
    assert(viaCol(0L) === viaCol(1L))
  }

  test("embedding LSH dedup finds a planted duplicate vector") {
    val rnd = new scala.util.Random(3)
    val v0 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = v0.map(x => x + 0.01f)
    val others = (2 to 40).map(i => i.toLong -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val df = (Seq(0L -> v0, 1L -> near) ++ others).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(df, "vec_id", "embedding",
      dim = 16, numPlanes = 8, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("LSH ANN recall: top-1 matches brute force, candidates ⊂ corpus") {
    val rnd = new scala.util.Random(5)
    val vecs = (0 to 200).map(i => i.toLong -> Array.fill(32)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(7)._2.map(_.toDouble + 0.001).toSeq
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect()
    assert(brute.head === 7L) // nearest is the seed vector itself
    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", q, 5, dim = 32,
      bands = 8, planesPerBand = 4)
      .select("vec_id").as[Long].collect()
    assert(lsh.contains(7L)) // the true nearest neighbor survives bucketing
  }

  test("multimodal: blob stats are deterministic and distributed") {
    val docs = corpus.withColumn("source", lit("srcX"))
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "source")
    // same shape modulo nullability flags
    assert(media.schema.map(f => (f.name, f.dataType.simpleString))
      === Multimodal.mediaSchema.map(f => (f.name, f.dataType.simpleString)))
    val f1 = Multimodal.blobStats(media).orderBy("media_id").collect()
    val f2 = Multimodal.blobStats(media.repartition(7)).orderBy("media_id").collect()
    assert(f1.toSeq === f2.toSeq) // partitioning must not change features
    assert(f1.forall(_.getAs[Long]("n_bytes") > 0))
    assert(f1.forall(_.getAs[String]("content_sha").length === 64))
    // identical docs 0/1 share content_sha; doc 2 differs
    val byId = f1.map(r => r.getLong(0) -> r.getAs[String]("content_sha")).toMap
    assert(byId(0L) === byId(1L))
    assert(byId(0L) !== byId(2L))
  }

  test("multimodal: real PNG round-trip — generated blobs decode to the analytic features") {
    val ids = corpus.select(col("doc_id"))
    val media = Multimodal.imageMediaTable(ids, "doc_id")
    // the blobs are genuine PNGs (magic bytes) with the declared mime
    val first = media.orderBy("media_id").head()
    val magic = first.getAs[Array[Byte]]("blob").take(8).map(_ & 0xFF)
    assert(magic.toSeq === Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    assert(first.getAs[org.apache.spark.sql.Row]("meta").getString(0) === "image/png")
    val feats = Multimodal.extractImageFeatures(media).orderBy("media_id").collect()
    feats.foreach { r =>
      val id = r.getLong(0)
      val w = 16 + java.lang.Math.floorMod(id, 49L).toInt
      val h = 16 + java.lang.Math.floorMod(id * 31L, 49L).toInt
      assert(r.getInt(1) === w)
      assert(r.getInt(2) === h)
      assert(r.getLong(3) === w.toLong * h)
      assert(r.getDouble(4) === (w - 1) / 2.0) // mean_r: x-gradient
      assert(r.getDouble(5) === (h - 1) / 2.0) // mean_g: y-gradient
      assert(r.getDouble(6) === java.lang.Math.floorMod(id, 256L).toDouble)
    }
    // partitioning invariance of the executor-side generate+decode
    val re = Multimodal.extractImageFeatures(
      Multimodal.imageMediaTable(ids.repartition(7), "doc_id"))
      .orderBy("media_id").collect()
    assert(re.map(_.toSeq).toSeq === feats.map(_.toSeq).toSeq)
  }

  test("multimodal: animated GIF round-trip — real container parse matches the analytic per-frame means") {
    val ids = Seq(0L, 1L, 5L, 38L, 103L).toDF("doc_id")
    val got = Multimodal.extractFrameFeatures(
        Multimodal.gifMediaTable(ids, "doc_id"))
      .orderBy("media_id", "frame_idx").collect()
    val expected = Seq(0L, 1L, 5L, 38L, 103L).flatMap { id =>
      val nf = 2 + (id % 4).toInt
      val w = 8 + (id % 9).toInt
      val h = 8 + ((id * 7) % 9).toInt
      (0 until nf).map { f =>
        val sidx = (0 until w).map(x => (x + f) % 16).sum.toLong * h
        (id, f, w, h, 16.0 * sidx / (w * h), 8.0 * sidx / (w * h),
          4.0 * sidx / (w * h))
      }
    }
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (r, (id, f, w, h, mr, mg, mb)) =>
      assert(r.getLong(0) === id && r.getInt(1) === f)
      assert(r.getInt(2) === w && r.getInt(3) === h)
      assert(r.getDouble(4) === mr) // exact: lossless palette + one division
      assert(r.getDouble(5) === mg)
      assert(r.getDouble(6) === mb)
    }
  }

  test("frame sampling: geometry from byte length, deterministic stats") {
    val docs = corpus.withColumn("source", lit("s"))
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "source")
    val frames = Multimodal.sampleFrames(media, frameSize = 100, stride = 2)
      .orderBy("media_id", "frame_idx").collect()
    // doc 0: base*5 — check expected frame indices 0,2,4,... and sizes
    val n0 = media.filter(col("media_id") === 0)
      .select(col("meta.n_bytes")).head().getLong(0)
    val expectedIdx = (0 until ((n0.toInt + 99) / 100) by 2)
    val f0 = frames.filter(_.getLong(0) == 0L)
    assert(f0.map(_.getInt(1)).toSeq === expectedIdx)
    assert(f0.init.forall(_.getInt(2) == 100))
    // identical docs 0/1 produce identical frame stats
    val f1 = frames.filter(_.getLong(0) == 1L)
    assert(f0.map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq ===
           f1.map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq)
    // partitioning invariance
    val re = Multimodal.sampleFrames(media.repartition(5), 100, 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(re.map(_.toSeq).toSeq === frames.map(_.toSeq).toSeq)
    // resize geometry on REAL decoded dims preserves aspect, respects the box
    val rs = Multimodal.resizeMeta(
      Multimodal.extractImageFeatures(
        Multimodal.imageMediaTable(corpus.select(col("doc_id")), "doc_id")),
      maxW = 32, maxH = 32).collect()
    rs.foreach { r =>
      assert(r.getAs[Int]("out_width") <= 32 && r.getAs[Int]("out_height") <= 32)
      assert(r.getAs[Int]("out_width") <= r.getAs[Int]("width"))
    }
  }

  test("language ID picks the stopword-dominant language") {
    val df = Seq(
      (1L, "the cat and the dog walked to the park and it is sunny"),
      (2L, "der hund und die katze und das haus ist hier und der baum"),
      (3L, "el perro los gatos las casas es una cosa el dia los ninos"),
      (4L, "le chien et les chats est dans le jardin des fleurs dans paris"),
      (5L, "xyzzy plugh qwerty asdf")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en"); assert(got(2L) === "de")
    assert(got(3L) === "es"); assert(got(4L) === "fr")
    assert(got(5L) === "und")
  }

  test("native langId ≡ composable argmax (incl. overlap/CJK/tie corners)") {
    val df = Seq(
      // adjacent stopwords: " the the the " — padded-replace counting
      // is NON-overlapping (2 hits, not 3); both forms must agree
      (1L, "the the the"),
      (2L, "und und und und"),
      (3L, "the der el le"),                       // 4-way tie → precedence
      (4L, ""),
      (5L, "12345 67890 !!!"),
      (6L, "你好世界 the and of to is"), // CJK + en mix
      (7L, "THE AND OF TO IS"),                    // lowering path
      (8L, "a" * 2000 + " the "),                  // long doc
      (9L, "est est une les le la dans")
    ).toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        TextFunctions.langId(col("text")).as("native"),
        TextFunctions.langIdComposable(col("text")).as("composable"))
      .as[(Long, String, String)].collect()
    both.foreach { case (id, n, c) => assert(n === c, s"doc $id") }
  }

  test("native qualityScore ≡ composable (bit-identical doubles)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""),
      (3L, "    "),
      (4L, "12345 67-89 !!!"),
      (5L, "a" * 600),
      (6L, ("word " * 60).trim),
      (7L, "MiXeD CaSe 123 text, with.punct!"),
      (8L, "你好 world 123")
    ).toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("native"),
        TextFunctions.qualityScoreComposable(col("text")).as("composable"))
      .as[(Long, Double, Double)].collect()
    both.foreach { case (id, n, c) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(c), s"doc $id: $n vs $c")
    }
  }

  test("PII redaction scrubs every planted kind and counts them once") {
    val df = Seq(
      (1L, "mail a.user+x@sub.example.org then call 555-123-4567 done"),
      (2L, "server at 192.168.0.17 holds ssn 123-45-6789 twice 123-45-6789"),
      (3L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val red = df.select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(red(1L) === "mail [EMAIL] then call [PHONE] done")
    assert(red(2L) === "server at [IP] holds ssn [SSN] twice [SSN]")
    assert(red(3L) === "clean text with no identifiers at all")
    val counts = df.select(col("doc_id") +:
        TextFunctions.piiCounts(col("text")).map { case (k, c) => c.as(k) }: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(counts(1L) === ((1, 0, 1, 0))) // email, ssn, phone, ipv4
    assert(counts(2L) === ((0, 2, 0, 1)))
    assert(counts(3L) === ((0, 0, 0, 0)))
  }

  test("PII cascade: digit runs inside an email are not re-counted as phone") {
    val df = Seq((1L, "reach 555-123-4567@example.com please")).toDF("doc_id", "text")
    val counts = df.select(
        TextFunctions.piiCounts(col("text")).map { case (k, c) => c.as(k) }: _*)
      .head()
    assert(counts.getInt(0) === 1) // the whole thing is one email
    assert(counts.getInt(2) === 0) // ...not also a phone number
  }

  test("repetition signals separate degenerate from varied text") {
    val df = Seq(
      (1L, Seq.fill(40)("spam").mkString(" ")),            // one word repeated
      (2L, (1 to 40).map(i => s"w$i").mkString(" "))       // all distinct
    ).toDF("doc_id", "text")
    val words = df.select(col("doc_id"),
        explode(split(TextFunctions.normText(col("text")), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (countDistinct(col("w")).cast("double") / sum(col("c"))).as("dwr"),
        (max(col("c")).cast("double") / sum(col("c"))).as("tws"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(words(1L)._1 < 0.05 && words(1L)._2 === 1.0)
    assert(words(2L)._1 === 1.0 && words(2L)._2 < 0.05)
  }
}
