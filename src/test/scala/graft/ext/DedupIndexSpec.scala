package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted dedup index: index-served results must equal the direct
  * operators pair-for-pair, appends must equal rebuilds, and the bloom
  * segments may only prune — never lose — a match. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = {
    val p = graft.SparkSpec.tempDir("graft_dedupidx")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** 50 base docs + 10 near-copies (last two words dropped) — the
    * DedupSpec corpus shape. */
  private lazy val corpus = {
    val base = (0L until 50L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i, words.mkString(" "))
    }
    base.toDF("doc_id", "text").cache()
  }

  private lazy val incoming = {
    // 10 near-copies of docs 0..9, 5 exact copies of docs 20..24, and
    // 5 novel docs
    val near = (0L until 10L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i + 1000L, words.dropRight(2).mkString(" "))
    }
    val exact = (20L until 25L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i + 2000L, words.mkString(" "))
    }
    val novel = (0L until 5L).map { i =>
      (i + 3000L, (0 until 40).map(j => s"z${(i * 13 + j * 5) % 89}").mkString(" "))
    }
    (near ++ exact ++ novel).toDF("doc_id", "text").cache()
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_new"), col("id_old"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet

  behavior of "DedupIndex near-dup search"

  it should "serve minhashNewAgainst results pair-for-pair from the artifact" in {
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", path,
      numHashes = 64, bands = 32) shouldBe 50L
    val served = DedupIndex.minhashNewAgainst(spark, path, incoming,
      "doc_id", "text", threshold = 0.5)
    val direct = Dedup.minhashNewAgainst(corpus, incoming, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.5)
    val sp = pairSet(served)
    sp shouldBe pairSet(direct)
    // the 10 planted near-copies and 5 exact copies all pair with their
    // sources; novel docs pair with nothing
    (0L until 10L).foreach { i => sp.exists(p => p._1 == i + 1000L && p._2 == i) shouldBe true }
    (20L until 25L).foreach { i => sp.exists(p => p._1 == i + 2000L && p._2 == i && p._3 == 1.0) shouldBe true }
    sp.exists(_._1 >= 3000L) shouldBe false
  }

  it should "price its candidate volume and fail fast past maxCandidates" in {
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", path, numHashes = 64, bands = 32)
    // Σ n_in·n_ex over the shared (band, bsig) buckets: bloom pruning only
    // drops incoming bands with no existing bucket, which add nothing
    val (_, exBands, _) = Dedup.shingleBandedCounted(corpus, "doc_id", "text",
      64, 32, 5, 0)
    val (_, inBands, _) = Dedup.shingleBandedCounted(incoming, "doc_id", "text",
      64, 32, 5, 0)
    val est = inBands.groupBy("band", "bsig").count()
      .withColumnRenamed("count", "n_in")
      .join(exBands.groupBy("band", "bsig").count(), Seq("band", "bsig"))
      .agg(sum(col("n_in") * col("count"))).as[Long].head()
    est should be > 0L
    val e = the[IllegalStateException] thrownBy
      DedupIndex.minhashNewAgainst(spark, path, incoming, "doc_id", "text",
        threshold = 0.5, maxCandidates = Some(est - 1))
    e.getMessage should include(s"estimated candidate volume $est exceeds")
    // at the estimate the search runs, pair-for-pair as uncapped
    pairSet(DedupIndex.minhashNewAgainst(spark, path, incoming, "doc_id",
      "text", threshold = 0.5, maxCandidates = Some(est))) shouldBe
      pairSet(DedupIndex.minhashNewAgainst(spark, path, incoming, "doc_id",
        "text", threshold = 0.5, maxCandidates = None))
  }

  it should "produce identical searches from append and from rebuild" in {
    val a = corpus.filter(col("doc_id") < 30)
    val b = corpus.filter(col("doc_id") >= 30)
    val pAppend = tmpDir(); val pRebuild = tmpDir()
    DedupIndex.build(a, "doc_id", "text", pAppend, numHashes = 64, bands = 32)
    DedupIndex.append(b, "doc_id", "text", pAppend) shouldBe 20L
    DedupIndex.build(corpus, "doc_id", "text", pRebuild,
      numHashes = 64, bands = 32)
    pairSet(DedupIndex.minhashNewAgainst(spark, pAppend, incoming,
      "doc_id", "text", threshold = 0.5)) shouldBe
      pairSet(DedupIndex.minhashNewAgainst(spark, pRebuild, incoming,
        "doc_id", "text", threshold = 0.5))
    DedupIndex.newAgainst(spark, pAppend, incoming, "text")
      .select("doc_id").as[Long].collect().sorted shouldBe
      DedupIndex.newAgainst(spark, pRebuild, incoming, "text")
        .select("doc_id").as[Long].collect().sorted
    // append reads its banding parameters from the artifact: the stored
    // band relation must be one scheme throughout
    DedupIndex.readParams(spark, pAppend).bands shouldBe 32
    spark.read.parquet(s"$pAppend/bands")
      .agg(countDistinct(col("band"))).as[Long].head() shouldBe 32L
  }

  behavior of "DedupIndex exact search"

  it should "match Dedup.newAgainst row-for-row, null fingerprints included" in {
    val existing = Seq((1L, "alpha text"), (2L, "beta text"),
      (3L, (null: String))).toDF("doc_id", "text")
    val inc = Seq((10L, "alpha text"), (11L, "gamma text"),
      (12L, (null: String)), (13L, "beta text"), (14L, "delta"))
      .toDF("doc_id", "text")
    val path = tmpDir()
    DedupIndex.build(existing, "doc_id", "text", path) shouldBe 3L
    DedupIndex.newAgainst(spark, path, inc, "text")
      .select("doc_id").as[Long].collect().sorted shouldBe
      Dedup.newAgainst(existing, inc, "text")
        .select("doc_id").as[Long].collect().sorted
  }

  it should "pass everything through an empty index and keep finding appended dups" in {
    val path = tmpDir()
    DedupIndex.build(corpus.limit(0), "doc_id", "text", path) shouldBe 0L
    DedupIndex.newAgainst(spark, path, incoming, "text").count() shouldBe
      incoming.count()
    DedupIndex.minhashNewAgainst(spark, path, incoming, "doc_id", "text",
      threshold = 0.5).count() shouldBe 0L
    // the append-a-crawl loop: append batch 1, then batch 2 must dedup
    // against it without any rebuild
    DedupIndex.append(corpus, "doc_id", "text", path)
    val batch2 = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 500L).as("doc_id"), col("text"))
    DedupIndex.newAgainst(spark, path, batch2, "text").count() shouldBe 0L
    // the corpus word formula makes docs i and i±19 genuine near-dups
    // (39/40 shared words), so assert parity with the direct operator
    // plus the planted self-copies — not an exact hand list
    val got = pairSet(DedupIndex.minhashNewAgainst(spark, path, batch2,
      "doc_id", "text", threshold = 0.9))
    got shouldBe pairSet(Dedup.minhashNewAgainst(corpus, batch2,
      "doc_id", "text", threshold = 0.9))
    (0L until 5L).map(i => (i + 500L, i)).toSet
      .subsetOf(got.map(p => (p._1, p._2))) shouldBe true
  }

  behavior of "DedupIndex streaming flags"

  it should "serve the duplicate/near-dup flags from the artifact with no misses" in {
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", path, numHashes = 64, bands = 32)
    // exact flag: every indexed text must flag true (no false negatives),
    // a clearly-novel text false (deterministic for fixed data)
    val dupFlag = DedupIndex.duplicateFlag(spark, path)
    corpus.withColumn("f", dupFlag(col("text")))
      .filter(!col("f")).count() shouldBe 0L
    Seq((1L, "entirely foreign content zzz qqq jjj xxx vvv"))
      .toDF("doc_id", "text").withColumn("f", dupFlag(col("text")))
      .filter(col("f")).count() shouldBe 0L
    // near flag: every incoming doc the exact operator pairs must flag
    val nearFlag = DedupIndex.nearDuplicateFlag(spark, path)
    val paired = DedupIndex.minhashNewAgainst(spark, path, incoming,
        "doc_id", "text", threshold = 0.5)
      .select("id_new").distinct().as[Long].collect().toSet
    val flagged = incoming.withColumn("f", nearFlag(col("text")))
      .filter(col("f")).select("doc_id").as[Long].collect().toSet
    paired.subsetOf(flagged) shouldBe true
    paired.size should be >= 15 // 10 near + 5 exact copies
  }

  it should "flag null/empty text false from a high-fpp artifact and nothing from an empty one" in {
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", path,
      numHashes = 64, bands = 32, bloomFpp = 0.3)
    val nearFlag = DedupIndex.nearDuplicateFlag(spark, path)
    Seq((1L, null: String), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text").withColumn("f", nearFlag(col("text")))
      .select("f").as[Boolean].collect() shouldBe Array(false, false, false)
    val empty = tmpDir()
    DedupIndex.build(corpus.limit(0), "doc_id", "text", empty)
    val ef = DedupIndex.duplicateFlag(spark, empty)
    val enf = DedupIndex.nearDuplicateFlag(spark, empty)
    corpus.withColumn("a", ef(col("text"))).withColumn("b", enf(col("text")))
      .filter(col("a") || col("b")).count() shouldBe 0L
  }

  behavior of "DedupIndex compaction"

  it should "recover a double-appended batch and consolidate files and bloom segments" in {
    val a = corpus.filter(col("doc_id") < 30)
    val b = corpus.filter(col("doc_id") >= 30)
    val path = tmpDir(); val clean = tmpDir()
    DedupIndex.build(a, "doc_id", "text", path, numHashes = 64, bands = 32)
    DedupIndex.append(b, "doc_id", "text", path)
    DedupIndex.append(b, "doc_id", "text", path) // blind retry after a "tear"
    DedupIndex.build(corpus, "doc_id", "text", clean, numHashes = 64, bands = 32)
    // exact copies of the double-written docs: every (new, old>=30) pair
    // rides duplicated shingle rows, so the verified output duplicates
    val probes = b.select((col("doc_id") + 700L).as("doc_id"), col("text"))
    def pairs(p: String) = DedupIndex.minhashNewAgainst(spark, p, probes,
      "doc_id", "text", threshold = 0.9)
    val torn = pairs(path)
    torn.count() should be > pairSet(torn).size.toLong // observed damage
    DedupIndex.compact(spark, path) shouldBe 50L
    // compacted == clean rebuild, row-for-row (no duplicates left) on
    // BOTH search paths
    val compacted = pairs(path)
    compacted.count() shouldBe pairSet(compacted).size.toLong
    pairSet(compacted) shouldBe pairSet(pairs(clean))
    DedupIndex.newAgainst(spark, path, incoming, "text")
      .select("doc_id").as[Long].collect().sorted shouldBe
      DedupIndex.newAgainst(spark, clean, incoming, "text")
        .select("doc_id").as[Long].collect().sorted
    // three per-batch bloom segments consolidated to ONE per dir, and
    // the flags still serve with no false negatives
    def segs(d: String) = new java.io.File(s"$path/$d")
      .listFiles().count(_.getName.endsWith(".bin"))
    segs("bloom_fp") shouldBe 1
    segs("bloom_band") shouldBe 1
    val dupFlag = DedupIndex.duplicateFlag(spark, path)
    corpus.withColumn("f", dupFlag(col("text")))
      .filter(!col("f")).count() shouldBe 0L
    // per-append partitions collapsed into one batch dir of one file
    def parquets(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$path/$d"))
    }
    for (d <- Seq("fingerprints", "shingles", "bands")) {
      parquets(d).size shouldBe 1
      parquets(d).head.getParentFile.getName should startWith("batch=compact-")
    }
  }

  it should "make keyed re-appends idempotent (exactly-once without compaction)" in {
    val a = corpus.filter(col("doc_id") < 30)
    val b = corpus.filter(col("doc_id") >= 30)
    val path = tmpDir(); val clean = tmpDir()
    DedupIndex.build(a, "doc_id", "text", path, numHashes = 64, bands = 32)
    DedupIndex.append(b, "doc_id", "text", path, batchId = Some("crawl-42"))
    // the torn-append retry: same stable id overwrites its own partition
    // and bloom segment — NO duplicates, no compact needed
    DedupIndex.append(b, "doc_id", "text", path, batchId = Some("crawl-42"))
    DedupIndex.build(corpus, "doc_id", "text", clean, numHashes = 64, bands = 32)
    val probes = b.select((col("doc_id") + 700L).as("doc_id"), col("text"))
    def pairs(p: String) = DedupIndex.minhashNewAgainst(spark, p, probes,
      "doc_id", "text", threshold = 0.9)
    val got = pairs(path)
    got.count() shouldBe pairSet(got).size.toLong // row-for-row, no dups
    pairSet(got) shouldBe pairSet(pairs(clean))
    spark.read.parquet(s"$path/fingerprints").count() shouldBe 50L
    // one segment per batch id: init + crawl-42, retry stacked nothing
    new java.io.File(s"$path/bloom_fp").listFiles()
      .map(_.getName).filter(_.endsWith(".bin")).sorted shouldBe
      Array("seg-crawl-42.bin", "seg-init.bin")
    // a malformed id is rejected before anything is written, and so are
    // the artifact's own reserved ids (an append under 'init' would
    // silently replace the build's whole base corpus)
    an[IllegalArgumentException] should be thrownBy
      DedupIndex.append(b, "doc_id", "text", path, batchId = Some("bad id/x"))
    an[IllegalArgumentException] should be thrownBy
      DedupIndex.append(b, "doc_id", "text", path, batchId = Some("init"))
    an[IllegalArgumentException] should be thrownBy
      DedupIndex.append(b, "doc_id", "text", path, batchId = Some("compact-x"))
    // corrected-data replace under the same id: the batch swaps
    // wholesale (old rows gone, not merged)
    val b2 = b.filter(col("doc_id") < 40)
    DedupIndex.append(b2, "doc_id", "text", path, batchId = Some("crawl-42"))
    spark.read.parquet(s"$path/fingerprints").count() shouldBe 40L
    // once a compaction folds the batch, its id is CONSUMED: a stream
    // replaying the trigger after the compact must no-op, not re-append
    DedupIndex.compact(spark, path) shouldBe 40L
    DedupIndex.append(b, "doc_id", "text", path,
      batchId = Some("crawl-42")) shouldBe 0L
    spark.read.parquet(s"$path/fingerprints").count() shouldBe 40L
  }

  it should "stay exact when bloom segments are absent (pruning declined)" in {
    // deleting the segment files models the MaxBloomBytes decline path:
    // searches must fall back to the exact joins with identical answers
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", path, numHashes = 64, bands = 32)
    val withBloom = pairSet(DedupIndex.minhashNewAgainst(spark, path,
      incoming, "doc_id", "text", threshold = 0.5))
    val exactWith = DedupIndex.newAgainst(spark, path, incoming, "text")
      .select("doc_id").as[Long].collect().sorted
    for (d <- Seq("bloom_fp", "bloom_band"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$path/$d"))
    pairSet(DedupIndex.minhashNewAgainst(spark, path, incoming,
      "doc_id", "text", threshold = 0.5)) shouldBe withBloom
    DedupIndex.newAgainst(spark, path, incoming, "text")
      .select("doc_id").as[Long].collect().sorted shouldBe exactWith
  }
}
