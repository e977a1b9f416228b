package graft

import graft.sampling.BigSampler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the scale-critical properties the engine
  * relies on at 100 TB: filters reach the parquet scan, column pruning
  * reaches the reader, small sides broadcast, and narrow operators stay
  * shuffle-free. These lock the EXECUTION SHAPE, not just the results —
  * a regression that keeps answers right but adds an exchange fails here.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(plan(df)).size

  "a filtered projection over parquet" should "push the filter and prune columns at the scan" in {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    p should include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]")
    p should include("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>")
  }

  "the deterministic hash-dice sample" should "plan as a single narrow filter with zero exchanges" in {
    val df = BigSampler.sample(
      spark.read.parquet(s"$sf/lineitem.parquet"), 0.1,
      BigSampler.Hashed(Seq("l_orderkey", "l_linenumber")))
    exchanges(df) shouldBe 0
    plan(df) should include("Filter")
  }

  "the deterministic hash-dice sample" should "fuse into one whole-stage codegen span" in {
    // FieldHash's doGenCode (r19): the R2 scan path — this engine's
    // signature 100 TB operation — must be a SINGLE fused stage, scan
    // through hash-filter through project. Pre-r19 the CodegenFallback
    // marker made CollapseCodegenStages refuse the whole stage, leaving
    // per-row interpreted eval + boxing on every scanned row.
    val df = BigSampler.sample(
      spark.read.parquet(s"$sf/lineitem.parquet"), 0.1,
      BigSampler.Hashed(Seq("l_orderkey", "l_linenumber")))
    val p = plan(df)
    // treeString renders a WholeStageCodegen span as a `*(id)` prefix on
    // its member nodes: exactly one span id, and the Filter is inside it
    val spanIds = """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet
    spanIds should have size 1
    p.linesIterator.find(_.contains("Filter")).get should include("*(")
  }

  "a small-dimension join" should "plan as a broadcast hash join when hinted" in {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    val df = orders.join(broadcast(customer),
      col("o_custkey") === col("c_custkey"))
    plan(df) should include("BroadcastHashJoin")
  }

  "the leakage-safe split from components" should "add zero exchanges beyond the label join" in {
    import spark.implicits._
    // the assignment itself is a pure expression: with the (typically
    // tiny) components relation broadcast, the whole operator is ONE
    // broadcast hash join and no exchange anywhere — the property that
    // lets the split run at scan speed over a 100 TB corpus (and
    // unchanged on a stream)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val comps = broadcast(Seq((1L, 1L), (2L, 1L)).toDF("id", "component"))
    val split = graft.ext.Split.leakageSafeSplitByComponents(
      docs, "doc_id", comps, Seq("train" -> 0.9, "holdout" -> 0.1))
    val p = plan(split)
    p should include("BroadcastHashJoin")
    // the only Exchange is the broadcast itself — no shuffle of the corpus
    p should not include "Exchange hashpartitioning"
    p should not include "Exchange rangepartitioning"
    p should not include "Exchange SinglePartition"
  }

  "the exact sampler" should "never plan a single-partition exchange" in {
    val df = BigSampler.sample(
      spark.read.parquet(s"$sf/lineitem.parquet"), 0.1,
      BigSampler.Hashed(Seq("l_orderkey", "l_linenumber")),
      BigSampler.Stratified(Seq("l_returnflag")), exact = true)
    plan(df) should not include "Exchange SinglePartition"
  }

  it should "not materialize the coined corpus for Random coins on a scan-rooted plan" in {
    // rand(seed) replays identically on a stable parquet scan, so the
    // Random exact arm needs no full-corpus persist — at 100 TB the pin
    // WAS a full-dataset materialization
    val df = BigSampler.sample(
      spark.read.parquet(s"$sf/lineitem.parquet"), 0.1,
      BigSampler.Random(5L),
      BigSampler.Stratified(Seq("l_returnflag")), exact = true)
    plan(df) should not include "InMemoryTableScan"
  }

  "the diff join pipeline" should "fold the dup-key guard into the same two exchanges" in {
    // uniqueness enforcement must NOT add a job or an exchange: each side's
    // count-per-key aggregate shares the join's hash partitioning
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val r = diffy.BigDiffy.diff(
      o.filter(col("o_orderkey") % 3 =!= 0),
      o.filter(col("o_orderkey") % 5 =!= 0), Seq("o_orderkey"))
    try {
      "Exchange hashpartitioning".r.findAllIn(plan(r.keyStats)).size shouldBe 2
    } finally r.unpersist()
  }

  "the near-dup banded relation" should "be pinned so the signature pass runs once" in {
    // pins are eager localCheckpoints (GC-reclaimed, no CacheManager leak):
    // the signature pass shows up as a checkpointed-RDD scan, and the
    // shingle/minhash expressions appear NOWHERE in the consumer plan
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = ext.Dedup.minhashNearDups(docs, "doc_id", "text")
    plan(pairs) should include("Scan ExistingRDD")
    plan(pairs) should not include "shingle_hashes"
    val ann = ext.Similarity.lshTopK(
      spark.read.parquet(s"$sf/embeddings.parquet"),
      spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, dim = 16)
    plan(ann) should include("Scan ExistingRDD")
  }

  "the top-k search paths" should "plan a k-bounded aggregate, never a per-query window" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
    val lsh = ext.Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 3, dim = 16)
    val ivf = ext.Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 3,
      nlist = 4, nprobe = 2)
    val pq = ext.Similarity.pqTopK(emb, q, "vec_id", "embedding", k = 3,
      m = 4, codebookSize = 8, maxIter = 3)
    val ivfpq = ext.Similarity.ivfpqTopK(emb, q, "vec_id", "embedding", k = 3,
      nlist = 4, nprobe = 2, m = 4, codebookSize = 8, maxIter = 3)
    for (df <- Seq(bf, lsh, ivf, pq, ivfpq)) {
      val p = plan(df)
      // a Window over query_id would funnel each query's whole candidate
      // set through one task's sort — the 100 TB killer this shape forbids
      p should not include "Window"
      // the k-bounded TopK.ByScore aggregation (partial map-side buffers)
      p should include("Aggregate")
    }
    // the oracle path's query side must ride a broadcast (its contract is
    // small-queries x full-corpus scan; a shuffled nested loop would move
    // the corpus instead)
    plan(bf) should include("BroadcastNestedLoopJoin")
  }

  "topByKey" should "plan a k-bounded aggregate, never a per-key window" in {
    val df = sampling.DirectSampler.topByKey(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber"),
      Seq("l_returnflag"), Seq("l_quantity", "l_orderkey", "l_linenumber"), 3)
    val p = plan(df)
    // a Window partitioned by a low-cardinality key sorts each key's whole
    // slice in ONE task — at 100 TB that is the straggler/OOM; the bounded
    // aggregator shuffles only O(k) buffers per key
    p should not include "Window"
    p should include("Aggregate")
  }

  "gopher signals" should "stay a single narrow pass with zero exchanges" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(ext.TextAnalysis.gopherSignals(docs, "text"))
    // every rule is an expression over the row's own token/line arrays —
    // a shuffle here would mean someone reintroduced an aggregation
    p should not include "Exchange"
    p should not include "Join"
  }

  "repetition signals" should "stay partition-local — no exchange, no join" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(ext.TextAnalysis.repetitionSignals(docs, "text"))
    // per-doc frequency maps live inside the UDF; an Exchange here would
    // mean the n-gram counting got rewritten as explode+groupBy, shuffling
    // every n-gram in the corpus
    p should not include "Exchange"
    p should not include "Join"
    p should not include "Window"
  }

  "bpe word-type selection" should "take per-partition top-k, never sort globally" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(ext.Bpe.wordTypes(docs, "text", 1 << 16))
    // orderBy+limit must fuse into TakeOrderedAndProject: each task keeps
    // its own heap and the driver merges — a Sort node here means the
    // whole corpus vocabulary flows through a global sort before the cap
    p should include("TakeOrderedAndProject")
    p should not include "Sort ["
  }

  "vocab divergence" should "join pre-aggregated word types with no window" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(ext.Importance.vocabDivergence(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") =!= "en"), "text"))
    p should not include "Window"
    // the only nested-loop is the 1-row scalar totals broadcast
    "BroadcastNestedLoopJoin".r.findAllIn(p).size should be <= 1
    p should not include "CartesianProduct"
  }

  "heavy hitters" should "broadcast the candidate set for the exact pass" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(ext.Frequent.heavyWords(docs, "text", minFreqPpm = 2000L))
    // pass 2 must hash-probe the <= k candidates, not sort-merge the
    // corpus against them; the only aggregation is map-side-combined
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "Window"
  }

  "decontamination" should "probe the corpus in one scan with no join or exchange" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val flagged = ext.TextAnalysis.flagContaminated(
      docs, "doc_id", "text", bench, "text", n = 40)
    val p = plan(flagged)
    // the benchmark gram set collects (a separate tiny job at build time)
    // and broadcasts as a sorted array; the corpus side is one narrow
    // scan through the rolling-hash membership probe — zero joins, zero
    // exchanges, zero row amplification
    p should not include "Join"
    p should not include "Exchange"
  }

  it should "fall back to the broadcast semi probe past the gram cap" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val flagged = ext.TextAnalysis.flagContaminated(
      docs, "doc_id", "text", bench, "text", n = 40, maxBenchGrams = 0)
    val p = plan(flagged)
    // over-cap benchmarks keep the distributed shape: corpus-side narrow
    // explode + BROADCAST semi probe — the only hash exchange is the
    // distinct over MATCHED ids (bounded by the contaminated count)
    p should include("BroadcastHashJoin")
    p should include("LeftSemi")
  }

  "incremental dedup" should "plan exactly one join (the exact-verify anti join)" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val p = plan(ext.Dedup.newAgainst(existing, incoming, "text"))
    // the bloom-miss branch must ship rows straight from the scan: one
    // anti join for the flagged minority, nothing else join-shaped
    "Join".r.findAllIn(p).size shouldBe 1
    p should include("LeftAnti")
  }

  "exact top-fraction selection" should "rank only the boundary bucket, never sort globally" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = ext.TextAnalysis.qualitySignals(docs, "text")
      .select(col("doc_id"), col("mean_token_len").as("s"))
    val kept = ext.ScoreFilter.keepTopFraction(q, "s", 0.2, tieBreak = Seq("doc_id"))
    val p = plan(kept)
    // the pass branch is a narrow filter; the Window (boundary rank) must
    // be fed by a bucket-equality filter, not the whole relation — assert
    // no global Sort outside the windowed boundary branch
    "Exchange SinglePartition".r.findAllIn(p).size should be <= 1
    p should include("Window")
    p should include("Union")
  }

  "per-key selection" should "broadcast the cut table and shuffle by key, never one task" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = ext.TextAnalysis.qualitySignals(docs, "text")
      .withColumn("domain", col("doc_id") % 5)
      .select(col("doc_id"), col("domain"), col("mean_token_len").as("s"))
    val kept = ext.ScoreFilter.keepTopFractionPerKey(
      q, Seq("domain"), "s", 0.3, tieBreak = Seq("doc_id"))
    val p = plan(kept)
    // the per-key cut table (one row per domain) rides a broadcast join;
    // the boundary rank partitions by (key, bucket), so no domain — let
    // alone the corpus — funnels through a single task
    p should include("BroadcastHashJoin")
    p should not include "Exchange SinglePartition"
  }

  "sequence packing" should "pin the range partitioning once and broadcast the offsets" in {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), ext.TextAnalysis.tokenCount(col("text")).as("n"))
    val packed = ext.Pack.packSequences(docs, "doc_id", "n", 512L)
    val p = plan(packed)
    // the range partitioning runs INSIDE the pinned (localCheckpoint'd)
    // projection — both the totals pass and this final pass must see the
    // same physical layout (repartitionByRange re-samples per evaluation;
    // the sf1 oracle run caught the unpinned double evaluation), so the
    // downstream plan reads the materialized RDD rather than re-ranging
    p should include("Scan ExistingRDD")
    p should not include "Exchange rangepartitioning"
    // offsets arrive broadcast; NO single-partition window (the naive
    // global running sum would funnel the corpus through one task)
    p should include("BroadcastHashJoin")
    p should not include "Exchange SinglePartition"
  }

  "semantic dedup" should "pair per-cluster with hash joins — no cartesian, no window" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val r = ext.SemDedup.semanticDedup(emb, "vec_id", "embedding",
      k = 8, tau = 0.9)
    val p = plan(r)
    // the quadratic step must be keyed by cluster (hash join over the
    // checkpointed assignment), never an all-pairs product, and the keep
    // decision is a join against the removed set — no per-cluster window
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "Window"
    p should not include "Exchange SinglePartition"
  }

  "the diff stats views" should "reuse one cached relation instead of re-joining" in {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val r = diffy.BigDiffy.diff(
      o.filter(col("o_orderkey") % 7 =!= 0),
      o.filter(col("o_orderkey") % 11 =!= 0), Seq("o_orderkey"))
    try {
      r.globalStats.count()
      plan(r.keyStats) should include("InMemoryTableScan")
      plan(r.fieldStats()) should include("InMemoryTableScan")
    } finally r.unpersist()
  }

  // Directory partitioning (the engine's analog of the reference's BQ
  // time-partitioned sinks, written via `graft convert --partition-by`):
  // a filter on the partition column must become a PARTITION filter —
  // directories never listed — not a row-level PushedFilter evaluated
  // after reading every file. At 100 TB this is the difference between
  // scanning one day and scanning the lake.
  "a partitioned parquet layout" should "prune partitions at the scan, not post-filter" in {
    val dir = graft.SparkSpec
      .tempDir("plan_part").toString + "/out"
    spark.range(1000)
      .selectExpr("id", "CAST(id % 10 AS INT) AS p")
      .write.partitionBy("p").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("p") === 3)
    val scan = plan(q)
    scan should include regex "PartitionFilters: \\[.*p.* = 3.*\\]"
    q.count() shouldBe 100L
  }
}
