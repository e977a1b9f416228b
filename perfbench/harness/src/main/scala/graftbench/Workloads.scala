package graftbench

import java.io.File
import java.nio.file.Files
import graft.GraftFunctions.{hashDice, minhash, shingleHashes}
import graft.diffy.{BigDiffy, DiffOptions}
import graft.ext.Dedup
import graft.sampling.BigSampler
import graft.sources.AvroIO
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One benchmark workload: seeded inputs with known ground truth, the CLI
  * invocation a user would run, the same job spelled out as calls into the
  * program's layers (for the traced run), noop-sink probes of single
  * layers, and a check of a job's output against the ground truth. */
trait Workload {
  def inputRows: Long
  def generate(spark: SparkSession, in: String): Unit
  /** Work a check needs from the inputs, done once and never timed. */
  def prepare(spark: SparkSession, in: String): Unit = ()
  def cliArgs(in: String, out: String): Seq[String]
  def pipeline(spark: SparkSession, tr: Tracer, in: String, out: String): Unit
  def probes(spark: SparkSession, tr: Tracer, in: String): Unit
  /** None when the output matches the ground truth, else what is wrong. */
  def check(spark: SparkSession, out: String): Option[String]
  /** Damage `out` so that [[check]] must fail; proves the check bites. */
  def corrupt(spark: SparkSession, out: String): Unit
}

object Workloads {
  val Names = Seq("sample_exact", "diff_nested", "sample_avro_copy", "dedup_near")

  def apply(name: String, seed: Long, files: Int): Workload = name match {
    case "sample_exact"     => new SampleExact(seed, files)
    case "diff_nested"      => new DiffNested(seed, files)
    case "sample_avro_copy" => new SampleAvroCopy(seed, files)
    case "dedup_near"       => new DedupNear(seed, files)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }

  /** Write rows 0 until n as parquet. Rows and a declared schema, not
    * typed encoders: encoder derivation is slow in a fresh JVM. */
  private[graftbench] def writeRows(spark: SparkSession, n: Long, files: Int, ddl: String,
                                    path: String)(row: Long => Option[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.range(0, n, 1, files).flatMap(i => row(i)),
      StructType.fromDDL(ddl)).write.parquet(path)

  private[graftbench] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent content digest: (rows, xor of row hashes, sum of
    * row hashes mod a prime). */
  private[graftbench] def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(Prime))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private[graftbench] val Prime = 1000000007L

  /** Replace directory `out` with what `write` puts in a sibling directory. */
  private[graftbench] def rewrite(out: String)(write: String => Unit): Unit = {
    val tmp = out + ".rewrite"
    write(tmp)
    deleteTree(new File(out))
    Files.move(new File(tmp).toPath, new File(out).toPath)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private[graftbench] def tsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("sep", "\t").csv(path)
}

import Workloads._

/** Stratified rows: `starts(k)` is where stratum k begins in the permuted
  * row order, so stratum sizes are exact and known without counting. */
final case class SampleGen(seed: Long, starts: Array[Long], perm: Gen.Perm) {
  def row(i: Long): Row = {
    val at = java.util.Arrays.binarySearch(starts, perm(i))
    val k = if (at >= 0) at else -at - 2
    Row(i, "c" + Gen.pick(seed, i, 2, 1000), f"s$k%02d",
      Gen.unit(seed, i, 3) * 1000, Gen.word(seed, i, 4) + "-" + Gen.word(seed, i, 6))
  }
}

/** The exact hash arm of BigSampler: stratified, exact, two key fields. */
final class SampleExact(seed: Long, files: Int) extends Workload {
  val inputRows = 400000L
  private val Fraction = 0.1
  private val sizes = Gen.zipfSizes(inputRows, 50, 1.1)
  private val gen = SampleGen(seed, sizes.scanLeft(0L)(_ + _).init, Gen.perm(seed, inputRows))
  private val expected = sizes.zipWithIndex
    .map { case (n, k) => f"s$k%02d" -> math.ceil(n * Fraction).toLong }.toMap
  private var firstDigest: Option[(Long, Long, Long)] = None

  def generate(spark: SparkSession, in: String): Unit = {
    val g = gen
    writeRows(spark, inputRows, files, "k1 BIGINT, k2 STRING, stratum STRING, v DOUBLE, tag STRING",
      s"$in/data")(i => Some(g.row(i)))
  }

  def cliArgs(in: String, out: String): Seq[String] = Seq("bigSampler",
    s"--input=$in/data", s"--output=$out", "--fields=k1,k2",
    "--distribution=stratified", "--distribution-fields=stratum", "--exact",
    s"--sample=$Fraction")

  def pipeline(spark: SparkSession, tr: Tracer, in: String, out: String): Unit = {
    val df = spark.read.parquet(s"$in/data")
    val sampled = tr.span("sampling.sample") {
      BigSampler.sample(df, Fraction, BigSampler.Hashed(Seq("k1", "k2")),
        BigSampler.Stratified(Seq("stratum")), exact = true)
    }
    tr.span("sources.parquet_write")(sampled.write.mode("overwrite").parquet(out))
  }

  def probes(spark: SparkSession, tr: Tracer, in: String): Unit = {
    tr.span("sources.parquet_scan")(noop(spark.read.parquet(s"$in/data")))
    tr.span("functions.hash_dice")(noop(spark.read.parquet(s"$in/data")
      .select(hashDice(Seq(col("k1"), col("k2"))).as("h"))))
  }

  def check(spark: SparkSession, out: String): Option[String] = {
    val df = spark.read.parquet(out)
    val got = df.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = (expected.keySet ++ got.keySet).toSeq.sorted
      .filter(k => got.getOrElse(k, 0L) != expected.getOrElse(k, 0L))
    if (bad.nonEmpty)
      return Some(s"${bad.size} strata off their exact size, e.g. " + bad.take(3)
        .map(k => s"$k: ${got.getOrElse(k, 0L)} rows, want ${expected.getOrElse(k, 0L)}")
        .mkString("; "))
    val d = digest(df)
    if (firstDigest.isEmpty) firstDigest = Some(d)
    if (firstDigest.contains(d)) None
    else Some(s"sample content hash $d differs from the first job's ${firstDigest.get}")
  }

  def corrupt(spark: SparkSession, out: String): Unit = rewrite(out) { tmp =>
    val df = spark.read.parquet(out)
    val k = df.agg(min("k1")).head().getLong(0)
    df.filter(col("k1") =!= k).write.parquet(tmp)
  }
}

/** Two sides of one keyed table. Keys are split by their permuted position
  * into exact groups: missing on the left, missing on the right, a +1.5
  * `price` delta, a changed `nested.b`, and the rest identical. */
final case class DiffGen(seed: Long, n: Long, perm: Gen.Perm) {
  val missingLhs: Long = n * 3 / 100
  val missingRhs: Long = n * 3 / 100
  val priceDelta: Long = n * 20 / 100
  val nestedB: Long = n * 10 / 100
  private val ends = Array(missingLhs, missingRhs, priceDelta, nestedB).scanLeft(0L)(_ + _).tail

  /** 0 missing on lhs, 1 missing on rhs, 2 price delta, 3 nested.b, 4 same. */
  def group(i: Long): Int = {
    val p = perm(i)
    val g = ends.indexWhere(p < _)
    if (g < 0) 4 else g
  }

  def row(i: Long, rhs: Boolean): Row = {
    val g = group(i)
    val price = Gen.pick(seed, i, 11, 100000) / 100.0
    val b = "b" + Gen.word(seed, i, 12)
    val tags = (0 until 2 + Gen.pick(seed, i, 13, 3).toInt).map(t => Gen.word(seed, i * 4 + t, 14))
    Row(i, "g" + (i % 97), if (rhs && g == 2) price + 1.5 else price,
      Gen.pick(seed, i, 15, 500).toInt, Gen.word(seed, i, 16),
      Row(Gen.h(seed, i, 17), if (rhs && g == 3) b + "x" else b, Gen.unit(seed, i, 18)),
      tags)
  }
}

/** BigDiffy over two nested parquet sides with planted differences. */
final class DiffNested(seed: Long, files: Int) extends Workload {
  private val keys = 80000L
  private val gen = DiffGen(seed, keys, Gen.perm(seed, keys))
  val inputRows: Long = 2 * keys - gen.missingLhs - gen.missingRhs

  def generate(spark: SparkSession, in: String): Unit = {
    val g = gen
    val ddl = "k1 BIGINT, k2 STRING, price DOUBLE, qty INT, name STRING, " +
      "nested STRUCT<a: BIGINT, b: STRING, c: DOUBLE>, tags ARRAY<STRING>"
    writeRows(spark, keys, files, ddl, s"$in/lhs")(i =>
      if (g.group(i) == 0) None else Some(g.row(i, rhs = false)))
    writeRows(spark, keys, files, ddl, s"$in/rhs")(i =>
      if (g.group(i) == 1) None else Some(g.row(i, rhs = true)))
  }

  def cliArgs(in: String, out: String): Seq[String] = Seq("bigDiffy",
    s"--lhs=$in/lhs", s"--rhs=$in/rhs", "--key=k1,k2", s"--output=$out")

  def pipeline(spark: SparkSession, tr: Tracer, in: String, out: String): Unit = {
    val lhs = spark.read.parquet(s"$in/lhs")
    val rhs = spark.read.parquet(s"$in/rhs")
    val result = tr.span("diffy.diff")(BigDiffy.diff(lhs, rhs, Seq("k1", "k2"), DiffOptions()))
    tr.span("diffy.save_stats")(BigDiffy.saveStats(result, out))
  }

  def probes(spark: SparkSession, tr: Tracer, in: String): Unit =
    tr.span("sources.parquet_scan") {
      noop(spark.read.parquet(s"$in/lhs"))
      noop(spark.read.parquet(s"$in/rhs"))
    }

  def check(spark: SparkSession, out: String): Option[String] = {
    val g = tsv(spark, s"$out/global").head()
    def n(c: String) = g.getAs[String](c).toLong
    val want = Map("num_total" -> keys, "num_missing_lhs" -> gen.missingLhs,
      "num_missing_rhs" -> gen.missingRhs, "num_diff" -> (gen.priceDelta + gen.nestedB),
      "num_same" -> (keys - gen.missingLhs - gen.missingRhs - gen.priceDelta - gen.nestedB))
    val badGlobal = want.toSeq.sorted.filter { case (c, v) => n(c) != v }
    if (badGlobal.nonEmpty)
      return Some("global counts differ from the planted ones: " +
        badGlobal.map { case (c, v) => s"$c=${n(c)} want $v" }.mkString(", "))
    val fields = tsv(spark, s"$out/fields").collect()
      .map(r => r.getAs[String]("field") -> r).toMap
    if (fields.keySet != Set("price", "nested.b"))
      return Some(s"fields ${fields.keySet.toSeq.sorted.mkString(",")}, want nested.b,price")
    def f(field: String, c: String) = fields(field).getAs[String](c).toDouble
    if (f("price", "count") != gen.priceDelta || f("nested.b", "count") != gen.nestedB)
      return Some(s"field counts price=${f("price", "count")} nested.b=${f("nested.b", "count")}, " +
        s"want ${gen.priceDelta} and ${gen.nestedB}")
    if (math.abs(f("price", "mean") - 1.5) > 1e-9 || f("price", "variance") > 1e-12)
      return Some(s"price delta mean ${f("price", "mean")} variance ${f("price", "variance")}, " +
        "want 1.5 and 0")
    None
  }

  def corrupt(spark: SparkSession, out: String): Unit = rewrite(s"$out/fields") { tmp =>
    tsv(spark, s"$out/fields").filter(col("field") =!= "price")
      .write.option("header", "true").option("sep", "\t").csv(tmp)
  }
}

final case class AvroGen(seed: Long) {
  def fields(i: Long): (Long, String, Double, Int, String) =
    (i, Gen.word(seed, i, 41), Gen.unit(seed, i, 42) * 100, Gen.pick(seed, i, 43, 1000).toInt,
      (0 until 6).map(t => Gen.word(seed, i * 8 + t, 44)).mkString(" "))
}

/** The narrow hash arm of BigSampler, avro in and avro out. */
final class SampleAvroCopy(seed: Long, files: Int) extends Workload {
  val inputRows = 400000L
  private val Fraction = 0.5
  private val gen = AvroGen(seed)
  private val SchemaJson =
    """{"type":"record","name":"record","fields":[{"name":"k1","type":"long"},""" +
      """{"name":"name","type":"string"},{"name":"score","type":"double"},""" +
      """{"name":"qty","type":"int"},{"name":"payload","type":"string"}]}"""
  private var expected: (Long, Long, Long) = _

  def generate(spark: SparkSession, in: String): Unit = {
    val g = gen
    writeRows(spark, inputRows, files,
      "k1 BIGINT, name STRING, score DOUBLE, qty INT, payload STRING",
      s"$in/parquet")(i => Some(Row.fromTuple(g.fields(i))))
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(SchemaJson))
    val schemaJson = SchemaJson
    spark.sparkContext.range(0, inputRows, 1, files).mapPartitions { it =>
      val schema = new Schema.Parser().parse(schemaJson)
      it.map { i =>
        val (k1, name, score, qty, payload) = g.fields(i)
        val r = new GenericData.Record(schema)
        r.put("k1", k1); r.put("name", name); r.put("score", score)
        r.put("qty", qty); r.put("payload", payload)
        (new AvroKey[GenericRecord](r), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(s"$in/avro", classOf[AvroKey[GenericRecord]],
      classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  /** The same hash filter over the parquet copy of the input. */
  override def prepare(spark: SparkSession, in: String): Unit =
    expected = fold(spark.read.parquet(s"$in/parquet")
      .filter(hashDice(Seq(col("k1"))) < lit(Fraction)).rdd
      .map(r => SampleAvroCopy.rowHash(r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3), r.getString(4))))

  def cliArgs(in: String, out: String): Seq[String] = Seq("bigSampler",
    s"--input=$in/avro", s"--output=$out", "--fields=k1", s"--sample=$Fraction",
    "--input-mode=avro")

  def pipeline(spark: SparkSession, tr: Tracer, in: String, out: String): Unit = {
    val df = AvroIO.read(spark, s"$in/avro")
    val sampled = tr.span("sampling.sample") {
      BigSampler.sample(df, Fraction, BigSampler.Hashed(Seq("k1")))
    }
    tr.span("sources.avro_write")(AvroIO.write(sampled, out))
  }

  def probes(spark: SparkSession, tr: Tracer, in: String): Unit = {
    tr.span("sources.avro_scan")(noop(AvroIO.read(spark, s"$in/avro")))
    tr.span("sources.parquet_scan")(noop(spark.read.parquet(s"$in/parquet")))
    tr.span("functions.hash_dice")(noop(spark.read.parquet(s"$in/parquet")
      .select(hashDice(Seq(col("k1"))).as("h"))))
  }

  /** Reads the output with avro's own input format, not the program's reader. */
  def check(spark: SparkSession, out: String): Option[String] = {
    val got = fold(spark.sparkContext.newAPIHadoopFile(out,
        classOf[AvroKeyInputFormat[GenericRecord]], classOf[AvroKey[GenericRecord]],
        classOf[NullWritable], spark.sparkContext.hadoopConfiguration)
      .map { case (k, _) =>
        val r = k.datum()
        SampleAvroCopy.rowHash(r.get("k1").asInstanceOf[Long], r.get("name").toString,
          r.get("score").asInstanceOf[Double], r.get("qty").asInstanceOf[Int],
          r.get("payload").toString)
      })
    if (got == expected) None
    else Some(s"avro output digest $got differs from the parquet-copy filter's $expected")
  }

  private def fold(hashes: org.apache.spark.rdd.RDD[Long]): (Long, Long, Long) =
    hashes.aggregate((0L, 0L, 0L))(
      (a, h) => (a._1 + 1, a._2 ^ h, (a._3 + java.lang.Math.floorMod(h, Prime)) % Prime),
      (a, b) => (a._1 + b._1, a._2 ^ b._2, (a._3 + b._3) % Prime))

  def corrupt(spark: SparkSession, out: String): Unit = rewrite(out) { tmp =>
    val df = AvroIO.read(spark, out)
    val k = df.agg(min("k1")).head().getLong(0)
    AvroIO.write(df.filter(col("k1") =!= k), tmp)
  }
}

object SampleAvroCopy {
  def rowHash(k1: Long, name: String, score: Double, qty: Int, payload: String): Long =
    Gen.mix(k1 * 31 + scala.util.hashing.MurmurHash3.stringHash(
      s"$name\u0001$score\u0001$qty\u0001$payload"))
}

/** Documents of `words` words from a seeded vocabulary; every 10th document
  * copies the previous one with one word replaced, so the planted clusters
  * are exactly the pairs (i-1, i) with i % 10 == 9. */
final case class DocGen(seed: Long, words: Int, vocab: Int) {
  def text(i: Long): String = {
    val copy = i % 10 == 9
    val src = if (copy) i - 1 else i
    val changed = if (copy) Gen.pick(seed, i, 22, words).toInt else -1
    (0 until words).map { j =>
      val w = Gen.pick(seed, src * words + j, 21, vocab)
      val v = if (j == changed) (w + 1 + Gen.pick(seed, i, 23, vocab - 1)) % vocab else w
      Gen.word(seed, v, 31)
    }.mkString(" ")
  }
}

/** dedupReport --mode=near: MinHash-LSH, connected components and the
  * cluster-size report. */
final class DedupNear(seed: Long, files: Int) extends Workload {
  val inputRows = 6000L
  private val gen = DocGen(seed, words = 80, vocab = 20000)
  private val pairs = inputRows / 10
  private val expected = Set(
    Seq("size", "1", inputRows - 2 * pairs, inputRows - 2 * pairs, 0L),
    Seq("size", "2", pairs, 2 * pairs, pairs))

  def generate(spark: SparkSession, in: String): Unit = {
    val g = gen
    writeRows(spark, inputRows, files, "doc_id BIGINT, text STRING", s"$in/docs")(i =>
      Some(Row(i, g.text(i))))
  }

  def cliArgs(in: String, out: String): Seq[String] = Seq("dedupReport",
    s"--input=$in/docs", s"--output=$out", "--mode=near")

  def pipeline(spark: SparkSession, tr: Tracer, in: String, out: String): Unit = {
    val df = spark.read.parquet(s"$in/docs")
    val pairs = tr.span("ext.minhash_near_dups") {
      Dedup.minhashNearDups(df, "doc_id", "text", numHashes = 64, bands = 16,
        shingleLen = 5, threshold = 0.8)
    }
    val comp = tr.span("ext.connected_components")(Dedup.connectedComponents(pairs))
    val rep = tr.span("ext.dedup_report")(Dedup.dedupReport(df, "doc_id", comp))
      .select(lit("size").as("kind"), col("cluster_size").cast("string").as("key"),
        col("n_clusters"), col("n_docs"), col("n_redundant"))
    tr.span("sources.parquet_write") {
      rep.coalesce(1).orderBy("kind", "key").write.mode("overwrite").parquet(out)
    }
  }

  def probes(spark: SparkSession, tr: Tracer, in: String): Unit = {
    tr.span("sources.parquet_scan")(noop(spark.read.parquet(s"$in/docs")))
    tr.span("functions.minhash")(noop(spark.read.parquet(s"$in/docs")
      .select(minhash(shingleHashes(col("text"), 5), 64, 0).as("sig"))))
  }

  def check(spark: SparkSession, out: String): Option[String] = {
    val got = spark.read.parquet(out).collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    if (got == expected) None
    else Some(s"report ${got.map(_.mkString("/")).toSeq.sorted.mkString(" ")}, want " +
      expected.map(_.mkString("/")).toSeq.sorted.mkString(" "))
  }

  def corrupt(spark: SparkSession, out: String): Unit = rewrite(out) { tmp =>
    spark.read.parquet(out)
      .withColumn("n_redundant", when(col("key") === "2", col("n_redundant") + 1)
        .otherwise(col("n_redundant")))
      .write.parquet(tmp)
  }
}
