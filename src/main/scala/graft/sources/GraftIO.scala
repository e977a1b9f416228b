package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-level IO utilities around the engine's sources/sinks.
  *
  * Reference surface: output-exists short circuit S14 (FileStorage.isDone,
  * FileStorage.scala:44-74 — used as an idempotent re-run guard before
  * expensive jobs), glob listing S15 (FileStorage.listFiles:40-42), and
  * TableRow-style JSON line IO S8 (TableRowJsonIO.scala:32-72 — native
  * `spark.read.json` in this engine).
  */
object GraftIO {

  /** Sorted file list under a directory or glob-free path (lexical order —
    * the reference processes shards lexically for determinism, W4). */
  def listFiles(path: String): Seq[String] = {
    val f = new File(path)
    if (f.isFile) Seq(path)
    else if (f.isDirectory)
      f.listFiles().filter(_.isFile).map(_.getPath)
        .filterNot(p => new File(p).getName.startsWith(".") ||
          new File(p).getName.startsWith("_"))
        .sorted.toSeq
    else Seq.empty
  }

  /** Idempotent-output guard: a Spark-written directory is complete iff its
    * _SUCCESS marker exists (the reference checks the xxxxx-of-yyyyy shard
    * pattern; Spark's commit protocol gives us the marker instead). */
  def outputExists(path: String): Boolean = new File(path, "_SUCCESS").isFile

  /** Run `job` only if `output` is not already complete — the reference's
    * short-circuit around every sampler sink (BigSamplerAvro.scala:240-242). */
  def unlessDone(output: String)(job: => Unit): Boolean =
    if (outputExists(output)) false else { job; true }

  /** Newline-delimited JSON read with optional explicit schema (S8).
    * Deliberately NO custom timestamp formats here: Spark's DEFAULT
    * parser is both lenient (space or 'T' separator, 1-9 fraction
    * digits, numeric offsets — external feeds keep parsing) and
    * micro-capable, so it round-trips [[writeJsonLines]]'s 6-digit
    * output exactly; a custom pattern would DISABLE that lenient
    * fallback and silently null every shape it doesn't match
    * (spec-locked in AvroIOSpec). The fidelity bug was write-side only. */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Newline-delimited JSON write (S8). Timestamps are written with all
    * six fraction digits: Spark's default `[.SSS]` formats silently
    * TRUNCATE micros, which breaks the cross-format hash/cohort contract
    * (the same logical row must fingerprint identically from parquet,
    * avro, and JSON — spec-locked in HashSpec). */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .json(path)

  /** Read a parquet source whose schema contains TIMESTAMP(NANOS) columns,
    * surfacing them as raw LONG nanos — WITHOUT mutating the session.
    *
    * Spark rejects NANOS timestamps unless the session-wide legacy conf
    * `spark.sql.legacy.parquet.nanosAsLong` is on — but that conf changes
    * the meaning of every subsequent NANOS read in the session, which a
    * library function must not do. Instead the first data file's footer is
    * read directly and converted under a PRIVATE SQLConf with the flag set;
    * the resulting StructType is passed as an explicit read schema, which
    * bypasses the session-conf check entirely (both vectorized and row
    * readers accept INT64-NANOS columns against a LongType request).
    *
    * The FIRST data file's footer is authoritative — the same one-footer
    * semantics as a default (mergeSchema=false) parquet read. */
  def readParquetNanosAsLong(spark: SparkSession, path: String): DataFrame = {
    val message = footerSchema(spark, path)
    // clone of the SESSION conf (case sensitivity, binary-as-string, … carry
    // over) with only the nanos flag added — and only on the clone
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(conf).convert(message)
    spark.read.schema(schema).parquet(path)
  }

  /** First data file's parquet footer schema — the same one-footer semantics
    * as a default (mergeSchema=false) parquet read. One directory level of
    * nesting allowed; hive-partitioned layouts (col=value dirs) are rejected
    * up front because partition columns are absent from file footers. */
  private def footerSchema(spark: SparkSession,
                           path: String): org.apache.parquet.schema.MessageType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    def firstFile(dir: Path): Option[Path] = {
      val st = fs.listStatus(dir).filter(s => visible(s.getPath.getName))
        .sortBy(_.getPath.getName)
      st.find(s => s.getPath.getName.contains("="))
        .foreach(s => throw new IllegalArgumentException(
          s"footerSchema: $path looks hive-partitioned " +
            s"(${s.getPath.getName}); partition columns are absent from " +
            "file footers — read partitions individually"))
      st.collectFirst { case s if s.isFile => s.getPath }
        .orElse(st.iterator.filter(_.isDirectory)
          .flatMap(s => firstFile(s.getPath)).nextOption())
    }
    val file =
      if (fs.getFileStatus(p).isFile) p
      else firstFile(p).getOrElse(throw new IllegalArgumentException(
        s"footerSchema: no data files under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf))
    try reader.getFileMetaData.getSchema finally reader.close()
  }

  /** Read a parquet source surfacing each column in `tsCols` as an
    * epoch-MICROSECOND LONG, whatever INT64 timestamp unit the file uses —
    * NANOS, MICROS or MILLIS — without mutating the session.
    *
    * Real-world parquet is overwhelmingly TIMESTAMP(MICROS); synthetic
    * writers (e.g. arrow with `ns` precision) emit TIMESTAMP(NANOS), which
    * Spark rejects outright unless a session-wide legacy conf is set. This
    * reader makes the unit a per-file detail instead of a caller
    * assumption: the first footer's logical-type annotation decides the
    * scale, the physical INT64 is read raw against an explicit LongType
    * request schema (accepted by both the vectorized and row readers for
    * every timestamp unit — verified against MICROS and NANOS files), and
    * the values are normalized to micros (NANOS → div 1000, MILLIS →
    * × 1000). Integer division truncates sub-micro precision exactly like
    * a MICROS writer would have.
    *
    * A `tsCols` column that is plain INT64 (no timestamp annotation) is
    * passed through untouched — the caller already has longs and is
    * responsible for their unit. Non-INT64 timestamp encodings (INT96) are
    * rejected: their unit cannot be normalized by scaling. */
  def readParquetTsAsMicros(spark: SparkSession, path: String,
                            tsCols: Seq[String] = Seq("ts")): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types.{LongType, StructType}
    val message = footerSchema(spark, path)
    // per-column micros conversion (SQL over the raw long) driven by the
    // footer's logical type; `div` truncates like a MICROS writer would
    val scale: Map[String, String] = tsCols.map { c =>
      require(message.containsField(c),
        s"readParquetTsAsMicros: no column `$c` in $path")
      val t = message.getType(Array(c): _*)
      require(t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName ==
        PrimitiveTypeName.INT64,
        s"readParquetTsAsMicros: `$c` in $path is not INT64 " +
          s"($t) — INT96 / nested timestamps cannot be unit-scaled")
      val sql = t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case TimeUnit.NANOS  => s"`$c` div 1000 AS `$c`"
            case TimeUnit.MICROS => s"`$c`"
            case TimeUnit.MILLIS => s"`$c` * 1000 AS `$c`"
          }
        case _ => s"`$c`" // plain INT64 — already the caller's longs
      }
      c -> sql
    }.toMap
    // request schema: footer-derived (under a nanos-tolerant PRIVATE conf
    // clone so NANOS columns don't abort conversion), with every requested
    // ts column overridden to LongType — the readers then hand back the
    // raw INT64 values regardless of the timestamp annotation
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val converted = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(conf).convert(message)
    val request = StructType(converted.map(f =>
      if (scale.contains(f.name)) f.copy(dataType = LongType) else f))
    val raw = spark.read.schema(request).parquet(path)
    raw.selectExpr(raw.columns.map(c => scale.getOrElse(c, s"`$c`")): _*)
  }

  /** Bucketed parquet table: rows are hash-clustered into `buckets` files
    * per partition on `bucketCols` and registered in the session catalog.
    * Joins/aggregations on the bucket columns then plan WITHOUT an
    * Exchange — at 100 TB this turns the BigDiffy full-outer join of two
    * tables pre-bucketed on the diff key into a shuffle-free zip of
    * co-located buckets. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    // `overwrite` alone cannot replace an ORPHANED managed-table directory
    // (location on disk, no catalog entry — what a previous JVM leaves
    // behind with an in-memory catalog): CREATE TABLE fails with
    // LOCATION_ALREADY_EXISTS. Clear the stale location ONLY in that
    // orphan case; when the table IS cataloged, plain overwrite keeps its
    // staged atomicity and its fail-fast on writing a table being read
    // (eagerly dropping here would delete the source under a lazy `df`
    // derived from the same table). Names are default-database by contract
    // (this is a local co-location utility, not a metastore API).
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        // refuse to clear the orphan if `df` itself READS from it (e.g. a
        // recovery flow that re-registers via spark.read.parquet(loc)) —
        // deleting first would destroy the data under the lazy plan
        val locStr = fs.makeQualified(loc).toString
        val readsTarget = df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(p =>
                  p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                    .makeQualified(p).toString)
              case _ => Nil
            }
        }.flatten.exists(p => p == locStr || p.startsWith(locStr + "/"))
        if (readsTarget)
          throw new IllegalArgumentException(
            s"writeBucketed: input DataFrame reads from the orphaned target " +
              s"location $locStr — materialize it elsewhere first")
        fs.delete(loc, true)
      }
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
