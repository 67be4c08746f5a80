package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the test star schema.
  *
  * In the reference, data enters the engine as pushed array chunks
  * (doreisa/simulation_node.py:35-75); here batch data enters via columnar
  * parquet scans so Catalyst can push filters/projections into the source.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // DataFrames are immutable logical plans: memoize per (session, path) so
  // repeated queries skip re-listing files and re-reading parquet footers.
  // Crude bound: the map pins SparkSessions, so a long-lived JVM cycling
  // sessions would leak without the clear-on-overflow.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop all memoized frames (e.g. after replacing a dead session). */
  def clearCache(): Unit = cache.clear()

  /** Where table `name` of `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (cache.size > 256) cache.clear()
    cache.getOrElseUpdate((spark, path(dir, name)), {
      val df = spark.read.parquet(path(dir, name))
      // events.ts has shipped as TIMESTAMP(NANOS) — which Spark only reads
      // as a long (spark.sql.legacy.parquet.nanosAsLong=true, set in our
      // session builders) — and as TIMESTAMP(MICROS, isAdjustedToUTC=false),
      // which it reads as TIMESTAMP_NTZ. Normalize BOTH to a session-tz
      // (UTC everywhere here) microsecond TIMESTAMP so every consumer sees
      // one type; DuckDB's CAST(ts AS TIMESTAMP) agrees in both cases
      // (ns->us floors identically for positive epochs; NTZ wall-clock
      // reinterprets 1:1 under UTC).
      if (name == "events") {
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts",
              org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
          case org.apache.spark.sql.types.TimestampNTZType =>
            df.withColumn("ts",
              org.apache.spark.sql.functions.col("ts").cast("timestamp"))
          case _ => df
        }
      } else df
    })
  }

  /** Register every table as a temp view (for spark.sql users). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** (name, size, mtime) content fingerprint of a table's files, via the
    * Hadoop FileSystem API so it works wherever the table lives
    * (HDFS/S3/local — a `java.io.File` walk NPEs on any non-local path).
    * `None` when the path is missing or unlistable; callers treat that
    * as "cannot prove freshness" and skip their memo. Used to key
    * derived-relation caches (trained centroids, tokenized corpora) so
    * data regenerated in place invalidates them. */
  def fingerprint(spark: SparkSession, dir: String, name: String): Option[String] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    try {
      // inside the try: a malformed dir makes the Path CONSTRUCTOR throw
      // (IllegalArgumentException), which must also degrade to None
      val root = new Path(path(dir, name))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
        else Seq(st)
      val files = walk(fs.getFileStatus(root))
      if (files.isEmpty) None
      else Some(files
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString(";"))
    } catch {
      // ANY fingerprinting failure degrades to "cannot prove freshness"
      // (skip the memo), not a query failure: a malformed dir throws
      // IllegalArgumentException from new Path/getFileSystem, not IOException
      case scala.util.control.NonFatal(_) => None
    }
  }

  // NOTE (r21): a "spreadIfNarrow" helper (explicit
  // defaultParallelism-width repartition before CPU-heavy kernel passes
  // when the source scan fits one split) was built and then REVERTED on
  // measurement: the explicit width disables AQE coalescing and
  // over-splits the tiny local relations, and a paired A/B (a seam
  // since removed) measured every converted query SLOWER
  // with it (txt_docfreq 0.84 vs 0.34 s warm, dd_cdc_chunks 0.93 vs
  // 0.41, dd_substr_tok 2.77 vs 1.67). The surviving spreads are the
  // two AQE-coalescible `.repartition(col("doc_id"))` calls in
  // Dedup.scala that pre-dated the experiment.

  /** Schema-checked CSV reader (header + explicit schema: never infer on
    * a 100 TB source — inference is a full extra pass). */
  def readCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines reader with explicit schema (same no-inference rule). */
  def readJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Hive-style partitioned parquet writer — the layout that gives
    * downstream readers partition pruning on `cols`. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Bucketed writer: co-locates rows by join key so repeated joins on
    * `key` skip their shuffle (requires a table catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
