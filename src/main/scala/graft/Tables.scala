package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Reference semantics: RDW's warehouse tables (exams, students, orgs —
  * see /root/reference/docs/Architecture.md) map onto the TPC-H-ish star
  * schema here: org hierarchy → region/nation, students → customer,
  * assessments → part, exam results → orders/lineitem, event stream →
  * events (SURVEY.md §1).
  *
  * Scale note: these are plain parquet scans so Catalyst pushes filters
  * and prunes columns into the file source; at cluster scale the same
  * loaders work unchanged against a partitioned table root because the
  * path is the only binding.
  *
  * Every parquet read in graft goes through [[readParquet]], which
  * infers each input's schema once. A plain `spark.read.parquet(path)`
  * launches a Spark job to read parquet footers before the query's own
  * plan runs; for a short report over an unchanged table that job is a
  * large share of the request. The cache key is the session, the
  * session's parquet confs (`spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*`), the ordered path list, and a file
  * stamp: (path, length, mtime) of every file under the paths, so any
  * rewrite, append or delete misses. A hit passes the schema Spark
  * inferred for that same file set back to `spark.read.schema`, so
  * plans and results are unchanged. The stamp walks the tree with
  * `listStatus`, not `listFiles`: on the local file system `listFiles`
  * loads every file's permissions (one `ls` process per file without
  * the native Hadoop library), which on a 16-bucket mart costs more
  * than the inference job it would save.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns every table must expose — enforced at load so a schema
    * drift in the source fails fast with a clear message instead of an
    * AnalysisException deep inside some query. */
  val expectedColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  private def checked(name: String, df: DataFrame): DataFrame = {
    val missing = expectedColumns.getOrElse(name, Nil).filterNot(df.columns.contains)
    require(missing.isEmpty, s"table $name is missing expected columns: $missing")
    df
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else checked(name, readParquet(spark, s"$sfDir/$name.parquet"))

  /** Register every table as a temp view (plus graft's native SQL
    * functions), making the whole engine reachable from `spark.sql`:
    *
    *   Tables.registerAll(spark, sfDir)
    *   spark.sql("SELECT minhash_shingles(text, 8, 32) FROM documents")
    *
    * Views are lazy — each still plans as a plain pushdown-friendly
    * parquet scan (events keeps its ns→µs loader semantics). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    org.apache.spark.sql.graftbridge.SqlBridge.registerGraftFunctions(spark)
  }

  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    readParquet(spark, s"$sfDir/events.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS). How Spark surfaces that
    * column shifted across engine versions, so the loader dispatches on
    * the schema it actually got instead of assuming one read mode:
    *
    *   - `LongType` (legacy `nanosAsLong` read mode): epoch-nanos —
    *     convert via integral `ts DIV 1000` (not `/`: ~1.7e18 nanos
    *     overflows double precision) into a µs TimestampType.
    *   - `TimestampNTZType` (Spark 4.1+ native NANOS read): the engine
    *     already truncated nanos→µs; cast to TimestampType. Every graft
    *     session pins `spark.sql.session.timeZone=UTC`, so the cast
    *     reinterprets the wall clock as a UTC instant — the identical µs
    *     values DuckDB reads from the same file.
    *   - `TimestampType`: already the contract — pass through.
    *
    * The generator emits whole-microsecond values, so every path is
    * lossless; TablesSpec pins both the type AND a known first-row µs
    * value against future read-mode drift. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = eventsRaw(s, d)
    val converted = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: TimestampNTZType =>
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events loader requires spark.sql.session.timeZone=UTC for a lossless NTZ→instant cast")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other =>
        throw new IllegalStateException(s"events.ts loaded as unexpected type $other")
    }
    checked("events", converted)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Row count from parquet footer metadata: a driver-side footer read
    * per file — no Spark job, no data scan. Index builds (IVF list
    * sizing, training-sample caps) need only the corpus cardinality at
    * planning time; a full `count()` would launch a cluster-wide scan
    * per query for a number the file footers already hold. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // recursive: partitioned datasets nest their files under
    // key=value directories
    val st = fs.getFileStatus(p)
    val files =
      if (st.isFile) Seq(st)
      else filesUnder(fs, p).filter(_.getPath.getName.endsWith(".parquet"))
    // fail fast: a silent 0 would make trainingSample pass the WHOLE
    // corpus to a fit (n <= cap) — the exact failure the cap prevents
    require(files.nonEmpty, s"no parquet files under $path — cannot derive row count")
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Embeddings cardinality via footer metadata (no scan). */
  def embeddingsCount(s: SparkSession, d: String): Long =
    parquetRowCount(s, s"$d/embeddings.parquet")

  /** Documents cardinality via footer metadata (no scan). */
  def documentsCount(s: SparkSession, d: String): Long =
    parquetRowCount(s, s"$d/documents.parquet")

  /** `spark.read.parquet(paths: _*)`, with the schema inferred once
    * per unchanged file set (see the object doc). A path that does not
    * exist or holds glob characters takes the plain read, so Spark's
    * own errors and glob expansion are unchanged. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    fileStamp(spark, paths) match {
      case None => spark.read.parquet(paths: _*)
      case Some(stamp) =>
        val key = SchemaKey(parquetConfs(spark), paths.toList)
        cachedSchema(spark, key, stamp) match {
          case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
          case None =>
            val df = spark.read.parquet(paths: _*)
            storeSchema(spark, key, stamp, df.schema)
            df
        }
    }

  /** Distinct path lists remembered per session (LRU beyond that). */
  private[graft] val SchemaCacheEntries = 64

  private final case class SchemaKey(confs: List[(String, String)], paths: List[String])
  private type Stamp = Seq[(String, Long, Long)]

  private final class SchemaLru
      extends java.util.LinkedHashMap[SchemaKey, (Stamp, StructType)](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SchemaKey, (Stamp, StructType)]): Boolean =
      size() > SchemaCacheEntries
  }

  // weak keys: a stopped, unreferenced session drops its entries.
  // Synchronized: CacheScope.pool threads load tables concurrently.
  private val schemaCache = new java.util.WeakHashMap[SparkSession, SchemaLru]()

  private def cachedSchema(spark: SparkSession, key: SchemaKey,
                           stamp: Stamp): Option[StructType] =
    schemaCache.synchronized {
      Option(schemaCache.get(spark)).flatMap(lru => Option(lru.get(key)))
        .collect { case (s, schema) if s == stamp => schema }
    }

  private def storeSchema(spark: SparkSession, key: SchemaKey, stamp: Stamp,
                          schema: StructType): Unit =
    schemaCache.synchronized {
      schemaCache.computeIfAbsent(spark, _ => new SchemaLru).put(key, (stamp, schema))
      ()
    }

  /** Entries cached for `spark` (specs pin the LRU bound with it). */
  private[graft] def schemaCacheSize(spark: SparkSession): Int =
    schemaCache.synchronized(Option(schemaCache.get(spark)).fold(0)(_.size))

  private def parquetConfs(spark: SparkSession): List[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toList.sorted

  // the characters Hadoop's glob syntax expands (as Spark checks them)
  private val GlobChars: Set[Char] = "{}[]*?\\".toSet

  /** (path, length, mtime) of every file under `paths`, in path order;
    * None when the plain read must handle them: a glob, or a path that
    * does not exist or cannot be listed. */
  private def fileStamp(spark: SparkSession, paths: Seq[String]): Option[Stamp] =
    if (paths.exists(_.exists(GlobChars))) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      try Some(paths.flatMap { path =>
        val p = new Path(path)
        filesUnder(p.getFileSystem(conf), p)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      }) catch { case _: java.io.IOException => None }
    }

  /** Every file under `p` (`p` itself if it is a file), by a recursive
    * `listStatus` walk. */
  private def filesUnder(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st)
    }
}
