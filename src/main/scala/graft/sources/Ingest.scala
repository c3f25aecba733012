package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Ingest ETL surface mirroring RDW's pipeline (reference
  * /root/reference/docs/Architecture.md "Exam Processor" /
  * "Package Processor", docs/Runbook.Pipeline.md): schema-enforced
  * reads with a validation split of malformed records, and
  * partitioned mart writes for the migrate step.
  *
  * Scale notes: PERMISSIVE parse keeps the read map-only (no
  * pre-pass); the corrupt-record column costs nothing for clean rows.
  * Partitioned writes lay data out for partition pruning at query
  * time — the 100 TB layout story is decided here, at write time.
  */
object Ingest {

  val CorruptCol = "_corrupt_record"

  /** Schema-enforced CSV read; malformed rows land in [[CorruptCol]]
    * instead of failing the job (RDW: bad exam submissions are
    * diverted, not fatal). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, "string"))
      .csv(path)

  /** Schema-enforced JSON-lines read, same validation contract. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, "string"))
      .json(path)

  /** Split a permissive read into (valid, rejected) — the rule-based
    * validation fork of the exam processor. The parsed batch is
    * cached at the fork: both branches are consumed downstream, and
    * Spark refuses corrupt-record-only queries on a raw file scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). Ingest
    * batches are incremental slices, not the whole warehouse, so the
    * cache is bounded. */
  def validationSplit(df: DataFrame): (DataFrame, DataFrame) = {
    val parsed = df.cache()
    (parsed.filter(col(CorruptCol).isNull).drop(CorruptCol),
      parsed.filter(col(CorruptCol).isNotNull))
  }

  /** Migrate-style mart write: partitioned parquet, dynamic overwrite
    * so an incremental re-migrate replaces only touched partitions
    * (RDW Runbook.md "migrate" semantics). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** XML exam-result ingest (TDSReport/TRT payloads — reference
    * /root/reference/docs/API.md:415 `"<TDSReport><Test..."`, one XML
    * document per submission, archived as individual files). Read
    * with `wholetext` (one row per file, matching the archive layout)
    * and parsed with Spark 4's BUILT-IN `from_xml` in PERMISSIVE mode
    * — unparseable payloads land in [[CorruptCol]] (same
    * [[validationSplit]] contract as CSV/JSON; Spark's `xpath`
    * expressions were rejected for this: they THROW on a malformed
    * document, which turns one bad submission into a dead job), and
    * missing required fields are genuine NULLs for [[requiredSplit]].
    *
    * Scale: each submission is independent, so this parallelizes per
    * file with zero shuffles; at warehouse scale the archive is
    * compacted into larger containers but the per-record projection
    * is unchanged.
    */
  def readExamXml(spark: SparkSession, path: String): DataFrame =
    parseExamXml(spark.read.option("wholetext", "true").text(path))

  /** Pre-ingest transform pipeline (reference
    * /root/reference/docs/Runbook.Pipeline.md "Purpose of the
    * Pipeline": admin-managed scripts that fix formatting
    * idiosyncrasies of third-party submissions BEFORE the normal
    * ingestion parse). The reference runs sandboxed Groovy; here each
    * stage is a declarative Column→Column transform over the raw
    * payload — composed left-to-right, fully codegen'd, map-only, and
    * redeployable without touching the parser, which is the property
    * the Pipeline exists for.
    */
  def preprocess(raw: DataFrame, payloadCol: String,
                 stages: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column]): DataFrame =
    raw.withColumn(payloadCol, stages.foldLeft(col(payloadCol))((c, f) => f(c)))

  /** Pre-ingest XML ATTRIBUTE rewrite — the documented admin fix-up
    * class (reference /root/reference/docs/Runbook.DataSpecifications
    * .md:80: an XSLT that remaps `Item/@bankKey` 10200 → 200 before
    * processing). Expressed as a [[preprocess]] stage: a codegen'd
    * regexp_replace scoped to `<element … attr="from"` occurrences —
    * map-only over the raw payload, composable with other stages, and
    * (like the reference's XSLT hook) applied BEFORE the parse so the
    * parser only ever sees fixed-up documents. */
  def xmlAttributeRemap(element: String, attr: String,
                        from: String, to: String): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val q = java.util.regex.Pattern.quote _
    // attribute scan is quote-aware ((?:[^>"]|"[^"]*")*): a '>' inside
    // a preceding quoted attribute value must not end the tag early,
    // or the remap silently skips that element. Name anchoring: the
    // element name must be followed by whitespace and the attribute
    // name preceded by it — \b would let hyphenated names bleed
    // through (<Item-foo matches element 'Item'; data-bankKey remaps
    // as if it were bankKey — hyphens are legal XML name chars but \b
    // boundaries). Spelled without lookahead so the SAME pattern runs
    // under RE2 in the DuckDB oracle (q70), which rejects (?=...).
    val pattern = s"(<${q(element)}\\s(?:(?:[^>\"]|\"[^\"]*\")*\\s)?${q(attr)}=\")${q(from)}(\")"
    // the replacement side has its own syntax ($groups, backslashes) —
    // a 'to' containing them must land literally, not as group refs
    val toLit = java.util.regex.Matcher.quoteReplacement(to)
    payload => regexp_replace(payload, pattern, s"$$1$toLit$$2")
  }

  /** `from_xml` projection of TDSReport payloads in a `value` column —
    * split from [[readExamXml]] so a [[preprocess]] pipeline can run
    * between read and parse. The optional ExamItems section
    * (reference /root/reference/docs/Runbook.DataSpecifications.md:51;
    * item grain of Runbook.BulkDeleteExams.md:28 `exam_item`) parses
    * into an `items` array column — [[examItems]] explodes it to the
    * exam_item grain. */
  def parseExamXml(raw: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType.fromDDL(
      "Test struct<_name:string,_subject:string,_grade:string>, " +
        "Examinee struct<_key:bigint>, " +
        "Opportunity struct<_key:string,_status:string,_dateCompleted:timestamp," +
        "Score:struct<_measureOf:string,_value:double>," +
        "Item:array<struct<_position:int,_bankKey:bigint,_key:bigint,_score:double>>>, " +
        s"$CorruptCol string")
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol,
      "timestampFormat" -> "yyyy-MM-dd HH:mm:ss").asJava
    raw
      .select(from_xml(col("value"), schema, opts).as("x"))
      .select(
        col("x.Test._name").as("test_name"),
        col("x.Test._subject").as("subject"),
        col("x.Test._grade").as("grade"),
        col("x.Examinee._key").as("student_key"),
        col("x.Opportunity._key").as("opportunity_key"),
        col("x.Opportunity._status").as("status"),
        col("x.Opportunity.Score._value").as("scale_score"),
        col("x.Opportunity._dateCompleted").as("date_completed"),
        col("x.Opportunity.Item").as("items"),
        col(s"x.$CorruptCol").as(CorruptCol))
  }

  /** Explode parsed submissions to the exam_item grain: one row per
    * item response with its exam context — the ingest-side source of
    * the q55–q57 item family. Submissions without ExamItems (the
    * section is optional) simply contribute no item rows. */
  def examItems(parsed: DataFrame): DataFrame =
    parsed
      .select(col("opportunity_key"), col("student_key"),
        explode(col("items")).as("it"))
      .select(col("opportunity_key"), col("student_key"),
        col("it._position").as("position"), col("it._bankKey").as("bank_key"),
        col("it._key").as("item_key"), col("it._score").as("item_score"))

  /** Accommodations payload ingest (reference
    * /root/reference/docs/API.md:622 "Create Accommodation Import
    * Request" — Smarter Balanced accessibility-configuration XML,
    * posted as a raw body). Parses the code/description registry that
    * joins to results for accommodation-frequency reporting (q52).
    * PERMISSIVE `from_xml` like [[parseExamXml]]: a malformed payload
    * yields zero codes, never a dead job. */
  def parseAccommodationsXml(spark: SparkSession, xml: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val schema = StructType.fromDDL(
      s"Accommodation array<struct<_code:string,_description:string>>, $CorruptCol string")
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol).asJava
    Seq(xml).toDF("value")
      .select(from_xml(col("value"), schema, opts).as("x"))
      .select(explode(col("x.Accommodation")).as("a"))
      .select(col("a._code").as("code"), col("a._description").as("description"))
  }

  /** Claim/cut-point configuration ingest (reference
    * /root/reference/docs/API.md:693 "Create Package Import Request" —
    * assessment-package CSV, tabulator output, defining subject/claim
    * scoring config). STRICT schema + FAILFAST: package config is the
    * "critical data elements" path (API.md "cannot be updated later"),
    * so a malformed row must reject the whole payload, unlike the
    * permissive result-stream parsers. */
  def parseClaimConfigCsv(spark: SparkSession, csv: String): DataFrame =
    parseConfigCsv(spark, csv, StructType.fromDDL(
      "claim int not null, cut_low double not null, cut_high double not null"))

  /** Generic strict config-CSV contract: FAILFAST against an explicit
    * schema — the shared path for every admin-configured table
    * (claim cut points, target exclusions, resource links): config is
    * critical data, so one malformed row rejects the payload. */
  def parseConfigCsv(spark: SparkSession, csv: String,
                     schema: StructType): DataFrame = {
    import spark.implicits._
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(spark.createDataset(csv.linesIterator.toSeq))
  }

  /** Subject-definition XML ingest (reference
    * /root/reference/deploy/Math_subject.xml, ELA_subject.CA.xml,
    * ELPAC_subject.xml; Architecture.md "Package Processor" — subject
    * files configure performance levels and scoring per subject).
    * Parses the real file shape: Subject code → AssessmentTypes
    * (overall + alt + claim scoring performance levels, min/max
    * score, standardCutoff), the per-subject AltScores registry
    * (ELPAC_subject.xml:33-40 — per-alt composite scores, e.g. Oral /
    * Written Language; absent in Math/ELA files → no alt rows), and
    * ItemDifficulties (the per-key cut-pair table). FAILFAST like
    * [[parseClaimConfigCsv]]: subject config is critical-path — a
    * malformed file must reject the payload, not limp on with nulls. */
  def parseSubjectXml(spark: SparkSession, xml: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val levelDdl = "array<struct<_level:int,_name:string,_shortName:string,_color:string>>"
    val schema = StructType.fromDDL(
      "_code string, _name string, " +
        "AssessmentTypes struct<AssessmentType: array<struct<_code:string," +
        s"OverallScoring: struct<_minScore:int,_maxScore:int," +
        s"PerformanceLevels: struct<_standardCutoff:int, PerformanceLevel: $levelDdl>>," +
        s"AltScoring: struct<_name:string,_minScore:int,_maxScore:int," +
        s"PerformanceLevels: struct<_standardCutoff:int, PerformanceLevel: $levelDdl>>," +
        s"ClaimScoring: struct<_name:string," +
        s"PerformanceLevels: struct<PerformanceLevel: $levelDdl>>>>>, " +
        // displayOrder parses as string: the real ELPAC file writes
        // space-padded values (displayOrder=" 1"), which an int field
        // would FAILFAST on — the exploder trims and casts instead
        "AltScores struct<AltScore: array<struct<" +
        "_code:string,_name:string,_displayOrder:string,Icon:string>>>, " +
        "ItemDifficulties struct<ItemDifficulty: array<struct<" +
        "_gradeCode:string,_moderateLowEnd:double,_difficultLowEnd:double>>>")
    val opts = Map("mode" -> "FAILFAST").asJava
    Seq(xml).toDF("value")
      .select(from_xml(col("value"), schema, opts).as("x"))
  }

  /** The subject file's AltScores registry (reference
    * /root/reference/deploy/ELPAC_subject.xml:33-40): one row per alt
    * score with its display order — the broadcast dim of the
    * alt-score aggregate report (q73). Subjects without an AltScores
    * section (Math/ELA) yield zero rows, not an error. */
  def subjectAltScores(spark: SparkSession, xml: String): DataFrame =
    parseSubjectXml(spark, xml)
      .filter(col("x.AltScores").isNotNull)
      .select(col("x._code").as("subject"),
        explode(col("x.AltScores.AltScore")).as("a"))
      .select(col("subject"), col("a._code").as("alt_code"),
        col("a._name").as("alt_name"),
        trim(col("a._displayOrder")).cast("int").as("display_order"))

  /** The per-subject performance-level registry from a parsed subject
    * file: one row per (assessment type, scoring kind, level) with
    * the overall score range and standard cutoff carried alongside —
    * the broadcast dim a report joins to label levels. */
  def subjectPerformanceLevels(spark: SparkSession, xml: String): DataFrame = {
    val x = parseSubjectXml(spark, xml)
      .select(col("x._code").as("subject"),
        explode(col("x.AssessmentTypes.AssessmentType")).as("at"))
    val overall = x.select(col("subject"), col("at._code").as("asmt_type"),
        lit("overall").as("scoring"),
        col("at.OverallScoring._minScore").as("min_score"),
        col("at.OverallScoring._maxScore").as("max_score"),
        col("at.OverallScoring.PerformanceLevels._standardCutoff").as("standard_cutoff"),
        explode(col("at.OverallScoring.PerformanceLevels.PerformanceLevel")).as("pl"))
    // alt scoring (ELPAC composite scores) mirrors overall: its own
    // score range + level registry; subjects without it contribute none
    val alt = x.filter(col("at.AltScoring").isNotNull)
      .select(col("subject"), col("at._code").as("asmt_type"),
        lit("alt").as("scoring"),
        col("at.AltScoring._minScore").as("min_score"),
        col("at.AltScoring._maxScore").as("max_score"),
        col("at.AltScoring.PerformanceLevels._standardCutoff").as("standard_cutoff"),
        explode(col("at.AltScoring.PerformanceLevels.PerformanceLevel")).as("pl"))
    val claim = x.filter(col("at.ClaimScoring").isNotNull)
      .select(col("subject"), col("at._code").as("asmt_type"),
        lit("claim").as("scoring"),
        lit(null).cast("int").as("min_score"), lit(null).cast("int").as("max_score"),
        lit(null).cast("int").as("standard_cutoff"),
        explode(col("at.ClaimScoring.PerformanceLevels.PerformanceLevel")).as("pl"))
    overall.unionByName(alt).unionByName(claim)
      .select(col("subject"), col("asmt_type"), col("scoring"),
        col("min_score"), col("max_score"), col("standard_cutoff"),
        col("pl._level").as("level"), col("pl._name").as("level_name"),
        col("pl._shortName").as("short_name"), col("pl._color").as("color"))
  }

  /** The subject file's ItemDifficulties table — the XML's native
    * (key, cut_low, cut_high) pair shape (easy below moderateLowEnd,
    * moderate below difficultLowEnd, difficult above — the same
    * three-band CASE as claim-level scoring). */
  def subjectItemDifficulties(spark: SparkSession, xml: String): DataFrame =
    parseSubjectXml(spark, xml)
      .select(col("x._code").as("subject"),
        explode(col("x.ItemDifficulties.ItemDifficulty")).as("idf"))
      .select(col("subject"), col("idf._gradeCode").as("grade_code"),
        col("idf._moderateLowEnd").as("moderate_low_end"),
        col("idf._difficultLowEnd").as("difficult_low_end"))

  /** Resolve the effective configuration for one tenant: the tenant's
    * overlay wins per key, instance-level (base) config is the
    * fallback, and keys only the tenant declares (e.g. its
    * tenantProperties block) survive too — reference
    * /root/reference/docs/Runbook.MultiTenancy.md "Configuration" ("A
    * tenant's configuration is layered on top of the instance-level
    * configuration"), config/tenant-OT/application.yml. Inputs are
    * flattened (key, value) config frames — the shape the strict
    * [[parseConfigCsv]] contract yields for the repository's YAML
    * content; `config_source` records where each effective value came
    * from (`override` / `tenant-new` / `base`) for the admin UI's
    * provenance view. Override values are non-null by the strict
    * config contract, so coalesce IS override-wins.
    *
    * Scale: config frames are admin-sized; the full-outer merge is a
    * broadcastable dim operation however many tenants overlay the
    * same base. */
  def resolveTenantConfig(base: DataFrame, overrides: DataFrame, tenant: String,
                          keyCol: String = "key", valueCol: String = "value",
                          tenantCol: String = "tenant"): DataFrame =
    base.select(col(keyCol), col(valueCol).as("_base_value"))
      .join(
        overrides.filter(col(tenantCol) === tenant)
          .select(col(keyCol), col(valueCol).as("_override_value")),
        Seq(keyCol), "full_outer")
      .select(col(keyCol),
        coalesce(col("_override_value"), col("_base_value")).as(valueCol),
        when(col("_override_value").isNotNull && col("_base_value").isNotNull,
          "override")
          .when(col("_override_value").isNotNull, "tenant-new")
          .otherwise("base").as("config_source"))

  /** Rule-based required-field fork for sources without a parser
    * corrupt-record channel (XML): rows missing any required field are
    * diverted, mirroring [[validationSplit]]. */
  def requiredSplit(df: DataFrame, required: Seq[String]): (DataFrame, DataFrame) = {
    val bad = required.map(col(_).isNull).reduce(_ || _)
    (df.filter(!bad), df.filter(bad))
  }

  /** Tenant-partitioned mart write: a single engine instance hosts
    * multiple tenants, each with partitioned data (reference
    * /root/reference/docs/Runbook.MultiTenancy.md:17). The tenant
    * column is the OUTERMOST partition directory, so every
    * tenant-scoped query prunes to that tenant's files before any
    * byte is read — the sharding story that makes one 100 TB mart
    * serve many isolated tenants. Further partition columns (e.g.
    * school year) nest inside the tenant directory.
    */
  def writeTenantPartitioned(df: DataFrame, path: String, tenantCol: String,
                             partitionCols: Seq[String] = Nil): Unit =
    writePartitioned(df, path, tenantCol +: partitionCols)

  /** Tenant-scoped read over a tenant-partitioned mart: the equality
    * filter on the partition column becomes a `PartitionFilters`
    * entry in the scan (asserted in IngestSpec), i.e. directory-level
    * pruning, not a post-read filter. Compose operators on top of
    * this frame to make any query tenant-scoped.
    */
  def forTenant(spark: SparkSession, path: String, tenantCol: String,
                tenant: String): DataFrame =
    Tables.readParquet(spark, path).filter(col(tenantCol) === tenant)

  /** Strict-header CSV contract (RDW student-group import: the file
    * must carry the exact documented header set, reference
    * /root/reference/docs/StudentGroups.md:141). Fails fast with the
    * missing/unexpected names — a wrong-shape file must be rejected
    * before any row is parsed, not diverted row-by-row.
    */
  def readCsvStrictHeader(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val header = spark.read.option("header", "false").csv(path).limit(1)
      .collect().headOption
      .map(r => (0 until r.length).map(i => Option(r.getString(i)).getOrElse("")))
      .getOrElse(Seq.empty)
    val expected = schema.fieldNames.toSeq
    if (header != expected) {
      throw new IllegalArgumentException(
        s"group file header mismatch: expected ${expected.mkString(",")}, " +
          s"got ${header.mkString(",")}")
    }
    readCsv(spark, path, schema)
  }

  /** Bucketed mart table: co-locates join keys at WRITE time so the
    * recurring fact⋈fact joins of the reporting layer run with no
    * shuffle at all — at 100 TB this converts every per-report join
    * into a map-side zip of pre-sorted buckets. Same bucket count on
    * both tables is required for the exchange-free plan. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Expire old snapshots of a LEGACY single-directory-pointer mart
    * (plain `v_<n>` dirs + a `_LATEST` file naming one of them — the
    * layout [[compact]]-style maintenance produces): keep the `keep`
    * highest-numbered versions plus whatever `_LATEST` names, delete
    * the rest, and return the deleted names. The pointer's target is
    * never deleted even outside the keep window (a reader may hold
    * it). The bucket-manifest marts the continuous migrates write are
    * expired by [[graft.streaming.StreamingJobs.expireMartSnapshots]]
    * instead, which understands manifest references.
    */
  def expireSnapshots(spark: SparkSession, martRoot: String,
                      keep: Int): Seq[String] = {
    require(keep >= 1, "must keep at least one snapshot")
    val root = new org.apache.hadoop.fs.Path(martRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val live = graft.streaming.StreamingJobs.readLatestName(spark, martRoot)
    val versions = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches("v_\\d+"))
      .sortBy(n => -n.drop(2).toLong)
    val doomed = versions.drop(keep).filterNot(live.contains)
    doomed.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    doomed
  }

  /** Raw-import archive: every payload that enters the system is
    * archived verbatim BEFORE parsing (reference
    * /root/reference/docs/Architecture.md "Overview": "S3 … used to
    * archive all data that enters the system"). The layout is
    * deterministic — `<root>/<entity>/dt=<receive date>` partitions
    * with a content hash per payload — so any day's raw inputs replay
    * with partition pruning and no catalog, and a resubmitted payload
    * is identifiable by its hash (q48's duplicate-content contract at
    * the storage layer). Append-mode: an archive is immutable and
    * additive; nothing ever rewrites it.
    *
    * Scale: map-only write (hash + date are projections), one
    * partition directory per day per entity — the bounded layout an
    * object store wants.
    */
  def archiveRaw(df: DataFrame, entity: String, payloadCol: String,
                 receivedAtCol: String, archiveRoot: String): Unit =
    df.select(
        col(payloadCol).cast(org.apache.spark.sql.types.StringType).as("payload"),
        md5(col(payloadCol).cast(org.apache.spark.sql.types.StringType)).as("payload_md5"),
        to_date(col(receivedAtCol)).as("dt"))
      .write.mode("append")
      .partitionBy("dt")
      .parquet(s"$archiveRoot/$entity")

  /** Read one entity's archived raw payloads, optionally pruned to a
    * single receive date (partition pruning — a replay touches only
    * that day's files). */
  def readArchive(spark: SparkSession, archiveRoot: String, entity: String,
                  date: Option[String] = None): DataFrame = {
    val all = Tables.readParquet(spark, s"$archiveRoot/$entity")
    date.fold(all)(dt => all.filter(col("dt") === dt))
  }

  case class CompactionStats(filesBefore: Int, filesAfter: Int,
                             bytesBefore: Long)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Continuous ingest (micro-batch
    * migrate, per-import writes) accretes many small files; at 100 TB
    * that multiplies scan tasks, footer reads and name-node pressure
    * until planning dominates queries — periodic compaction is the
    * standard mart maintenance every table format schedules.
    *
    * The rewrite goes to a NEW snapshot directory (the caller swaps a
    * pointer or path atomically — migrateStream's `v_N`/`_LATEST`
    * commit model): Spark refuses to overwrite a path it is reading,
    * and a crashed compaction must leave the live data untouched.
    * `coalesce` (not `repartition`) merges files without a shuffle —
    * compaction moves every byte once through the writers and nothing
    * through an exchange.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): CompactionStats = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.readParquet(spark, inDir).coalesce(nOut)
      .write.mode("overwrite").parquet(outDir)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outDir)).toSeq
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    CompactionStats(files.size, after, bytes)
  }
}
